package graft.nfl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EPA state machine (M3, `analysis/models/play_eppa_cpu.py:135-215`) —
  * pure `when/otherwise` column logic, no UDF.
  *
  * For each candidate play endpoint x ∈ grid (120 values per play), derive
  * the post-play game state (downs, yardline, distance, turnover
  * inversion) and score expected points for the catch and incomplete
  * branches. The GBDT EP scorer is injected as a column transformer so the
  * state machine is model-agnostic (fixture tree in tests; parsed dump in
  * production).
  *
  * EP class values: [7,-7,3,-3,2,-2,0] (`play_eppa_cpu.py:136`).
  * Scale shape: input is (plays × 120 endpoints) — generated by
  * sequence+explode, never shuffled; every derived column is codegen.
  */
object EpaModel {

  val EpValues: Array[Double] = Array(7, -7, 3, -3, 2, -2, 0)

  /** Per-play pre-state → 120-endpoint frame. `preState` needs columns:
    * gameId, playId, down_x (1-4), yardline_100, ydstogo, plus any
    * passthrough model features. */
  def endpointGrid(preState: DataFrame): DataFrame =
    preState.withColumn("play_endpoint_x",
      explode(expr("transform(sequence(0, 119), i -> CAST(i AS DOUBLE) + 0.5)")))

  /** Down dummies for `down`; down5 ≡ turnover on downs. */
  private def downDummies(down: org.apache.spark.sql.Column): Seq[(String, org.apache.spark.sql.Column)] =
    (1 to 5).map(d => s"down$d" -> when(down === d, 1).otherwise(0))

  /** Turnover on downs: possession flips — invert field, fresh set. Reads
    * `down5` and the `*_post` columns of the step before. */
  private val turnover: Map[String, org.apache.spark.sql.Column] = Map(
    "yardline_100_post" -> when(col("down5") === 1,
      lit(100.0) - col("yardline_100_post")).otherwise(col("yardline_100_post")),
    "ydstogo_post" -> when(col("down5") === 1, 10.0).otherwise(col("ydstogo_post")),
    "down1" -> when(col("down5") === 1, 1).otherwise(col("down1")))

  /** Catch-branch post-state (play ends at play_endpoint_x). Each step is
    * one withColumns over the step before. */
  def catchState(grid: DataFrame): DataFrame = {
    val los = lit(110.0) - col("yardline_100")
    val firstDownLine = los + col("ydstogo")
    val isFirst = when(col("play_endpoint_x") >= firstDownLine, 1).otherwise(0)
    val base = grid.withColumns(Map(
      "isFirstDown" -> isFirst,
      "yardline_100_post" ->
        greatest(lit(0.0), least(lit(100.0), round(lit(110.0) - col("play_endpoint_x")))),
      "ydstogo_post" ->
        when(isFirst === 1, 10.0).otherwise(firstDownLine - col("play_endpoint_x"))))
    // first down resets to down 1
    val withDowns = base.withColumns(downDummies(col("down_x") + 1).map { case (n, c) =>
      n -> (if (n == "down1") when(col("isFirstDown") === 1, 1).otherwise(c)
            else when(col("isFirstDown") === 1, 0).otherwise(c))
    }.toMap)
    withDowns.withColumns(turnover)
  }

  /** Incomplete-branch post-state (ball returns to LOS, next down). */
  def incompleteState(preState: DataFrame): DataFrame =
    preState.withColumns((downDummies(col("down_x") + 1) ++ Seq(
      "isFirstDown" -> lit(0),
      "yardline_100_post" -> col("yardline_100"),
      "ydstogo_post" -> col("ydstogo"))).toMap)
      .withColumns(turnover)

  /** Assemble the per-endpoint EPA table. `scoreEp` maps a DataFrame with
    * post-state columns to the same frame + `xep` column (GBDT EP
    * expectation). Applies the safety (x ≤ 10 → −2) and touchdown
    * (x ≥ 110 → 7) overrides and the turnover sign inversion
    * (`play_eppa_cpu.py:203-210`). */
  def epaTable(preState: DataFrame, scoreEp: DataFrame => DataFrame): DataFrame = {
    // the pre-play and incomplete-branch EP are per-play values: score them
    // on the play rows before the endpoint explode, so no join brings them
    // back to the endpoints
    val before = scoreEp(preState.withColumns((downDummies(col("down_x")) ++ Seq(
        "isFirstDown" -> lit(0),
        "yardline_100_post" -> col("yardline_100"),
        "ydstogo_post" -> col("ydstogo"))).toMap))
      .withColumnRenamed("xep", "before_play_ep")
    val inc = scoreEp(incompleteState(before))
      .withColumnsRenamed(Map("xep" -> "xep_inc_raw", "down5" -> "inc_down5"))
    val comp = scoreEp(catchState(endpointGrid(inc)))

    // safety / touchdown overrides
    val xepComp = when(col("play_endpoint_x") <= 10, -2.0)
      .when(col("play_endpoint_x") >= 110, 7.0)
      .otherwise(col("xep"))
    comp.select(col("gameId"), col("playId"), col("play_endpoint_x"),
      xepComp.as("xep_comp"),
      when(col("down5") === 1, -xepComp - col("before_play_ep"))
        .otherwise(xepComp - col("before_play_ep")).as("xepa_comp"),
      col("xep_inc_raw").as("xep_inc"),
      when(col("inc_down5") === 1, -col("xep_inc_raw") - col("before_play_ep"))
        .otherwise(col("xep_inc_raw") - col("before_play_ep")).as("xepa_inc"))
  }
}
