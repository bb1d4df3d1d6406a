package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

class VectorExprSpec extends SparkTestBase {

  /** The composed-builtins equivalent of [[graft.similarity.Ann.intDot]],
    * the control the native expression is checked and timed against
    * (interpreted lambda + boxing per element). */
  private def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("graft_dot matches HOF composition exactly (codegen + interpreted)") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val paired = df.limit(50).crossJoin(
      df.limit(50).select(col("e").as("e2"), col("vec_id").as("v2")))
    val both = paired.select(
      VectorExpressions.dot(col("e"), col("e2")).as("native"),
      intDotHof(col("e"), col("e2")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_cosine is 1 on self, symmetric, in [-1, 1]") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .limit(30)
    val self = df.select(VectorExpressions.cosine(col("e"), col("e")).as("c"))
    assert(self.filter(abs(col("c") - 1.0) > 1e-12).count() == 0)
    val pairs = df.crossJoin(df.select(col("e").as("e2")))
      .select(VectorExpressions.cosine(col("e"), col("e2")).as("ab"),
              VectorExpressions.cosine(col("e2"), col("e")).as("ba"))
    assert(pairs.filter(col("ab") =!= col("ba")).count() == 0)
    assert(pairs.filter(col("ab") < -1.0 - 1e-12 || col("ab") > 1.0 + 1e-12).count() == 0)
  }

  test("works through SQL registration and null handling") {
    VectorExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d, " +
      "graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 9.0d)) AS dn, " +
      "graft_cosine(array(0.0d, 0.0d), array(1.0d, 1.0d)) AS cz").head
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == 1.0) // null element skipped
    assert(r.getDouble(2) == 0.0) // zero norm
  }

  test("native expression beats HOF composition on bulk scoring") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .cache()
    df.count()
    val pairs = df.crossJoin(df.select(col("e").as("e2"))).cache()
    pairs.count()
    def time(c: org.apache.spark.sql.Column): (Double, Double) = {
      val t0 = System.nanoTime()
      val s = pairs.select(sum(c).as("s")).head.getDouble(0)
      ((System.nanoTime() - t0) / 1e9, s)
    }
    time(VectorExpressions.dot(col("e"), col("e2"))) // warm
    time(intDotHof(col("e"), col("e2")))
    val (tNative, sNative) = time(VectorExpressions.dot(col("e"), col("e2")))
    val (tHof, sHof) = time(intDotHof(col("e"), col("e2")))
    info(f"native=${tNative}%.2fs hof=${tHof}%.2fs speedup=${tHof / tNative}%.1fx")
    assert(math.abs(sNative - sHof) < math.abs(sNative) * 1e-9 + 1e-6)
    assert(tNative < tHof, "native codegen expression should be faster")
    pairs.unpersist(); df.unpersist()
  }
}
