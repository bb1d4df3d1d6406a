package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Line-oriented text sources/sinks: JSONL and CSV (SURVEY §2.1 — the
  * reference ingests CSV via `pd.read_csv`, normalize.py:13-15; a
  * web-corpus pipeline ingests JSONL). Spark's native readers do the
  * heavy lifting (distributed line splitting, codegen'd parsing);
  * this layer fixes the knobs that make the formats LOSSLESS for
  * arbitrary document text — multi-line fields, quotes, unicode — and
  * always passes an explicit schema so no scan ever pays an inference
  * pass (the [[graft.Tables]] rule).
  *
  * Correctness gate (`s_jsonl_roundtrip` / `s_csv_roundtrip`): the
  * documents table is routed parquet → text format → read back, and the
  * oracle hashes the ORIGINAL parquet via DuckDB — any escaping,
  * encoding, or type-mapping loss in either direction breaks the hash.
  *
  * At 100 TB: both formats split by line across executors (gzip'd JSONL
  * is the one non-splittable trap — use zstd/bzip2 or many files);
  * multiLine CSV forces one task per FILE (quoted newlines break line
  * splitting), so CSV corpora must arrive pre-sharded — the writer here
  * emits one shard per partition for exactly that reason.
  */
object TextFormats {

  /** Write as JSONL (one JSON object per line, UTF-8). Splittable,
    * schema-on-read, the lingua franca of web-corpus interchange. */
  def writeJsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Read JSONL with an explicit schema (FAILFAST: corrupt lines are a
    * pipeline bug, not something to silently null out — quarantine
    * explicitly with PERMISSIVE + columnNameOfCorruptRecord if needed). */
  def readJsonl(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(dir)

  /** Write as RFC-4180-style CSV with a header. Every field quoted and
    * backslash-escaped so embedded newlines/quotes/commas survive. */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      // univocity trims field whitespace by default — loses data
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)

  /** Read the CSV written by [[writeCsv]]. multiLine honors quoted
    * newlines (at the cost of per-file tasks — see object scaladoc). */
  def readCsv(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("mode", "FAILFAST")
      .csv(dir)

  private def roundtrip(spark: SparkSession, dir: String,
                        via: (DataFrame, String) => Unit,
                        back: (SparkSession, String, StructType) => DataFrame,
                        tag: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    // the writers overwrite their target: a child of the scratch entry
    DerivedStore.withScratch(dir, s"rt-$tag") { tmp =>
      via(docs, s"$tmp/data")
      back(spark, s"$tmp/data", graft.Tables.documentsSchema)
    }
      // CSV has no portable encoding of "" distinct from NULL; the
      // documents corpus carries no null text, so restoring empties is
      // exact (and a no-op on the JSONL/ORC paths, which round-trip "")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** `s_jsonl_roundtrip`: documents → JSONL → back, hashed against the
    * original parquet. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, writeJsonl, readJsonl, "jsonl")

  /** `s_csv_roundtrip`: documents → quoted CSV → back, hashed against
    * the original parquet. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, writeCsv, readCsv, "csv")

  /** `s_orc_roundtrip`: the second columnar format Spark ships natively.
    * Not a text format, but it rides the same gate: zstd ORC out, read
    * back with the declared schema — type mapping and compression must
    * be lossless, and ORC brings its own predicate pushdown/statistics
    * at scale (the parquet alternative for ORC-standardized shops). */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir,
      (df, d) => df.write.mode("overwrite").option("compression", "zstd").orc(d),
      (s, d, schema) => s.read.schema(schema).orc(d), "orc")

  val roundtripSql: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin
}
