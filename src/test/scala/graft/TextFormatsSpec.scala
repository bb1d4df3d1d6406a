package graft

import org.apache.spark.sql.types._
import graft.sources.TextFormats

/** Lossless-ness of the JSONL/CSV source layer on adversarial content —
  * the driver's oracle gates the real-table round trip; this pins the
  * nasty cases the synthetic corpus may not contain. */
class TextFormatsSpec extends SparkTestBase {
  import spark.implicits._

  private val nasty = Seq(
    (1L, "plain text"),
    (2L, "comma, \"quotes\", and 'ticks'"),
    (3L, "embedded\nnewline and\r\ncrlf"),
    (4L, "unicode: café 中文 😀"),
    (5L, "trailing spaces   "),
    (6L, "json specials: {\"k\": [1,2]} \\ / \b\f\t"),
    (7L, ""),
    (8L, "a,b,c\nd,e,f") // looks like more CSV rows
  )

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  test("jsonl round-trips adversarial strings byte-for-byte") {
    val df = nasty.toDF("id", "text")
    val dir = tempDir("jsonl_nasty")
    TextFormats.writeJsonl(df, dir)
    val back = TextFormats.readJsonl(spark, dir, schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    nasty.foreach { case (id, t) =>
      assert(back(id) == t, s"row $id mangled: ${back(id)}")
    }
  }

  test("csv round-trips adversarial strings byte-for-byte") {
    val df = nasty.toDF("id", "text")
    val dir = tempDir("csv_nasty")
    TextFormats.writeCsv(df, dir)
    val back = TextFormats.readCsv(spark, dir, schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.size == nasty.size)
    nasty.foreach { case (id, t) =>
      // empty string vs null: CSV has no representation of "" distinct
      // from NULL that every engine honors; accept either for the empty
      // row, exact equality everywhere else
      if (t.isEmpty) assert(back(id) == null || back(id) == "")
      else assert(back(id) == t, s"row $id mangled: ${back(id)}")
    }
  }

  test("roundtrip queries preserve the full documents table") {
    val orig = Tables.documents(spark, sfDir).orderBy("doc_id").collect()
    val viaJson = TextFormats.jsonlRoundtrip(spark, sfDir).collect()
    assert(viaJson.length == orig.length)
    viaJson.zip(orig).foreach { case (a, b) =>
      assert(a == b, s"jsonl mismatch: $a vs $b")
    }
    val viaCsv = TextFormats.csvRoundtrip(spark, sfDir).collect()
    assert(viaCsv.length == orig.length)
    viaCsv.zip(orig).foreach { case (a, b) =>
      assert(a == b, s"csv mismatch: $a vs $b")
    }
  }
}
