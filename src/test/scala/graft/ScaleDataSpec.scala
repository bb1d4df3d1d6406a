package graft.scale

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The scale-rehearsal corpus generator must be measurement-grade: the
  * whole point of ScaleBench is that TRUE near-dup structure grows
  * exactly linearly in the copy count, so any super-linear growth in a
  * measured quantity indicts the algorithm, not the data.
  *
  * What is invariant and what is not, precisely:
  *  - the cipher is a bijection on characters, so per-copy char-shingle
  *    SETS map bijectively and every within-copy exact Jaccard is
  *    preserved EXACTLY — pinned below by brute-force all-pairs Jaccard;
  *  - LSH *candidacy* (band collisions) is a function of the hash draw,
  *    which the cipher legitimately re-rolls per copy — candidate counts
  *    are heavy-tailed (hot buckets) and NOT linear; that is a property
  *    of LSH the rehearsal is supposed to expose (it motivated
  *    [[graft.dedup.Dedup.bandCandidatesCapped]]), not a generator bug.
  *
  * (The first generator construction salted each token with a copy
  * prefix; that inflated within-copy char-shingle overlap ~3000× in the
  * smoke run. These pins hold the cipher construction to the invariant
  * the measurement depends on.) */
class ScaleDataSpec extends SparkTestBase {

  private val base = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$base/documents.parquet").exists()

  test("rotation matrices are orthogonal (QᵀQ = I to 1e-9)") {
    val d = 16
    val q = ScaleData.rotation(d, 5)
    for (i <- 0 until d; k <- 0 until d) {
      val dot = (0 until d).map(j => q(i)(j) * q(k)(j)).sum
      val want = if (i == k) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"QᵀQ[$i][$k] = $dot")
    }
  }

  test("cipher is a bijection commuting with lower()") {
    val (from, to) = ScaleData.cipher(3)
    assert(from.length == to.length)
    assert(to.toSet.size == to.length) // bijective
    val m = from.zip(to).toMap
    for (ch <- 'a' to 'z')
      assert(m(ch.toUpper).toLower == m(ch), s"case-consistency at $ch")
  }

  /** Brute-force all-pairs exact Jaccard over char-7-gram sets. */
  private def truePairs(dir: String): Set[(Long, Long, Long)] = {
    val spark = this.spark
    import spark.implicits._
    val sets = graft.dedup.Dedup.shingleSets(
        graft.Tables.documents(spark, dir), algo = "xxh64")
      .as[(Long, Array[Long])].collect()
    (for {
      (a, ha) <- sets.iterator
      (b, hb) <- sets.iterator if a < b
      inter = ha.toSet.intersect(hb.toSet).size.toLong
      bp = inter * 10000 / (ha.length + hb.length - inter)
      if bp >= 8000
    } yield (a, b, bp)).toSet
  }

  test("within-copy exact Jaccard structure is preserved; copies are disjoint") {
    assume(haveData)
    val spark = this.spark
    val tmp = tempDir("graft-scale-spec")
    ScaleData.write(spark, base, tmp, 3)
    val baseTrue = truePairs(base)
    val scaledTrue = truePairs(tmp)
    val stride = ScaleData.DocStride
    assert(scaledTrue.forall { case (a, b, _) => a / stride == b / stride },
      "cross-copy true near-dup found — cipher copies are not disjoint")
    for (c <- 0 until 3) {
      val inCopy = scaledTrue.filter(_._1 / stride == c)
        .map { case (a, b, bp) => (a - c * stride, b - c * stride, bp) }
      assert(inCopy == baseTrue,
        s"copy $c true-pair set diverged from base (bijection broken)")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("embedding cosine structure is preserved exactly; copies decorrelate") {
    assume(haveData)
    val spark = this.spark
    import spark.implicits._
    val tmp = tempDir("graft-scale-emb")
    ScaleData.write(spark, base, tmp, 3)
    def vecs(dir: String) = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val baseV = vecs(base)
    val scaled = vecs(tmp)
    val stride = ScaleData.VecStride
    val byCopy = scaled.groupBy(_._1 / stride)
    // within-copy cosines equal the base cosines to float precision
    for ((c, vs) <- byCopy) {
      val m = vs.map { case (id, v) => (id - c * stride) -> v }.toMap
      for { (a, va) <- baseV.take(10); (b, vb) <- baseV.take(10) if a < b }
        assert(math.abs(cos(m(a), m(b)) - cos(va, vb)) < 1e-5,
          s"copy $c cosine($a,$b) diverged")
    }
    // cross-copy: the same base vector in two copies must NOT stay a
    // near-dup (the signed permutation decorrelates even spiky vectors)
    val m1 = byCopy(1L).map { case (id, v) => (id - stride) -> v }.toMap
    val m2 = byCopy(2L).map { case (id, v) => (id - 2 * stride) -> v }.toMap
    val crossHigh = baseV.count { case (id, _) => cos(m1(id), m2(id)) > 0.9 }
    assert(crossHigh == 0,
      s"$crossHigh same-origin cross-copy vectors remained near-dups")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }
}
