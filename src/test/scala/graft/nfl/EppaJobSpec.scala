package graft.nfl

import graft.SparkTestBase
import org.apache.spark.sql.functions.col
import FrameEppa._

/** The kernel stage of EppaJob.run: frames reach it balanced by count,
  * whatever partitioning they arrive in, and each frame's output is the
  * kernel's own answer for that frame. */
class EppaJobSpec extends SparkTestBase {

  test("kernel stage: count-balanced partitions, output equals the driver-side kernel") {
    val spark2 = spark
    import spark2.implicits._
    val norm = Normalize(ToyData.tracking(spark), ToyData.games(spark),
      ToyData.plays(spark))
    // the four toy plays' frames (fewer players keeps the kernel cheap),
    // plus two frames under a fifth play key: 50 frames do not split
    // evenly over four partitions
    val toy = EppaJob.frameInputs(norm).collect()
      .map(f => f.copy(players = f.players.take(6)))
    val frames = toy ++ toy.take(2).map(_.copy(playId = 999L))
    assert(toy.length >= 48 && frames.map(f => (f.gameId, f.playId, f.frameId)).distinct.length == frames.length)
    val epa = frames.map(f => (f.gameId, f.playId)).distinct.map { k =>
      k -> (Array.tabulate(120)(i => i / 60.0 + k._2 % 7), -0.5)
    }.toMap

    // arrive skewed: hashed on the two toy game ids, at most two of the
    // four input partitions hold frames
    val skewed = spark.createDataset(frames.toSeq).repartition(4, col("gameId"))
    val parts = EppaJob.run(skewed, epa).rdd.glom().collect()
    val counts = parts.map(_.length)
    assert(counts.length == spark.sparkContext.defaultParallelism)
    assert(counts.sum == frames.length)
    assert(counts.max - counts.min <= 1, counts.mkString(","))

    val key = (o: FrameOutput) => (o.pass.gameId, o.pass.playId, o.pass.frameId)
    val kernel = new Kernel(Params(), Priors.synthetic(), _ => 5.0)
    val want = frames.sortBy(f => (f.gameId, f.playId, f.frameId)).toSeq.map { f =>
      val (comp, inc) = epa((f.gameId, f.playId))
      kernel.compute(f, comp, inc)
    }
    assert(KernelSpec.digest(parts.flatten.sortBy(key).toSeq) == KernelSpec.digest(want))
  }

  test("writeOutputs leaves its caller's persistence as it found it") {
    val spark2 = spark
    import spark2.implicits._
    val norm = Normalize(ToyData.tracking(spark), ToyData.games(spark),
      ToyData.plays(spark))
    val frames = EppaJob.frameInputs(norm).collect().take(3)
      .map(f => f.copy(players = f.players.take(4)))
    val epa = frames.map(f => (f.gameId, f.playId) -> (Array.fill(120)(1.0), -0.5)).toMap
    val cached = EppaJob.run(spark.createDataset(frames.toSeq), epa).cache()
    cached.count()
    EppaJob.writeOutputs(cached, tempDir("graft_eppa_cached"))
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.unpersist()
    val plain = EppaJob.run(spark.createDataset(frames.toSeq), epa)
    val dir = tempDir("graft_eppa_plain")
    EppaJob.writeOutputs(plain, dir)
    assert(plain.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.read.parquet(s"$dir/passes").count() == frames.length)
  }
}
