package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY §2.1 S1–S9), with the two layout tools that
  * matter at 100 TB:
  *
  *  - '''partitioned''' parquet (coarse pruning by e.g. week/gameId —
  *    replaces the reference's output/{week}/{game}/{play} directory
  *    scheme, `play_eppa_cpu.py:543-545`), written with DYNAMIC partition
  *    overwrite so re-running a slice is idempotent (S9's skip-if-exists
  *    without the bookkeeping);
  *  - '''bucketed''' tables (hash-clustered by join key): two tables
  *    bucketed the same way join with NO exchange on either side — the
  *    co-located-join story for repeated fact-fact joins.
  */
object Store {

  /** Derived-store lineage registry: serve paths built FROM a base table
    * ([[DerivedStore]] entries — persisted ANN index caches, bucketed
    * layouts — and any catalog state over them) register an invalidation
    * hook keyed by the base path, and [[deleteKeys]] fires every hook for
    * its path after the rewrite — so a takedown reaches the derived
    * copies, not just the table of record. The registry is process-local
    * (a cluster deployment would persist it next to the derived store);
    * a [[DerivedStore]] entry additionally carries a cross-process data
    * fingerprint in its freshness marker, so even an unregistered JVM
    * rebuilds rather than serving deleted rows. Hooks are idempotent
    * deletes by contract. */
  private val derivedHooks =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, () => Unit]]()

  private def normPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  def registerDerived(basePath: String, derivedId: String)
                     (invalidate: () => Unit): Unit =
    derivedHooks.compute(normPath(basePath), (_, old) =>
      (if (old == null) Map.empty[String, () => Unit] else old) +
        (derivedId -> invalidate))

  /** Fire-and-forget invalidation of every derived store registered for
    * `basePath`; returns the invalidated ids. Hooks stay registered — a
    * rebuilt derived store with the same id re-registers over them. */
  def invalidateDerived(basePath: String): Seq[String] = {
    val hooks = Option(derivedHooks.get(normPath(basePath)))
      .getOrElse(Map.empty[String, () => Unit])
    hooks.foreach { case (_, f) => f() }
    hooks.keys.toSeq.sorted
  }

  /** [[registerDerived]]'s RETENTION sibling (r10): derived stores that
    * accrete one entry per base-table VERSION (the version-pinned ANN
    * index cache) register a keepLast-shaped hook here, and
    * [[graft.sources.VersionedStore.vacuum]] fires it with its own
    * horizon — so cache governance rides the store's retention decision
    * instead of being a manual two-call protocol. Same process-local
    * contract as the invalidation registry. The hook returns the names
    * it deleted. */
  private val vacuumHooks =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Int => Seq[String]]]()

  def registerVacuumHook(basePath: String, hookId: String)
                        (hook: Int => Seq[String]): Unit =
    vacuumHooks.compute(normPath(basePath), (_, old) =>
      (if (old == null) Map.empty[String, Int => Seq[String]] else old) +
        (hookId -> hook))

  /** Fire every retention hook registered for `basePath` with the
    * caller's keepLast; returns the deleted derived-entry names. */
  def fireVacuumHooks(basePath: String, keepLast: Int): Seq[String] = {
    val hooks = Option(vacuumHooks.get(normPath(basePath)))
      .getOrElse(Map.empty[String, Int => Seq[String]])
    hooks.toSeq.sortBy(_._1).flatMap { case (_, f) => f(keepLast) }
  }

  /** Hash-format guard for persistent APPEND-mode stores (r11 ADVICE,
    * medium): the incremental-admission LSH bucket store and the
    * self-dedup window-owner store accrete batches across process
    * lifetimes, and their row KEYS are hash values — any change to the
    * hash identity (the r11 NFC canonicalization, a shingle-param bump,
    * an algo switch) makes new batches silently stop matching stored
    * owners: missed near-dups and re-admitted spans with NO error. The
    * ANN index caches solved this with a fingerprint in their `_built`
    * marker; append stores get the same contract here: the first write
    * stamps a `_format` file (underscore-prefixed — invisible to
    * parquet reads) with every parameter the stored hashes depend on,
    * and every later open FAILS LOUDLY on mismatch instead of
    * appending garbage. A store with data but no marker predates the
    * convention and is refused the same way (its content may be
    * pre-NFC); rebuilding is the only sound path — the store cannot
    * tell which generation wrote it. */
  def ensureStoreFormat(dir: String, format: String): Unit = {
    val d = new java.io.File(dir)
    val marker = new java.io.File(d, "_format")
    if (marker.exists()) {
      val have = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      require(have == format,
        s"append store at $dir carries hash format '$have' but this build " +
          s"writes '$format' — its stored owners would silently stop " +
          "matching new batches; rebuild the store (or run the matching build)")
    } else {
      require(!hasLocalData(dir),
        s"append store at $dir has content but no _format marker (written " +
          s"by a pre-marker build, possibly pre-NFC hashes) — rebuild it; " +
          s"this build would append '$format' hashes that cannot match")
      d.mkdirs()
      java.nio.file.Files.write(marker.toPath, format.getBytes("UTF-8"))
      ()
    }
  }

  /** Does local store dir `dir` hold anything besides `_`/`.` markers? */
  private[graft] def hasLocalData(dir: String): Boolean =
    Option(new java.io.File(dir).listFiles).exists(_.exists(k =>
      !k.getName.startsWith("_") && !k.getName.startsWith(".")))

  /** [[ensureStoreFormat]]'s FULL-REBUILD sibling: a writer that
    * overwrites the store's entire content (NgramIndex.buildFrom) may
    * legitimately change the hash format — the old rows are gone — so
    * it RESTAMPS unconditionally instead of refusing; the guard then
    * protects every later incremental append against the new stamp. */
  def restampStoreFormat(dir: String, format: String): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "_format").toPath,
      format.getBytes("UTF-8"))
    ()
  }

  /** Drop the `_format` marker ahead of a full rebuild's content writes.
    * A rebuilder brackets its (non-atomic, multi-table) overwrites with
    * invalidate…restamp: a crash anywhere inside the bracket leaves
    * content WITHOUT a marker, which [[ensureStoreFormat]] refuses
    * loudly for every format — a stamp must never vouch for rows it
    * didn't see land. Restamping first (the pre-r13 order) let a torn
    * rebuild park old- or mixed-format rows under the new stamp, and a
    * later upsert would append mismatched hashes silently. */
  def invalidateStoreFormat(dir: String): Unit = {
    java.nio.file.Files.deleteIfExists(
      new java.io.File(new java.io.File(dir), "_format").toPath)
    ()
  }

  /** S1/S2: schema'd CSV scan — header'd, never inference in production. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** S7/S8: partitioned parquet sink with dynamic overwrite: writing a
    * subset of partitions replaces only those partitions. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S9: resumable batch — drop input rows whose partition key already
    * exists in the output (the reference's skip-if-exists dir check,
    * `comb_model_big_run_cpu.py:30-45`, as an anti-join). */
  def skipExisting(input: DataFrame, outPath: String,
                   keyCols: Seq[String]): DataFrame = {
    val spark = input.sparkSession
    // explicit existence probe, not a catch-all on the read: a transient
    // IO error on an EXISTING output would silently disable the resume
    // and reprocess every key (idempotent under dynamic overwrite, but a
    // full-cost rerun at 100 TB); a genuine read error must propagate
    val hPath = new org.apache.hadoop.fs.Path(outPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no output yet → nothing to skip; a dynamic-overwrite write of no
    // rows leaves the directory empty, which is no output either
    if (!fs.exists(hPath) || fs.listStatus(hPath).isEmpty) return input
    val existing = spark.read.parquet(outPath).select(keyCols.map(col): _*).distinct()
    input.join(broadcast(existing), keyCols, "left_anti")
  }

  /** Interchange sinks: header'd CSV and JSON-lines, for handing result
    * tables to systems that don't speak parquet. Columnar stays the
    * format for anything an engine will read back — these are edges. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Parquet with an explicit codec. The 100 TB default trade: snappy
    * decompresses fastest (scan-bound tables), zstd compresses text-heavy
    * columns several times smaller (storage- and network-bound tables);
    * StoreSpec measures the gap on the documents corpus. */
  def writeParquet(df: DataFrame, path: String, codec: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", codec).parquet(path)

  /** Parquet sink with column-level bloom filters: point-lookup pruning
    * for high-cardinality identifier columns whose values shuffle-scatter
    * across files, where min/max row-group stats prune nothing (every
    * file spans nearly the full id range). At 100 TB a needle query like
    * `user_id = X` skips row groups whose bloom filter rejects X —
    * complementary to [[writePartitioned]] (coarse directory pruning) and
    * sorted/bucketed layout (stats pruning on the cluster key). Note
    * parquet only materializes the filter where the column overflows
    * dictionary encoding — for low-cardinality columns the dictionary
    * already is an exact membership filter (StoreSpec pins both sides). */
  def writeWithBloomFilters(df: DataFrame, path: String,
                            bloomCols: Seq[String]): Unit =
    bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.parquet(path)

  /** Bucketed managed table: hash-clustered and sorted by the join key.
    * Requires a warehouse-backed catalog (default in-memory catalog
    * works locally; external metastore on a cluster). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a crashed prior run can leave the managed location behind with no
    // catalog entry — clear it or CTAS refuses (LOCATION_ALREADY_EXISTS)
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    DerivedStore.deleteLocal(loc)
    // repartition ON the bucket hash first: without it every write task
    // emits a file per bucket it touches (tasks × nBuckets small files —
    // the incremental-admit lesson); with it exactly one file per bucket,
    // and the write's parallelism is nBuckets (size nBuckets ≥ cores for
    // big corpora — the rehearsal scales it with the scale factor)
    df.repartition(nBuckets, col(bucketCol))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** [[writeBucketed]]'s EXTERNAL-location twin: the bucketed files land
    * at `path` (not in the managed warehouse) via a throwaway catalog
    * name that is dropped right after the write — external drop leaves
    * the files. This is the build half of the cross-process bucketed
    * LAYOUT cache (Dedup.bucketedPair): the files carry their bucket ids
    * in the standard `_NNNNN` filename component, so ANY session can
    * later re-register a `CREATE TABLE … CLUSTERED BY … LOCATION` entry
    * over them and get the co-located zero/one-exchange join plans
    * without rewriting a byte — one process builds, every process
    * serves. Returns the written DataFrame's schema DDL (the
    * re-registration needs it; reading it back from parquet footers
    * would work but costs a listing per serve). */
  def writeBucketedExternal(df: DataFrame, bucketCol: String, nBuckets: Int,
                            path: String): String = {
    val spark = df.sparkSession
    val tmpName =
      s"graft_bkt_build_p${ProcessHandle.current().pid()}_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    // same one-file-per-bucket discipline as writeBucketed (tasks ×
    // nBuckets small files otherwise)
    df.repartition(nBuckets, col(bucketCol))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .option("path", path)
      .saveAsTable(tmpName)
    val ddl = spark.table(tmpName).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS $tmpName") // external: files stay
    ddl
  }

  /** Register (or re-register) a catalog entry over bucketed files
    * written by [[writeBucketedExternal]] — per-JVM catalog state only,
    * no data movement. DROP + CREATE (not CREATE IF NOT EXISTS) so the
    * session's cached file listing for a previous generation at the same
    * location is invalidated with the entry. */
  def registerBucketedExternal(spark: SparkSession, table: String,
                               schemaDdl: String, bucketCol: String,
                               nBuckets: Int, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl)
         |USING parquet
         |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    ()
  }

  /** Join two same-bucketed tables on the bucket key — planner should
    * produce a sort-merge join with zero Exchange operators. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Content manifest for a partitioned table: per partition, the row
    * count and an ORDER-INDEPENDENT content hash (sum of per-row
    * xxhash64 over every column, as unsigned math in a long) — so the
    * same logical content hashes equal under any partitioning, task
    * order, or file layout. One aggregation pass; the manifest itself
    * is partition-count-sized. Written next to the data as
    * `_graft_manifest/`, making the dataset tamper-evident: readers can
    * re-derive and compare without trusting file sizes or mtimes. */
  def writeManifest(spark: SparkSession, path: String,
                    partitionCols: Seq[String]): Unit = {
    manifestOf(spark.read.parquet(path), partitionCols)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_graft_manifest")
  }

  /** The manifest aggregation (exposed for verification / testing). */
  def manifestOf(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val dataCols = df.columns.toSeq.filterNot(partitionCols.contains).sorted
    df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
           // decimal sum: order-independent, keeps the full 64-bit hash
           // entropy, and cannot overflow under ANSI arithmetic
           sum(xxhash64(dataCols.map(col): _*).cast("decimal(38,0)"))
             .as("content_hash"))
  }

  /** Re-derive the manifest and diff against the stored one. Returns the
    * partitions whose (count, hash) changed, vanished, or appeared —
    * empty means the dataset is intact. */
  def verifyManifest(spark: SparkSession, path: String,
                     partitionCols: Seq[String]): DataFrame = {
    val stored = spark.read.parquet(s"$path/_graft_manifest")
      .withColumnsRenamed(Map("n_rows" -> "expect_rows", "content_hash" -> "expect_hash"))
    val actual = manifestOf(
      spark.read.parquet(path), partitionCols)
    stored.join(actual, partitionCols, "full_outer")
      .filter(col("n_rows").isNull || col("expect_rows").isNull ||
        col("n_rows") =!= col("expect_rows") ||
        col("content_hash") =!= col("expect_hash"))
  }

  /** Orphan-file GC — the VACUUM maintenance primitive: failed or
    * interrupted writes leave `_temporary` trees (Hadoop commit
    * protocol), `*_compact_tmp`/`*_compact_old` siblings (an aborted
    * [[compact]] swap killed mid-flight), and `.…parquet.crc` debris.
    * At 100 TB these accumulate real storage and, worse, a later
    * recursive read can trip over them. Removes ONLY debris matching
    * those shapes AND whose NEWEST file anywhere inside is older than
    * `horizonMs` (default 24 h) — the age horizon is what makes vacuum
    * safe to run while writers are live, exactly like table-format
    * VACUUMs: an in-flight commit keeps writing young files into its
    * temp tree, so the tree survives even when the job has run longer
    * than the horizon. Never touches data
    * files, partition dirs, or `_graft_manifest`/`_SUCCESS` markers.
    * Returns the deleted paths. */
  def vacuum(spark: SparkSession, path: String,
             horizonMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) return Seq.empty
    val cutoff = System.currentTimeMillis() - horizonMs
    val doomed = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    def debris(name: String): Boolean =
      name == "_temporary" || name.endsWith("_compact_tmp") ||
        name.endsWith("_compact_old") || (name.startsWith(".") && name.endsWith(".crc"))
    // age = the NEWEST mtime anywhere in the debris subtree, not the
    // matched entry's own: a top-level `_temporary` dir's mtime is not
    // refreshed by writes deep inside it on most filesystems, so a
    // still-running job older than the horizon (plausible at 100 TB)
    // would otherwise have its in-flight commit tree deleted mid-write
    def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(st.getPath).map(newestMtime).toSeq).max
    def scan(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (debris(n)) {
          if (newestMtime(st) < cutoff) doomed += st.getPath
        } else if (st.isDirectory) scan(st.getPath) // partition subdirs
      }
    scan(hPath)
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(_.toString).toSeq
  }

  /** Targeted delete (takedown / right-to-be-forgotten): remove every
    * row whose `keyCol` value is in `keys`, rewriting ONLY the
    * partitions that contain such rows. The LLM-corpus governance
    * operation — opt-outs and takedown requests arrive as key lists,
    * and at 100 TB the table must not be rewritten to honor them:
    *
    *  1. one filtered scan finds the touched partition values (the key
    *     list broadcasts; parquet bloom filters / min-max stats prune
    *     row groups when present);
    *  2. only those partitions rewrite, minus the condemned keys, via
    *     dynamic partition overwrite;
    *  3. a partition whose rows are ALL deleted writes no replacement —
    *     dynamic overwrite leaves it — so its directory is removed
    *     explicitly.
    *
    * Returns the number of rows deleted. Idempotent: re-running the
    * same key list deletes 0 and rewrites nothing. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
                 keys: Seq[Any], partitionCols: Seq[String]): Long = {
    val base = spark.read.parquet(path)
    val keyLits = keys.map(lit)
    val touched = base.filter(col(keyCol).isin(keyLits: _*))
      .select(partitionCols.map(col): _*).distinct()
    val touchedRows = touched.collect() // takedown lists are small
    if (touchedRows.isEmpty) return 0L

    val affected = base.join(broadcast(touched), partitionCols, "left_semi")
    val kept = affected.filter(!col(keyCol).isin(keyLits: _*)).localCheckpoint()
    val nDeleted = affected.count() - kept.count()
    kept.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    // remove directories of partitions that became empty
    val still = kept.select(partitionCols.map(col): _*).distinct()
      .collect().map(_.toSeq).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    touchedRows.filterNot(r => still.contains(r.toSeq)).foreach { r =>
      // escape each value exactly the way Spark names partition dirs,
      // or values with reserved characters would leave stale data behind
      val dir = partitionCols.zip(r.toSeq)
        .map { case (c, v) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(c, String.valueOf(v))
        }.mkString("/")
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dir"), true)
    }
    // the takedown must reach every DERIVED copy of this table (ANN index
    // caches, bucketed candidate tables): fire their invalidation hooks so
    // the next serve rebuilds from the post-delete base
    invalidateDerived(path)
    nDeleted
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. Streaming sinks and per-batch
    * upserts accrete small files until scan task scheduling, footer
    * reads, and the namenode dominate query time — at 100 TB compaction
    * is routine maintenance, pointed at one PARTITION directory at a
    * time (so the rewrite unit stays bounded and directory-pruned reads
    * of other partitions never notice). The rewrite goes to a sibling
    * temp dir, then swaps in via two renames; production would swap a
    * manifest/metastore pointer instead — the data movement is the same.
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    compactWithHook(spark, path, targetFileBytes)(() => ())

  /** [[compact]] with a test seam between the rewrite and the swap —
    * the window where a concurrent writer (a takedown delete of the
    * same partition, StoreSpec) would otherwise be silently undone by
    * installing the pre-delete copy. The swap re-lists the source and
    * ABORTS (cleaning its temp output) if any file changed since the
    * compaction read them: a detected conflict to retry, never a
    * resurrection. Production narrows the residual re-check→rename
    * window further by swapping a manifest pointer; the detection logic
    * is the same. */
  private[graft] def compactWithHook(spark: SparkSession, path: String,
                                     targetFileBytes: Long = 128L * 1024 * 1024)
                                    (beforeSwap: () => Unit): (Int, Int) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    def snapshot(p: org.apache.hadoop.fs.Path) =
      dataFiles(p).map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    val before = dataFiles(hPath)
    // a partitioned-table ROOT has no direct data files — rewriting it
    // flat would destroy the partition layout; refuse rather than ruin
    require(before.nonEmpty,
      s"$path has no direct parquet files — point compact() at one partition directory")
    val beforeSnap = before.map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compact_tmp")
    fs.delete(tmp, true)
    spark.read.parquet(path).repartition(n).write.parquet(tmp.toString)
    beforeSwap()
    if (snapshot(hPath) != beforeSnap) {
      fs.delete(tmp, true)
      throw new java.util.ConcurrentModificationException(
        s"$path changed during compaction (concurrent delete/write?) — aborted, retry")
    }
    val old = new org.apache.hadoop.fs.Path(path + "_compact_old")
    fs.delete(old, true)
    require(fs.rename(hPath, old), s"could not move $path aside")
    require(fs.rename(tmp, hPath), s"could not install compacted $path")
    fs.delete(old, true)
    (before.length, dataFiles(hPath).length)
  }

  /** Visible-data probe shared by [[upsertPartitions]] and
    * [[replaceKeys]]: true iff the path holds at least one file a Spark
    * read would see (PathFilter semantics on the WHOLE relative path — a
    * part-file inside a crashed write's `_temporary` tree has a visible
    * NAME but is invisible to the read, and counting it would turn
    * first-batch-after-crash into a guaranteed read error). */
  private def hasVisibleFile(fs: org.apache.hadoop.fs.FileSystem,
                             hPath: org.apache.hadoop.fs.Path): Boolean = {
    val rootUri = hPath.toUri.getPath
    val it = fs.listFiles(hPath, true)
    while (it.hasNext) {
      val rel = it.next().getPath.toUri.getPath.stripPrefix(rootUri)
      if (!rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
        return true
    }
    false
  }

  /** MERGE-style keyed upsert onto a partitioned parquet table, without
    * a table format: rows in `updates` replace base rows with the same
    * key; new keys append. Only partitions that CONTAIN an updated key
    * are rewritten — the rest of the table (at 100 TB: almost all of it)
    * is never read or written:
    *
    *  1. the touched partition list comes from the updates alone
    *     (broadcast-small by construction — an update batch touching
    *     millions of partitions is a rewrite, not an upsert);
    *  2. only those partitions' base rows are scanned (directory pruning
    *     does the skipping), anti-joined on the key, unioned with the
    *     updates;
    *  3. dynamic partition overwrite swaps just those directories —
    *     re-running the same batch is idempotent (S9's resume story at
    *     the partition level, StoreSpec pins the heal-and-rerun case).
    *
    * `localCheckpoint` materializes the merged slice before the write so
    * the plan doesn't read the path it is overwriting; its size is
    * proportional to the touched partitions, not the table. */
  def upsertPartitions(updates: DataFrame, path: String, keyCols: Seq[String],
                       partitionCols: Seq[String]): Unit = {
    val spark = updates.sparkSession
    // "First batch" is decided by an explicit existence probe (no path,
    // or a path with no visible data files), NEVER by catching the read:
    // a transient IO / permission / corrupt-footer error on an EXISTING
    // table must propagate, not be mistaken for first batch — which
    // would dynamic-overwrite touched partitions with only the update
    // rows and drop their other keys.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath) || !hasVisibleFile(fs, hPath)) { // the upsert IS the table
      writePartitioned(updates, path, partitionCols)
      return
    }
    val base = spark.read.parquet(path)
    val touched = updates.select(partitionCols.map(col): _*).distinct()
    val merged = base
      .join(broadcast(touched), partitionCols, "left_semi")
      .join(broadcast(updates.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_anti")
      .unionByName(updates)
      .localCheckpoint()
    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Keyed REPLACE onto a partitioned parquet table: every base row whose
    * key matches a batch key is dropped — WHEREVER it lives — and the
    * batch rows are inserted. The distinction from [[upsertPartitions]]
    * matters exactly when a key's rows can move between partitions across
    * versions: a re-tokenized document that LOST a term still has that
    * term's posting row sitting in a `tp=` bucket the new batch never
    * visits, so an upsert keyed on (doc_id, term) leaves it behind,
    * silently inflating tf/df. Here the touched-partition set is the
    * union of (partitions holding OLD rows of batch keys) and (the
    * batch's own partitions); only those rewrite, and a partition left
    * empty has its directory removed (dynamic overwrite would otherwise
    * leave the stale copy).
    *
    * Cost: one key-filtered scan of the base locates the old rows — the
    * price of changed-row correctness. The broadcast key semi-join lets
    * parquet bloom filters / min-max stats skip row groups; batches known
    * to be append-only (fresh keys) can keep using [[upsertPartitions]]
    * and skip the probe. Idempotent: replaying a batch rewrites identical
    * content.
    *
    * `keysOf`: the key set whose old rows must drop. Defaults to the keys
    * PRESENT in `updates` — correct only when every replaced key yields at
    * least one update row. Callers whose update frame is DERIVED from the
    * batch (tokenize/explode chains) must pass the batch's own key frame
    * instead: a changed document whose new content derives to ZERO rows
    * (text shrunk below the n-gram width, features filtered out upstream)
    * would otherwise leave its old rows behind — exactly the stale-posting
    * hole a rebuild would not have. A key in `keysOf` with no update rows
    * is a pure delete. */
  def replaceKeys(updates: DataFrame, path: String, keyCols: Seq[String],
                  partitionCols: Seq[String],
                  keysOf: Option[DataFrame] = None): Unit = {
    val spark = updates.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath) || !hasVisibleFile(fs, hPath)) {
      writePartitioned(updates, path, partitionCols)
      return
    }
    // materialize the batch ONCE: it is read three times below (keys,
    // touched-partition union, merge), and callers hand in derived frames
    // whose upstream (tokenize/hash chains) would otherwise re-run per
    // reference — measured 3× the whole upsert cost on the gram index
    val ups = updates.localCheckpoint()
    val base = spark.read.parquet(path)
    val keys = keysOf
      .map(_.select(keyCols.map(col): _*).distinct().localCheckpoint())
      .getOrElse(ups.select(keyCols.map(col): _*).distinct())
    // touched = where old rows of these keys live ∪ where new rows land;
    // collected driver-side (partition lists are model-sized — the
    // deleteKeys precedent) because the empty-partition sweep needs it
    val touchedRows = base.join(broadcast(keys), keyCols, "left_semi")
      .select(partitionCols.map(col): _*)
      .unionByName(ups.select(partitionCols.map(col): _*))
      .distinct().localCheckpoint()
    val merged = base
      .join(broadcast(touchedRows), partitionCols, "left_semi")
      .join(broadcast(keys), keyCols, "left_anti")
      .unionByName(ups)
      // cluster ON the partition columns before writing: without it every
      // shuffle task writes a file into every touched directory (tasks ×
      // partitions small files + a slow commit — the admission store's
      // repartition-on-bp lesson)
      .repartition(partitionCols.map(col): _*)
      .localCheckpoint()
    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    // a touched partition whose rows were ALL dropped (old copies deleted,
    // no new rows landed) writes no replacement under dynamic overwrite —
    // remove its directory explicitly, Spark-escaped like deleteKeys
    val still = merged.select(partitionCols.map(col): _*).distinct()
      .collect().map(_.toSeq).toSet
    touchedRows.collect().map(_.toSeq).filterNot(still.contains).foreach { r =>
      val dir = partitionCols.zip(r)
        .map { case (c, v) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(c, String.valueOf(v))
        }.mkString("/")
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dir"), true)
    }
  }
}
