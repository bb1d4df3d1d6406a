package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned parquet tables with time-travel reads — the
  * training-reproducibility piece of the storage layer: a training run
  * records the version it read, and that exact corpus stays addressable
  * while later ingests, rewrites, and compactions land on top.
  *
  * Layout (the Delta/Iceberg idea reduced to its load-bearing core, on
  * plain parquet):
  * {{{
  *   root/data/<uuid>.parquet      immutable data files, never mutated
  *   root/_versions/v%09d.list     manifest: op line + relative file list
  * }}}
  *
  * Commit protocol — files first, manifest last:
  *  1. stage the dataframe to a temp dir,
  *  2. move every part file into `data/` under a fresh unique name,
  *  3. write the manifest to a temp name and RENAME it to `v{N}.list`.
  * The rename is the commit point: Hadoop `FileSystem.rename` refuses an
  * existing destination, so two concurrent committers race for the same
  * version number and exactly one wins; the loser re-reads the head and
  * retries on top (appends and overwrites commute with any winner). A
  * crash before step 3 leaves orphan data files that no manifest
  * references — invisible to every reader, reclaimed by [[vacuum]] —
  * and never a manifest pointing at missing files.
  *
  * At 100 TB the manifest is O(files), the read path is an explicit file
  * list (no directory listing on the hot path), and nothing here ever
  * rewrites a data file except [[purgeKeys]] — the right-to-be-forgotten
  * operation, which is EXPECTED to violate snapshot immutability: legal
  * erasure must reach historical versions too, so it rewrites affected
  * files once and remaps every retained manifest onto the purged copies.
  */
object VersionedStore {

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionName(v: Long): String = f"v$v%09d.list"

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".list"))
      name.stripPrefix("v").stripSuffix(".list").toLongOption
    else None

  /** All committed versions, ascending; empty for a fresh root. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(s"$root/_versions")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => parseVersion(s.getPath.getName)).sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** Manifest content: (op, entries). An entry is the relative file name,
    * optionally followed by tab-separated zone-map bounds `min max` of the
    * table's stats column ([[commitAppend]]'s `statsCol`). Lines starting
    * with `#` are header/meta (`#op`, `#addcol`), never file entries. */
  private def readManifest(fs: FileSystem, root: String, v: Long): (String, Seq[String]) = {
    val lines = manifestLines(fs, root, v)
    (lines.head.stripPrefix("#op "),
      lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")))
  }

  private def manifestLines(fs: FileSystem, root: String, v: Long): Seq[String] = {
    val in = fs.open(new Path(s"$root/_versions/${versionName(v)}"))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    txt.linesIterator.toSeq
  }

  /** A schema-evolution manifest record. Applied IN COMMIT ORDER at
    * read — order matters once records stack (an added column can later
    * be renamed). */
  private[graft] sealed trait SchemaRec
  private[graft] final case class AddCol(col: String, typeDdl: String,
                                         defaultSql: String) extends SchemaRec
  private[graft] final case class RenameCol(from: String, to: String) extends SchemaRec
  private[graft] final case class WidenCol(col: String, typeDdl: String) extends SchemaRec
  private[graft] final case class DropCol(col: String) extends SchemaRec

  /** Schema-evolution records in force at `version`, in commit order. */
  private def readSchemaRecs(fs: FileSystem, root: String, v: Long): Seq[SchemaRec] =
    manifestLines(fs, root, v).flatMap { l =>
      if (l.startsWith("#addcol "))
        l.stripPrefix("#addcol ").split('\t') match {
          case Array(c, t, d) => Some(AddCol(c, t, d))
          case other => sys.error(s"malformed #addcol line: ${other.mkString("\t")}")
        }
      else if (l.startsWith("#rename "))
        l.stripPrefix("#rename ").split('\t') match {
          case Array(f, t) => Some(RenameCol(f, t))
          case other => sys.error(s"malformed #rename line: ${other.mkString("\t")}")
        }
      else if (l.startsWith("#widen "))
        l.stripPrefix("#widen ").split('\t') match {
          case Array(c, t) => Some(WidenCol(c, t))
          case other => sys.error(s"malformed #widen line: ${other.mkString("\t")}")
        }
      else if (l.startsWith("#drop "))
        Some(DropCol(l.stripPrefix("#drop ")))
      else None
    }

  private def isSchemaMeta(l: String): Boolean =
    l.startsWith("#addcol ") || l.startsWith("#rename ") ||
      l.startsWith("#widen ") || l.startsWith("#drop ")

  /** Names that pre-evolve data files may still carry PHYSICALLY even
    * though the logical schema no longer surfaces them: rename sources
    * and dropped columns. Re-introducing such a name (add, or rename-to)
    * would conflate the old files' values with the new column's — the
    * guard shared by [[evolveAddColumn]], [[evolveRenameColumn]] and
    * [[evolveDropColumn]]'s re-add refusal. A full rewrite
    * (overwrite/[[compactHead]]) clears the records and frees the names. */
  private def ghostNames(recs: Seq[SchemaRec]): Set[String] =
    recs.collect { case RenameCol(f, _) => f; case DropCol(c) => c }.toSet

  /** The widening lattice: a type may only evolve RIGHTWARD along its
    * chain (the promotions parquet's vectorized reader performs when
    * handed a wider read schema — verified: int32 files read as BIGINT
    * upcast losslessly). */
  private val WidenChains = Seq(
    Seq("tinyint", "smallint", "int", "bigint"),
    Seq("float", "double"))

  private def widenRank(ddl: String): Option[(Int, Int)] = {
    val t = org.apache.spark.sql.types.DataType.fromDDL(ddl).simpleString
    WidenChains.zipWithIndex.collectFirst {
      case (chain, ci) if chain.contains(t) => (ci, chain.indexOf(t))
    }
  }

  private def isWidening(from: String, to: String): Boolean =
    (widenRank(from), widenRank(to)) match {
      case (Some((c1, r1)), Some((c2, r2))) => c1 == c2 && r2 > r1
      case _ => false
    }

  /** Union of per-file footer schemas with widening-aware conflict
    * resolution — the replacement for parquet `mergeSchema` on tables
    * carrying a `#widen` record (Spark's own merge refuses int32/int64
    * mixes). Fields union by name; a type conflict resolves to the wider
    * end of its chain, anything off-chain fails loudly.
    *
    * Cost (r10, the ADVICE item): footers are fetched CONCURRENTLY (a
    * bounded driver thread pool — each fetch is one footer read, the
    * same I/O mergeSchema's distributed job performs per file) and the
    * resulting union is MEMOIZED per exact file set, so only the first
    * plan of a given version pays the pass at all — every later
    * readAt/readAtPruned of that version (data files are immutable, so
    * the path set IS the content key) hits the cache. [[compactHead]]
    * still materializes the wide type and drops the record, after which
    * no footer pass remains. */
  private val unionSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String],
      org.apache.spark.sql.types.StructType]()

  private def widenedUnionSchema(spark: SparkSession, paths: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def wider(a: DataType, b: DataType): DataType =
      if (a == b) a
      else if (isWidening(a.simpleString, b.simpleString)) b
      else if (isWidening(b.simpleString, a.simpleString)) a
      else sys.error(s"cannot merge ${a.simpleString} and ${b.simpleString}")
    def union(s1: StructType, s2: StructType): StructType = {
      val known = s1.map(f => f.name -> f).toMap
      StructType(s1.map(f => known(f.name)).map { f =>
        s2.find(_.name == f.name) match {
          case Some(g) => StructField(f.name, wider(f.dataType, g.dataType), nullable = true)
          case None => f.copy(nullable = true)
        }
      } ++ s2.filterNot(f => known.contains(f.name)).map(_.copy(nullable = true)))
    }
    // crude bound: a long-lived session planning thousands of distinct
    // widened versions resets rather than grows without limit (entries
    // are schemas — small — but the KEYS are O(files) path lists)
    if (unionSchemaCache.size > 256) unionSchemaCache.clear()
    unionSchemaCache.computeIfAbsent(paths.sorted, { key =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(32, math.max(1, key.length)))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futures = key.map(p =>
          scala.concurrent.Future(spark.read.parquet(p).schema))
        scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futures),
            scala.concurrent.duration.Duration.Inf)
          .reduce(union)
      } finally pool.shutdown()
    })
  }

  private def entryFile(entry: String): String = entry.takeWhile(_ != '\t')

  private def entryBounds(entry: String): Option[(Long, Long)] =
    entry.split('\t') match {
      case Array(_, lo, hi) => Some((lo.toLong, hi.toLong))
      case _ => None
    }

  private def writeManifestFile(fs: FileSystem, root: String, v: Long,
                                op: String, files: Seq[String],
                                meta: Seq[String] = Seq.empty): Boolean = {
    val tmp = new Path(s"$root/_versions/.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(((s"#op $op" +: meta).mkString("\n") + "\n" +
      files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(s"$root/_versions/${versionName(v)}")
    // rename-no-overwrite is the atomic commit point; false = lost the race
    val won = !fs.exists(dst) && fs.rename(tmp, dst)
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Stage `df` and move its part files into `data/` under fresh names;
    * returns the manifest entries. Files are in their final location but
    * referenced by NO manifest until the caller commits one. With
    * `statsCol` set, each entry carries the file's min/max of that column
    * (cast to long) — the zone map [[readAtPruned]] skips files with. An
    * empty part file gets no bounds and is always read (it costs one
    * footer). */
  private def stageFiles(df: DataFrame, root: String,
                         statsCol: Option[String] = None): Seq[String] = {
    val spark = df.sparkSession
    val fs = fsOf(spark, root)
    val staging = s"$root/.staging-${java.util.UUID.randomUUID()}"
    df.write.parquet(staging)
    val stats: Map[String, (Long, Long)] = statsCol match {
      case None => Map.empty
      case Some(c) =>
        spark.read.parquet(staging)
          .groupBy(input_file_name().as("f"))
          .agg(min(col(c).cast("long")).as("lo"), max(col(c).cast("long")).as("hi"))
          .collect()
          .map(r => new Path(r.getString(0)).getName -> (r.getLong(1), r.getLong(2)))
          .toMap
    }
    fs.mkdirs(new Path(s"$root/data"))
    val parts = fs.listStatus(new Path(staging)).toSeq
      .filter(s => s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val names = parts.map { s =>
      val name = s"${java.util.UUID.randomUUID().toString}.parquet"
      require(fs.rename(s.getPath, new Path(s"$root/data/$name")),
        s"staging move failed for ${s.getPath}")
      stats.get(s.getPath.getName) match {
        case Some((lo, hi)) => s"$name\t$lo\t$hi"
        case None => name
      }
    }
    fs.delete(new Path(staging), true)
    names
  }

  /** Commit `base(headFiles) ++ staged` as the next version; retries the
    * version number under concurrent committers. `#addcol` schema meta is
    * carried forward from the head on appends/evolves (old files still
    * need their defaults) and DROPPED on full rewrites (`keepMeta =
    * false`: overwrite/compact files all carry the current schema, the
    * compaction having materialized the defaults through [[readAt]]). */
  private def commit(spark: SparkSession, root: String, op: String,
                     staged: Seq[String], newMeta: Seq[String] = Seq.empty,
                     keepMeta: Boolean = true)
                    (base: Seq[String] => Seq[String]): Long = {
    val fs = fsOf(spark, root)
    fs.mkdirs(new Path(s"$root/_versions"))
    var v = latestVersion(spark, root).getOrElse(0L) + 1
    while (true) {
      val (head, headMeta) =
        if (v == 1) (Seq.empty[String], Seq.empty[String])
        else (readManifest(fs, root, v - 1)._2,
          manifestLines(fs, root, v - 1).filter(isSchemaMeta))
      val meta = (if (keepMeta) headMeta else Seq.empty) ++ newMeta
      if (writeManifestFile(fs, root, v, op, base(head) ++ staged, meta)) return v
      v = latestVersion(spark, root).getOrElse(0L) + 1
    }
    v // unreachable
  }

  /** Append `df` as a new version (previous files + the new ones). With
    * `statsCol`, the new files carry zone-map bounds of that column in
    * the manifest for [[readAtPruned]] file skipping. */
  def commitAppend(df: DataFrame, root: String,
                   statsCol: Option[String] = None): Long =
    commit(df.sparkSession, root, "append",
      stageFiles(df, root, statsCol))(head => head)

  /** Replace the table content with `df` as a new version. Old versions
    * keep their files and stay readable until [[vacuum]]. */
  def commitOverwrite(df: DataFrame, root: String,
                      statsCol: Option[String] = None): Long =
    commit(df.sparkSession, root, "overwrite",
      stageFiles(df, root, statsCol), keepMeta = false)(_ => Seq.empty)

  /** ADDITIVE SCHEMA EVOLUTION — the add-column table operation (the one
    * Delta/Iceberg core capability the store lacked before round 8):
    * commits a new version with the SAME file set plus an `#addcol`
    * schema record. No data file is read or written. From this version
    * on, [[readAt]] surfaces `colName` on every row: files written
    * before the evolve (which lack the column physically) get
    * `defaultSql` backfilled AT READ — the lazy backfill that makes
    * add-column O(1) at 100 TB — while files written after carry their
    * own values. Earlier versions are untouched: `readAt(v)` for v
    * before the evolve still returns the old schema. Readers pay one
    * footer-merge pass at planning time on evolved tables (mergeSchema);
    * a [[compactHead]] materializes the defaults and drops the record.
    *
    * `defaultSql` is a constant SQL expression (e.g. `"CAST(0 AS
    * BIGINT)"`, `"'unknown'"`); [[readChanges]] across an evolve
    * boundary refuses loudly (op is `evolve`, not `append` — a file-set
    * diff cannot express a schema change). Contract note: the backfill
    * is value-level (`coalesce`), so with a non-null default an explicit
    * NULL written after the evolve also reads as the default — the
    * add-column-WITH-DEFAULT semantic. For add-NULLABLE-column
    * semantics, pass `defaultSql = "NULL"`: the coalesce degenerates to
    * identity, pre-evolve rows surface NULL, and post-evolve explicit
    * NULLs survive (VersionedStoreSpec pins both contracts). */
  def evolveAddColumn(spark: SparkSession, root: String, colName: String,
                      typeDdl: String, defaultSql: String): Long = {
    require(!colName.contains("\t") && !typeDdl.contains("\t") &&
      !defaultSql.contains("\t") && !defaultSql.contains("\n"),
      "addcol fields must be tab/newline-free")
    // validate eagerly: a bad default must fail the evolve, not every read
    spark.sql(s"SELECT CAST($defaultSql AS $typeDdl)")
    // a name freed by an earlier RENAME or DROP must not be re-added:
    // pre-evolve files still physically carry it, and the merged schema
    // would conflate the old column's values with the new one's
    latestVersion(spark, root).foreach { head =>
      require(!ghostNames(readSchemaRecs(fsOf(spark, root), root, head))
        .contains(colName),
        s"'$colName' was freed by a rename/drop; old files still carry it — pick a fresh name")
    }
    commit(spark, root, "evolve", Seq.empty,
      newMeta = Seq(s"#addcol $colName\t$typeDdl\t$defaultSql"))(head => head)
  }

  /** RENAME-COLUMN SCHEMA EVOLUTION — the second O(1) table-metadata
    * operation ([[evolveAddColumn]]'s sibling): commits a new version
    * with the SAME file set plus a `#rename from\tto` record. No data
    * file is read or written; from this version on [[readAt]] surfaces
    * the column under its new name — pre-rename files are mapped at
    * read, post-rename appends write the new name physically, and the
    * merged read coalesces the two. Earlier versions are untouched
    * (`readAt(v)` before the evolve keeps the old name); a
    * [[compactHead]] materializes the rename and drops the record;
    * [[readChanges]] across the boundary refuses (op is `evolve`).
    * Records stack with addcol in commit order, so renaming a
    * previously added column works; re-USING a freed name is refused
    * (see [[evolveAddColumn]]'s guard). */
  def evolveRenameColumn(spark: SparkSession, root: String,
                         from: String, to: String): Long = {
    require(from != to, "rename must change the name")
    require(!from.contains("\t") && !to.contains("\t") &&
      !from.contains("\n") && !to.contains("\n"),
      "rename fields must be tab/newline-free")
    val head = latestVersion(spark, root).getOrElse(
      sys.error(s"nothing to evolve under $root"))
    val cols = readAt(spark, root, head).columns.toSet
    require(cols.contains(from), s"no column '$from' at head of $root")
    require(!cols.contains(to), s"column '$to' already exists at head of $root")
    // the target name must also not be a name old files still carry
    // physically (freed by an earlier rename/drop) — same conflation guard
    require(!ghostNames(readSchemaRecs(fsOf(spark, root), root, head)).contains(to),
      s"'$to' was freed by a rename/drop; old files still carry it — pick a fresh name")
    commit(spark, root, "evolve", Seq.empty,
      newMeta = Seq(s"#rename $from\t$to"))(head => head)
  }

  /** WIDEN-TYPE SCHEMA EVOLUTION — the third O(1) table-metadata
    * operation: commits a new version with the SAME file set plus a
    * `#widen col\tnewType` record. No data file is read or written; the
    * promotion must follow the widening lattice (tinyint→smallint→int→
    * bigint, float→double — exactly the upcasts the parquet reader
    * performs losslessly when handed a wider read schema). From this
    * version on, [[readAt]] serves the column at the wide type: files
    * written before the evolve are upcast AT READ via an explicit
    * widened union schema (parquet `mergeSchema` refuses mixed-width
    * footers, so widened tables pay one footer pass to build it — the
    * same planning cost class), files written after carry the wide type
    * physically. Earlier versions are untouched; [[compactHead]]
    * materializes the wide type and drops the record; [[readChanges]]
    * across the boundary refuses (op is `evolve`). */
  def evolveWidenColumn(spark: SparkSession, root: String,
                        colName: String, newTypeDdl: String): Long = {
    require(!colName.contains("\t") && !newTypeDdl.contains("\t") &&
      !colName.contains("\n") && !newTypeDdl.contains("\n"),
      "widen fields must be tab/newline-free")
    val head = latestVersion(spark, root).getOrElse(
      sys.error(s"nothing to evolve under $root"))
    val schema = readAt(spark, root, head).schema
    val field = schema.find(_.name == colName).getOrElse(
      sys.error(s"no column '$colName' at head of $root"))
    require(isWidening(field.dataType.simpleString, newTypeDdl),
      s"'${field.dataType.simpleString}' -> '$newTypeDdl' is not a widening " +
        s"promotion (chains: tinyint<smallint<int<bigint, float<double)")
    commit(spark, root, "evolve", Seq.empty,
      newMeta = Seq(s"#widen $colName\t$newTypeDdl"))(head => head)
  }

  /** DROP-COLUMN SCHEMA EVOLUTION — the fourth O(1) table-metadata
    * operation, completing the common Delta/Iceberg metadata set
    * (add/rename/widen/drop): commits a new version with the SAME file
    * set plus a `#drop col` record. No data file is read or written;
    * from this version on [[readAt]] no longer surfaces the column —
    * the bytes stay in the pre-drop files (time travel to earlier
    * versions still sees them) but every post-drop read projects them
    * away. The freed name is REFUSED for re-add or rename-to while
    * pre-drop files still carry it physically (the [[ghostNames]]
    * conflation guard, both directions — the same rule rename
    * established); a [[compactHead]] materializes the projection, drops
    * the record, and frees the name for real. NOTE drop is a METADATA
    * erasure, not a data erasure: for right-to-be-forgotten use
    * [[purgeKeys]], which rewrites history. Records stack in commit
    * order, so addcol→rename→widen→drop all compose. */
  def evolveDropColumn(spark: SparkSession, root: String,
                       colName: String): Long = {
    require(!colName.contains("\t") && !colName.contains("\n"),
      "drop field must be tab/newline-free")
    val head = latestVersion(spark, root).getOrElse(
      sys.error(s"nothing to evolve under $root"))
    val cols = readAt(spark, root, head).columns
    require(cols.contains(colName), s"no column '$colName' at head of $root")
    require(cols.length > 1, s"refusing to drop the last column of $root")
    commit(spark, root, "evolve", Seq.empty,
      newMeta = Seq(s"#drop $colName"))(head => head)
  }

  /** Read the table exactly as of `version`. With `mergeSchema`, the
    * read unions the schemas of every referenced file (additive column
    * evolution: old files surface the new columns as null). Off by
    * default — merging reads every footer at planning time, so evolved
    * tables should pay it knowingly. */
  def readAt(spark: SparkSession, root: String, version: Long,
             mergeSchema: Boolean = false): DataFrame = {
    val fs = fsOf(spark, root)
    val (_, entries) = readManifest(fs, root, version)
    if (entries.isEmpty) return spark.emptyDataFrame
    val recs = readSchemaRecs(fs, root, version)
    val raw = readRaw(spark, recs, mergeSchema,
      entries.map(e => s"$root/data/${entryFile(e)}"))
    applySchemaRecs(raw, recs)
  }

  /** The physical read under the schema records in force:
    *  - no records → the caller's mergeSchema choice (skip the
    *    footer-merge planning cost on un-evolved tables);
    *  - addcol/rename only → parquet `mergeSchema` (pre-evolve files
    *    lack the added/renamed columns physically; the union surfaces
    *    them as null);
    *  - any `#widen` → an EXPLICIT widened union schema (Spark's own
    *    merge refuses int32/int64 mixes; the explicit schema makes the
    *    reader upcast narrow-era files and null-fill missing columns,
    *    which subsumes what mergeSchema did for addcol/rename). */
  private def readRaw(spark: SparkSession, recs: Seq[SchemaRec],
                      mergeSchema: Boolean, paths: Seq[String]): DataFrame = {
    val widens = recs.collect { case w: WidenCol => w }
    if (widens.isEmpty)
      spark.read
        .option("mergeSchema", (mergeSchema || recs.nonEmpty).toString)
        .parquet(paths: _*)
    else {
      import org.apache.spark.sql.types._
      val union = widenedUnionSchema(spark, paths)
      // force each widened column to its DECLARED type even when every
      // referenced file is still narrow (no post-widen append yet)
      val target = StructType(union.map { f =>
        widens.findLast(_.col == f.name) match {
          case Some(w) => StructField(f.name, DataType.fromDDL(w.typeDdl), nullable = true)
          case None => f
        }
      })
      spark.read.schema(target).parquet(paths: _*)
    }
  }

  /** Lazy schema-record application, in commit order.
    *  - [[AddCol]]: rows from pre-evolve files surface the column as
    *    null under the merged schema → coalesce to the default; if NO
    *    file carries the column yet, synthesize it whole.
    *  - [[RenameCol]]: pre-rename files carry `from`, post-rename
    *    appends carry `to` physically; the merged schema surfaces both →
    *    coalesce into `to` and drop `from`. Same value-level contract as
    *    addcol (an explicit NULL in either column reads through). */
  private def applySchemaRecs(raw: DataFrame,
                              recs: Seq[SchemaRec]): DataFrame =
    recs.foldLeft(raw) {
      case (df, AddCol(c, t, d)) =>
        if (df.columns.contains(c))
          df.withColumn(c, coalesce(col(c), expr(s"CAST($d AS $t)")))
        else df.withColumn(c, expr(s"CAST($d AS $t)"))
      case (df, RenameCol(f, t)) =>
        val has = df.columns.toSet
        if (has(f) && has(t)) df.withColumn(t, coalesce(col(t), col(f))).drop(f)
        else if (has(f)) df.withColumnRenamed(f, t)
        else df // only post-rename files referenced: already `to`-named
      case (df, WidenCol(c, t)) =>
        // the physical read already upcasts ([[readRaw]]); this cast is
        // the declared-type guarantee when the column arrived through a
        // narrower path (e.g. a later rename onto the widened name)
        if (df.columns.contains(c)) df.withColumn(c, col(c).cast(t)) else df
      case (df, DropCol(c)) =>
        // pre-drop files still carry the column physically; project it
        // away. Catalyst prunes the projection into the scan, so the
        // dropped column's pages are never even decoded.
        df.drop(c)
    }

  /** Rewrite the head version's content into `nFiles` files as a new
    * `compact` version — the maintenance op that keeps a long-running
    * append sink scannable (thousands of small commits → a bounded file
    * count). Content-identical by construction; old versions keep their
    * files until [[vacuum]]. Zone-map bounds are recomputed fresh when
    * `statsCol` is given. [[readChanges]] refuses ranges that cross a
    * compact — the file diff is a full rewrite, not a row delta — so
    * incremental consumers checkpoint their version BEFORE compacting. */
  def compactHead(spark: SparkSession, root: String, nFiles: Int,
                  statsCol: Option[String] = None): Long = {
    require(nFiles >= 1)
    val head = latestVersion(spark, root).getOrElse(
      sys.error(s"nothing to compact under $root"))
    // readAt materializes any #addcol defaults into the compacted files,
    // so the record is dropped (keepMeta=false) and later reads skip the
    // footer-merge pass — compaction doubles as schema-evolution cleanup
    val df = readAt(spark, root, head).repartition(nFiles)
    commit(spark, root, "compact", stageFiles(df, root, statsCol),
      keepMeta = false)(_ => Seq.empty)
  }

  /** The manifest entries of `version` whose zone-map bounds overlap
    * `[lo, hi]` — entries without bounds are conservatively kept. The
    * file-skipping decision, exposed for tests and tooling. */
  def overlappingFiles(spark: SparkSession, root: String, version: Long,
                       lo: Long, hi: Long): Seq[String] = {
    val (_, entries) = readManifest(fsOf(spark, root), root, version)
    entries.filter(e => entryBounds(e) match {
      case Some((flo, fhi)) => fhi >= lo && flo <= hi
      case None => true
    }).map(entryFile)
  }

  /** [[readAt]] restricted by the manifest zone map: only files whose
    * `statsCol` range overlaps `[lo, hi]` are opened — file-level
    * skipping BEFORE any parquet footer is touched, the manifest-stats
    * idea of Delta/Iceberg. Callers still apply their exact predicate on
    * top; pruning only discards files that cannot contain a match, so
    * results are identical to filtering [[readAt]] (the
    * `s_zonemap_prune` oracle gates exactly that). At 100 TB this is the
    * difference between listing-then-opening a million footers and
    * opening the dozen files a day-range query touches. */
  def readAtPruned(spark: SparkSession, root: String, version: Long,
                   lo: Long, hi: Long): DataFrame = {
    val files = overlappingFiles(spark, root, version, lo, hi)
    if (files.isEmpty) return spark.emptyDataFrame
    // same schema surface as readAt: an evolved table's pruned read must
    // carry the added/renamed/widened columns and their defaults too
    val recs = readSchemaRecs(fsOf(spark, root), root, version)
    applySchemaRecs(
      readRaw(spark, recs, mergeSchema = false,
        files.map(f => s"$root/data/$f")), recs)
  }

  /** Digest of the manifest CONTENT at `version` — the freshness key for
    * version-pinned derived stores (`Ann.ensureIndexAt`, installed by
    * [[DerivedStore.ensureFresh]]): a manifest is immutable except under
    * [[purgeKeys]], whose in-place remap is exactly the one event that
    * must invalidate a v-pinned index (erasure reaches derived serve
    * paths), so digest-changed ⇔ rebuild-required. O(manifest
    * bytes), no data files touched. */
  def manifestFingerprint(spark: SparkSession, root: String, version: Long): String = {
    val fs = fsOf(spark, root)
    val in = fs.open(new Path(s"$root/_versions/${versionName(version)}"))
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
  }

  def readLatest(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root,
      latestVersion(spark, root).getOrElse(
        sys.error(s"no committed version under $root")))

  /** Right-to-be-forgotten across HISTORY: remove every row whose
    * `keyCol` is in `keys` from every RETAINED version. Each affected
    * data file is rewritten once (same name stem, new file) and every
    * manifest that referenced it is remapped in place — the one
    * deliberate break of manifest immutability, because erasure that
    * spares time-travel reads is not erasure. Untouched files are never
    * rewritten; returns the number of rows removed from the live file
    * set. Readers racing the remap see either the old or the purged
    * file — both complete manifests — never a torn state. */
  def purgeKeys(spark: SparkSession, root: String, keyCol: String,
                keys: Seq[Long]): Long = {
    val fs = fsOf(spark, root)
    val all = versions(spark, root)
    val manifests = all.map(v => v -> readManifest(fs, root, v)).toMap
    val fileSet = manifests.values.flatMap(_._2.map(entryFile)).toSet.toSeq.sorted
    if (fileSet.isEmpty) return 0L
    // one scan finds the affected files; only those are rewritten
    val hits = spark.read.parquet(fileSet.map(f => s"$root/data/$f"): _*)
      .filter(col(keyCol).isin(keys: _*))
      .select(input_file_name()).distinct().collect()
      .map(r => new Path(r.getString(0)).getName).toSet
    var removed = 0L
    val renames = hits.toSeq.sorted.map { f =>
      val src = s"$root/data/$f"
      val df = spark.read.parquet(src)
      removed += df.filter(col(keyCol).isin(keys: _*)).count()
      val kept = df.filter(!col(keyCol).isin(keys: _*))
      val replacement = stageFiles(kept.coalesce(1), root).map(entryFile)
      f -> replacement
    }.toMap
    // remap every manifest onto the purged replacements, then drop the
    // originals. A purged replacement KEEPS the old entry's zone-map
    // bounds: row removal can only shrink a file's true range, so the old
    // bounds stay valid (possibly loose) for pruning.
    all.foreach { v =>
      val (op, files) = manifests(v)
      if (files.exists(e => renames.contains(entryFile(e)))) {
        val mapped = files.flatMap { e =>
          val tail = e.drop(entryFile(e).length) // "\tlo\thi" or ""
          renames.get(entryFile(e))
            .map(_.map(n => n + tail)).getOrElse(Seq(e))
        }
        // carry every `#` meta line (schema records) through the remap
        val meta = manifestLines(fs, root, v).tail.filter(_.startsWith("#"))
        val tmp = new Path(s"$root/_versions/.tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try out.write(((s"#op $op" +: meta).mkString("\n") + "\n" +
          mapped.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        // overwrite-rename: delete + rename (manifest content is a pure
        // function of (old manifest, renames), so a crash between the two
        // steps is repaired by re-running the purge)
        fs.delete(new Path(s"$root/_versions/${versionName(v)}"), false)
        require(fs.rename(tmp, new Path(s"$root/_versions/${versionName(v)}")))
      }
    }
    renames.keys.foreach(f => fs.delete(new Path(s"$root/data/$f"), false))
    removed
  }

  /** Change-data feed between two versions of an APPEND-ONLY history:
    * the rows added in (fromV, toV], read as the manifest file-set
    * difference — no content diff, no re-read of the base. This is what
    * an incremental consumer (a derived index via
    * `EventStreams.indexMaintenanceSink`-style upserts, a downstream
    * rollup) polls instead of re-scanning the corpus. Fails loudly if an
    * overwrite intervenes — a file-set diff is not the row delta across
    * one. A [[purgeKeys]] does NOT break the feed: it remaps files
    * consistently across every manifest, so the diff stays the correct
    * (post-purge) delta; the subset check below only trips on manifest
    * corruption. */
  def readChanges(spark: SparkSession, root: String,
                  fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val fs = fsOf(spark, root)
    val fromFiles = readManifest(fs, root, fromV)._2.toSet
    ((fromV + 1) to toV).foreach { v =>
      val op = readManifest(fs, root, v)._1
      require(op == "append",
        s"readChanges needs an append-only range; v$v is '$op'")
    }
    val (_, toFiles) = readManifest(fs, root, toV)
    require(fromFiles.subsetOf(toFiles.toSet),
      s"v$fromV files were remapped (purge?) — file diff is not the row delta")
    val added = toFiles.filterNot(fromFiles)
    if (added.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(added.map(e => s"$root/data/${entryFile(e)}"): _*)
  }

  /** `s_time_travel`: ingest orders as two committed versions (before and
    * after 1995-07-01), then aggregate EACH version by order status — a
    * v1 read taken AFTER v2 landed must still see exactly the first
    * slice. The oracle replays both versions' content rules straight from
    * the orders table, so the hash gate proves the snapshot isolation,
    * not just the arithmetic. */
  def timeTravelDemo(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val cut = lit(java.sql.Timestamp.valueOf("1995-07-01 00:00:00"))
    DerivedStore.withScratch(dir, "vstore-demo") { root =>
      val v1 = commitAppend(orders.filter(col("o_orderdate") < cut), root)
      val v2 = commitAppend(orders.filter(col("o_orderdate") >= cut), root)
      def aggOf(v: Long) = readAt(spark, root, v)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(graft.ops.Num.micros(col("o_totalprice"))).as("total_micros"))
        .withColumn("version", lit(v).cast("int"))
      aggOf(v1).unionByName(aggOf(v2))
    }
      .select(col("version"), col("o_orderstatus"),
        col("n_orders"), col("total_micros"))
      .orderBy("version", "o_orderstatus")
  }

  /** v1 = the pre-cut slice only; v2 = the whole table (v1 + the
    * append) — so the v1 half proves the old snapshot ignores the later
    * ingest, and the v2 half proves the append lost nothing. */
  val timeTravelDemoSql: String = {
    def half(v: Int, where: String): String =
      s"""SELECT $v AS version, o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(${graft.ops.Num.sqlMicros("o_totalprice")}) AS BIGINT) AS total_micros
         |FROM orders $where
         |GROUP BY 2""".stripMargin
    s"""${half(1, "WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'")}
       |UNION ALL
       |${half(2, "")}
       |ORDER BY version, o_orderstatus""".stripMargin
  }

  /** `s_zonemap_prune`: commit orders range-clustered on o_orderkey with
    * manifest zone maps, then answer a key-range aggregate through
    * [[readAtPruned]] — the oracle is the plain filtered aggregate over
    * the whole table, so the hash gate proves pruning discards ONLY files
    * that cannot match (the spec separately proves it discards most of
    * them). */
  def zonemapPruneDemo(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val (lo, hi) = (1000L, 3000L)
    DerivedStore.withScratch(dir, "vstore-zm") { root =>
      readAtPruned(spark, root, commitAppend(
        orders.repartitionByRange(8, col("o_orderkey")), root,
        statsCol = Some("o_orderkey")), lo, hi)
    }
      .filter(col("o_orderkey").between(lo, hi))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.ops.Num.micros(col("o_totalprice"))).as("total_micros"))
      .orderBy("o_orderstatus")
  }

  val zonemapPruneDemoSql: String =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
       |  CAST(sum(${graft.ops.Num.sqlMicros("o_totalprice")}) AS BIGINT) AS total_micros
       |FROM orders
       |WHERE o_orderkey BETWEEN 1000 AND 3000
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Retain the last `keepLast` versions: older manifests are dropped and
    * every data file referenced ONLY by dropped manifests is deleted.
    * Unreferenced debris (staged files whose commit never happened) is
    * reclaimed too, but only past `debrisAgeHours` — a file younger than
    * the horizon may belong to an IN-FLIGHT commit whose manifest hasn't
    * landed yet, so the horizon must exceed the longest possible commit
    * (the [[Store.vacuum]] rule). Returns the deleted file names,
    * including any derived-store entries reaped by registered retention
    * hooks: version-pinned [[DerivedStore]] entries (`Ann.ensureIndexAt`)
    * register through [[Store.registerVacuumHook]], and this vacuum fires them
    * with the same `keepLast` — one call governs the manifests AND the
    * index copies pinned to the dropped versions (r10; previously a
    * manual two-call protocol). */
  def vacuum(spark: SparkSession, root: String, keepLast: Int,
             debrisAgeHours: Long = 24L): Seq[String] = {
    require(keepLast >= 1, "must retain at least the head version")
    val fs = fsOf(spark, root)
    val all = versions(spark, root)
    val dropped = all.dropRight(keepLast)
    val kept = all.takeRight(keepLast)
    val keptFiles = kept.flatMap(v =>
      readManifest(fs, root, v)._2.map(entryFile)).toSet
    val orphaned = dropped.flatMap(v =>
        readManifest(fs, root, v)._2.map(entryFile))
      .distinct.filterNot(keptFiles)
    // drop manifests first: a crash mid-vacuum must never leave a live
    // manifest referencing a deleted file
    dropped.foreach(v => fs.delete(new Path(s"$root/_versions/${versionName(v)}"), false))
    orphaned.foreach(f => fs.delete(new Path(s"$root/data/$f"), false))
    // also reclaim staged-but-never-committed debris outside the manifest
    // set — but only past the age horizon (see scaladoc)
    val live = kept.flatMap(v =>
      readManifest(fs, root, v)._2.map(entryFile)).toSet
    val dataDir = new Path(s"$root/data")
    val horizon = System.currentTimeMillis() - debrisAgeHours * 3600L * 1000L
    val unreferenced =
      if (!fs.exists(dataDir)) Seq.empty
      else fs.listStatus(dataDir).toSeq
        .filter(s => !live(s.getPath.getName) &&
          s.getModificationTime < horizon)
        .map(_.getPath.getName).sorted
    unreferenced.foreach(f => fs.delete(new Path(s"$root/data/$f"), false))
    val derived = Store.fireVacuumHooks(root, keepLast)
    ((orphaned ++ unreferenced).distinct ++ derived).sorted
  }
}
