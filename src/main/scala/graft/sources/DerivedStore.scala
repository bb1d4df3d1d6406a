package graft.sources

import org.apache.spark.sql.SparkSession

/** The derived-state store: one lifecycle for every cache entry the
  * engine derives from a table of record — persisted ANN/IVF/PQ indexes,
  * posting indexes, bucketed gram/shingle layouts — and for the per-call
  * scratch dirs the rebuild-per-call lifecycles (incremental owner
  * stores, upsert demos, round trips) write into.
  *
  * An entry is a directory under [[entriesRoot]] holding
  *  - a `_built` marker whose content is the entry's freshness key
  *    (parameters + data fingerprint), written last;
  *  - a `_src` record of the base path it derives from (orphan sweep);
  *  - a `.<entry>.lock` file beside it (cross-process build lock). The
  *    lock file outlives its entry by design: another process may be
  *    blocked on the lock's inode, and a recreated file would let two
  *    builders each hold "the" lock at once.
  * A scratch entry instead holds a `_scratch` marker with the owning
  * pid. Only this object reads or writes those names; entry PAYLOAD
  * (an index's tables, a layout's `_gen`/`_meta`, a pin's `_vpin`)
  * belongs to the caller. */
object DerivedStore {

  /** Fingerprint of the corpus DATA an entry serves: every visible file
    * under the table folded as (relative path, length, mtime) into one
    * digest — a pure LISTING pass, no data read, so it stays O(file
    * count) at any corpus size. Any rewrite of the table — an upsert, a
    * regeneration, and specifically a [[Store.deleteKeys]] takedown —
    * replaces parquet files and changes this digest, so an entry keyed
    * on it rebuilds instead of serving stale (or
    * right-to-be-forgotten-deleted) rows. Files inside `_`/`.`-prefixed
    * trees (commit debris, manifests) are excluded, matching Spark's own
    * visibility rules, so a vacuum or manifest refresh does not force a
    * rebuild. */
  private[graft] def dataFingerprint(spark: SparkSession, dir: String,
                                     table: String = "embeddings.parquet"): String = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val md = java.security.MessageDigest.getInstance("MD5")
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val base = fs.getFileStatus(root)
    if (base.isFile) files += s".:${base.getLen}:${base.getModificationTime}"
    else {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
        if (!rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
          files += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
    }
    files.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Root of the derived-state cache: `GRAFT_ANN_CACHE_DIR` env, else
    * the `graft.ann.cache.dir` system property, else a per-user
    * `graft-<user>` directory under the JVM temp dir, owned by this user
    * and mode 0700 — the temp dir itself is world-writable, and another
    * local user must not be able to pre-plant index files. The default
    * is re-checked on every call: a temp cleaner may delete it, and
    * another user may then recreate it. */
  private[graft] def cacheRoot: String =
    configuredCacheRoot(sys.env.get("GRAFT_ANN_CACHE_DIR"),
      sys.props.get("graft.ann.cache.dir")).getOrElse(defaultCacheRoot)

  /** The first non-empty setting of the env value and the property. An
    * empty value counts as unset: as a root it would put every entry in
    * `/graft-ann-index` at the filesystem root. */
  private[graft] def configuredCacheRoot(env: Option[String],
                                         prop: Option[String]): Option[String] =
    env.filter(_.nonEmpty).orElse(prop.filter(_.nonEmpty))

  private[graft] def defaultCacheRoot: String = privateDir(java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir"), s"graft-${System.getProperty("user.name")}"))

  /** `dir`, created if missing, as a real directory (not a symlink) owned
    * by the JVM's uid with mode 0700. A directory another uid owns is
    * refused loudly: its contents could be planted. If `dir` cannot be
    * created at all (read-only temp dir), the path is returned as is: its
    * writes fail, and layout serves fall back to their inline plans. */
  private[graft] def privateDir(dir: java.nio.file.Path): String = {
    import java.nio.file.{FileAlreadyExistsException, Files, LinkOption}
    import java.nio.file.attribute.PosixFilePermissions
    val mode = PosixFilePermissions.fromString("rwx------")
    try Files.createDirectory(dir, PosixFilePermissions.asFileAttribute(mode))
    catch {
      case _: FileAlreadyExistsException =>
      case _: java.io.IOException if !Files.exists(dir, LinkOption.NOFOLLOW_LINKS) =>
        return dir.toString
    }
    val uid = new com.sun.security.auth.module.UnixSystem().getUid
    val owner = Files.getAttribute(dir, "unix:uid", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int].toLong
    if (!Files.isDirectory(dir, LinkOption.NOFOLLOW_LINKS) || owner != uid)
      throw new IllegalStateException(s"cache root $dir is not a directory " +
        s"owned by uid $uid (owner: uid $owner); set GRAFT_ANN_CACHE_DIR " +
        "to a private directory")
    Files.setPosixFilePermissions(dir, mode)
    dir.toString
  }

  /** The directory every entry lives in. */
  private[graft] def entriesRoot: String = s"$cacheRoot/graft-ann-index"

  /** Every entry directory under [[entriesRoot]] (none if it is absent). */
  private[graft] def entries: Seq[java.io.File] =
    Option(new java.io.File(entriesRoot).listFiles()).getOrElse(Array.empty)
      .toSeq.filter(_.isDirectory)

  /** The content of file `name` in `entry`, if it can be read. */
  private[graft] def readMarker(entry: java.io.File, name: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(entry, name).toPath), "UTF-8"))
    catch { case _: java.io.IOException => None }

  private def writeMarker(entry: java.io.File, name: String, text: String): Unit = {
    java.nio.file.Files.write(new java.io.File(entry, name).toPath,
      text.getBytes("UTF-8"))
    ()
  }

  private[graft] def cachedIndexDir(dir: String, kind: String): String = {
    // full path (sanitized) PLUS a digest of the raw path: readable, and
    // two source dirs can never alias one cache entry (hashCode or
    // sanitization alone could collide)
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(80)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"$entriesRoot/$kind-$safe-$h"
  }

  private[graft] def deleteLocal(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteLocal))
    f.delete()
  }

  /** A managed SCRATCH directory for per-call rebuild-from-scratch
    * lifecycles: one FIXED path per (source dir, kind, PROCESS) — so
    * repeated bench / spec invocations reuse one footprint instead of
    * leaking a fresh temp dir per run. The pid suffix keeps two JVMs
    * rebuilding the same source corpus from clobbering each other's
    * copy mid-build. Callers go through [[withScratch]]; this returns
    * the PATH only, after reaping DEAD processes' scratch copies (each
    * JVM would otherwise leave one copy in the cache root forever).
    * Ownership is probed via the `_scratch` MARKER (holding the owning
    * pid), never by parsing `-p<digits>-` out of the entry NAME:
    * non-scratch entries embed the sanitized source path, which can
    * itself contain such a fragment (a corpus dir like `/data/set-p2-v1`). */
  private[graft] def scratchDir(dir: String, kind: String): String = {
    val pid = ProcessHandle.current().pid()
    entries
      .flatMap(d => readMarker(d, "_scratch").flatMap(_.trim.toLongOption).map(d -> _))
      .filter { case (_, p) =>
        p != pid && { val h = ProcessHandle.of(p); !(h.isPresent && h.get.isAlive) }
      }
      // only another reaper locks a dead pid's path again, and its delete
      // is idempotent, so the lock file goes with the entry
      .foreach { case (d, _) =>
        withBuildLock(d) { deleteLocal(d); lockFile(d).delete() }
      }
    new java.io.File(cachedIndexDir(dir, s"$kind-p$pid")).getPath
  }

  /** Run `body` over this process's [[scratchDir]] for (dir, kind),
    * wiped and re-marked first, all under the entry's build lock — so two
    * same-process threads never interleave a half-wiped copy. There is no
    * freshness marker: the caller rebuilds unconditionally (rebuilding IS
    * what it measures). A lazy frame over the scratch content must be
    * drained before the next same-process call for the same (dir, kind)
    * wipes it. A writer that overwrites its target must write to a child
    * path, so the `_scratch` marker survives. */
  private[graft] def withScratch[T](dir: String, kind: String)(body: String => T): T = {
    val path = scratchDir(dir, kind)
    withBuildLock(new java.io.File(path)) {
      resetScratch(path)
      body(path)
    }
  }

  /** Wipe-and-recreate a scratch path with its `_scratch` ownership
    * marker dropped immediately after the mkdir; an unmarked orphan from
    * a crash inside that window is re-wiped by the next same-path call. */
  private def resetScratch(path: String): Unit = {
    val f = new java.io.File(path)
    deleteLocal(f)
    f.mkdirs()
    writeMarker(f, "_scratch", ProcessHandle.current().pid().toString)
  }

  /** Reap cache entries whose SOURCE CORPUS no longer exists.
    *
    * Takedown hooks and data fingerprints govern entries whose corpus
    * MUTATES, but an entry whose corpus is DELETED outright — a retired
    * dataset, a spec's temp directory after OS cleanup — would otherwise
    * be immortal: nothing ever probes it again. [[ensureFresh]] records
    * the source path in `_src` (installed atomically with the entry);
    * this sweep deletes, under the entry's build lock, every completed
    * entry whose recorded source is a LOCAL path that no longer exists.
    * Entries without `_src` (version-pinned roots governed by
    * VersionedStore vacuum) and non-local sources are never touched; an
    * entry mid-build has no `_built` and is skipped. Returns the reaped
    * entry names. */
  private[graft] def sweepOrphanedEntries(): Seq[String] =
    // the lock-free pass only NOMINATES; the verdict is re-taken under
    // the entry's build lock — between scan and delete another process
    // may recreate the corpus and rebuild the entry
    entries.filter(isOrphanedEntry).flatMap { d =>
      withBuildLock(d) {
        if (isOrphanedEntry(d)) { deleteLocal(d); Some(d.getName) } else None
      }
    }.sorted

  private def isOrphanedEntry(d: java.io.File): Boolean =
    new java.io.File(d, "_built").exists() && readMarker(d, "_src").exists { raw =>
      val path = raw.trim
      // ABSOLUTE local paths only: a relative source is CWD-dependent and
      // a sweep from another directory would misjudge it; a scheme'd URI
      // is a store this process cannot cheaply probe
      val local = path.startsWith("/") ||
        (path.startsWith("file:") && !path.contains("://"))
      local && !new java.io.File(path.stripPrefix("file:")).exists()
    }

  /** Is `idx` an installed entry whose `_built` marker equals `want`? */
  private[graft] def isFresh(idx: java.io.File, want: String): Boolean =
    readMarker(idx, "_built").contains(want)

  /** (entry path, want) pairs this JVM installed — see [[installedHere]]. */
  private val installs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Did this JVM install `idx` at freshness key `want`? A fresh entry
    * another process left in a shared cache root is not run-scoped
    * evidence: callers that reuse an entry's files to seed a DIFFERENT
    * entry's build (the sibling layouts) accept only their own installs. */
  private[graft] def installedHere(idx: java.io.File, want: String): Boolean =
    installs.contains(idx.getPath -> want)

  /** Spec hook: forget this JVM's installs, as a fresh process would. */
  private[graft] def forgetInstalls(): Unit = installs.clear()

  /** Build-if-stale: the one install protocol. Freshness = the `_built`
    * marker equals `want`. The entry is built into a unique temp dir
    * beside it, `_src` (when given a base) and then the marker are added
    * LAST, and the temp dir is installed with a rename, all under
    * [[withBuildLock]] — a reader sees the complete old entry, the
    * complete new one, or no marker (and then queues on the lock to
    * build), never a torn mix. `force = true` rebuilds even when fresh;
    * forced concurrent builders serialize on the lock and each installs
    * a complete generation.
    *
    * With a `registerBase`, every call — serve or build — registers one
    * takedown hook for the entry with the [[Store]] derived registry, and
    * the hook deletes under the build lock, so a takedown never tears an
    * in-flight install or a locked read of the entry. */
  private[graft] def ensureFresh(idx: java.io.File, want: String,
                                 registerBase: Option[String],
                                 force: Boolean = false)
                                (build: String => Unit): String = {
    registerBase.foreach(base => Store.registerDerived(base, idx.getPath)(
      () => withBuildLock(idx)(deleteLocal(idx))))
    if (!force && isFresh(idx, want)) return idx.getPath
    withBuildLock(idx) {
      if (force || !isFresh(idx, want)) { // the lock holder before us may have built it
        val tmp = new java.io.File(idx.getParentFile,
          s"${idx.getName}.build-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          build(tmp.getPath)
          registerBase.foreach(writeMarker(tmp, "_src", _))
          writeMarker(tmp, "_built", want)
          deleteLocal(idx)
          require(tmp.renameTo(idx), s"could not install cache entry at $idx")
          installs.add(idx.getPath -> want)
        } finally deleteLocal(tmp) // no-op after a successful rename
      }
    }
    idx.getPath
  }

  /** Two locks around a cache-entry mutation: a JVM monitor first
    * (FileChannel.lock THROWS on overlap from the same JVM instead of
    * blocking), then the cross-process file lock — together one mutator
    * at a time, anywhere on the host. */
  private[graft] def withBuildLock[T](idx: java.io.File)(body: => T): T = {
    val mon = jvmBuildLocks.computeIfAbsent(idx.getPath, _ => new Object)
    mon.synchronized {
      idx.getParentFile.mkdirs()
      val raf = new java.io.RandomAccessFile(lockFile(idx), "rw")
      try {
        val lock = raf.getChannel.lock()
        try body finally lock.release()
      } finally raf.close()
    }
  }

  private val jvmBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFile(idx: java.io.File): java.io.File =
    new java.io.File(idx.getParentFile, s".${idx.getName}.lock")
}
