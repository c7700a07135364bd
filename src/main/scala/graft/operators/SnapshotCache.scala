package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared (session, corpus-snapshot) → cached-artifact store backing the
  * build-once / probe-many serving gates (x15 IVF-PQ, x21/x27 BM25
  * postings, x23 positional postings) and the cached intermediate views
  * several gates share (shingles, signatures, LSH pairs, simhashes, term
  * frequencies, d26's annotated corpus). Three forms over one key and
  * one build loop: [[memo]] (a driver value), [[resolve]] (a persisted
  * index directory) and [[view]] (a cached session temp view).
  *
  *  - the session key is a per-session random UUID held in a weak map
  *    (an identity hash can collide after GC reuses an address);
  *  - the corpus snapshot is the input's file listing taken through the
  *    HADOOP FileSystem, so it is correct for `hdfs://`/`s3a://` corpora
  *    too — a `java.io.File` probe reports a remote path as missing and
  *    would pin the first artifact forever (spec: SnapshotCacheSpec
  *    rebuild-on-remote-style-URI case). Its granularity is one
  *    (relative path, length, mtime-in-ms) triple per leaf file: a
  *    rewrite that keeps a file's length and lands within the same
  *    mtime tick (one millisecond, or the filesystem's coarser
  *    timestamp resolution) is NOT seen, and the stale artifact is
  *    served until the listing moves;
  *  - a rebuild releases what it replaces (deletes the index directory,
  *    uncaches the view) — a long-lived process over a changing corpus
  *    holds at most one live artifact per (session, purpose, input);
  *  - builds run OUTSIDE any map lock: the per-key cell installs a
  *    future under `compute` (cheap), then the installing thread runs
  *    the Spark build with no ConcurrentHashMap bin held — unrelated
  *    keys that hash to the same bin never block behind a minutes-long
  *    index build, and a build that reaches another key (the LSH-pairs
  *    view reading the signatures view, an index build memoizing a
  *    vocabulary over the same corpus) recurses safely instead of
  *    throwing ConcurrentHashMap's "recursive update".
  */
private[graft] object SnapshotCache {

  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private def sessionId(s: SparkSession): String = {
    val got = sessionIds.get(s)
    if (got != null) got
    else {
      val fresh = java.util.UUID.randomUUID().toString
      val prior = sessionIds.putIfAbsent(s, fresh)
      if (prior != null) prior else fresh
    }
  }

  private def keyOf(s: SparkSession, purpose: String, inputPath: String) =
    s"${sessionId(s)}#$purpose#$inputPath"

  /** The file-listing fingerprint of a parquet path (file or directory),
    * resolved through the Hadoop FileSystem so remote URIs fingerprint
    * their real listing. Scheme-less paths stay on the local FS (the
    * default `fs.defaultFS` is `file:///` in local mode; on a cluster
    * they resolve against the deployment's default FS, which is where
    * a scheme-less corpus path actually points). Directories list their
    * LEAF FILES recursively (relative path + len + mtime): a
    * hive-partitioned corpus (`pt=NN/` subdirs) fingerprints the files
    * themselves, so an in-place rewrite that preserves the top-level
    * listing shape — which need not bump the parent directory's mtime
    * on every filesystem — still changes the fingerprint. */
  def snapshotOf(spark: SparkSession, inputPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(inputPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // LOCAL paths walk via java.nio: the Hadoop local FS pays ~5-8 ms
    // PER FILE on list (measured, PLANS.md "snapshotOf" — a 77-file index
    // dir cost ~330 ms per fingerprint, turning every snapshot-keyed
    // probe's memo validation into the probe's dominant cost). The nio
    // walk reads the same (relative path, length, mtime-in-ms) triples
    // in microseconds; remote URIs keep the FS-generic listing, which is
    // where the Hadoop path was ever needed.
    if ("file" == fs.getUri.getScheme) {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      if (!java.nio.file.Files.exists(local)) return "missing"
      // A file removed while the listing runs (between the directory
      // read and its stat, or between the filter and the size) leaves a
      // `:gone` entry instead of failing the probe: the fingerprint then
      // differs from the pre-removal one, so the caller recomputes.
      def entry(f: java.nio.file.Path, name: String): String =
        try s"$name:${java.nio.file.Files.size(f)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
        catch { case _: java.nio.file.NoSuchFileException => s"$name:gone" }
      if (java.nio.file.Files.isRegularFile(local))
        return entry(local, local.getFileName.toString)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        val walk = java.nio.file.Files.walk(local)
        try walk.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          entries += entry(f, s"/${local.relativize(f).toString}")
        } finally walk.close()
      } catch {
        case e: java.nio.file.NoSuchFileException => entries += s"${e.getFile}:gone"
        case e: java.io.UncheckedIOException => e.getCause match {
          case n: java.nio.file.NoSuchFileException => entries += s"${n.getFile}:gone"
          case _ => throw e
        }
      }
      return entries.sorted.mkString("|")
    }
    if (!fs.exists(p)) "missing"
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile)
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      else {
        val rootUri = st.getPath.toUri.getPath
        val it = fs.listFiles(st.getPath, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val x = it.next()
          val rel = x.getPath.toUri.getPath.stripPrefix(rootUri)
          entries += s"$rel:${x.getLen}:${x.getModificationTime}"
        }
        entries.sorted.mkString("|")
      }
    }
  }

  /** FS-native recursive delete — index roots may live on a remote
    * filesystem (the `graft.index.workDir` deployment), where a
    * `java.io.File` delete silently no-ops. */
  private def deletePath(s: SparkSession, pathStr: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true): Unit
  }

  /** One cache cell: the snapshot it was computed against plus the
    * (possibly still in-flight) value. The FUTURE goes into the map so
    * map mutation is O(1); the value computation happens outside. */
  private final class Cell[V](val snapshot: String) {
    val fut = new java.util.concurrent.CompletableFuture[V]()
  }

  /** Keys whose build THIS thread currently owns — a same-key reentrant
    * resolve/memo (a build whose body resolves its own key) would join
    * its own incomplete future and deadlock forever; the guard turns
    * that into an immediate, named error. Cross-key reentrancy (a build
    * memoizing a DIFFERENT artifact over the same corpus) stays legal. */
  private val building = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]()
  }

  /** The generic install-then-build-outside-the-lock loop shared by
    * [[memo]], [[resolve]] and [[view]]. Exactly one thread per (key,
    * snapshot) runs `make`; losers await the winner's future. A built
    * value that is no longer `live` (a view whose cache was cleared
    * from outside) is replaced like a changed snapshot. A failed build
    * removes its cell so the next call retries instead of caching the
    * exception forever. `onReplace` runs on the superseded cell's value
    * (outside the lock, winner only) AFTER the replacement build
    * succeeded — so a failed rebuild never destroys the index it was
    * replacing — and also on the failure path, so "at most one live
    * index per key" holds either way. NOTE the serving contract this
    * implies: a caller still scanning the OLD path while the corpus
    * changes underneath it races the replacement's cleanup — callers
    * that need overlap-safe swaps own their paths and use compactTo's
    * write-to-new-dir-then-flip discipline instead. */
  private def throughCells[V](map: java.util.concurrent.ConcurrentHashMap[String, Cell[V]],
      key: String, snap: String, live: V => Boolean = (_: V) => true)(
      onReplace: V => Unit)(make: => V): V = {
    while (true) {
      val cur = map.get(key)
      if (cur != null && cur.snapshot == snap && (!cur.fut.isDone ||
          cur.fut.isCompletedExceptionally || live(cur.fut.join()))) {
        if (!cur.fut.isDone && building.get.contains(key))
          throw new IllegalStateException(
            s"reentrant SnapshotCache build of '$key': the build body " +
              "resolved its own key (would self-join and deadlock)")
        try return cur.fut.join()
        catch { case _: java.util.concurrent.CompletionException |
            _: java.util.concurrent.CancellationException =>
          // the winning builder failed and removed the cell; retry
          map.remove(key, cur): Unit
        }
      } else {
        if (building.get.contains(key))
          throw new IllegalStateException(
            s"reentrant SnapshotCache build of '$key': the build body " +
              "resolved its own key (would self-join and deadlock)")
        val fresh = new Cell[V](snap)
        val installed =
          if (cur == null) map.putIfAbsent(key, fresh) == null
          else map.replace(key, cur, fresh)
        if (installed) {
          // this thread owns the build; the map is NOT locked here.
          // Superseded-cell cleanup is NON-BLOCKING: if the old cell's
          // build is somehow still in flight (input changed while it
          // ran), whenComplete defers onReplace until that build
          // finishes instead of joining — the replacing thread never
          // blocks behind the build it is replacing. A FAILED old build
          // has nothing to clean (it deleted its own root on the way
          // out), so the error arm is a no-op.
          def replaced(): Unit = if (cur != null) {
            cur.fut.whenComplete { (v, err) =>
              if (err == null) {
                try onReplace(v)
                catch { case scala.util.control.NonFatal(_) => () }
              }
            }: Unit
          }
          building.get.add(key): Unit
          try {
            val v = make
            fresh.fut.complete(v): Unit
            replaced()
            return v
          } catch { case t: Throwable =>
            fresh.fut.completeExceptionally(t): Unit
            map.remove(key, fresh): Unit
            replaced()
            throw t
          } finally building.get.remove(key): Unit
        }
        // lost the install race; loop and await the winner
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[String, Cell[AnyRef]]()

  /** Snapshot-validated DRIVER-VALUE memo — the in-memory sibling of
    * [[resolve]] for parameter-sized artifacts (a vocabulary, a stats
    * row) that several gates derive from the same corpus: computed once
    * per (session, purpose, inputPath) while the file listing is
    * unchanged, recomputed when it moves. Values must be bounded (they
    * live on the driver for the session). */
  def memo[T <: AnyRef](s: SparkSession, purpose: String,
      inputPath: String)(compute: => T): T =
    throughCells(memos, keyOf(s, purpose, inputPath),
      snapshotOf(s, inputPath))(_ => ())(compute).asInstanceOf[T]

  private val views =
    new java.util.concurrent.ConcurrentHashMap[String, Cell[String]]()

  /** `build` as a cached temp view of the caller's session, built once
    * per (session, purpose, inputPath) while the input's listing is
    * unchanged. The build is a LAZY cache registration (`cacheTable`):
    * the first action over the result fills the cache. The cell holds
    * only the view NAME — the view and its cache entry live in the
    * session's catalog and Spark's CacheManager, so nothing here pins
    * the session. A view that no longer exists or is no longer cached
    * (an external `spark.catalog.clearCache()`) is rebuilt.
    *
    * A rebuild reuses the name, so the superseded view is released
    * inside the build, BEFORE its replacement is registered (after it,
    * as `onReplace` runs, the release would hit the new view).
    * `uncacheTable` cascades: views cached over the superseded one
    * (signatures over shingles) are released too. */
  def view(s: SparkSession, purpose: String, inputPath: String)(
      build: => DataFrame): DataFrame = {
    // 64 bits of md5: a 32-bit hashCode could collide across two inputs
    // of one session and silently share a view
    val name = s"graft_${purpose}_" + java.security.MessageDigest
      .getInstance("MD5").digest(inputPath.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s.table(throughCells(views, keyOf(s, purpose, inputPath),
        snapshotOf(s, inputPath),
        (v: String) => s.catalog.tableExists(v) && s.catalog.isCached(v))(
        _ => ()) {
      if (s.catalog.tableExists(name)) s.catalog.uncacheTable(name)
      build.createOrReplaceTempView(name)
      s.catalog.cacheTable(name)
      name
    })
  }

  private final case class Entry(tmpRoot: String, path: String)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Cell[Entry]]()

  /** Spark conf key naming the base directory index roots are created
    * under — any Hadoop FS URI (`hdfs://…`, `s3a://…`, `file:/…`). */
  val WorkDirKey = "graft.index.workDir"

  /** The base directory new index roots are created under: the
    * [[WorkDirKey]] conf when set, else the driver-local temp dir.
    * A MULTI-NODE deployment must set the conf to a filesystem every
    * executor can reach — with the driver-local default, executors
    * writing `file:/tmp/graft_…` land on their own local disks and the
    * index is scattered and unreadable (the same shared-FS contract as
    * `trainOnSymbols`' `cutDir`). Local mode is correct either way. */
  private def workBase(s: SparkSession): org.apache.hadoop.fs.Path =
    s.conf.getOption(WorkDirKey).map(_.trim).filter(_.nonEmpty)
      .map(new org.apache.hadoop.fs.Path(_))
      .getOrElse(new org.apache.hadoop.fs.Path(
        new java.io.File(sys.props("java.io.tmpdir")).toURI))

  /** The persisted-index path for (session, purpose, inputPath) over
    * the corpus at `inputPath`: cached while the corpus snapshot is
    * current; on a changed snapshot the stale index directory is
    * deleted and `build` re-runs into a fresh root under [[workBase]].
    * `build` receives the output path and must write the complete
    * index there. Roots are created and deleted through the Hadoop
    * FileSystem of the configured base, so a cluster pointing
    * [[WorkDirKey]] at `hdfs://`/`s3a://` gets executor-reachable
    * index storage AND real cleanup (a `java.io` delete would silently
    * no-op on a remote path).
    *
    * The key includes `inputPath`, so two corpora served alternately in
    * one session each keep their own live index (keying on purpose
    * alone would rebuild — and delete the other's files — per call);
    * deletion happens only when THE SAME corpus path's listing changed,
    * where any still-lazy frame over the old index was already stale. */
  def resolve(s: SparkSession, purpose: String, inputPath: String)(
      build: String => Unit): String = {
    throughCells(entries, keyOf(s, purpose, inputPath),
        snapshotOf(s, inputPath))(old => deletePath(s, old.tmpRoot)) {
      val base = workBase(s)
      val fs = base.getFileSystem(s.sessionState.newHadoopConf())
      val root = fs.makeQualified(new org.apache.hadoop.fs.Path(base,
        s"graft_${purpose}_${java.util.UUID.randomUUID().toString.take(13)}"))
      if (!fs.mkdirs(root))
        throw new java.io.IOException(s"cannot create index work dir $root")
      val out = s"$root/idx"
      // a failed build must not orphan its half-written directory (the
      // entry is not recorded, so nothing would ever delete it)
      try build(out)
      catch { case t: Throwable => fs.delete(root, true); throw t }
      Entry(root.toString, out)
    }.path
  }
}
