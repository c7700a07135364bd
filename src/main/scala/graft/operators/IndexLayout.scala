package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared mechanics of GENERATIONAL on-disk indexes — one owner for
  * all three layouts that grow by appended generations: the lexical
  * postings index ([[RetrievalOps]]), the IVF-PQ vector index
  * ([[IvfPq]]) and the admit stores
  * ([[graft.streaming.DocStreams.admitArrivals]]):
  *
  *  - each append lands in its own generation directory
  *    `<root>/appends/batch=<id>`, written through ONE protocol
  *    ([[withAppend]] + [[commitBatch]]) and served only once it is
  *    COMMITTED. The commit rule, stated once: a generation is
  *    committed when it holds [[CommitMarker]], the job committer's
  *    `_SUCCESS` (batches written before the marker existed) or a
  *    `stats/` directory (the BM25 stats row, its marker since the
  *    first append); [[committedAppends]] is the one listing every
  *    reader, fold and status probe applies it through;
  *  - a `CURRENT` pointer file at the index path names the served
  *    generation (`generations/g<k>`); its absence means the plain
  *    single-generation layout at the path itself — so indexes built
  *    before their first in-place compaction need no migration;
  *  - the pointer flips ATOMICALLY (write `CURRENT.tmp`, then
  *    `FileContext.rename(OVERWRITE)` — atomic where the filesystem
  *    supports one: HDFS, local), so a reader sees the old target or
  *    the new, never a torn file;
  *  - a `folded_max` high-water mark inside each generation records the
  *    highest batchId any compaction ever folded into it, keeping
  *    at-least-once append replays idempotent ACROSS compactions (the
  *    replayed batch's own appends directory no longer exists to
  *    overwrite — without the mark it would re-append its rows);
  *  - generations OLDER than the one just superseded retire at flip
  *    time: one superseded generation of grace lets in-flight readers
  *    that resolved it finish against intact files.
  *
  * Single-writer contract throughout: appends and compactions must be
  * sequenced by one writer (a foreachBatch loop); readers need no
  * coordination — they resolve the pointer per query. ENFORCED, not
  * just documented: every mutation entry point (the appends through
  * [[withAppend]], compactInPlace, and the builds/rebuilds
  * indexCorpus + IvfPq.writeIndex) runs under the path's
  * [[withWriterLease]] — a second concurrent writer fails loudly naming
  * the holder instead of silently interleaving. */
private[graft] object IndexLayout {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private[graft] def readSmall(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): String = {
    // open via FileContext, the SAME channel [[writeAtomic]]/
    // [[writeAtomicExclusive]] rename through: on the local FS,
    // FileSystem.open verifies the `.name.crc` sidecar while the
    // FileContext rename moves only the data file — a concurrent
    // break+reacquire of a lease can transiently pair fresh data with
    // a stale sidecar and a checksummed read throws ChecksumException
    // on content this module just wrote. FileContext reads skip the
    // client-side sidecar (HDFS checksums are server-side and
    // unaffected), keeping reads consistent with the writes.
    val in = org.apache.hadoop.fs.FileContext
      .getFileContext(p.toUri, spark.sessionState.newHadoopConf()).open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
    finally in.close()
  }

  /** The generation `path` currently serves (see object doc). Every
    * probe / append / compaction entry point resolves it ONCE and reads
    * only under that root, so a flip between two of a probe's reads
    * cannot mix generations. */
  def activeRoot(spark: SparkSession, path: String): String = {
    val cur = new org.apache.hadoop.fs.Path(s"$path/CURRENT")
    if (!fsOf(spark, cur).exists(cur)) path
    else s"$path/${readSmall(spark, cur)}"
  }

  /** The active generation's NUMBER (0 = the un-compacted base). */
  def currentGen(path: String, root: String): Long =
    if (root == path) 0L
    else root.substring(root.lastIndexOf("/g") + 2).toLong

  /** Highest batchId ever folded into `root` (−1 when none). */
  def foldedMax(spark: SparkSession, root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$root/folded_max")
    if (!fsOf(spark, p).exists(p)) -1L
    else readSmall(spark, p).toLong
  }

  /** The marker [[commitBatch]] writes LAST into an append generation
    * (the commit rule: object doc). It exists because `_SUCCESS`
    * emission can be disabled
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) and the
    * commit contract must not DEPEND on that tunable; `_SUCCESS` and
    * `stats/` stay accepted so generations written before the marker
    * existed are not silently dropped — and then permanently folded
    * away by the next compaction. */
  val CommitMarker = "_GRAFT_COMMIT"

  /** The commit rule (object doc): the names any one of which marks an
    * append generation committed, [[CommitMarker]] first. */
  private val Markers = Seq(CommitMarker, "_SUCCESS", "stats")

  /** COMMITTED append generations under `root/appends`, sorted for
    * deterministic unions: a half-written generation (a crash before
    * its marker) is invisible to every probe, fold and status count.
    * An index without appends costs one `exists`; each generation
    * costs one more per marker tried, [[CommitMarker]] first. */
  def committedAppends(spark: SparkSession, root: String): Seq[String] = {
    val appends = new org.apache.hadoop.fs.Path(s"$root/appends")
    val fs = fsOf(spark, appends)
    if (!fs.exists(appends)) Nil
    else {
      // a status probe can race a retire that deletes the directory
      val dirs = try fs.listStatus(appends).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      dirs.filter(_.isDirectory).map(_.getPath)
        .filter(d => d.getName.startsWith("batch=") &&
          Markers.exists(m => fs.exists(new org.apache.hadoop.fs.Path(d, m))))
        .map(_.toString).sorted
    }
  }

  /** The one append entry every generational writer runs: under the
    * path's [[withWriterLease]], bind the stream lineage
    * ([[checkStreamId]]), resolve the active root ONCE, and run
    * `body(root)` unless [[replayGuard]] judges the batch already
    * folded. */
  def withAppend(spark: SparkSession, path: String, batchId: Option[Long],
      streamId: Option[String], what: String)(body: String => Unit): Unit =
    withWriterLease(spark, path, what) {
      checkStreamId(spark, path, streamId, what)
      val root = activeRoot(spark, path)
      if (!replayGuard(spark, root, batchId, what)) body(root)
    }

  /** The one commit step of generation `root/appends/batch=<id>`:
    * retract every marker the commit rule accepts (a replay's stale
    * marker must not make a half-rewritten directory visible — a
    * reader listing it as committed would scan it mid-rewrite), let
    * `write(dir)` overwrite the generation's data, then write
    * [[CommitMarker]] LAST. A BM25 generation becomes visible at its
    * `stats/` write, a parquet one at its `_SUCCESS`; both land only
    * once the data is complete. */
  def commitBatch(spark: SparkSession, root: String, id: String)(
      write: String => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/appends/batch=$id")
    val fs = fsOf(spark, dir)
    Markers.foreach { m =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, m), true): Unit
    }
    write(dir.toString)
    fs.create(new org.apache.hadoop.fs.Path(dir, CommitMarker), true)
      .close()
  }

  /** The one fold prologue of every compaction of `path` into `dest`:
    * `dest` must be a different directory from `path` and its active
    * root, and carries the replay guard forward — its `folded_max`
    * covers every numeric batch generation being folded plus whatever
    * a previous compaction already folded into the root (non-numeric
    * UUID generations never replay and carry no mark; nothing is
    * written when nothing was ever folded). Returns the active root the
    * fold reads. */
  def beginFold(spark: SparkSession, path: String, dest: String): String = {
    val root = activeRoot(spark, path)
    def bare(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    require(bare(dest) != bare(path) && bare(dest) != bare(root),
      "compactTo: dest must be a different directory")
    val mark = (foldedMax(spark, root) +: committedAppends(spark, root)
      .map(new org.apache.hadoop.fs.Path(_).getName.stripPrefix("batch="))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong)).max
    if (mark >= 0L) {
      val p = new org.apache.hadoop.fs.Path(s"$dest/folded_max")
      val out = fsOf(spark, p).create(p, true)
      try out.write(mark.toString.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** Write `content` to `p` ATOMICALLY (sibling `<name>.tmp`, then
    * `FileContext.rename(OVERWRITE)` — atomic where the FS supports
    * one): readers of a content-bearing live marker must see the old
    * value or the new, never a torn prefix — a crash between create()
    * and write() would otherwise leave an empty file that reads as a
    * VALUE (e.g. a stream_id of "" rejecting the legitimate stream
    * forever). */
  private[graft] def writeAtomic(spark: SparkSession,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, p.getName + ".tmp")
    val out = p.getFileSystem(conf).create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** [[writeAtomic]] WITHOUT overwrite — the once-only binding write:
    * the rename uses `Rename.NONE`, which fails when `p` already
    * exists, so when two writers race to bind the same fresh path
    * EXACTLY ONE rename lands and the loser learns it lost (returns
    * false) instead of silently clobbering the winner. Content is
    * complete at rename time (same torn-write safety as
    * [[writeAtomic]]); the tmp name carries a UUID so the racers'
    * staging files cannot collide either. Atomic where the FS gives
    * rename that contract (HDFS; best-effort existence check + rename
    * on the local FS). */
  private[graft] def writeAtomicExclusive(spark: SparkSession,
      p: org.apache.hadoop.fs.Path, content: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + "." + java.util.UUID.randomUUID().toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p) // Rename.NONE: throws if p exists
      true
    } catch {
      case e: java.io.IOException =>
        fs.delete(tmp, false): Unit
        // lost the race only if the destination actually exists now —
        // otherwise this is a genuine IO failure the caller must see
        if (fs.exists(p)) false else throw e
    }
  }

  /** Retract the generational layout at `path` — CURRENT pointer (and
    * any torn tmp) plus every `generations/` directory — so a fresh
    * BASE layout written at `path` is what readers resolve. An in-place
    * rebuild over a previously compacted path MUST call this first:
    * with a stale CURRENT left standing, every probe/append would keep
    * resolving the retired generation and silently serve the OLD
    * corpus, ignoring the rebuild entirely. Delete order is
    * crash-safe: the pointer goes first, so a failure mid-retraction
    * leaves readers on the (incomplete, marker-less) base layout —
    * a clear rebuild-needed error, never the wrong data. */
  def retract(spark: SparkSession, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    // stream_id and seed_sig go too: a rebuild starts a NEW ingestion
    // lifecycle (new checkpoint lineage, possibly a new seed corpus).
    // The prefix sweep also clears crash-stranded staging files
    // (CURRENT.tmp, stream_id.<uuid>.tmp, WRITER.<uuid>.tmp —
    // [[writeAtomicExclusive]]). The WRITER lease file itself is NOT
    // swept: retract runs inside a lease-guarded rebuild
    // ([[RetrievalOps.indexCorpus]], [[IvfPq.writeIndex]]), and
    // deleting it here would drop the caller's own held lease
    // mid-mutation; a genuinely stale lease expires by TTL instead.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val nm = st.getPath.getName
      if (nm == "generations" || nm == "seed_sig" ||
        nm.startsWith("CURRENT") || nm.startsWith("stream_id") ||
        nm.startsWith("WRITER."))
        fs.delete(st.getPath, true): Unit
    }
  }

  /** Bind an index path to ONE streaming lineage: the first keyed
    * append records `streamId` (the loop's checkpoint location — the
    * identity that survives restarts) in `path/stream_id`; every later
    * keyed append from a DIFFERENT lineage throws. This closes the gap
    * [[replayGuard]] cannot: batch ids alone make a fresh stream's
    * batch k indistinguishable from a genuine replay of batch k, so an
    * operator pointing a NEW checkpoint at a long-lived index would
    * have its first batches silently swallowed as "replays". Lives at
    * the PATH level (compactions retire generations, not this);
    * [[retract]] clears it — a rebuild is a new lifecycle. No-op when
    * the caller passes None (manual batch appends). */
  def checkStreamId(spark: SparkSession, path: String,
      streamId: Option[String], what: String): Unit = streamId.foreach {
    rawSid =>
      val p = new org.apache.hadoop.fs.Path(s"$path/stream_id")
      val fs = fsOf(spark, p)
      // qualify the checkpoint location before comparing (as Spark
      // does for checkpointLocation itself): "ckpt", "ckpt/" and
      // "file:/abs/ckpt" naming ONE directory are one lineage — a raw
      // string compare would reject a legitimate resume over spelling
      val sidPath = new org.apache.hadoop.fs.Path(rawSid)
      val sid = sidPath.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(sidPath).toString
      // binding is create-EXCLUSIVE ([[writeAtomicExclusive]]): two
      // fresh streams racing to bind the same new path would both pass
      // an exists-then-write check, one write would silently win, and
      // the loser's later batches would be swallowed by the replay
      // guard or throw confusingly — the exact failure this guard
      // exists to catch. The loser of the exclusive rename re-reads
      // and compares, so exactly one lineage ever binds a fresh path.
      def fail(stored: String): Nothing = throw new IllegalStateException(
        s"$what: index at $path is fed by the stream checkpointed at " +
          s"'$stored', but this append came from '$sid'. A new " +
          "checkpoint restarts batch ids, which the replay guard " +
          "would silently swallow — point the new stream at a new " +
          "index path, or resume with the original checkpoint.")
      if (fs.exists(p)) {
        val stored = readSmall(spark, p)
        if (stored != sid) fail(stored)
      } else if (!writeAtomicExclusive(spark, p, sid)) {
        val stored = readSmall(spark, p)
        if (stored != sid) fail(stored)
      }
  }

  /** ENFORCE the single-writer contract (object doc) around a mutation
    * of the generational layout at `path`: an FS-based writer lease.
    *
    *  - Acquire: create-exclusive write of `path/WRITER`
    *    ([[writeAtomicExclusive]]) naming the holder; a second
    *    concurrent writer FAILS LOUDLY naming the current holder
    *    instead of silently interleaving the fold/flip sequence and
    *    corrupting the layout — the exact hazard the contract names
    *    (two foreachBatch loops on one path, or a manual append racing
    *    a stream).
    *  - Heartbeat: a daemon timer refreshes the lease file's mtime
    *    every ttl/3 while the body runs — but only AFTER re-reading the
    *    file and verifying it still carries THIS holder's token.
    *    Refreshing blindly would keep a usurper's lease alive forever
    *    (masking the takeover from both sides); on a token mismatch, or
    *    on repeated refresh failures (an object store where setTimes
    *    persistently fails), the heartbeat stops and the loss surfaces
    *    LOUDLY when the body completes, instead of succeeding silently
    *    into a possibly-interleaved layout.
    *  - Expiry: a lease whose mtime is older than the TTL
    *    (`graft.index.writerLeaseTtlMs`, default 10 min) belongs to a
    *    CRASHED writer (a live one heartbeats) — the next acquirer
    *    breaks it and takes over, so a crash never wedges ingestion.
    *    The break is claimed by RENAME, never delete+create: the stale
    *    `WRITER` moves aside to a unique `WRITER.broken.<uuid>`, and
    *    the FS grants the source file to exactly ONE renamer — two
    *    concurrent breakers of the same crashed lease cannot both
    *    proceed (the earlier delete+create form let breaker B's
    *    unconditional delete remove breaker A's FRESH lease, silently
    *    re-opening the dual-writer state the lease exists to prevent).
    *    The breaker then verifies the renamed-aside content matches the
    *    lease it judged stale — if another breaker completed a full
    *    break+acquire inside the observation window, the yanked file is
    *    that winner's fresh lease and goes straight back.
    *  - Release: delete in `finally` — but only while the file still
    *    carries OUR token (if our lease expired mid-body and another
    *    writer took over, the file is theirs to delete).
    *
    * Readers take no lease — they resolve the CURRENT pointer per
    * query, which the atomic flip keeps consistent. Not re-entrant:
    * callers sequence their own mutations (append, then compact), each
    * under its own lease. */
  /** The lease ACQUIRE sequence (create-exclusive, then at most one
    * break-and-retry — breaking a live holder's fresh lease would
    * re-open the race the lease exists to close). Runs under
    * [[acquireLocks]]' per-path monitor. Returns whether `content`
    * now holds the lease. */
  private def acquire(spark: SparkSession, p: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, ttlMs: Long, path: String,
      content: String): Boolean = {
    if (writeAtomicExclusive(spark, p, content)) true
    else {
      // capture content + mtime of the lease we observed, so the
      // staleness judgment and the post-rename verification name ONE
      // specific lease, not whatever sits at the path later. ORDER
      // MATTERS: content FIRST, mtime second. Read the other way, a
      // cross-JVM break+acquire landing between the two reads pairs
      // the NEW holder's content with the OLD lease's stale mtime —
      // judged expired, and the post-rename verification then PASSES
      // on the fresh lease we just yanked (its content is what we
      // observed), destroying a live writer's lease. Content-first
      // makes that pairing impossible: a swap between the reads can
      // only produce old-content + fresh-mtime, which is judged live
      // and respected.
      val observed = try {
        val c = readSmall(spark, p)
        Some((c, fs.getFileStatus(p).getModificationTime))
      } catch { case _: java.io.FileNotFoundException => None }
      observed match {
        case None =>
          // holder released between our two looks — one clean retry
          writeAtomicExclusive(spark, p, content)
        case Some((obsContent, obsMtime))
            if System.currentTimeMillis() - obsMtime > ttlMs =>
          // expired ⇒ crashed writer (a live one heartbeats). Claim
          // the break by exclusive rename (doc above); retract()'s
          // WRITER.-prefix sweep clears any crash-stranded aside file.
          val aside = new org.apache.hadoop.fs.Path(
            s"$path/WRITER.broken." +
              java.util.UUID.randomUUID().toString)
          val won = try fs.rename(p, aside) catch {
            case _: java.io.IOException => false
          }
          if (won) {
            val broken = try Some(readSmall(spark, aside)) catch {
              case _: java.io.IOException => None
            }
            if (broken.contains(obsContent)) {
              fs.delete(aside, false): Unit
              writeAtomicExclusive(spark, p, content)
            } else {
              // we yanked a FRESH lease (a cross-JVM break+acquire
              // landed inside our observation window — same-JVM
              // breakers are serialized by the acquire lock): restore
              // it best-effort and stand down. Guarded, exception-safe
              // rename — a third writer's lease created meanwhile must
              // survive (a local-FS rename can replace, and some FS
              // impls throw FileAlreadyExistsException instead);
              // either displaced holder's token-verifying heartbeat
              // surfaces the loss loudly rather than silently
              try { if (!fs.exists(p)) fs.rename(aside, p): Unit }
              catch { case _: java.io.IOException => () }
              false
            }
          } else {
            // another breaker claimed the rename; race its create once
            // — the exclusive create still admits exactly one of us
            writeAtomicExclusive(spark, p, content)
          }
        case _ => false // live holder heartbeating: respect the lease
      }
    }
  }

  /** Per-path monitor serializing the ACQUIRE phase within one JVM:
    * the realistic contention shape is several loops sharing one
    * driver, and serializing their acquires closes the
    * observe-stale/rename window entirely for them (two same-JVM
    * breakers can never interleave a break with a fresh acquire).
    * Cross-JVM writers still have the rename-exclusive break + the
    * token-verifying heartbeat as the backstop. Never removed: one
    * Object per distinct index path ever mutated in this JVM. */
  private val acquireLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The configured writer-lease TTL — ONE resolution point, shared by
    * the lease machinery and the [[graft.operators.RetrievalOps
    * .indexStatus]] expiry report (a second hardcoded default would
    * silently disagree the day the default changes). */
  def writerLeaseTtlMs(spark: SparkSession): Long =
    spark.conf.get("graft.index.writerLeaseTtlMs", "600000").toLong

  def withWriterLease[T](spark: SparkSession, path: String,
      what: String)(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(s"$path/WRITER")
    val fs = fsOf(spark, p)
    val ttlMs = writerLeaseTtlMs(spark)
    val content = s"${java.util.UUID.randomUUID().toString} $what"
    // at most one break-and-retry: breaking a live holder's fresh
    // lease would re-open the race the lease exists to close
    val lock = acquireLocks.computeIfAbsent(path, _ => new Object)
    val acquired = lock.synchronized {
      acquire(spark, p, fs, ttlMs, path, content)
    }
    if (!acquired) {
      val holder = try readSmall(spark, p) catch {
        case _: java.io.IOException => "<unreadable>"
      }
      throw new IllegalStateException(
        s"$what: another writer holds the lease on $path " +
          s"(holder: $holder). Generational appends and compactions " +
          "must be sequenced by ONE writer — interleaved fold/flip " +
          "corrupts the layout silently. Route this mutation through " +
          "the owning loop, or wait for the holder to finish (a " +
          "crashed holder's lease expires after " +
          s"graft.index.writerLeaseTtlMs = $ttlMs ms).")
    }
    // Holding the lease, sweep EXPIRED crash-stranded aside files: a
    // breaker dying between its claim-rename and the aside delete
    // leaves one `WRITER.broken.<uuid>` behind, and on an append-only
    // path (which never runs retract()'s WRITER.-prefix sweep) a crash
    // storm would otherwise accumulate them forever. Only asides older
    // than the TTL go (rename preserves mtime, so an aside's age IS
    // the age of the lease it yanked): a younger aside can still be a
    // freshly-yanked live lease awaiting a stood-down breaker's
    // best-effort restore — deleting it would only cost that breaker a
    // retry it may not deserve, but respecting the TTL keeps this
    // sweep exactly as conservative as the break judgment itself.
    // Bound: each crashed breaker strands at most ONE aside, so N
    // crashes leave at most N files, and the first successful mutation
    // after expiry clears them all (IndexLayoutSpec crash-storm case).
    try {
      val root = new org.apache.hadoop.fs.Path(path)
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        if (st.getPath.getName.startsWith("WRITER.broken.") &&
            System.currentTimeMillis() - st.getModificationTime > ttlMs)
          fs.delete(st.getPath, false): Unit
      }
    } catch { case _: java.io.IOException => () } // sweep is best-effort
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    val beat = new java.util.Timer("graft-writer-lease", true)
    beat.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = try {
        if (readSmall(spark, p) == content) {
          fs.setTimes(p, System.currentTimeMillis(), -1)
          misses.set(0)
        } else {
          // the file no longer carries our token: the lease was taken
          // over (our own expiry + a break). Refreshing it would keep
          // the USURPER's lease alive and hide the loss — stop, and
          // surface at completion.
          lost.set(true)
          cancel(): Unit
        }
      } catch {
        // NonFatal, not just IOException: java.util.Timer KILLS its
        // thread on an escaped unchecked exception — heartbeats would
        // stop silently and the lease expire unobserved mid-mutation,
        // the exact failure mode the heartbeat exists to surface.
        // Transient failures of any kind route into the miss counter.
        case scala.util.control.NonFatal(_) =>
          if (misses.incrementAndGet() >= 3) {
            lost.set(true)
            cancel(): Unit
          }
      }
    }, ttlMs / 3, ttlMs / 3)
    val result =
      try body
      finally {
        beat.cancel()
        val mine = try readSmall(spark, p) == content catch {
          case _: java.io.IOException => false
        }
        if (mine) fs.delete(p, false): Unit
      }
    // surfaces only when the body itself SUCCEEDED (a body failure
    // propagates above): the mutation ran to completion without the
    // exclusivity it was promised, so the caller must not treat the
    // layout as trustworthy
    if (lost.get()) throw new IllegalStateException(
      s"$what: the writer lease on $path was LOST mid-mutation (token " +
        "taken over, or the heartbeat could not refresh it repeatedly) " +
        "— the mutation completed WITHOUT exclusivity and may have " +
        "interleaved with another writer. Verify or rebuild the layout " +
        "before serving from it.")
    result
  }

  /** The shared in-place compaction sequence (fold → flip → retire):
    * `compact(path, dest)` writes the folded single-generation layout
    * at `dest` (index-kind specific), then the CURRENT pointer flips to
    * it and everything older than the superseded generation retires.
    * Returns the new active root. Both index kinds delegate here so the
    * flip ordering and grace policy cannot drift between them. */
  def compactInPlace(spark: SparkSession, path: String,
      baseDirs: Seq[String], compact: (String, String) => Unit): String =
    withWriterLease(spark, path, "compactInPlace") {
      val root = activeRoot(spark, path)
      val curGen = currentGen(path, root)
      val nextRel = s"generations/g${curGen + 1}"
      compact(path, s"$path/$nextRel")
      flipCurrent(spark, path, nextRel)
      retireOlder(spark, path, curGen, baseDirs)
      s"$path/$nextRel"
    }

  /** The shared auto-compaction policy: fold when the active generation
    * carries ≥ `maxGenerations` committed appends. Returns whether a
    * compaction ran. */
  def maybeCompact(spark: SparkSession, path: String, maxGenerations: Int,
      compactIP: () => String): Boolean = {
    require(maxGenerations >= 1,
      s"maybeCompact: maxGenerations must be >= 1, got $maxGenerations")
    val root = activeRoot(spark, path)
    if (committedAppends(spark, root).size >= maxGenerations) {
      compactIP(): Unit
      true
    } else false
  }

  /** The at-least-once append guard [[withAppend]] applies before
    * writing a batch generation ([[foldedMax]] doc): a batchId EQUAL to
    * the folded high-water mark is the one genuine replay shape — the
    * batch in flight when the fold ran, re-delivered after a crash
    * before its checkpoint offset committed — and must no-op (its rows
    * are already in the folded generation). A batchId BELOW the mark
    * can never be a replay from the same checkpoint lineage (offsets
    * commit strictly in order, so every earlier batch's commit
    * preceded the fold): it means a DIFFERENT stream — typically a
    * fresh checkpoint restarting ids at 0 against a long-lived index —
    * and silently dropping its batches would lose real data, so it
    * throws. Returns true when the caller should skip the append. */
  private def replayGuard(spark: SparkSession, root: String,
      batchId: Option[Long], what: String): Boolean = {
    val fm = foldedMax(spark, root)
    batchId match {
      case Some(b) if b < fm =>
        throw new IllegalStateException(
          s"$what: batch $b predates this index's folded history " +
            s"(compacted through batch $fm). Batch ids restart only " +
            "when a NEW stream (fresh checkpoint) feeds an existing " +
            "index — silently skipping would drop its data, and " +
            "appending would break replay idempotence. Point the new " +
            "stream at a new index path, or keep the original " +
            "checkpoint when resuming ingestion.")
      case Some(b) => b == fm
      case None => false
    }
  }

  /** Atomically point `path/CURRENT` at `rel` (see object doc). */
  def flipCurrent(spark: SparkSession, path: String, rel: String): Unit =
    writeAtomic(spark,
      new org.apache.hadoop.fs.Path(s"$path/CURRENT"), rel)

  /** Retire everything OLDER than the generation just superseded:
    * `generations/g<j>` for j < curGen, and — once any generation
    * supersedes the base — the base layout's own data directories
    * (`baseDirs`, index-kind specific). */
  def retireOlder(spark: SparkSession, path: String, curGen: Long,
      baseDirs: Seq[String]): Unit = {
    val gens = new org.apache.hadoop.fs.Path(s"$path/generations")
    val fs = fsOf(spark, gens)
    fs.listStatus(gens).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("g") && nm.drop(1).forall(_.isDigit) &&
        nm.drop(1).toLong < curGen)
        fs.delete(st.getPath, true): Unit
    }
    if (curGen >= 1L) baseDirs.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true): Unit
    }
  }
}
