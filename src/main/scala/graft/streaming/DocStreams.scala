package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions._

/** Structured Streaming surface over the `documents` corpus shape —
  * the continuous-ingest half of the text pipeline: a crawl feed is
  * scrubbed, deduplicated and profiled AS IT ARRIVES instead of in
  * nightly batch sweeps, with watermarks bounding every piece of state.
  *
  * The batch operators these mirror are [[graft.operators.TextQueries]]
  * (d1/d13/d4/d10); the specs hold each stream twin to its batch
  * result — the only oracle a green-field streaming surface has.
  *
  * Event time: a production feed carries its own ingest timestamp
  * (Kafka timestamp, crawl fetch time). The driver's documents table has
  * none, so [[fileSource]] synthesizes a deterministic one from doc_id
  * (one document per second from a fixed epoch) — the watermark
  * semantics under test are identical either way. */
object DocStreams {

  /** The shared file-stream plumbing of [[fileSource]] and
    * [[vecFileSource]]: schema-pinned parquet stream over a file or a
    * directory glob, with the synthetic per-row ingest timestamp keyed
    * by `idCol` (see the object scaladoc) — ONE copy, so the glob
    * resolution and the timeline convention can never diverge between
    * the document and vector feeds. */
  private def parquetStream(spark: SparkSession, dir: String,
      schemaDdl: String, idCol: String): DataFrame = {
    val p = new java.io.File(dir)
    val (base, glob) =
      if (p.isFile) (p.getParent, p.getName) else (dir, "*.parquet")
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
      .option("pathGlobFilter", glob).parquet(base)
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1700000000L) + col(idCol)))
  }

  /** The documents parquet as a bounded stream with a synthetic
    * per-document ingest timestamp (see the object scaladoc). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    parquetStream(spark, dir,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT", "doc_id")

  /** The embeddings parquet as a bounded stream (same synthetic ingest
    * timeline convention as [[fileSource]], keyed by vec_id). */
  def vecFileSource(spark: SparkSession, dir: String): DataFrame =
    parquetStream(spark, dir,
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label STRING", "vec_id")

  /** IVF-PQ encode as vectors arrive — the continuous index-ingestion
    * path: each arrival is routed to its coarse cell and PQ-coded
    * against a FROZEN snapshot (loaded via
    * [[graft.operators.IvfPq.loadIndex]] or built in-session), ready to
    * append to the snapshot's `codes` relation. Entirely map-side
    * ([[graft.operators.IvfPq.encodeMapSide]]: broadcast centroids +
    * codebook, per-row expressions) — no aggregation, no watermark, no
    * state; codes emit immediately and the operator scales by
    * partitioning alone. Exactly equals the batch encode on the same
    * rows (spec-held). */
  def encodeArrivals(vecs: DataFrame,
      index: graft.operators.IvfPq.IvfPqIndex): DataFrame =
    graft.operators.IvfPq.encodeMapSide(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>")
        .as("v")),
      "vec_id", "v", index)

  /** The COMMIT side of continuous index ingestion: encode arrivals
    * against the frozen snapshot and append every micro-batch to the
    * persisted index's `codes` relation. A streaming frame cannot drive
    * `DataFrameWriter` directly, so the append goes through
    * `foreachBatch` — each micro-batch is a plain batch frame that
    * [[graft.operators.IvfPq.appendToIndex]] writes (geometry-checked,
    * cell-partitioned). foreachBatch is AT-LEAST-ONCE — a restart from
    * checkpoint mid-write replays the batch — so the commit keys on the
    * batchId: a replay overwrites its own `appends/batch=<id>`
    * directory instead of appending duplicate rows (spec-held:
    * DocStreamsSpec replay case). Probes pick the new vectors up on
    * their next `loadIndex`. Returns the started query (caller owns its
    * lifecycle). */
  def appendArrivals(vecs: DataFrame,
      index: graft.operators.IvfPq.IvfPqIndex, indexPath: String,
      checkpoint: String, compactEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // with auto-compaction the encoder must NOT hold disk-backed
    // reference frames: a flip retires old generations (after the
    // grace cycle) out from under a file-scanning plan — localize the
    // parameter-sized centroids/codebook once, up front
    val frozen =
      if (compactEvery.isDefined) graft.operators.IvfPq.localizeIndex(index)
      else index
    encodeArrivals(vecs, frozen).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) => {
        graft.operators.IvfPq.appendToIndex(batch.toDF(), indexPath,
          batchId = Some(batchId), streamId = Some(checkpoint))
        compactEvery.foreach { n =>
          graft.operators.IvfPq.maybeCompact(
            batch.sparkSession, indexPath, n): Unit
        }
      })
      .start()
  }

  /** Stateless PII scrub: text redacted in place, match counts appended —
    * a pure map, so it adds no streaming state at all. */
  def scrubbed(docs: DataFrame): DataFrame =
    graft.operators.CorpusOps.scrubPii(docs, "text")

  /** Continuous LEXICAL index ingestion — the postings twin of
    * [[appendArrivals]]: each micro-batch of arriving documents appends
    * its postings generation to a persisted BM25 index
    * ([[graft.operators.RetrievalOps.appendToPostings]], keyed by the
    * batchId so foreachBatch's at-least-once replays overwrite
    * themselves). Probes pick new documents up on their next query —
    * df/n/avgdl fold exactly as a rebuild would. Returns the started
    * query (caller owns its lifecycle).
    *
    * `compactEvery = Some(n)` is the AUTO-COMPACTION dial: after each
    * commit, once the active generation carries ≥ n committed appends,
    * the loop folds them into a fresh single generation and atomically
    * flips the index's CURRENT pointer
    * ([[graft.operators.RetrievalOps.maybeCompact]]) — probe cost stays
    * flat under unbounded micro-batch ingestion instead of growing a
    * listing + union branch per batch forever. Replays stay idempotent
    * across the fold (the folded high-water mark); probes of `indexPath`
    * need no coordination — they resolve the pointer per query. */
  def indexArrivals(docs: DataFrame, indexPath: String,
      checkpoint: String, compactEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) => {
        graft.operators.RetrievalOps.appendToPostings(batch.toDF(),
          "doc_id", "text", indexPath, batchId = Some(batchId),
          streamId = Some(checkpoint))
        compactEvery.foreach { n =>
          graft.operators.RetrievalOps.maybeCompact(
            batch.sparkSession, indexPath, n): Unit
        }
      })
      .start()

  /** Per-shard packer state: next sequence index to emit + the ids still
    * short of a full sequence. Bounded: `pending` is always < seqLen. */
  case class PackState(seqIdx: Long, pending: Seq[Int])
  case class PackedSeq(lang: String, seq_idx: Long, n_ids: Long,
      ids: Seq[Int])

  /** CONTINUOUS fixed-length sequence packing — the streaming twin of
    * [[graft.operators.CorpusOps.packTokenIds]] via
    * `flatMapGroupsWithState`: per language shard, arriving documents
    * encode ([[tokenizeArrivals]] semantics, one EOS per doc) into a
    * running token stream; every COMPLETE `seqLen`-id row emits
    * immediately and the (< seqLen) remainder carries in state to meet
    * the next micro-batch — a partial sequence is not an output, it is
    * unfinished work, exactly the production contract of a continuous
    * pretraining-data packer. State per shard is bounded by seqLen ids
    * regardless of stream length.
    *
    * Ordering: documents pack in doc_id order WITHIN a micro-batch and
    * in arrival order across batches — identical to the batch packer
    * when the feed is id-ordered (the spec's single-batch case holds
    * completed rows bit-for-bit to d39's). */
  def packArrivals(docs: DataFrame, vocab: Seq[String],
      seqLen: Int): org.apache.spark.sql.Dataset[PackedSeq] = {
    require(seqLen >= 1, s"packArrivals: seqLen must be >= 1, got $seqLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val eos = vocab.size
    tokenizeArrivals(docs, vocab)
      .select(col("lang"), col("doc_id"), col("ids"))
      .as[(String, Long, Seq[Int])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PackState, PackedSeq](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, Long, Seq[Int])],
            state: org.apache.spark.sql.streaming.GroupState[PackState]) =>
          val st = state.getOption.getOrElse(PackState(0L, Vector.empty))
          val buf = scala.collection.mutable.ArrayBuffer[Int]()
          buf ++= st.pending
          rows.toSeq.sortBy(_._2).foreach { case (_, _, ids) =>
            buf ++= ids; buf += eos
          }
          val out = scala.collection.mutable.ArrayBuffer[PackedSeq]()
          var seq = st.seqIdx
          var off = 0
          while (buf.length - off >= seqLen) {
            out += PackedSeq(lang, seq, seqLen.toLong,
              buf.slice(off, off + seqLen).toVector)
            seq += 1
            off += seqLen
          }
          state.update(PackState(seq, buf.drop(off).toVector))
          out.iterator
      }
  }

  /** Continuous model-input tokenization: arrivals encode to token-ID
    * arrays against a FROZEN vocabulary ([[graft.operators.CorpusOps
    * .encodeIds]] unchanged on the stream — pure map, zero state), the
    * d38 batch path bit-for-bit. The vocabulary is a driver artifact
    * (snapshot semantics like the IVF-PQ encode twin: re-tokenizing
    * under a NEW vocab is a new stream, exactly like production
    * tokenizer rollouts). */
  def tokenizeArrivals(docs: DataFrame, vocab: Seq[String]): DataFrame =
    graft.operators.CorpusOps.encodeIds(docs, "doc_id", "text", vocab,
      extraCols = Seq("lang"))

  /** Exact content dedup within the watermark: the md5 digest is the
    * dedup key (16 bytes of state per distinct document, expired by
    * event time — the streaming twin of d1/d2). */
  def dedupedDocs(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_h", md5(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("content_h")

  /** Windowed per-language ingest profile (the streaming twin of d4):
    * arrival counts + size stats per tumbling window. Append mode emits
    * a window only once the watermark passes its end — size the
    * watermark to the feed's real lateness, not longer. */
  def langProfile(docs: DataFrame, window_ : String = "2 minutes",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ingest_ts", watermark)
      .groupBy(window(col("ingest_ts"), window_), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Streaming ingest admit — the continuous twin of
    * [[graft.operators.CorpusOps.dedupeIncrement]]: each arriving
    * document is dropped when it is an exact copy (md5 digest) or a
    * banded-LSH near-duplicate (estimated Jaccard >= `threshold`) of the
    * STATIC existing corpus, and admitted otherwise — the
    * crawl-frontier gate run as documents arrive instead of in a
    * nightly sweep.
    *
    * Shape: everything per-document is MAP-SIDE so rows emit immediately
    * (no streaming aggregation holding results until the watermark
    * closes): the minhash signature is one higher-order expression (the
    * batch groupBy-min restated per row — the md5 kernel runs
    * interpreted inside the lambda, the price of a shuffle-free
    * stream), each of the nBands band keys probes its own static
    * (band_key → signature list) bucket table via a stream-static LEFT
    * OUTER equi join (stateless), and the per-band `exists` agreement
    * checks OR together into the admit filter. Exact dedup is the same
    * left-outer-isNull against the existing digest set. At scale the
    * static plans re-evaluate per micro-batch — persist `existing`'s
    * derived frames by passing a persisted `existing` (caller-owned,
    * the CorpusOps contract). */
  def admitNew(docs: DataFrame, existing: DataFrame,
      threshold: Double = 0.5, ngram: Int = 3): DataFrame = {
    val numPerms = graft.operators.SimilarityQueries.NumPerms
    val bandSize = graft.operators.SimilarityQueries.BandSize
    val prime = graft.operators.SimilarityQueries.HashPrime
    val nBands = numPerms / bandSize
    val exDigests = existing.select(md5(col("text")).as("_g_h"))
      .distinct().withColumn("_g_exact", lit(1))
    val exBanded = graft.operators.SimilarityQueries.bandedSigs(
      graft.operators.CorpusOps.minhashSignatures(
        existing, "doc_id", "text", ngram, numPerms),
      numPerms, bandSize)
    val perBand = (0 until nBands).map { b =>
      exBanded.filter(col("band") === b)
        .groupBy(col("band_key").as(s"_g_bk$b"))
        .agg(collect_list(col("sig")).as(s"_g_exs$b"))
    }
    var cur = docs
      .withColumn("_g_h", md5(col("text")))
      .join(exDigests, Seq("_g_h"), "left_outer")
      .filter(col("_g_exact").isNull)
      .withColumn("_g_gh",
        transform(wordNgrams(col("text"), lit(ngram)), g => md5Prefix28(g)))
      .withColumn("_g_sig", expr(
        s"transform(sequence(0, ${numPerms - 1}), p -> " +
          s"array_min(transform(_g_gh, " +
          s"h -> (37 * (p + 1) * h + 101 * p + 7) % ${prime}L)))"))
    (0 until nBands).foreach { b =>
      val bandKey = md5Prefix28(concat_ws(",",
        transform(slice(col("_g_sig"), b * bandSize + 1, bandSize),
          x => x.cast("string"))))
      cur = cur.withColumn(s"_g_bk$b", bandKey)
        .join(perBand(b), Seq(s"_g_bk$b"), "left_outer")
        .withColumn(s"_g_hit$b", coalesce(expr(
          s"exists(_g_exs$b, es -> size(filter(" +
            s"zip_with(_g_sig, es, (x, y) -> x = y), v -> v)) " +
            s"/ ${numPerms}D >= $threshold)"), lit(false)))
        .drop(s"_g_exs$b", s"_g_bk$b")
    }
    cur.filter(!(0 until nBands).map(b => col(s"_g_hit$b")).reduce(_ || _))
      .drop((0 until nBands).map(b => s"_g_hit$b") ++
        Seq("_g_h", "_g_exact", "_g_gh", "_g_sig"): _*)
  }

  /** The admitted corpus at `root` as ONE multi-path scan (explicit
    * `schema` — a committed batch whose admit set was empty is
    * file-less, which would brick inference): the folded base
    * (`root/docs`, present after a compaction) plus every committed
    * append. One scan relation, not an N-branch union — the plan stays
    * flat as batches accumulate. */
  private def admittedAt(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      excludeBatch: Option[Long]): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(s"$root/docs")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    // a replay recomputes its batch without its own previous write
    val dirs = (if (fs.exists(base)) Seq(s"$root/docs") else Nil) ++
      graft.operators.IndexLayout.committedAppends(spark, root).filterNot(
        d => excludeBatch.exists(b => d.endsWith(s"/batch=$b")))
    if (dirs.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** The admitted rows an [[admitArrivals]] loop has accumulated at
    * `path` — what a downstream training-data job reads. Resolves the
    * generational pointer, so the path is stable across compactions.
    * `schema` is the USER schema: the signature columns stored
    * alongside ([[storedSchema]]) are pruned by the explicit-schema
    * read. */
  def admittedDocs(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    admittedAt(spark,
      graft.operators.IndexLayout.activeRoot(spark, path), schema, None)

  /** What an admitted batch PHYSICALLY stores: the user columns plus
    * the document's signature-store row
    * ([[graft.operators.CorpusOps.signatureStore]]) as `_g_`-prefixed
    * columns — md5 digest and MinHash signature. Admission reads the
    * existing corpus ONLY through these (~150 B/doc), so per-batch cost
    * never re-scans or re-shingles the accumulated TEXT; they ride the
    * same parquet files as the documents (one write, one commit marker)
    * and [[admittedDocs]]' explicit user-schema read prunes them. */
  private def storedSchema(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    schema
      .add("_g_adm_digest", org.apache.spark.sql.types.StringType)
      .add("_g_adm_sig", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))

  /** The accumulated corpus's signature store — the stored columns of
    * every admitted row, as the (doc_id, digest, sig) relation
    * [[graft.operators.CorpusOps.dedupeIncrementFromStore]] takes. */
  private def storedSigsAt(spark: SparkSession, root: String,
      excludeBatch: Option[Long]): DataFrame =
    admittedAt(spark, root, org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, _g_adm_digest STRING, _g_adm_sig ARRAY<BIGINT>"),
      excludeBatch)
      .select(col("doc_id"), col("_g_adm_digest").as("digest"),
        col("_g_adm_sig").as("sig"))

  /** The SEED corpus's signature store at `path/seed_sig`, built ONCE
    * (first batch; marker written last, so a crash mid-write recomputes
    * — the content is deterministic, so replays converge) and read per
    * batch thereafter: the loop's whole point is that the seed — the
    * big side, a full corpus — is never re-shingled per micro-batch.
    * The marker records the signature parameters; a loop restarted with
    * DIFFERENT ones fails loudly (stored and fresh signatures must come
    * from one hash family, or near-dup checks silently degrade to
    * noise). Lives at the PATH level, like `stream_id` — compactions
    * fold batch generations, never the seed. */
  private def ensureSeedSig(seed: DataFrame, path: String, ngram: Int,
      numPerms: Int): DataFrame = {
    val s = seed.sparkSession
    val dir = s"$path/seed_sig"
    val params = s"ngram=$ngram,numPerms=$numPerms"
    val mk = new org.apache.hadoop.fs.Path(dir,
      graft.operators.IndexLayout.CommitMarker)
    val fs = mk.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(mk)) {
      val in = fs.open(mk)
      val stored = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .trim finally in.close()
      if (stored != params) throw new IllegalStateException(
        s"admitArrivals: the signature store at $dir was built with " +
          s"($stored) but this loop runs ($params) — signatures from " +
          "different parameters cannot be compared. Resume with the " +
          "original parameters, or start a new admit path.")
    } else {
      graft.operators.CorpusOps
        .signatureStore(seed, "doc_id", "text", ngram, numPerms)
        .write.mode("overwrite").parquet(dir)
      // atomic: a torn params write would brick every honest resume
      // on a phantom "drift" (IndexLayout.writeAtomic doc)
      graft.operators.IndexLayout.writeAtomic(s, mk, params)
    }
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, digest STRING, sig ARRAY<BIGINT>"))
      .parquet(dir)
  }

  /** Fold the admitted corpus's batch generations into one consolidated
    * `docs` relation under a fresh generation and flip the CURRENT
    * pointer — the admit-loop sibling of the index compactions (same
    * [[graft.operators.IndexLayout]] mechanics, same single-writer
    * contract): without it a long-lived loop re-lists N batch
    * directories per micro-batch forever. Cost note: unlike a probe
    * against an index, the per-batch READ path here is one multi-path
    * scan whatever the generation count — only driver-side listing
    * (a marker `exists` per batch dir) grows — while the fold
    * rewrites the whole corpus TEXT. So the admit loop wants a LARGE
    * `compactEvery` (amortize the rewrite over many batches, e.g.
    * hundreds) where the index loops want a small one (probe latency
    * decays per generation — see the genscale curve). Measured
    * (PLANS.md, "Admit-loop generation decay measured"): per-batch cost is FLAT
    * across 20 uncompacted generations, while folding every 8 batches
    * came out SLOWER — hence `compactEvery = None` stays the
    * [[admitArrivals]] default. */
  def compactAdmitted(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): String =
    // fold the FULL stored schema — the signature columns must
    // survive compaction or admission would lose its store
    foldAdmitted(spark, path, storedSchema(schema))

  /** [[compactAdmitted]] for a [[vecAdmitArrivals]] corpus: the vector
    * layout stores exactly the user schema (the embedding IS the
    * signature), so the fold carries no extra columns. */
  def compactAdmittedVecs(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): String =
    foldAdmitted(spark, path, schema)

  private def foldAdmitted(spark: SparkSession, path: String,
      physicalSchema: org.apache.spark.sql.types.StructType): String =
    graft.operators.IndexLayout.compactInPlace(spark, path,
      Seq("docs", "appends"), (p, dest) =>
        admittedAt(spark, graft.operators.IndexLayout.beginFold(spark, p,
          dest), physicalSchema, None)
          .write.mode("overwrite").parquet(s"$dest/docs"))

  /** CONTINUOUS crawl-frontier admission with a SELF-GROWING corpus —
    * the accumulation loop [[admitNew]] (static existing set) feeds
    * into: each micro-batch is first deduped against the seed corpus
    * PLUS everything ADMITTED SO FAR (the d27 decision, via
    * [[graft.operators.CorpusOps.dedupeIncrementFromStore]]), then the
    * surviving batch collapses ITS OWN duplicates — exact digest
    * groups and near-dup clusters, min-id survivor
    * ([[graft.operators.CorpusOps.collapseEnriched]], reusing the
    * signatures the filter step computed: the batch is shingled
    * exactly once) — and the admitted set commits to its own
    * `appends/batch=<id>` generation (marker written last) WITH its
    * signature-store columns ([[storedSchema]]). A document admitted
    * in batch 3 therefore REJECTS its re-crawl in batch 7 — the
    * property the static-gate twin cannot give — and this
    * filter-then-collapse order keeps admission independent of batch
    * chunking for exact copies (transitive) and for near-dup PAIRS
    * (X near a seed doc, batch-mate Y near only X: collapse-first
    * would sacrifice Y to X's rejection; filter-first admits Y exactly
    * as a one-batch-later crawl would). Longer non-transitive chains
    * remain order-dependent — inherent to ANY single-pass admission,
    * batched or streamed. Downstream readers take [[admittedDocs]].
    *
    * The existing side is read as SIGNATURES, never text: the seed is
    * shingled ONCE into `path/seed_sig` ([[ensureSeedSig]] — the seed
    * must stay immutable for the life of the path; retract
    * ([[graft.operators.IndexLayout.retract]]) and rebuild to change
    * it), and each batch stores its survivors'
    * digests + MinHash signatures alongside the documents. Signatures
    * are deterministic, so decisions are bit-identical to recomputing
    * from text (spec-held) — but a batch against an N-document corpus
    * costs the batch's own shingling plus a ~150 B/doc store scan,
    * instead of re-reading and re-shingling the whole corpus text.
    *
    * At-least-once: `checkpoint` is also the stream identity
    * ([[graft.operators.IndexLayout.checkStreamId]] — a different
    * checkpoint pointed at this path throws instead of having its
    * restarted ids swallowed as replays); the batchId keys the output
    * directory (a replay retracts its own marker and overwrites), and
    * recomputation EXCLUDES the batch's own previous write from
    * "admitted so far" — otherwise the replay would see its own docs
    * as existing, admit nothing, and erase them. Prior batches are
    * immutable by the time a replay runs (foreachBatch is sequential),
    * so the recomputed admit set is identical; replays of batches a
    * [[compactAdmitted]] fold absorbed no-op via the folded mark.
    *
    * `compactEvery = Some(n)` auto-folds after each commit once ≥ n
    * batch generations stand — the same dial as the index loops.
    * Scale: the batch drives every probe (its digest and band tables
    * broadcast under AQE), the store is scanned map-side — never
    * shuffled — as ONE multi-path scan, and each batch writes only its
    * own survivors. */
  def admitArrivals(docs: DataFrame, seed: DataFrame, path: String,
      checkpoint: String, threshold: Double = 0.5, ngram: Int = 3,
      compactEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = seed.schema
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) => {
        val s = batch.sparkSession
        import graft.operators.{CorpusOps, IndexLayout}
        // the commit runs under the path's WRITER lease
        // (IndexLayout.withAppend); the compaction below takes its own
        IndexLayout.withAppend(s, path, Some(batchId), Some(checkpoint),
            "admitArrivals") { root =>
          // the existing side is READ AS SIGNATURES ONLY (seed store +
          // the stored columns of every admitted batch): per-batch cost
          // is the batch's own work plus a ~150 B/doc store scan — the
          // accumulated TEXT is never re-read, re-shingled or re-hashed
          val store = ensureSeedSig(seed, path, ngram,
            graft.operators.SimilarityQueries.NumPerms)
            .unionByName(
              storedSigsAt(s, root, excludeBatch = Some(batchId)))
          // order matters: filter against the EXISTING corpus first,
          // then collapse the batch's own duplicates among the
          // survivors. Collapsing first would make admission depend on
          // batch boundaries in the non-transitive corner (X near-dups
          // a seed doc, batch-mate Y near-dups only X: collapse-first
          // keeps min-id X, the store filter kills it, and Y — which a
          // one-batch-later crawl WOULD admit — is lost with it).
          // The batch is shingled exactly once (the enrichment inside
          // dedupeIncrementFromStore); collapseEnriched reuses the
          // riding digest/sig columns
          // dropDuplicates first: an at-least-once upstream can
          // re-deliver a row WITHIN one batch, and two same-id rows
          // dodge both the digest collapse (semi join keeps every row
          // of the surviving id) and the pair stage (no id < id pair).
          // Materialize the deduped batch EAGERLY (persist + count)
          // before it fans out: dedupeIncrementFromStore scans it from
          // two independent subtrees (digest enrichment vs the minhash
          // signature self-join), and dropDuplicates keeps a
          // NON-DETERMINISTIC first() per id — if one batch carried
          // same-id rows with DIFFERENT payloads (a re-crawl with
          // updated content), two live scans could each pick their own
          // survivor and store a signature computed from a different
          // text than the stored text/digest, silently breaking the
          // signature-store invariant every future admission relies on
          val deduped = batch.toDF().dropDuplicates("doc_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          deduped.count(): Unit
          try {
            // persist the corpus-filtered batch too: the collapse
            // step's cluster solve is an eager driver collect and the
            // commit is a second action — without the (batch-bounded)
            // cache the corpus-sweep subtree would execute per action
            val filtered = CorpusOps.dedupeIncrementFromStore(store,
              deduped, "doc_id", "text", threshold, ngram)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val admitted = CorpusOps.collapseEnriched(filtered,
                "doc_id", threshold = threshold)
                .withColumnRenamed("digest", "_g_adm_digest")
                .withColumnRenamed("sig", "_g_adm_sig")
              IndexLayout.commitBatch(s, root, batchId.toString)(
                admitted.write.mode("overwrite").parquet(_))
            } finally filtered.unpersist(blocking = false): Unit
          } finally deduped.unpersist(blocking = false): Unit
        }
        compactEvery.foreach { n =>
          IndexLayout.maybeCompact(s, path, n,
            () => compactAdmitted(s, path, schema)): Unit
        }
      })
      .start()
  }

  /** CONTINUOUS vector admission with a SELF-GROWING corpus — the
    * embedding sibling of [[admitArrivals]], deduplicating a vector
    * feed (crawl embeddings, image/audio features) as it arrives: each
    * micro-batch is cosine-filtered against the seed corpus plus
    * everything admitted so far
    * ([[graft.operators.EmbeddingOps.admitVectors]], the x33 batch
    * operator), THEN collapses its own near-duplicates among the
    * survivors ([[graft.operators.EmbeddingOps.collapseVectors]] —
    * filter-then-collapse, the same chunking-invariance order as the
    * text loop), and the admitted set commits to a marker-gated
    * `appends/batch=<id>` generation. The embedding IS the signature,
    * so unlike the text loop no auxiliary store exists: admission
    * reads the accumulated corpus as one (id, vector) columnar scan
    * (~4·d B/row), never anything heavier. Same lineage
    * ([[graft.operators.IndexLayout.checkStreamId]]), replay
    * (batchId-keyed recompute excluding the batch's own previous
    * write) and compaction (`compactEvery` →
    * [[compactAdmittedVecs]]) contracts as [[admitArrivals]];
    * downstream readers take [[admittedDocs]] with the vector schema.
    * An exact duplicate is cosine 1.0, so one threshold handles both
    * dedup classes.
    *
    * `planes > 0` turns on sign-LSH bucketed candidate generation for
    * BOTH the cross-corpus sweep and the within-batch collapse
    * ([[graft.operators.EmbeddingOps.admitVectors]] doc: per-batch
    * sweep cost divides by the occupied bucket count; recall semantics
    * and the degenerate-vector convention documented there), and
    * `bands > 1` ORs independent bucketings on the cross-corpus sweep
    * for wide-angle recall (same doc). The defaults (0, 1) are the
    * exact all-pairs sweep — the oracled x33 semantics. The choice is
    * PER-PATH, not per-restart: decisions feed the corpus the next
    * decision reads, so resuming a loop with different `planes`/`bands`
    * silently changes which near-dups the accumulated corpus already
    * let through. Pick them once per path. */
  def vecAdmitArrivals(vecs: DataFrame, seed: DataFrame, path: String,
      checkpoint: String, threshold: Double = 0.9,
      compactEvery: Option[Int] = None, planes: Int = 0, bands: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = seed.schema
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) => {
        val s = batch.sparkSession
        import graft.operators.{EmbeddingOps, IndexLayout}
        // commit under the path's WRITER lease, as in [[admitArrivals]]
        IndexLayout.withAppend(s, path, Some(batchId), Some(checkpoint),
            "vecAdmitArrivals") { root =>
          val existing = seed.unionByName(
            admittedAt(s, root, schema, excludeBatch = Some(batchId)))
          // materialize the deduped batch eagerly before it fans out
          // (admitVectors scans it as both the probe side and the
          // final anti-join's left side — same non-deterministic
          // dropDuplicates double-scan hazard as the text loop), then
          // persist the corpus-filtered survivors: the collapse's
          // cluster solve and the commit are two actions over the
          // corpus-sweep subtree
          val deduped = batch.toDF().dropDuplicates("vec_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          deduped.count(): Unit
          try {
            val filtered = EmbeddingOps.admitVectors(existing,
              deduped, "vec_id", "embedding", threshold, planes, bands)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val admitted = EmbeddingOps.collapseVectors(filtered,
                "vec_id", "embedding", threshold, planes, bands)
              IndexLayout.commitBatch(s, root, batchId.toString)(
                admitted.write.mode("overwrite").parquet(_))
            } finally filtered.unpersist(blocking = false): Unit
          } finally deduped.unpersist(blocking = false): Unit
        }
        compactEvery.foreach { n =>
          IndexLayout.maybeCompact(s, path, n,
            () => compactAdmittedVecs(s, path, schema)): Unit
        }
      })
      .start()
  }

  /** BM25 relevance tags as documents arrive: score each doc against
    * driver-held query terms under FROZEN corpus-snapshot statistics
    * (N, sum_dl, per-term df — e.g. from a persisted postings index via
    * [[graft.operators.RetrievalOps.frozenStats]]). A pure stream-side
    * projection ([[graft.operators.RetrievalOps.bm25ScoreColumn]]): no
    * aggregation, no state, no watermark — scores emit immediately and
    * the operator scales by partitioning alone. Exactly equals the batch
    * [[graft.operators.RetrievalOps.bm25Scores]] when the snapshot is
    * the scored corpus itself (spec-held). */
  def scoreArrivals(docs: DataFrame, queryTerms: Seq[String], n: Long,
      sumDl: Long, dfByTerm: Map[String, Long]): DataFrame = {
    docs.withColumn("bm25", graft.operators.RetrievalOps.bm25ScoreColumn(
      col("text"), queryTerms, n, sumDl, dfByTerm))
  }

  /** Model scores as documents arrive — the continuous labeling path
    * (quality classifier / reward model over a crawl feed):
    * [[graft.operators.RetrievalOps.scoreWithModel]] runs unchanged on a
    * stream because it is mapPartitions-shaped — per-micro-batch
    * partition init, fixed-size batches, no state, no watermark. The
    * query text rides as a literal column; scores emit immediately. */
  def modelScoreArrivals(docs: DataFrame, queryText: String,
      scoreBatch: Seq[(String, String)] => Seq[Double] =
        graft.operators.RetrievalOps.stubPairScorer,
      batchSize: Int = 32): DataFrame =
    graft.operators.RetrievalOps.scoreWithModel(
      docs.withColumn("_g_qid", lit(0L))
        .withColumn("_g_q", lit(queryText)),
      "_g_qid", "doc_id", "_g_q", "text", scoreBatch, batchSize)

  /** Contamination flags as documents arrive: explode the stream's word
    * n-grams, stream-static semi join against the (broadcast-sized)
    * benchmark shingle set, and emit each contaminated doc once (the
    * per-doc dedup is watermark-bounded state keyed by doc_id). The
    * streaming twin of d10. */
  def contaminationFlags(docs: DataFrame, benchGrams: DataFrame,
      ngram: Int = 3): DataFrame = {
    docs
      .select(col("doc_id"), col("ingest_ts"),
        explode(wordNgrams(col("text"), lit(ngram)))
          .as("_g_sh"))
      .select(col("doc_id"), col("ingest_ts"),
        md5Prefix28(col("_g_sh")).as("shash"))
      .join(broadcast(benchGrams), Seq("shash"), "left_semi")
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ingest_ts"))
  }
}
