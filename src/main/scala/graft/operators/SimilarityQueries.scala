package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions._

/** Near-duplicate detection and embedding similarity search — the
  * training-data-pipeline surface (no equivalent in the reference; designed
  * Spark-first per SURVEY §7.1 module 8).
  *
  * Scale design:
  *  - MinHash/SimHash signatures are computed map-side from exploded
  *    shingles; the only shuffles are groupBy(doc_id) (signature assembly)
  *    and groupBy(band) (LSH bucketing). Raw text never shuffles.
  *  - LSH turns the O(n²) all-pairs problem into per-bucket candidate
  *    generation — the 100 TB path. Brute-force cosine is kept as the
  *    correctness baseline and for one-off top-k probes (TakeOrdered, no
  *    full sort).
  *  - All hashing is deterministic AND engine-portable: a 28-bit prefix of
  *    md5 plus affine re-hashes mod a prime. Any 64-bit hash (xxhash64)
  *    is a drop-in for the md5 prefix; the md5 form lets every query here
  *    be verified bit-for-bit against an independent SQL engine.
  *  - Hyperplane signs for the embedding LSH are baked literal ±1 vectors
  *    (derived once, driver-side, from md5 parity) — the projection is a
  *    codegen'd literal-array dot product, no hashing in the executor hot
  *    path.
  */
object SimilarityQueries {

  val NumPerms = 16    // minhash permutations
  val BandSize = 4     // rows per LSH band => 4 bands
  val HashPrime = 1000000007L
  val EmbDim = 64      // embeddings table contract (TESTDATA.md)

  /** Word 3-gram shingles straight from the text column (one kernel pass:
    * split + sliding join — replaces the words-array materialization plus
    * the transform/sequence/slice/concat_ws lambda stack). */
  private def shingles(t: Column): Column =
    wordNgrams(t, lit(3))

  /** Affine minhash permutation family over the 28-bit shingle hash.
    * Coefficients stay < 2^40 so the arithmetic never overflows a signed
    * 64-bit value in engines that trap on overflow. */
  private def permHash(perm: Column, shash: Column): Column =
    (lit(37L) * (perm + 1) * shash + lit(101L) * perm + 7) % HashPrime

  // -------------------------------------------------- shingle boundary ----

  /** doc_id + shingle hashes, materialized ONCE per input snapshot as a
    * cached session temp view ([[SnapshotCache.view]]). The input is
    * repartitioned by doc_id BEFORE shingling: the shuffle then carries
    * the raw text (~300 B/doc) instead of the exploded hashes (~50 rows ×
    * 16 B/doc), and — because hash partitioning survives projections and
    * generators — every downstream groupBy(doc_id) (signature build, x4
    * set build) runs exchange-free on the cached co-partitioned rows.
    * Duplicate shingles are NOT removed here: both consumers are
    * duplicate-insensitive (min() for minhash, collect_set() for
    * exact-Jaccard sets), so a distinct would add a whole shuffle+agg
    * stage for nothing. */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame = {
    SnapshotCache.view(s, "shingles", s"$dir/documents.parquet") {
      documents(s, dir)
        .repartition(col("doc_id"))
        // explode BEFORE hashing: expressions inside higher-order-function
        // lambdas are interpreted per element; hashing the exploded column
        // keeps the md5 kernel inside whole-stage codegen
        .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
        .select(col("doc_id"), md5Prefix28(col("sh")).as("shash"))
    }
  }

  /** LSH candidate pairs (unsorted), materialized ONCE per input snapshot —
    * the shared upstream of x2 (sorted pairs), x4 (exact-Jaccard verify)
    * and x8 (dedup clustering): the signature build and the band self-join
    * run once, not once per query. */
  private[graft] def candidatePairs(s: SparkSession, dir: String): DataFrame =
    SnapshotCache.view(s, "lshpairs", s"$dir/documents.parquet") {
      lshPairs(cachedSignatures(s, dir))
    }

  /** Signatures as their own snapshot-keyed cached view: the band
    * self-join reads its input twice, and the 16-min aggregation must not
    * run once per side (one corpus pass, not two). Cached — not an eager
    * localCheckpoint — so lifecycle stays with the session's CacheManager
    * like every other cut here. */
  private[graft] def cachedSignatures(s: SparkSession, dir: String): DataFrame =
    SnapshotCache.view(s, "sigs", s"$dir/documents.parquet") {
      minhashSignaturesFrom(docShingles(s, dir))
    }

  // --------------------------------------------------------- minhash ----

  /** MinHash signature per document as an array column. Shape: ONE
    * groupBy(doc_id) with 16 algebraic min aggregates (whole-stage
    * codegen'd) — no row-explosion of the perm dimension, one shuffle of
    * 16 longs per document, map-side combined. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignaturesFrom(docShingles(s, dir))

  private[operators] def minhashSignaturesFrom(sh: DataFrame,
      numPerms: Int = NumPerms): DataFrame = {
    val mins = (0 until numPerms).map(p =>
      min(permHash(lit(p), col("shash"))).as(s"h$p"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerms).map(p => col(s"h$p")): _*).as("sig"))
  }

  /** LSH candidate pairs: equal band key in any band. Output one row per
    * candidate pair with the estimated Jaccard from full signature
    * agreement. The band join key is the 4-value slice rendered as a
    * string and hashed back to a LONG with the portable md5 prefix — the
    * shuffle carries 8 bytes per row instead of a ~40-char string, and the
    * oracle reproduces the identical hash. (A 28-bit key can collide
    * across distinct bands at scale; a collision only ADDS a candidate
    * pair, which the est_jaccard / exact-verify stages filter — LSH
    * candidates are a superset by construction.) */
  def x2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir).orderBy("doc_a", "doc_b")

  /** (doc_id, sig, band, band_key): one row per (doc, band) with the
    * band's signature slice hashed to an 8-byte join key. Shared by the
    * self-join ([[lshPairs]]) and the cross-corpus join
    * ([[lshPairsAcross]]). */
  private[graft] def bandedSigs(sigArr: DataFrame,
      numPerms: Int = NumPerms, bandSize: Int = BandSize): DataFrame = {
    val nBands = numPerms / bandSize
    sigArr.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * lit(bandSize) + 1, lit(bandSize)),
            x => x.cast("string")))))
        .as(Seq("band", "band_key")))
      // hash AFTER the explode so the md5 kernel stays in whole-stage
      // codegen (inside the transform lambda it would run interpreted)
      .withColumn("band_key", md5Prefix28(col("band_key")))
  }

  private def sigAgreement(a: Column, b: Column, numPerms: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v)) /
      lit(numPerms.toDouble)

  private[operators] def lshPairs(sigArr: DataFrame,
      numPerms: Int = NumPerms, bandSize: Int = BandSize): DataFrame = {
    val banded = bandedSigs(sigArr, numPerms, bandSize)
    val a = banded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        sigAgreement(col("sig_a"), col("sig_b"), numPerms).as("est_jaccard"))
      .distinct()
  }

  /** LSH candidates ACROSS two corpora (no doc_a < doc_b filter — the
    * sides are distinct namespaces): (doc_a from A, doc_b from B,
    * est_jaccard). Per-band buckets stay independent; when one side is
    * benchmark-sized AQE turns the bucket join into a broadcast. */
  private[operators] def lshPairsAcross(sigA: DataFrame, sigB: DataFrame,
      numPerms: Int = NumPerms, bandSize: Int = BandSize): DataFrame = {
    val a = bandedSigs(sigA, numPerms, bandSize)
      .select(col("band"), col("band_key"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = bandedSigs(sigB, numPerms, bandSize)
      .select(col("band"), col("band_key"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_key"))
      .select(col("doc_a"), col("doc_b"),
        sigAgreement(col("sig_a"), col("sig_b"), numPerms).as("est_jaccard"))
      .distinct()
  }

  /** Exact n-gram Jaccard, computed ONLY on LSH candidate pairs (the
    * scalable verify step: |A∩B| via per-doc hash sets carried through the
    * candidate join, never all-pairs). */
  def x4NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // the shared cached shingle set feeds the verification; the cached
    // candidate-pair view feeds the pair list — nothing is recomputed
    val sh = docShingles(s, dir)
    val cand = candidatePairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shash")).as("set"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("set_a"), col("set_b"))) /
          (size(col("set_a")) + size(col("set_b")) -
            size(array_intersect(col("set_a"), col("set_b")))).cast("double"),
          6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-duplicate clusters: connected components over the LSH candidate
    * graph (est_jaccard ≥ 0.5), labels = component-minimum doc_id.
    * Output: (doc_id, cluster_id) for every document with at least one
    * near-duplicate.
    *
    * The edge set is LSH-bounded (≪ n², and ≪ corpus size): when it fits
    * the driver comfortably it is collected and solved with union-find in
    * one pass — the same size-based decision Spark itself makes for
    * broadcast joins. Past the limit, a distributed min-label-propagation
    * loop with pointer jumping takes over (O(log diameter) rounds, each
    * one shuffle over the edges; `localCheckpoint` truncates the logical
    * plan every round — without it the self-join doubles the plan tree
    * per iteration and Catalyst analysis time blows up exponentially). */
  /** Driver-side edge budget. 1M edges ≈ 2M vertices worst case; the
    * primitive-array union-find below costs ~40 bytes/edge — tens of MB on
    * the driver, safely inside default driver heaps (the previous 4M-edge
    * limit with boxed maps approached 1-2 GB). */
  val MaxDriverEdges = 1000000

  def x8DedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir, MaxDriverEdges)

  def dedupClusters(s: SparkSession, dir: String, driverEdgeLimit: Int): DataFrame =
    clustersFromPairs(s, candidatePairs(s, dir), driverEdgeLimit)

  /** Cluster step over an arbitrary (doc_a, doc_b, est_jaccard) candidate
    * frame — shared by the gate query and [[CorpusOps]]. */
  private[operators] def clustersFromPairs(s: SparkSession, cand: DataFrame,
      driverEdgeLimit: Int, threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    // persisted across the size probe and (on overflow) the label-prop
    // takeover, released in finally: both paths compute the edge set once
    // and nothing stays in the session CacheManager past this call —
    // safe because both outputs are decoupled from `pairs` by the time we
    // return (driver path: createDataset of the union-find result;
    // distributed path: an eager localCheckpoint of the final labels)
    val pairs = cand
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val head = // typed collect: specialized (Long, Long) tuples, no Row boxing
        if (driverEdgeLimit > 0)
          pairs.limit(driverEdgeLimit + 1).as[(Long, Long)].collect()
        else Array.empty[(Long, Long)]
      if (driverEdgeLimit > 0 && head.length <= driverEdgeLimit)
        driverUnionFind(s, head)
      else distributedClusters(pairs)
    } finally pairs.unpersist(blocking = false)
  }

  /** Union-find over primitive arrays: open-addressed long→dense-index
    * table, int parent array, path compression, min-doc_id root wins (so
    * the representative IS the component minimum). Zero boxed values. */
  private def driverUnionFind(s: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    val maxIds = math.max(1, edges.length * 2)
    var cap = 16
    while (cap < maxIds * 2) cap <<= 1
    val mask = cap - 1
    val slotKey = new Array[Long](cap)
    val slotIdx = new Array[Int](cap)
    java.util.Arrays.fill(slotIdx, -1)
    val idOf = new Array[Long](maxIds)
    val parent = new Array[Int](maxIds)
    var nIds = 0
    def indexOf(k: Long): Int = {
      var h = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      var r = -1
      while (r == -1) {
        if (slotIdx(h) == -1) {
          slotKey(h) = k; slotIdx(h) = nIds
          idOf(nIds) = k; parent(nIds) = nIds; nIds += 1
          r = slotIdx(h)
        } else if (slotKey(h) == k) r = slotIdx(h)
        else h = (h + 1) & mask
      }
      r
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(indexOf(a))
      val rb = find(indexOf(b))
      if (ra != rb) {
        if (idOf(ra) < idOf(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = Array.tabulate(nIds)(i => (idOf(i), idOf(find(i)))).sortBy(_._1)
    s.createDataset(out.toSeq).toDF("doc_id", "cluster_id")
  }

  private def distributedClusters(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = und.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < 25) {
      // neighbor-min step: labels flow along edges
      val msgs = und.join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nbr_min"))
      val step = labels.join(msgs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // pointer-jumping: label := label(label), doubling propagation
      // distance per round
      val jump = step.select(col("doc_id").as("label"), col("label").as("grand"))
      val next = step.join(jump, Seq("label"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("grand"), col("label"))).as("label"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("label", "prev"), Seq("doc_id"))
        .filter(col("label") =!= col("prev")).count()
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    val out = labels.select(col("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
    und.unpersist(blocking = false)
    out
  }

  /** End-to-end near-dup deduplication — the operation a training pipeline
    * actually runs: keep each cluster's minimum doc_id (== the cluster_id
    * label by construction), drop every other member, pass through all
    * documents with no near-duplicate. Shape: left_anti on the
    * high-cardinality doc_id; NO broadcast hint — the drop list is
    * data-proportional (a heavily duplicated corpus can shed a third of
    * itself), so the safe default is a shuffle anti-join and AQE upgrades
    * it to broadcast whenever the list is actually small. */
  def x9DedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir, MaxDriverEdges)
    val drop = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    documents(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** SimHash (16-bit, word-hash votes): per bit, sign of the sum of ±1
    * votes from each word's portable hash — assembled with algebraic aggs
    * only. */
  def x3Simhash(s: SparkSession, dir: String): DataFrame =
    simhashes(s, dir).orderBy("doc_id")

  /** (doc_id, simhash) unordered — shared by x3 (sorted output) and x10
    * (near-dup banding, which reads it TWICE for the self-join; the
    * snapshot-keyed cache makes that one corpus pass, same as the
    * minhash-signature cut). */
  private def simhashes(s: SparkSession, dir: String): DataFrame =
    SnapshotCache.view(s, "simhash", s"$dir/documents.parquet")(simhashesUncached(s, dir))

  private def simhashesUncached(s: SparkSession, dir: String): DataFrame = {
    val wordsDf = documents(s, dir)
      .select(col("doc_id"), explode(splitWords(col("text"))).as("w"))
      .withColumn("wh", md5Prefix28(col("w")))
    val bitAggs = (0 until 16).map { b =>
      sum(when(shiftright(col("wh"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val perDoc = wordsDf.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until 16).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    perDoc.select(col("doc_id"), sim.as("simhash"))
  }

  /** x10: SimHash near-duplicate pairs at Hamming distance <= 1 — the
    * Google-style simhash dedup (Manku et al., WWW'07): split the
    * fingerprint into k+1 bands so any pair within distance k shares at
    * least one band EXACTLY (pigeonhole — the banding is lossless, unlike
    * minhash LSH's probabilistic recall); bucket-join on (band, byte),
    * verify with a popcount on the XOR. For 16-bit fingerprints and k=1:
    * two 8-bit bands.
    *
    * Scale shape: the fingerprint build is x3's algebraic one-shuffle agg
    * (snapshot-cached — the self-join costs one corpus pass, not two);
    * the candidate join shuffles 2 rows of (band, byte, 8-byte hash) per
    * doc; buckets are independent — no all-pairs stage anywhere. The
    * Hamming verify (xor + bit_count) is codegen arithmetic. Note the
    * 16-bit fingerprint caps join-key cardinality at 2×256 buckets — at
    * cluster scale widen the fingerprint (64-bit) so bucket count, and
    * with it shuffle parallelism, grows; the banding math is unchanged. */
  def x10SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashes(s, dir)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 2).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(255)): _*))
        .as(Seq("band", "byte")))
    val a = banded.select(col("band"), col("byte"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("byte"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "byte"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------- embeddings ----

  /** Deterministic ±1 hyperplane for LSH plane `p` over [[EmbDim]] dims:
    * sign(p,d) = parity of md5("p:d"). Computed ONCE driver-side and baked
    * into the plan as a literal array — the executor-side projection is a
    * literal dot product. */
  def planeSigns(p: Int): Array[Double] =
    (0 until EmbDim).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }.toArray

  /** The same plane as a SQL array literal (for external verification). */
  def planeSignsSql(p: Int): String =
    planeSigns(p).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]::DOUBLE[]")

  private def signProjection(p: Int): Column =
    vecDot(col("v"), typedLit(planeSigns(p).toSeq))

  private[operators] def lshBucket(nPlanes: Int, planeOffset: Int = 0): Column =
    // 0 planes = one bucket holding everything (exact all-pairs mode).
    // planeOffset draws from a DISJOINT slice of the deterministic
    // hyperplane family — band b of an OR-ed multi-band bucketing uses
    // planes [b·n, (b+1)·n), so bands are independent hash functions
    // (the MinHash-banding shape; EmbeddingOps.admitVectors bands doc).
    if (nPlanes <= 0) lit(0L)
    else (0 until nPlanes).map(p =>
      when(signProjection(planeOffset + p) > 0, lit(1L << p)).otherwise(0L))
      .reduce(_ + _)

  /** Brute-force cosine top-k against the vec_id=0 query vector.
    * Plan shape: broadcast 1-row query side, map-side cosine, TakeOrdered
    * top-k (no global sort). This is the exact baseline the LSH variant
    * is measured against. */
  def x1CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"),
      col("embedding").as("v"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(vecDot(col("v"), col("qv")) / (vecNorm(col("v")) * vecNorm(col("qv"))), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }

  /** x16: metadata-filtered exact top-k
    * ([[graft.operators.EmbeddingOps.cosineTopKWhere]]) — the vector-DB
    * "filtered search" serving shape: vec 0's query restricted to
    * label = 3 corpus rows. The label predicate reaches the parquet scan
    * as a pushed filter (spec-held), so the selective filter — not a
    * post-scan pass — bounds the scored set. */
  def x16FilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    graft.operators.EmbeddingOps.cosineTopKWhere(emb, "vec_id", "v", q,
      col("label") === 3 && col("vec_id") =!= 0, k = 10)
  }

  /** LSH-bucketed ANN: bucket = sign bits of 8 deterministic hyperplane
    * projections; candidates share the query's bucket, then exact cosine
    * within. The 100 TB path: bucket id is a shuffle key, each bucket is
    * searched independently. */
  def x5AnnBuckets(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"),
      col("embedding").as("v"))
    val bucketed = emb.withColumn("bucket", lshBucket(8))
    val q = bucketed.filter(col("vec_id") === 0)
      .select(col("bucket"), col("v").as("qv"))
    bucketed.filter(col("vec_id") =!= 0)
      .join(broadcast(q), Seq("bucket"))
      .select(col("vec_id"),
        round(vecDot(col("v"), col("qv")) / (vecNorm(col("v")) * vecNorm(col("qv"))), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Embedding-cosine high-similarity pairs within LSH buckets (per-bucket
    * self-join instead of all-pairs). The norm is materialized once per
    * row BEFORE the join — never recomputed per pair side. */
  def x6EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"),
      col("embedding").as("v"))
    val b = emb.withColumn("bucket", lshBucket(6))
      .withColumn("n", vecNorm(col("v")))
    val l = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("n").as("na"))
    val r = b.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("n").as("nb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") > 0.4)
      .orderBy("id_a", "id_b")
  }

  /** x33: cross-corpus vector admission
    * ([[EmbeddingOps.admitVectors]]) — the embedding analogue of the
    * d27/d42 increment admit: the incoming split (vec_id % 5 == 0)
    * minus every vector whose round-6 cosine against ANY existing
    * vector (the rest) reaches 0.4 (the x6 similarity regime). The
    * batch twin of the streaming
    * [[graft.streaming.DocStreams.vecAdmitArrivals]] loop. */
  def x33VecAdmit(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    EmbeddingOps.admitVectors(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", threshold = 0.4)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** x35: BUCKETED cross-corpus vector admission — x33's split and
    * threshold through the sign-LSH banded candidate path
    * ([[EmbeddingOps.admitVectors]] planes=8, bands=2): a vector is
    * rejected only when a co-bucketed (in EITHER band) existing vector
    * reaches round-6 cosine 0.4. Unlike the spec-held recall
    * invariants, this gate ORACLES the bucketing itself: the DuckDB
    * replay recomputes both bands' bucket ids from the same baked
    * hyperplane sign literals (the x5 oracle machinery) and must
    * hash-match the admit set — including every wide-angle pair the
    * buckets MISS, which is exactly what makes the gate
    * discriminative (at t = 0.4 the banded path admits strictly more
    * than x33's exact sweep). */
  def x35BucketedAdmit(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    EmbeddingOps.admitVectors(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", threshold = 0.4, planes = 8, bands = 2)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** x11: int8 scalar quantization of the embedding column — per-vector
    * min/max affine mapping to [0, 255] (the standard 4× memory cut
    * before ANN serving; the PQ path in [[ProductQuantizer]] builds on
    * the same layout with learned codebooks). Codes come out as a
    * comma-joined string so the oracle diff stays on flat columns.
    *
    * All arithmetic is in double (float32 → double is exact, and every
    * subsequent op is a correctly-rounded IEEE primitive), so DuckDB
    * reproduces each code bit-for-bit. floor() lands on integral values,
    * where Spark's truncating cast and DuckDB's rounding cast agree.
    *
    * Scale shape: a pure map over the scan — zero shuffles; quantized
    * vectors write back columnar and dictionary-encode well. */
  def x11Int8Quantize(s: SparkSession, dir: String): DataFrame =
    quantizeInt8(embeddings(s, dir), "vec_id", "embedding")

  /** x32: contamination CONTAINMENT scoring — d10's binary verdict
    * refined to the fraction of each corpus document's distinct word
    * 3-grams that appear in the benchmark set (the Brown/GPT-3-style
    * contamination report: HOW contaminated, not just whether). The
    * benchmark gram set broadcasts (benchmarks are tiny next to a
    * training corpus); per-doc distinct grams shuffle once on doc_id —
    * already docShingles' partitioning — and the aggregation is
    * co-partitioned. Output: top-20 (doc_id, n_grams, n_hit,
    * containment), containment desc. */
  def x32Contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    val bench = sh.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(col("shash")).distinct()
      .withColumn("_g_hit", lit(1L))
    // per-doc dedup as collect_set on the shingle view's EXISTING doc_id
    // partitioning (docShingles repartitions by doc_id), so neither this
    // aggregation, the explode, the broadcast join nor the final count
    // aggregation adds an exchange — a `(doc_id, shash) distinct` would
    // re-shuffle the whole gram relation twice. The set is document-
    // sized, never corpus-sized.
    sh.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      .groupBy(col("doc_id")).agg(collect_set(col("shash")).as("_g_set"))
      .select(col("doc_id"), explode(col("_g_set")).as("shash"))
      .join(broadcast(bench), Seq("shash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("_g_hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        // n_hit/n_grams is an integer ratio — exact-integer rounding
        // ([[graft.functions.ExactRound]] doc) closes the halfway-grid
        // residue a 2^a·5^b gram count could hit
        graft.functions.ExactRound.ratio(col("n_hit"), col("n_grams"), 6)
          .as("containment"))
      .orderBy(col("containment").desc, col("doc_id").asc)
      .limit(20)
  }

  /** x13: substring-level near-dup pairs over the documents table —
    * [[CorpusOps.fingerprintOverlap]] at k=24 chars, 1/8 sampling,
    * boilerplate cap 50, 3 shared fingerprints minimum (all mirrored
    * exactly by the DuckDB oracle via the portable 28-bit hash). */
  def x13FingerprintOverlap(s: SparkSession, dir: String): DataFrame =
    CorpusOps.fingerprintOverlap(documents(s, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  /** Generic affine int8 quantizer over any (id, vector) frame — the
    * engine half of x11 (internal columns are __-prefixed so user column
    * names cannot collide, the CorpusOps convention). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__qv"))
      .select(col(idCol), col("__qv"),
        array_min(col("__qv")).as("__lo"), array_max(col("__qv")).as("__hi"))
      .select(col(idCol),
        concat_ws(",", transform(col("__qv"), x =>
          when(col("__hi") === col("__lo"), lit(0))
            .otherwise(least(
              floor((x - col("__lo")) * lit(255.0) /
                (col("__hi") - col("__lo"))),
              lit(255.0)))
            .cast("int").cast("string"))).as("qvec"),
        round((col("__hi") - col("__lo")) / lit(255.0), 6).as("scale"),
        round(col("__lo"), 6).as("zero_point"))
      .orderBy(idCol)
}
