package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column surface for training-data pipelines: media payloads
  * are opaque `binary` columns with typed metadata alongside.
  *
  * Decode/transform steps run batch-at-a-time over partitions (the Scala
  * analogue of `mapInPandas`): one decoder instance per partition, rows
  * streamed through it — the shape that amortizes model/codec init at
  * 100 TB. Codecs are PLUGGABLE at the [[ImageResizer]] integration
  * point: the default is a deterministic passthrough (no image/audio
  * libraries are assumed at gate time), and [[imageIoResizer]] is a
  * real JDK-native decode → scale → re-encode on the same point,
  * spec-held to the identical integer-exact dimension contract. The
  * feature-extraction codec remains a deterministic stub; schema,
  * partitioning, batch flow, and metadata handling are real throughout.
  */
object MultimodalOps {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),   // image|audio|video
    StructField("payload", BinaryType, nullable = true), // opaque bytes
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Deterministic synthetic media table derived from the embeddings table
    * (payload = embedding bytes; stands in for real blobs). */
  def syntheticMedia(s: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("media_id"),
        when(col("vec_id") % 3 === 0, "image")
          .when(col("vec_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        to_binary(sha2(concat_ws(",",
          transform(col("embedding"), x => round(x, 4).cast("string"))), 256),
          lit("hex")).as("payload"),
        lit("application/octet-stream").as("mime"),
        (pmod(col("vec_id"), lit(640)) + 32).cast("int").as("width"),
        (pmod(col("vec_id"), lit(480)) + 32).cast("int").as("height"),
        (pmod(col("vec_id"), lit(30000)) + 1000).as("duration_ms"))

  case class MediaFeature(media_id: Long, kind: String, n_bytes: Int,
      feature: Array[Float])

  /** The feature-extraction integration point (the [[ImageResizer]]
    * sibling): `(kind, payload) → feature vector`, produced by a
    * factory invoked ONCE PER PARTITION (codec/model init amortizes
    * over the partition, never per row). */
  type MediaFeaturizer = (String, Array[Byte]) => Array[Float]

  /** STUB featurizer — the default, and what the m1 gate runs: a
    * deterministic 8-float vector from the payload's leading bytes
    * (no image/audio library assumed at gate time). */
  val stubFeaturizer: () => MediaFeaturizer = () => (_, payload) => {
    val n = if (payload == null) 0 else payload.length
    val feat = new Array[Float](8)
    var i = 0
    while (i < math.min(n, 8)) {
      feat(i) = (payload(i) & 0xff) / 255.0f; i += 1
    }
    feat
  }

  /** A REAL image featurizer on the same integration point
    * (JDK-native, headless-safe): decode, then an 8-float descriptor —
    * mean R/G/B over the full image, width/1000, height/1000, and the
    * mean luminance of the left half, right half, and whole image.
    * Deterministic per payload; an undecodable IMAGE payload throws
    * naming the defect (corrupt blobs must surface, not launder);
    * non-image kinds fall back to the stub bytes-derived vector, the
    * realistic mixed-modality batch shape. */
  val imageIoFeaturizer: () => MediaFeaturizer = () => {
    javax.imageio.ImageIO.setUseCache(false)
    val stub = stubFeaturizer()
    (kind, payload) =>
      if (kind != "image") stub(kind, payload)
      else {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        require(img != null,
          "imageIoFeaturizer: payload is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb, ll, lr) = (0.0, 0.0, 0.0, 0.0, 0.0)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val c = img.getRGB(x, y)
            val (r, g, b) =
              ((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)
            sr += r; sg += g; sb += b
            val lum = 0.299 * r + 0.587 * g + 0.114 * b
            if (x < w / 2) ll += lum else lr += lum
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toDouble
        Array(
          (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat,
          (sb / n / 255.0).toFloat, w / 1000.0f, h / 1000.0f,
          (ll / math.max(1.0, (w / 2).toLong * h) / 255.0).toFloat,
          (lr / math.max(1.0, (w - w / 2).toLong * h) / 255.0).toFloat,
          ((0.299 * sr + 0.587 * sg + 0.114 * sb) / n / 255.0).toFloat)
      }
  }

  private def decodeBatch(featurize: () => MediaFeaturizer)(
      rows: Iterator[org.apache.spark.sql.Row]): Iterator[MediaFeature] = {
    // per-partition init happens HERE (codec / model load) — once,
    // not per row
    val f = featurize()
    rows.map { r =>
      val id = r.getLong(0)
      val kind = r.getString(1)
      val payload = r.getAs[Array[Byte]]("payload")
      val n = if (payload == null) 0 else payload.length
      MediaFeature(id, kind, n, f(kind, payload))
    }
  }

  /** Feature extraction over media payloads: partition-wise batch decode
    * (mapPartitions — the mapInPandas analogue). Pass `featurize =
    * MultimodalOps.imageIoFeaturizer` for a real JDK image decode on
    * the same plumbing; the default derives features from bytes. */
  def extractFeatures(media: DataFrame,
      featurize: () => MediaFeaturizer = stubFeaturizer): DataFrame = {
    media.select(col("media_id"), col("kind"), col("payload"))
      .mapPartitions(decodeBatch(featurize))(
        org.apache.spark.sql.Encoders.product[MediaFeature])
      .toDF()
  }

  /** Media-pipeline query: decode features, join metadata, per-kind stats.
    * Deterministic → oracle-able on row counts/bytes. */
  def m1MediaStats(s: SparkSession, dir: String): DataFrame = {
    val media = syntheticMedia(s, dir)
    extractFeatures(media)
      .join(media.select(col("media_id"), col("width"), col("height")), Seq("media_id"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        max(col("width")).as("max_w"), max(col("height")).as("max_h"))
      .orderBy("kind")
  }

  case class ResizedMedia(media_id: Long, kind: String, out_w: Option[Int],
      out_h: Option[Int], payload: Array[Byte])

  /** The REAL-CODEC integration point of [[resize]]: `(payload, outW,
    * outH) → re-encoded payload`, produced by a factory the operator
    * invokes ONCE PER PARTITION (the [[RetrievalOps.scoreWithModel]]
    * convention — codec/plugin init is amortized over the partition,
    * never paid per row). The function itself runs per row on bounded
    * inputs (one payload at a time), so executor memory is bounded by
    * the largest single blob, not a batch of them. */
  type ImageResizer = (Array[Byte], Int, Int) => Array[Byte]

  /** The stub codec: payload passes through untouched (dimension
    * metadata still transforms exactly). The default, and what the m3
    * gate runs — no image library is assumed at gate time. */
  val passthroughResizer: () => ImageResizer = () => (p, _, _) => p

  /** A REAL image decoder on the same integration point, JDK-native
    * (javax.imageio — PNG/JPEG/BMP/GIF ship with the JVM, headless-
    * safe): decode → area-averaging scale to the exact (outW, outH)
    * the operator's integer math chose → PNG re-encode. Spec-held to
    * the gate's integer-exact contract: swapping this in changes ONLY
    * payload bytes, never the dimension histogram. An undecodable
    * payload throws naming the defect — a curation pipeline must
    * surface corrupt blobs, not launder them through as-is. */
  val imageIoResizer: () => ImageResizer = () => {
    // per-partition init: the plugin registry scan happens once here,
    // and the decoder skips its disk-backed scratch cache
    javax.imageio.ImageIO.setUseCache(false)
    (payload, ow, oh) => {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null,
        "imageIoResizer: payload is not a decodable image")
      val out = new java.awt.image.BufferedImage(ow, oh,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(img.getScaledInstance(ow, oh,
        java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null): Unit
      finally g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", baos): Unit
      baos.toByteArray
    }
  }

  /** Fit media into a `box`×`box` bounding box preserving aspect
    * ratio. Integer-exact math (w·box / max(w,h)) so an independent
    * SQL engine reproduces the dimensions bit-for-bit; the payload
    * transform is the pluggable codec step ([[ImageResizer]]) — the
    * codec initializes once per partition and runs only on rows an
    * actual resize touches. Null dimensions ([[mediaSchema]] declares
    * them nullable — e.g. audio) pass through as null. */
  private def resizeBatch(box: Int, codecInit: () => ImageResizer)(
      rows: Iterator[org.apache.spark.sql.Row]): Iterator[ResizedMedia] = {
    // per-partition codec init: once, before the first row
    val codec = codecInit()
    rows.map { r =>
      val id = r.getLong(0)
      val kind = r.getString(1)
      val payload = r.getAs[Array[Byte]]("payload")
      if (r.isNullAt(2) || r.isNullAt(3))
        ResizedMedia(id, kind, None, None, payload)
      else {
        val w = r.getInt(2)
        val h = r.getInt(3)
        val m = math.max(w, h)
        if (m <= box) ResizedMedia(id, kind, Some(w), Some(h), payload)
        else {
          val ow = (w.toLong * box / m).toInt
          val oh = (h.toLong * box / m).toInt
          ResizedMedia(id, kind, Some(ow), Some(oh),
            codec(payload, ow, oh))
        }
      }
    }
  }

  /** Resize step over media payloads: partition-wise batch transform (the
    * mapInPandas analogue; same shape as [[extractFeatures]]). Pass
    * `codec = MultimodalOps.imageIoResizer` for a real JDK decode →
    * scale → re-encode; the default transforms metadata only. */
  def resize(media: DataFrame, box: Int = 256,
      codec: () => ImageResizer = passthroughResizer): DataFrame =
    media.select(col("media_id"), col("kind"), col("width"), col("height"),
        col("payload"))
      .mapPartitions(resizeBatch(box, codec))(
        org.apache.spark.sql.Encoders.product[ResizedMedia])
      .toDF()

  /** Media-pipeline query: resize images into a 256-box, report the
    * dimension histogram (exercises the resize plumbing end-to-end;
    * integer math → exact DuckDB oracle). */
  def m3Resize(s: SparkSession, dir: String): DataFrame =
    resize(syntheticMedia(s, dir).filter(col("kind") === "image"))
      .groupBy(col("out_w"), col("out_h"))
      .agg(count(lit(1)).as("n"),
        min(col("media_id")).as("min_id"))
      .orderBy("out_w", "out_h")

  case class SampledFrame(media_id: Long, frame_idx: Long,
      frame_ts_ms: Long, frame: Array[Byte])

  /** The frame-decode integration point of [[sampleFrames]] (the
    * [[ImageResizer]]/[[MediaFeaturizer]] sibling): `(payload, wanted
    * frame indexes) → one decoded frame per index`, produced by a
    * factory invoked ONCE PER PARTITION. One call covers ALL of a
    * payload's sampled frames, so a real codec opens the container
    * once per blob — never once per frame — and executor memory stays
    * bounded by one payload plus its sampled frames. */
  type FrameSampler = (Array[Byte], Array[Int]) => Array[Array[Byte]]

  /** The stub sampler — the default, and what the m2 gate runs: frame
    * i is a deterministic 16-byte window into the payload at offset
    * (i·16 mod length), wrapped (no video library is assumed at gate
    * time). Null/empty payloads yield empty frames. */
  val stubFrameSampler: () => FrameSampler = () => (payload, idxs) => {
    val n = if (payload == null) 0 else payload.length
    idxs.map { i =>
      if (n == 0) Array.emptyByteArray
      else {
        val out = new Array[Byte](math.min(16, n))
        val off = (i.toLong * 16 % n).toInt
        var j = 0
        while (j < out.length) { out(j) = payload((off + j) % n); j += 1 }
        out
      }
    }
  }

  /** A REAL frame decoder on the same integration point, JDK-native:
    * javax.imageio reads multi-frame GIF animations without any
    * external codec (the one animated container the JDK decodes; real
    * video codecs plug in at the same point). The container opens ONCE
    * per payload; a sampled timestamp past the clip's frame count
    * wraps (frame_idx mod numFrames — a looping animation's
    * deterministic frame at that timestamp); each decoded frame
    * re-encodes as PNG, as [[imageIoResizer]] does. An undecodable or
    * frameless payload throws naming the defect — a curation pipeline
    * must surface corrupt blobs, not launder them through. */
  val imageIoFrameSampler: () => FrameSampler = () => {
    javax.imageio.ImageIO.setUseCache(false)
    (payload, idxs) => {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(
          if (payload == null) Array.emptyByteArray else payload))
      // the stream closes on EVERY exit — including the undecodable-
      // payload throw below, which fires once per corrupt blob and
      // must not leak its stream (memory-cached today, but a file-
      // cached stream SPI would leak a handle per bad payload)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext,
          "imageIoFrameSampler: payload is not a decodable animation")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          require(n > 0,
            "imageIoFrameSampler: payload decodes to zero frames")
          idxs.map { i =>
            val img = reader.read(i % n)
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos): Unit
            baos.toByteArray
          }
        } finally reader.dispose()
      } finally iis.close()
    }
  }

  /** Same integer frame math as the sequence-expression form this
    * replaced: timestamps 0, everyMs, …, ≤ duration_ms inclusive. */
  private def frameBatch(everyMs: Long, samplerInit: () => FrameSampler)(
      rows: Iterator[org.apache.spark.sql.Row]): Iterator[SampledFrame] = {
    // per-partition codec init: once, before the first row
    val sampler = samplerInit()
    rows.flatMap { r =>
      // a null duration has no frame grid (the sequence() form emitted
      // nothing for it too — posexplode of a null array)
      if (r.isNullAt(1)) Iterator.empty
      else {
        val id = r.getLong(0)
        val dur = r.getLong(1)
        val payload = r.getAs[Array[Byte]](2)
        // the sequence(0, dur, everyMs) form this replaced ERRORED on
        // a negative duration (illegal decreasing sequence) and could
        // never overflow Int (sequence caps its length) — preserve
        // both loud behaviors instead of laundering corrupt metadata
        // into a frame grid ((-1/everyMs).toInt + 1 would emit frame 0)
        require(dur >= 0,
          s"sampleFrames: negative duration_ms $dur for media $id")
        val nf = dur / everyMs + 1
        require(nf <= Int.MaxValue,
          s"sampleFrames: duration_ms $dur at $everyMs ms/frame " +
            s"yields $nf frames — past any plausible frame grid")
        val nFrames = nf.toInt
        val idxs = Array.tabulate(nFrames)(identity)
        val frames = sampler(payload, idxs)
        idxs.iterator.map(i =>
          SampledFrame(id, i.toLong, i * everyMs, frames(i)))
      }
    }
  }

  /** Frame sampling over video payloads: one row fans out into its
    * deterministic per-frame rows (media_id, frame_idx, frame_ts_ms,
    * frame bytes) — partition-wise batch decode, the [[extractFeatures]]
    * / [[resize]] shape. Pass `sampler = MultimodalOps
    * .imageIoFrameSampler` for a real JDK multi-frame decode on the
    * same plumbing; the default samples byte offsets. The (frame_idx,
    * frame_ts_ms) grid is pure integer math on duration_ms, so the
    * gate's oracle is codec-independent. */
  def sampleFrames(media: DataFrame, everyMs: Long = 5000,
      sampler: () => FrameSampler = stubFrameSampler): DataFrame =
    media.select(col("media_id"), col("duration_ms"), col("payload"))
      .mapPartitions(frameBatch(everyMs, sampler))(
        org.apache.spark.sql.Encoders.product[SampledFrame])
      .toDF()

  /** Frame-sampling gate: the integer-exact (media_id, frame_idx,
    * frame_ts_ms) grid, served THROUGH the [[sampleFrames]] plumbing
    * (partition-factory decode with the stub codec) — the m1/m3 gate
    * convention: the oracle pins the metadata math, the spec holds the
    * real codec to the same grid. */
  def m2FrameSample(s: SparkSession, dir: String, everyMs: Long = 5000): DataFrame =
    sampleFrames(syntheticMedia(s, dir).filter(col("kind") === "video"),
        everyMs)
      .select(col("media_id"), col("frame_idx"), col("frame_ts_ms"))
      .orderBy("media_id", "frame_idx")
}
