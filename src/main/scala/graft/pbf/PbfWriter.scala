package graft.pbf

import java.util.zip.Deflater

/** OSM PBF sink — the encoding twin of [[PbfDecoder]] (a capability the
  * reference lacks: it only reads PBF). Elements are written as zlib'd
  * PrimitiveBlocks of up to `blockSize` same-kind elements (DenseNodes for
  * nodes), each with its own string table, behind an OSMHeader blob.
  *
  * Two entry points:
  *  - [[write]]: stream an element iterator into one .pbf (driver-side;
  *    test-file generation, extract repacking).
  *  - [[sinkPartitioned]]: distributed sink — each partition writes its own
  *    self-contained part-NNNNN.osm.pbf (the multi-file layout the scan
  *    already reads back; same shape as a parquet directory).
  */
object PbfWriter {

  val DefaultBlockSize = 8000

  def write(elements: Iterator[OsmElement], path: String,
      blockSize: Int = DefaultBlockSize): Long =
    write(elements, path, blockSize, defaultConf())

  private def defaultConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def write(elements: Iterator[OsmElement], path: String, blockSize: Int,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val out = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 20)
    try {
      writeBlob(out, "OSMHeader", headerBlock())
      var n = 0L
      // consecutive same-kind runs chunked to blockSize per PrimitiveBlock
      val it = elements.buffered
      val buf = new scala.collection.mutable.ArrayBuffer[OsmElement](blockSize)
      while (it.hasNext) {
        buf.clear()
        val kind = it.head.kind
        while (it.hasNext && it.head.kind == kind && buf.length < blockSize) {
          buf += it.next()
        }
        writeBlob(out, "OSMData", primitiveBlock(buf.toSeq))
        n += buf.length
      }
      n
    } finally out.close()
  }

  /** Distributed PBF sink: one self-contained file per partition. Sort or
    * repartition upstream to control file sizes; elements of different
    * kinds may share a partition (they land in separate groups/blocks).
    *
    * Task-retry safety: each attempt writes to an attempt-suffixed
    * in-progress name and renames into place when its stream is closed, so
    * a retried/speculative attempt never interleaves bytes with a live
    * one; readers only ever see complete part files. Filesystem comes from
    * the session's Hadoop conf (hdfs/s3a credentials respected). */
  def sinkPartitioned(elements: org.apache.spark.sql.Dataset[OsmElement],
      dir: String, blockSize: Int = DefaultBlockSize): Long = {
    val spark = elements.sparkSession
    val sessionConf = spark.sessionState.newHadoopConf()
    // Configuration isn't serializable from user code — ship its entries
    val confEntries = {
      val it = sessionConf.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val confB = spark.sparkContext.broadcast(confEntries)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(sessionConf).mkdirs(p)
    import elements.sparkSession.implicits._
    elements.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val tc = org.apache.spark.TaskContext.get()
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confB.value.foreach { case (k, v) => conf.set(k, v) }
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
        val finalPath = new org.apache.hadoop.fs.Path(
          dir, f"part-${tc.partitionId()}%05d.osm.pbf")
        val tmpPath = new org.apache.hadoop.fs.Path(
          dir, f".part-${tc.partitionId()}%05d.osm.pbf.${tc.taskAttemptId()}.inprogress")
        val n = write(it, tmpPath.toString, blockSize, conf)
        fs.delete(finalPath, false) // last attempt wins
        if (!fs.rename(tmpPath, finalPath))
          throw new java.io.IOException(s"pbf sink: rename $tmpPath -> $finalPath failed")
        Iterator.single(n)
      }
    }.collect().sum
  }

  /** Adapt the scan's row shape (tags as a map) back to [[OsmElement]] —
    * tag order is not semantic; sorted by key for deterministic output. */
  def fromRows(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.Dataset[OsmElement] = {
    import df.sparkSession.implicits._
    df.map { r =>
      val tags = Option(r.getAs[scala.collection.Map[String, String]]("tags"))
        .map(_.toArray.sortBy(_._1)).orNull
      OsmElement(
        r.getAs[String]("kind"), r.getAs[Long]("id"),
        if (tags != null && tags.isEmpty) null else tags,
        Option(r.getAs[scala.collection.Seq[Long]]("refs")).map(_.toArray).orNull,
        Option(r.getAs[scala.collection.Seq[String]]("ref_types")).map(_.toArray).orNull,
        Option(r.getAs[scala.collection.Seq[String]]("ref_roles")).map(_.toArray).orNull,
        Option(r.getAs[java.lang.Double]("lat")).map(_.doubleValue).getOrElse(Double.NaN),
        Option(r.getAs[java.lang.Double]("lon")).map(_.doubleValue).getOrElse(Double.NaN))
    }
  }

  /** `nFiles` OVERLAPPING replicated extracts of `basePbf` under `dir`
    * — the multi-extract test/profile corpus (OsmMultiExtractSpec,
    * PLANS.md "Multi-extract conversion throughput"; ONE builder so the
    * correctness spec and the
    * timed profile cannot silently measure different workloads):
    * replica i offsets ids/refs by i·10^11 and shifts lon by 0.05·i (a
    * different bbox per replica, each self-contained; replica 0 IS the
    * original), and file i carries replica i AND replica (i+1)%nFiles —
    * every replica sits in exactly two files, so a merged scan sees
    * each element twice and the J3 dedup must drop exactly half.
    * Returns (paths, total elements written incl. the overlap). */
  def writeOverlappingReplicas(spark: org.apache.spark.sql.SparkSession,
      basePbf: String, nFiles: Int, dir: String): (Seq[String], Long) = {
    require(nFiles >= 2, s"need >= 2 files for overlap, got $nFiles")
    val base = fromRows(spark.read.format("osmpbf").load(basePbf)).collect()
    def replica(i: Int): Iterator[OsmElement] = {
      val off = i.toLong * 100000000000L
      base.iterator.map { e =>
        e.copy(id = e.id + off,
          refs = if (e.refs == null) null else e.refs.map(_ + off),
          lon = if (e.lon.isNaN) e.lon else e.lon + 0.05 * i)
      }
    }
    val paths = (0 until nFiles).map { i =>
      val p = s"$dir/extract_$i.osm.pbf"
      write(replica(i) ++ replica((i + 1) % nFiles), p): Unit
      p
    }
    (paths, base.length.toLong * 2 * nFiles)
  }

  // ------------------------------------------------------------ framing --

  /** BlobHeader(type=1, datasize=3) behind a 4-byte BE length, then the
    * Blob (raw_size=2, zlib_data=3). */
  private def writeBlob(out: java.io.OutputStream, blobType: String,
      payload: Array[Byte]): Unit = {
    val blob = new ProtoWriter(payload.length / 2 + 64)
    blob.writeVarintField(2, payload.length)
    blob.writeBytes(3, deflate(payload))
    val blobBytes = blob.toBytes
    val header = new ProtoWriter(64)
    header.writeString(1, blobType)
    header.writeVarintField(3, blobBytes.length)
    val headerBytes = header.toBytes
    out.write(Array[Byte](
      (headerBytes.length >>> 24).toByte, (headerBytes.length >>> 16).toByte,
      (headerBytes.length >>> 8).toByte, headerBytes.length.toByte))
    out.write(headerBytes)
    out.write(blobBytes)
  }

  private def deflate(payload: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(payload)
    d.finish()
    // grow on demand: zlib output can EXCEED the input for
    // incompressible payloads (bound ≈ len + len/4096 + 13)
    var buf = new Array[Byte](payload.length + 64)
    var n = 0
    while (!d.finished()) {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      n += d.deflate(buf, n, buf.length - n)
    }
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** HeaderBlock: required_features (field 4). */
  private def headerBlock(): Array[Byte] = {
    val w = new ProtoWriter(128)
    w.writeString(4, "OsmSchema-V0.6")
    w.writeString(4, "DenseNodes")
    w.toBytes
  }

  // ---------------------------------------------------- PrimitiveBlock --

  private val Granularity = 100L // default; coord = 1e-9 * granularity * v

  private def quantize(deg: Double): Long = Math.round(deg * 1e7)

  private final class StringTable {
    // index 0 must be the empty string per the spec AND doubles as the
    // DenseNodes key/value stream delimiter — so a REAL empty string (a
    // tag key/value or role that is "") must get its own index > 0, or it
    // would terminate the node's kv list and corrupt the framing of every
    // node after it
    private val table = new scala.collection.mutable.ArrayBuffer[String]()
    private val idx = new java.util.HashMap[String, Integer]()
    table += ""
    private var emptyIdx = -1
    def id(s: String): Long =
      if (s.isEmpty) {
        if (emptyIdx == -1) { emptyIdx = table.length; table += "" }
        emptyIdx.toLong
      } else {
        val existing = idx.get(s)
        if (existing != null) existing.longValue()
        else { val i = table.length; idx.put(s, i); table += s; i.toLong }
      }
    def bytes: Array[Byte] = {
      val w = new ProtoWriter(1 << 12)
      table.foreach(s => w.writeString(1, s))
      w.toBytes
    }
  }

  private def primitiveBlock(elems: Seq[OsmElement]): Array[Byte] = {
    val st = new StringTable
    val groups = elems.groupBy(_.kind)
    // groups encoded after the string table is fully populated, but the
    // block requires stringtable first — build group bytes, then assemble
    val groupBytes = Seq(PbfDecoder.KindNode, PbfDecoder.KindWay,
      PbfDecoder.KindRelation).flatMap { kind =>
      groups.get(kind).map {
        case ns if kind == PbfDecoder.KindNode => denseNodes(ns, st)
        case ws if kind == PbfDecoder.KindWay => ways(ws, st)
        case rs => relationsGroup(rs, st)
      }
    }
    val block = new ProtoWriter(1 << 16)
    block.writeBytes(1, st.bytes)
    groupBytes.foreach(g => block.writeBytes(2, g))
    block.writeVarintField(17, Granularity)
    block.toBytes
  }

  private def tagIds(st: StringTable,
      tags: Array[(String, String)]): (Array[Long], Array[Long]) =
    if (tags == null || tags.isEmpty) (Array.emptyLongArray, Array.emptyLongArray)
    else (tags.map(t => st.id(t._1)), tags.map(t => st.id(t._2)))

  private def denseNodes(ns: Seq[OsmElement], st: StringTable): Array[Byte] = {
    val dense = new ProtoWriter(ns.length * 8 + 64)
    dense.writePackedDeltaSVarints(1, ns.map(_.id).toArray)
    dense.writePackedDeltaSVarints(8, ns.map(n => quantize(n.lat)).toArray)
    dense.writePackedDeltaSVarints(9, ns.map(n => quantize(n.lon)).toArray)
    val kv = new scala.collection.mutable.ArrayBuffer[Long](ns.length * 3)
    ns.foreach { n =>
      if (n.tags != null) n.tags.foreach { case (k, v) => kv += st.id(k); kv += st.id(v) }
      kv += 0L
    }
    dense.writePackedVarints(10, kv.toArray)
    val g = new ProtoWriter(dense.size + 16)
    g.writeMessage(2, dense)
    g.toBytes
  }

  private def ways(ws: Seq[OsmElement], st: StringTable): Array[Byte] = {
    val g = new ProtoWriter(1 << 14)
    ws.foreach { w =>
      val m = new ProtoWriter(256)
      m.writeVarintField(1, w.id)
      val (ks, vs) = tagIds(st, w.tags)
      if (ks.nonEmpty) { m.writePackedVarints(2, ks); m.writePackedVarints(3, vs) }
      m.writePackedDeltaSVarints(8, if (w.refs == null) Array.emptyLongArray else w.refs)
      g.writeMessage(3, m)
    }
    g.toBytes
  }

  private def relationsGroup(rs: Seq[OsmElement], st: StringTable): Array[Byte] = {
    val memberTypeId = Map(PbfDecoder.KindNode -> 0L, PbfDecoder.KindWay -> 1L,
      PbfDecoder.KindRelation -> 2L)
    val g = new ProtoWriter(1 << 14)
    // validate caller-supplied member types BEFORE any bytes are written:
    // a typo'd kind silently encoded as node would surface as a corrupted
    // member type far from the caller's bug
    rs.foreach { r =>
      Option(r.refTypes).foreach(_.foreach { t =>
        require(t == null || memberTypeId.contains(t),
          s"relation ${r.id}: unknown member type '$t' " +
            s"(expected ${memberTypeId.keys.mkString("/")} or null)")
      })
    }
    rs.foreach { r =>
      val m = new ProtoWriter(256)
      m.writeVarintField(1, r.id)
      val (ks, vs) = tagIds(st, r.tags)
      if (ks.nonEmpty) { m.writePackedVarints(2, ks); m.writePackedVarints(3, vs) }
      val memids = if (r.refs == null) Array.emptyLongArray else r.refs
      if (memids.nonEmpty) {
        // decoder maps empty role -> null; writer maps null -> ""
        val roles = Option(r.refRoles).getOrElse(Array.fill[String](memids.length)(null))
        m.writePackedVarints(8, roles.map(x => st.id(if (x == null) "" else x)))
        m.writePackedDeltaSVarints(9, memids)
        val types = Option(r.refTypes).getOrElse(Array.fill(memids.length)(PbfDecoder.KindNode))
        // unknown/null entries in a user-built refTypes array default to
        // node, matching the null-array fallback above — never throw after
        // bytes have already been written to the stream
        m.writePackedVarints(10, types.map(t => memberTypeId.getOrElse(t, 0L)))
      }
      g.writeMessage(4, m)
    }
    g.toBytes
  }
}
