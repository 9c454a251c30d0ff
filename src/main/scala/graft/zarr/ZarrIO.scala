package graft.zarr

import java.io.{ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, DeflaterOutputStream, Inflater}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Zarr v2 directory-store metadata + chunk codec (public spec:
  * https://zarr.readthedocs.io/en/stable/spec/v2.html — the storage format
  * of the reference's `zarr_spark.py` chunk readers [recalled, SURVEY.md
  * §2A R1/R2]; the mount was empty so semantics anchor on the published
  * spec). Scope: 2-D arrays, C order, little-endian f4/f8/i2/i4/i8,
  * compressor `zlib` or none — normalized (float) and raw-count (int)
  * expression matrices.
  *
  * All I/O goes through `org.apache.hadoop.fs.FileSystem`, resolved from
  * the path's scheme — a bare `/tmp/x.zarr` hits the local FS exactly as
  * before, while `file://`, `hdfs://` or an object-store scheme (s3a/gs
  * with the connector on the classpath) resolve to their FS impl. The
  * reference read Zarr off GCS [recalled:med]; a 100 TB corpus lives in
  * object storage, so local-only chunk I/O would make the DSv2 a toy.
  */
/** Sharding-codec parameters: inner chunk shape + index layout. */
case class ShardSpec(innerRows: Int, innerCols: Int,
                     indexAtEnd: Boolean = true, indexCrc: Boolean = true)
    extends Serializable

case class ZarrMeta(rows: Long, cols: Int, chunkRows: Int, chunkCols: Int,
                    dtype: String, compressor: Option[String],
                    fillValue: Double,
                    // v3 additions (format 2 stores leave the defaults):
                    // chunk-key separator, and for the sharding codec the
                    // INNER chunk shape — chunkRows/chunkCols then describe
                    // the SHARD (= one stored object = one scan partition)
                    format: Int = 2, sep: String = ".",
                    inner: Option[ShardSpec] = None) {
  require(ZarrIO.BytesPerElem.contains(dtype),
    s"unsupported zarr dtype $dtype " +
      s"(supported: ${ZarrIO.BytesPerElem.keys.mkString(", ")})")
  require(inner.forall(sp =>
    chunkRows % sp.innerRows == 0 && chunkCols % sp.innerCols == 0),
    "sharding: inner chunk shape must divide the shard shape")
  def bytesPerElem: Int = ZarrIO.BytesPerElem(dtype)
  def rowChunkCount: Int = (((rows + chunkRows - 1) / chunkRows)).toInt
  def colChunkCount: Int = (cols + chunkCols - 1) / chunkCols
}

/** Java-serializable Hadoop Configuration wrapper (Configuration is
  * Writable but not Serializable): scan partitions and write closures
  * ship the DRIVER's conf — object-store credentials, custom FS impls —
  * to executor-side chunk I/O instead of hoping executor defaults match. */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object ZarrIO {

  /** Little-endian element widths. Floats are the reference's normalized
    * matrices; ints are what raw scRNA-seq COUNT matrices ship as (10x
    * writes int32) — values surface as exact doubles (i8 beyond 2^53
    * would lose precision; counts never approach it). */
  val BytesPerElem: Map[String, Int] =
    Map("<f4" -> 4, "<f8" -> 8, "<i2" -> 2, "<i4" -> 4, "<i8" -> 8)

  /** Hadoop conf to resolve a FileSystem with: the active session's
    * (credentials, FS impl settings) on the driver; plain defaults as
    * the fallback for paths the default loader can resolve. Executor
    * code paths pass an explicitly shipped conf instead. */
  def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private[zarr] def fsOf(path: String, conf: Configuration): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(conf), p)
  }

  private[zarr] def writeUtf8(fs: FileSystem, p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private[zarr] def readUtf8(fs: FileSystem, p: HPath): String = {
    val st = fs.getFileStatus(p)
    val raw = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, raw) finally in.close()
    new String(raw, "UTF-8")
  }

  /** Parse the store's committed metadata: v2 `.zarray` when present,
    * else v3 `zarr.json` (Zarr3.readMeta). A store with neither
    * surfaces `.zarray`'s FileNotFoundException — the "absent store"
    * signal the DSv2 schema() contract keys on. */
  def readMeta(path: String, conf: Configuration = hadoopConf()): ZarrMeta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (fs, p) = fsOf(path, conf)
    val in =
      try fs.open(new HPath(p, ".zarray"))
      catch { case fnf: java.io.FileNotFoundException =>
        if (fs.exists(new HPath(p, "zarr.json")))
          return Zarr3.readMeta(path, conf)
        throw fnf
      }
    val node = try mapper.readTree(in) finally in.close()
    require(node.get("zarr_format").asInt() == 2, "only zarr v2 supported")
    require(node.get("shape").size() == 2, "only 2-D zarr arrays supported")
    require(node.get("order").asText() == "C", "only C-order zarr supported")
    require(node.get("filters") == null || node.get("filters").isNull,
      "zarr filters not supported")
    val comp = node.get("compressor")
    val compId =
      if (comp == null || comp.isNull) None
      else comp.get("id").asText() match {
        case "zlib" => Some("zlib")
        case other => throw new IllegalArgumentException(
          s"unsupported zarr compressor $other (supported: zlib, null)")
      }
    val fv = node.get("fill_value")
    ZarrMeta(
      rows = node.get("shape").get(0).asLong(),
      cols = node.get("shape").get(1).asInt(),
      chunkRows = node.get("chunks").get(0).asInt(),
      chunkCols = node.get("chunks").get(1).asInt(),
      dtype = node.get("dtype").asText(),
      compressor = compId,
      fillValue = if (fv == null || fv.isNull) 0.0 else fv.asDouble())
  }

  def writeMeta(path: String, meta: ZarrMeta,
                conf: Configuration = hadoopConf()): Unit = {
    if (meta.format == 3) return Zarr3.writeMeta(path, meta, conf)
    val comp = meta.compressor match {
      case Some("zlib") => """{"id":"zlib","level":5}"""
      case _ => "null"
    }
    val json =
      s"""{"zarr_format":2,"shape":[${meta.rows},${meta.cols}],""" +
        s""""chunks":[${meta.chunkRows},${meta.chunkCols}],""" +
        s""""dtype":"${meta.dtype}","compressor":$comp,""" +
        s""""fill_value":${meta.fillValue},"order":"C","filters":null}"""
    val (fs, p) = fsOf(path, conf)
    fs.mkdirs(p)
    writeUtf8(fs, new HPath(p, ".zarray"), json)
  }

  /** Chunk object name for grid cell (i, j): zarr v2 "."-joined indices;
    * v3 default chunk-key encoding prefixes "c" and joins with the
    * configured separator (`c/0/1` subpaths on a directory store). */
  def chunkPath(path: String, meta: ZarrMeta, i: Long, j: Int): HPath =
    if (meta.format == 3) new HPath(path, s"c${meta.sep}$i${meta.sep}$j")
    else new HPath(path, s"$i${meta.sep}$j")

  def chunkPath(path: String, i: Long, j: Int): HPath =
    new HPath(path, s"$i.$j")

  /** Delete one chunk object (false if absent). FS-level delete so
    * sidecar state (e.g. LocalFileSystem checksums) goes with it. */
  def deleteChunk(path: String, i: Long, j: Int,
                  conf: Configuration = hadoopConf()): Boolean =
    fsOf(path, conf)._1.delete(chunkPath(path, i, j), false)

  /** Read + decompress one chunk into doubles (C order, padded to full
    * chunk shape). A MISSING chunk object is legal zarr: it means
    * fill_value everywhere. */
  def readChunk(path: String, meta: ZarrMeta, i: Long, j: Int,
                conf: Configuration = hadoopConf()): Array[Double] = {
    val n = meta.chunkRows * meta.chunkCols
    if (meta.format == 3 && meta.inner.isDefined)
      return Zarr3.readShard(path, meta, i, j, conf)
    val (fs, _) = fsOf(path, conf)
    val cp = chunkPath(path, meta, i, j)
    // one RPC for existence+length on object stores (getFileStatus);
    // chunks are bounded (chunkRows×chunkCols×8 B) so toInt is safe
    val status =
      try fs.getFileStatus(cp)
      catch { case _: java.io.FileNotFoundException =>
        return Array.fill(n)(meta.fillValue) }
    val raw = new Array[Byte](status.getLen.toInt)
    val in = fs.open(cp)
    try in.readFully(0, raw) finally in.close()
    decodeChunkBytes(raw, meta, n)
  }

  /** codec pipeline + dtype decode of one chunk's stored bytes
    * (shared by the v2 path, v3 whole chunks, and v3 inner chunks). */
  private[zarr] def decodeChunkBytes(raw: Array[Byte], meta: ZarrMeta,
                                     n: Int): Array[Double] = {
    val bytes = meta.compressor match {
      case Some("zlib") => inflate(raw, n * meta.bytesPerElem)
      case Some("gzip") => gunzip(raw, n * meta.bytesPerElem)
      case _ => raw
    }
    decodeDoubles(bytes, meta.dtype, n)
  }

  private[zarr] def decodeDoubles(bytes: Array[Byte], dtype: String,
                                  n: Int): Array[Double] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    dtype match {
      case "<f4" =>
        val fb = buf.asFloatBuffer(); var k = 0
        while (k < n) { out(k) = fb.get(k).toDouble; k += 1 }
      case "<f8" =>
        val db = buf.asDoubleBuffer(); var k = 0
        while (k < n) { out(k) = db.get(k); k += 1 }
      case "<i2" =>
        val sb = buf.asShortBuffer(); var k = 0
        while (k < n) { out(k) = sb.get(k).toDouble; k += 1 }
      case "<i4" =>
        val ib = buf.asIntBuffer(); var k = 0
        while (k < n) { out(k) = ib.get(k).toDouble; k += 1 }
      case "<i8" =>
        val lb = buf.asLongBuffer(); var k = 0
        while (k < n) { out(k) = lb.get(k).toDouble; k += 1 }
    }
    out
  }

  /** Compress + write one chunk (values already padded to chunk shape).
    * A sharded v3 meta dispatches to the shard writer — the symmetric
    * twin of readChunk's readShard dispatch, so the DSv2 write path is
    * layout-agnostic. */
  def writeChunk(path: String, meta: ZarrMeta, i: Long, j: Int,
                 values: Array[Double],
                 conf: Configuration = hadoopConf()): Unit = {
    require(values.length == meta.chunkRows * meta.chunkCols,
      s"chunk ($i,$j): ${values.length} values for " +
        s"${meta.chunkRows}x${meta.chunkCols} chunk")
    if (meta.format == 3 && meta.inner.isDefined)
      return Zarr3.writeShard(path, meta, i, j, values, conf)
    val out = encodeChunkBytes(values, meta)
    val (fs, _) = fsOf(path, conf)
    val os = fs.create(chunkPath(path, meta, i, j), true)
    try os.write(out) finally os.close()
  }

  /** dtype encode + codec pipeline of one chunk's values — the inverse
    * of [[decodeChunkBytes]], shared by flat chunks and v3 inner chunks. */
  private[zarr] def encodeChunkBytes(values: Array[Double],
                                     meta: ZarrMeta): Array[Byte] = {
    val buf = ByteBuffer.allocate(values.length * meta.bytesPerElem)
      .order(ByteOrder.LITTLE_ENDIAN)
    // int dtypes validate loudly: v.toShort/.toInt silently WRAP out-of-
    // range values (a 40000 count in <i2 would round-trip as -25536) and
    // floor fractional input — both are data corruption, not narrowing
    def asIntegral(v: Double, lo: Long, hi: Long): Long = {
      require(v == math.rint(v) && !v.isInfinite,
        s"zarr ${meta.dtype}: non-integral value $v")
      // range-check on the double BEFORE toLong (which saturates silently).
      // Long.MaxValue.toDouble rounds UP to 2^63, a value <i8 cannot hold,
      // so the upper bound must be STRICT there (v.toLong.toDouble == v is
      // not a fix: it also round-trips cleanly at exactly 2^63). The
      // narrower dtypes' bounds are exact in double, so inclusive is right.
      val hiOk = if (hi == Long.MaxValue) v < hi.toDouble else v <= hi.toDouble
      require(v >= lo.toDouble && hiOk,
        s"zarr ${meta.dtype}: $v out of range [$lo, $hi]")
      v.toLong
    }
    meta.dtype match {
      case "<f4" => values.foreach(v => buf.putFloat(v.toFloat))
      case "<f8" => values.foreach(buf.putDouble)
      case "<i2" => values.foreach(v =>
        buf.putShort(asIntegral(v, Short.MinValue, Short.MaxValue).toShort))
      case "<i4" => values.foreach(v =>
        buf.putInt(asIntegral(v, Int.MinValue, Int.MaxValue).toInt))
      case "<i8" => values.foreach(v =>
        buf.putLong(asIntegral(v, Long.MinValue, Long.MaxValue)))
    }
    val bytes = buf.array()
    meta.compressor match {
      case Some("zlib") => deflate(bytes)
      case Some("gzip") => gzip(bytes)
      case _ => bytes
    }
  }

  private[zarr] def deflate(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val dos = new DeflaterOutputStream(bos, new Deflater(5))
    dos.write(bytes); dos.close()
    bos.toByteArray
  }

  private[zarr] def gunzip(raw: Array[Byte], expected: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(raw))
    try {
      val out = new Array[Byte](expected)
      var off = 0
      while (off < expected) {
        val n = in.read(out, off, expected - off)
        require(n > 0, s"zarr gzip chunk: truncated at $off/$expected")
        off += n
      }
      out
    } finally in.close()
  }

  private[zarr] def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gos = new java.util.zip.GZIPOutputStream(bos)
    gos.write(bytes); gos.close()
    bos.toByteArray
  }

  private[zarr] def inflate(raw: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(raw)
    val out = new Array[Byte](expected)
    var off = 0
    while (off < expected && !inf.finished()) {
      val n = inf.inflate(out, off, expected - off)
      if (n == 0 && inf.needsInput())
        throw new java.io.IOException("truncated zlib chunk")
      off += n
    }
    inf.end()
    require(off == expected, s"zarr chunk: $off bytes, expected $expected")
    out
  }
}
