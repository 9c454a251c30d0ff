package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** Zarr v3 store support (public core spec v3.0 + the registered
  * `sharding_indexed` codec spec): `zarr.json` array metadata, the
  * default chunk-key encoding (`c/i/j`), the `bytes`(+`gzip`) codec
  * chain, and the sharding codec's read and write paths — one stored
  * object per SHARD holding a C-ordered run of gzip'd inner chunks plus
  * a binary index of (offset, nbytes) u64 pairs (missing chunk =
  * 2^64-1 twice), optionally crc32c-sealed, at the start or end of the
  * shard.
  *
  * Everything normalizes into [[ZarrMeta]], so the DSv2 source
  * (ZarrDataSource), its pruning, and the band readers work on v3
  * stores unchanged: the shard is the scan partition — exactly the
  * granularity you want on an object store, where the v3 ecosystem is
  * migrating precisely to cut object-count (one GET per shard serves
  * many inner chunks).
  *
  * The ecosystem is mid-migration v2→v3; the reference era was v2
  * [SURVEY.md §2A R1], so v3 is a forward-looking read path: scans and
  * pipelines run identically over either store generation (the
  * q_zarr_scan_v3 gate query shares q_zarr_scan's DuckDB oracle).
  * [[ZarrGroup]]'s 1-D members use the same data-type table, array
  * document and codec chain. */
object Zarr3 {

  /** v3 `data_type` names ↔ the internal v2-style dtype codes. */
  val DataTypes: Map[String, String] = Map(
    "float32" -> "<f4", "float64" -> "<f8",
    "int16" -> "<i2", "int32" -> "<i4", "int64" -> "<i8")
  private val DataTypeNames = DataTypes.map(_.swap)

  /** Internal dtype code → v3 `data_type`. Fixed-width bytes `|S{w}`
    * become the core raw-bits type `r{8w}`: v3 has no `|S`, and raw
    * bits is the spec-legal fixed-width byte carrier. */
  def dataTypeName(dtype: String): String =
    if (dtype.startsWith("|S")) s"r${dtype.drop(2).toInt * 8}"
    else DataTypeNames.getOrElse(dtype, throw new IllegalArgumentException(
      s"unsupported v3 dtype $dtype"))

  /** v3 `data_type` → internal dtype code (raw bits → `|S`). */
  def dtypeOf(dataType: String): String =
    if (dataType.matches("r[0-9]+")) {
      val bits = dataType.drop(1).toInt
      require(bits % 8 == 0, s"raw-bits dtype $dataType not byte-aligned")
      s"|S${bits / 8}"
    } else DataTypes.getOrElse(dataType, throw new IllegalArgumentException(
      s"unsupported v3 data_type $dataType"))

  /** The checks every v3 array document must pass: an array node of
    * `ndim` dimensions on the regular chunk grid with the default
    * chunk-key encoding. Returns the chunk-key separator. */
  private[zarr] def checkArray(node: JsonNode, ndim: Int): String = {
    require(node.get("zarr_format").asInt() == 3, "zarr.json: zarr_format != 3")
    require(node.get("node_type").asText() == "array",
      "zarr.json: not an array node")
    require(node.get("shape").size() == ndim, s"not a $ndim-D zarr array")
    require(node.get("chunk_grid").get("name").asText() == "regular",
      "only the regular chunk grid is supported")
    val enc = node.get("chunk_key_encoding")
    require(enc == null || enc.get("name").asText() == "default",
      "only the default chunk-key encoding is supported")
    if (enc == null || enc.get("configuration") == null) "/"
    else Option(enc.get("configuration").get("separator"))
      .map(_.asText()).getOrElse("/")
  }

  /** Parse `<path>/zarr.json` into a ZarrMeta (format = 3). */
  def readMeta(path: String, conf: Configuration): ZarrMeta = {
    val (fs, p) = ZarrIO.fsOf(path, conf)
    val node = new ObjectMapper().readTree(
      ZarrIO.readUtf8(fs, new HPath(p, "zarr.json")))
    val sep = checkArray(node, 2)
    val cshape = node.get("chunk_grid").get("configuration").get("chunk_shape")
    val fv = node.get("fill_value")
    // codec chain: either [bytes (+gzip)] or [sharding_indexed{...}]
    val (compressor, inner) = parseCodecs(node.get("codecs"))
    ZarrMeta(
      rows = node.get("shape").get(0).asLong(),
      cols = node.get("shape").get(1).asInt(),
      chunkRows = cshape.get(0).asInt(),
      chunkCols = cshape.get(1).asInt(),
      dtype = dtypeOf(node.get("data_type").asText()), compressor = compressor,
      fillValue = if (fv == null || fv.isNull) 0.0 else fv.asDouble(),
      format = 3, sep = sep, inner = inner)
  }

  private[zarr] def parseCodecs(codecs: JsonNode)
      : (Option[String], Option[ShardSpec]) = {
    require(codecs != null && codecs.size() >= 1, "v3 array needs a codec chain")
    val names = (0 until codecs.size()).map(codecs.get(_).get("name").asText())
    if (names.head == "sharding_indexed") {
      require(codecs.size() == 1, "sharding must be the only outer codec")
      val cfg = codecs.get(0).get("configuration")
      val ish = cfg.get("chunk_shape")
      val (innerComp, innerShard) = parseCodecs(cfg.get("codecs"))
      require(innerShard.isEmpty, "nested sharding unsupported")
      val idxCodecs = cfg.get("index_codecs")
      val idxNames = (0 until idxCodecs.size())
        .map(idxCodecs.get(_).get("name").asText())
      require(idxNames.headOption.contains("bytes"),
        s"index_codecs $idxNames unsupported (bytes [+ crc32c])")
      val crc = idxNames.drop(1) match {
        case Seq() => false
        case Seq("crc32c") => true
        case other => sys.error(s"index_codecs tail $other unsupported")
      }
      val atEnd = Option(cfg.get("index_location"))
        .map(_.asText()).getOrElse("end") == "end"
      (innerComp, Some(ShardSpec(ish.get(0).asInt(), ish.get(1).asInt(),
        indexAtEnd = atEnd, indexCrc = crc)))
    } else {
      require(names.head == "bytes", s"first codec ${names.head} must be bytes")
      val bytesCfg = codecs.get(0).get("configuration")
      require(bytesCfg == null ||
        Option(bytesCfg.get("endian")).forall(_.asText() == "little"),
        "big-endian bytes codec unsupported")
      names.drop(1) match {
        case Seq() => (None, None)
        case Seq("gzip") => (Some("gzip"), None)
        case other => sys.error(s"codec tail $other unsupported (gzip only)")
      }
    }
  }

  // ------------------------------------------------------------- shards --
  private val Missing = -1L // 0xFFFF...FF — the spec's absent-chunk marker

  /** Read one SHARD (grid cell i,j of the outer chunk grid) and
    * assemble its inner chunks into the full shard-shaped double array.
    * Absent shard object, or absent inner chunks inside a present
    * shard, fill with fill_value. One GET for the index (tail/head
    * range on a real object store; here a bounded file read) + one per
    * present inner chunk. */
  def readShard(path: String, meta: ZarrMeta, i: Long, j: Int,
                conf: Configuration): Array[Double] = {
    val sp = meta.inner.get
    val n = meta.chunkRows * meta.chunkCols
    val fs = new HPath(path).getFileSystem(conf)
    val cp = ZarrIO.chunkPath(path, meta, i, j)
    val status =
      try fs.getFileStatus(cp)
      catch { case _: java.io.FileNotFoundException =>
        return Array.fill(n)(meta.fillValue) }
    val raw = new Array[Byte](status.getLen.toInt)
    val in = fs.open(cp)
    try in.readFully(0, raw) finally in.close()
    val gridR = meta.chunkRows / sp.innerRows
    val gridC = meta.chunkCols / sp.innerCols
    val nInner = gridR * gridC
    val idxSize = nInner * 16 + (if (sp.indexCrc) 4 else 0)
    require(raw.length >= idxSize, s"shard ($i,$j): smaller than its index")
    val idxOff = if (sp.indexAtEnd) raw.length - idxSize else 0
    if (sp.indexCrc) {
      val crc = new java.util.zip.CRC32C()
      crc.update(raw, idxOff, nInner * 16)
      val stored = ByteBuffer.wrap(raw, idxOff + nInner * 16, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(stored == crc.getValue.toInt,
        s"shard ($i,$j): index crc32c mismatch")
    }
    // absolute gets on a wrapped buffer index from the ARRAY start, so
    // the index offset must be added explicitly
    val idx = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val out = Array.fill(n)(meta.fillValue)
    val innerN = sp.innerRows * sp.innerCols
    val innerMeta = meta.copy(chunkRows = sp.innerRows,
      chunkCols = sp.innerCols, inner = None)
    var k = 0
    while (k < nInner) {
      val off = idx.getLong(idxOff + k * 16)
      val len = idx.getLong(idxOff + k * 16 + 8)
      if (off != Missing || len != Missing) {
        require(off >= 0 && len >= 0 && off + len <= raw.length,
          s"shard ($i,$j) inner $k: bad extent ($off,$len)")
        val stored = java.util.Arrays.copyOfRange(
          raw, off.toInt, (off + len).toInt)
        val vals = ZarrIO.decodeChunkBytes(stored, innerMeta, innerN)
        // place the inner chunk (C order within the shard)
        val ir = k / gridC; val ic = k % gridC
        var r = 0
        while (r < sp.innerRows) {
          var c = 0
          while (c < sp.innerCols) {
            out((ir * sp.innerRows + r) * meta.chunkCols +
              ic * sp.innerCols + c) = vals(r * sp.innerCols + c)
            c += 1
          }
          r += 1
        }
      }
      k += 1
    }
    out
  }

  // ------------------------------------------------------------ writing --
  /** The `bytes`(+`gzip`) codec chain of an unsharded array (or of a
    * shard's inner chunks). */
  private[zarr] def codecsJson(compressor: Option[String]): String =
    compressor match {
      case Some("gzip") =>
        """[{"name":"bytes","configuration":{"endian":"little"}},""" +
          """{"name":"gzip","configuration":{"level":5}}]"""
      case None =>
        """[{"name":"bytes","configuration":{"endian":"little"}}]"""
      case other => sys.error(s"v3 writer: unsupported compressor $other")
    }

  /** A v3 array node's `zarr.json` document. */
  private[zarr] def arrayJson(shape: Seq[Long], chunkShape: Seq[Int],
                              dtype: String, sep: String, fill: String,
                              codecs: String): String =
    s"""{"zarr_format":3,"node_type":"array",""" +
      s""""shape":[${shape.mkString(",")}],"data_type":"${dataTypeName(dtype)}",""" +
      s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${chunkShape.mkString(",")}]}},""" +
      s""""chunk_key_encoding":{"name":"default","configuration":{"separator":"$sep"}},""" +
      s""""fill_value":$fill,"codecs":$codecs}"""

  /** `<path>/zarr.json` for the given meta (sharded when inner set). */
  def writeMeta(path: String, meta: ZarrMeta, conf: Configuration): Unit = {
    require(meta.format == 3)
    val innerCodecs = codecsJson(meta.compressor)
    val codecs = meta.inner match {
      case Some(sp) =>
        // the WRITER only produces the end+crc32c layout; a ShardSpec
        // asking for anything else must fail here, not round-trip
        // corrupted (readShard honors the flags, so a mismatch between
        // what was asked and what was written shifts every index read)
        require(sp.indexAtEnd && sp.indexCrc,
          "v3 writer emits index_location=end with crc32c only — " +
            s"got $sp; use the default ShardSpec flags")
        s"""[{"name":"sharding_indexed","configuration":{""" +
          s""""chunk_shape":[${sp.innerRows},${sp.innerCols}],""" +
          s""""codecs":$innerCodecs,""" +
          s""""index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],""" +
          s""""index_location":"end"}}]"""
      case None => innerCodecs
    }
    val (fs, p) = ZarrIO.fsOf(path, conf)
    fs.mkdirs(p)
    ZarrIO.writeUtf8(fs, new HPath(p, "zarr.json"),
      arrayJson(Seq(meta.rows, meta.cols), Seq(meta.chunkRows, meta.chunkCols),
        meta.dtype, meta.sep, meta.fillValue.toString, codecs))
  }

  /** Write one shard: inner chunks C-ordered (each independently
    * encoded through the codec chain), index (+crc32c) at the end.
    * `values` is the full shard-shaped double array. */
  def writeShard(path: String, meta: ZarrMeta, i: Long, j: Int,
                 values: Array[Double], conf: Configuration): Unit = {
    val sp = meta.inner.get
    require(sp.indexAtEnd && sp.indexCrc,
      s"v3 shard writer emits index_location=end with crc32c only — got $sp")
    require(values.length == meta.chunkRows * meta.chunkCols)
    val gridR = meta.chunkRows / sp.innerRows
    val gridC = meta.chunkCols / sp.innerCols
    val innerMeta = meta.copy(chunkRows = sp.innerRows,
      chunkCols = sp.innerCols, inner = None)
    val body = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(gridR * gridC * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    for (ir <- 0 until gridR; ic <- 0 until gridC) {
      val inner = new Array[Double](sp.innerRows * sp.innerCols)
      var r = 0
      while (r < sp.innerRows) {
        var c = 0
        while (c < sp.innerCols) {
          inner(r * sp.innerCols + c) =
            values((ir * sp.innerRows + r) * meta.chunkCols +
              ic * sp.innerCols + c)
          c += 1
        }
        r += 1
      }
      val enc = ZarrIO.encodeChunkBytes(inner, innerMeta)
      index.putLong(body.size().toLong)
      index.putLong(enc.length.toLong)
      body.write(enc)
    }
    val idxBytes = index.array()
    val crc = new java.util.zip.CRC32C()
    crc.update(idxBytes)
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).array()
    val fs = new HPath(path).getFileSystem(conf)
    val os = fs.create(ZarrIO.chunkPath(path, meta, i, j), true)
    try { os.write(body.toByteArray); os.write(idxBytes); os.write(tail) }
    finally os.close()
  }
}
