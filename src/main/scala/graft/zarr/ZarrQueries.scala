package graft.zarr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NumFmt
import graft.tables.Tables

/** Zarr write sink (R2) + parquet→zarr converter (R3's shape) + the
  * oracle'd scan queries.
  *
  * The distributed writer mirrors the reference's `write_chunk` pattern
  * [recalled, SURVEY.md §2A R2]: each executor writes the chunk files of
  * its own row band — no driver collect of matrix data. Bands are formed
  * by an equi-shuffle on `id div chunkRows` (one shuffle, same key the
  * read path partitions by). Chunk files land on a filesystem path that
  * must be shared in a real cluster (object store / NFS); local[*] here.
  */
object ZarrSink {

  /** Write (id, vec ARRAY<DOUBLE>) as a zarr array of shape (n, dim) —
    * dtype `<f8` by default, any supported dtype on request (int dtypes
    * for raw-count matrices). ids must be 0..n-1 (the row index — the
    * AnnData X row convention). Single column chunk per band: the
    * distributed writer's unit of work is the row band, matching the
    * read path. */
  def writeMatrix(df: DataFrame, path: String, dim: Int,
                  chunkRows: Int = 128, zlib: Boolean = true,
                  dtype: String = "<f8"): ZarrMeta = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val meta = ZarrMeta(rows = n, cols = dim, chunkRows = chunkRows,
      chunkCols = dim, dtype = dtype,
      compressor = if (zlib) Some("zlib") else None, fillValue = 0.0)
    ZarrIO.writeMeta(path, meta)
    // ship the driver's Hadoop conf into the write closure — executor
    // chunk writes to an object store need its credentials/FS settings
    val sconf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val written = df.select(col("id").cast("long"), col("vec"))
      .as[(Long, Seq[Double])]
      .groupByKey(_._1 / chunkRows)
      .mapGroups { (band: Long, rows: Iterator[(Long, Seq[Double])]) =>
        val buf = Array.fill(chunkRows * dim)(0.0) // fill-value padding
        var count = 0
        rows.foreach { case (id, vec) =>
          val r = (id - band * chunkRows).toInt
          var c = 0
          while (c < dim) { buf(r * dim + c) = vec(c); c += 1 }
          count += 1
        }
        ZarrIO.writeChunk(path, meta, band, 0, buf, sconf.value)
        count
      }
      .reduce(_ + _)
    require(written == n, s"zarr write: $written of $n rows written")
    meta
  }
}

object ZarrQueries {
  type Q = (SparkSession, String) => DataFrame

  /** One-time parquet→zarr conversion of the sf dir's embeddings table
    * (vec_id is 0..n-1 by construction — verified at convert time).
    * Cached per sf dir via Fixtures.cached. */
  def fixture(s: SparkSession, sfDir: String): String =
    graft.tables.Fixtures.cached("zarr", "embeddings.zarr", sfDir) { dir =>
      val emb = Tables.embeddings(s, sfDir)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("vec"))
      val n = emb.count()
      val distinctMax = emb.agg(max(col("id"))).head().getLong(0)
      require(distinctMax == n - 1, s"vec_id not 0..n-1 (n=$n max=$distinctMax)")
      // the DSv2 write path (ZarrWrite): declared ordered distribution,
      // two-phase boundary-band commit, meta-last. Every gate run routes
      // the three oracle'd zarr queries through a store THIS wrote, so
      // the writer is continuously proven against the DuckDB parquet
      // twin (ZarrWriteSpec additionally pins it == ZarrSink.writeMatrix,
      // the R2 imperative band writer, at the read layer)
      emb.select(col("id").as("row_id"), col("vec"))
        .write.format("zarr").option("chunk_rows", 128)
        .mode("overwrite").save(dir.toString)
    }()

  /** Full scan through the zarr DSv2 source; hash-checked against DuckDB
    * reading the parquet TWIN of the same data — proving the chunk
    * read/decompress/assemble path is byte-faithful. float→double cast is
    * exact, so checksums agree at 4dp like q_array_funcs. */
  def zarrScan(s: SparkSession, d: String): DataFrame = {
    val p = fixture(s, d)
    s.read.format("zarr").load(p)
      .select(col("row_id"),
        // + 0.0 collapses IEEE −0.0 to +0.0: a vector summing to a tiny
        // negative that rounds to zero at 4dp otherwise prints "-0.0" in
        // one engine and "0.0" in the other (first seen at sf1)
        NumFmt.roundSigned(aggregate(col("vec"), lit(0.0), (a, x) => a + x), 4)
          .as("checksum"),
        size(col("vec")).as("dim"))
      .orderBy("row_id")
  }

  /** Range scan: the row_id predicate is pushed into the source and
    * prunes row-chunk bands from the plan (ZarrSpec asserts the partition
    * count drops); same oracle twin, WHERE'd identically. */
  def zarrPruned(s: SparkSession, d: String): DataFrame = {
    val p = fixture(s, d)
    s.read.format("zarr").load(p)
      .filter(col("row_id") >= 100 && col("row_id") < 300)
      .select(col("row_id"),
        NumFmt.roundSigned(aggregate(col("vec"), lit(0.0), (a, x) => a + x), 4)
          .as("checksum"))
      .orderBy("row_id")
  }

  /** The reference's full lifecycle in one query: Zarr store → scan →
    * normalize_per_cell → log1p → per-cell checksum, running the SAME
    * fused implementation the parquet route uses
    * (ScQueries.fusedNormalizeLog1p). The oracle computes the pipeline in
    * DuckDB from the parquet twin — a hash match proves preprocessing
    * results are source-format-independent end to end. */
  def zarrPipeline(s: SparkSession, d: String): DataFrame =
    graft.sc.ScQueries.fusedNormalizeLog1p(
      s.read.format("zarr").load(fixture(s, d))
        .select(col("row_id").as("vec_id"), col("vec")),
      absX = abs, firstVal = false)

  /** One-time parquet → zarr V3 SHARDED store conversion (zarr.json,
    * c/i/j keys, sharding_indexed with gzip'd inner chunks and a
    * crc32c-sealed end index) through the DSv2 writer: 128-row shards
    * of 32-row inner chunks, so every read crosses the shard index and
    * multi-inner assembly. */
  def fixtureV3(s: SparkSession, sfDir: String): String =
    graft.tables.Fixtures.cached("zarr3", "embeddings.zarr3", sfDir) { dir =>
      writeShardedV3(Tables.embeddings(s, sfDir)
        .select(col("vec_id").as("row_id"),
          transform(col("embedding"), _.cast("double")).as("vec")),
        dir.toString)
    }()

  /** The v3 fixtures' X layout: 128-row full-width shards of 32-row
    * gzip'd inner chunks, flat at the store root (`commit=rename`). */
  private def writeShardedV3(x: DataFrame, path: String): Unit =
    x.write.format("zarr").option("format", 3)
      .option("chunk_rows", 32).option("shard_rows", 128)
      .option("commit", "rename")
      .mode("overwrite").save(path)

  /** q_zarr_scan's v3 twin: same scan, same DuckDB oracle, the store a
    * v3 SHARDED one — a hash match proves zarr.json parsing, the c/i/j
    * key encoding, the shard index walk (crc32c verified), and gzip'd
    * inner-chunk assembly are all byte-faithful, and that the engine is
    * store-generation-independent. */
  def zarrScanV3(s: SparkSession, d: String): DataFrame = {
    val p = fixtureV3(s, d)
    s.read.format("zarr").load(p)
      .select(col("row_id"),
        // + 0.0 collapses IEEE −0.0 to +0.0: a vector summing to a tiny
        // negative that rounds to zero at 4dp otherwise prints "-0.0" in
        // one engine and "0.0" in the other (first seen at sf1)
        NumFmt.roundSigned(aggregate(col("vec"), lit(0.0), (a, x) => a + x), 4)
          .as("checksum"),
        size(col("vec")).as("dim"))
      .orderBy("row_id")
  }

  /** Metadata-answered aggregate: COUNT/MIN/MAX over row_id with a
    * pushed range collapse to `.zarray` shape arithmetic
    * (ZarrAggScan) — the plan contains ONE no-I/O partition and zero
    * chunk reads (ZarrSpec proves it by deleting every chunk object
    * and re-running). The oracle computes the same aggregate the hard
    * way from the parquet twin, value-proving the shape arithmetic. */
  def zarrAggPushdown(s: SparkSession, d: String): DataFrame = {
    val p = fixture(s, d)
    s.read.format("zarr").load(p)
      .filter(col("row_id") >= 17 && col("row_id") <= 400)
      .agg(count(lit(1)).as("n_rows"),
        min(col("row_id")).as("min_id"),
        max(col("row_id")).as("max_id"))
  }

  /** One-time AnnData-on-zarr GROUP fixture: `.zgroup` root with
    * X (the 2-D matrix, written by the DSv2 sink), obs/label (`<i4`),
    * obs/label_name (`|S8` — the categorical-as-string member),
    * var/col_id (`<i8`), then `.zmetadata` consolidation LAST — the
    * layout the reference's pipelines actually read, one metadata GET
    * to open. */
  def fixtureGroup(s: SparkSession, sfDir: String): String =
    graft.tables.Fixtures.cached("zarrgrp2", "anndata.zarr", sfDir) { dir =>
      writeGroup(s, sfDir, dir.toString, format = 2)
    }()

  /** The SAME logical store as [[fixtureGroup]] on the v3 dialect:
    * per-node `zarr.json` (attributes inline), sharded X, `c/`-keyed
    * gzip 1-D members (strings as raw-bits), inline consolidated
    * metadata on the root LAST. */
  def fixtureGroupV3(s: SparkSession, sfDir: String): String =
    graft.tables.Fixtures.cached("zarrgrp3", "anndata_v3.zarr", sfDir) { dir =>
      writeGroup(s, sfDir, dir.toString, format = 3)
    }()

  private def writeGroup(s: SparkSession, sfDir: String, g: String,
                         format: Int): Unit = {
    val emb = Tables.embeddings(s, sfDir)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"),
        col("label"))
    val dim = emb.select(size(col("vec"))).limit(1).head().getInt(0)
    val nLabels = emb.agg(max(col("label"))).head.getInt(0) + 1
    // flat spec-standard layout (`commit=rename`), not the versioned
    // store: an AnnData group is read by EXTERNAL zarr readers, which
    // expect X's metadata at the member root — and consolidation then
    // carries exactly the spec keys
    val x = emb.select(col("id").as("row_id"), col("vec"))
    if (format == 3) writeShardedV3(x, s"$g/X")
    else x.write.format("zarr").option("chunk_rows", 128)
      .option("commit", "rename")
      .mode("overwrite").save(s"$g/X")
    ZarrGroup.write1(emb.select(col("id"), col("label").as("value")),
      s"$g/obs/label", chunk = 100, dtype = "<i4", format = format)
    ZarrGroup.write1(
      emb.select(col("id"),
        concat(lit("lab"), col("label")).as("value")),
      s"$g/obs/label_name", chunk = 100, dtype = "|S8", format = format)
    // AnnData categorical encoding: codes (int, -1 = NA) + categories
    // (string dictionary) under one member sub-group with the
    // encoding-type attr
    ZarrGroup.write1(emb.select(col("id"), col("label").as("value")),
      s"$g/obs/cell_type/codes", chunk = 100, dtype = "<i4", format = format)
    ZarrGroup.write1(
      s.range(nLabels).select(col("id"),
        concat(lit("ct"), col("id")).as("value")),
      s"$g/obs/cell_type/categories", chunk = 16, dtype = "|S8",
      format = format)
    ZarrGroup.write1(
      s.range(dim).select(col("id"), col("id").as("value")),
      s"$g/var/col_id", chunk = 32, dtype = "<i8", format = format)
    ZarrGroup.writeGroupMarker(g, format = format)
    ZarrGroup.writeGroupMarker(s"$g/obs", format = format)
    ZarrGroup.writeGroupMarker(s"$g/obs/cell_type",
      Some("""{"encoding-type":"categorical","ordered":false}"""), format)
    ZarrGroup.writeGroupMarker(s"$g/var", format = format)
    ZarrGroup.consolidate(g)
  }

  /** AnnData-group read: X scanned through the unchanged DSv2 source
    * (member arrays ARE plain zarr arrays), obs/var annotation columns
    * through the consolidated-first 1-D reader, joined on the row index
    * — per-label cell counts + checksums, n_vars from the var member.
    * The obs joins key on the same row index the X bands are laid out
    * by — at scale a co-keyed sort-merge join, never a collect. Oracle
    * recomputes everything from the parquet twin, so a hash match
    * proves group layout, consolidated metadata, 1-D decode (int AND
    * string), and the X chunk path agree with ground truth
    * end-to-end. */
  def zarrAnndata(s: SparkSession, d: String): DataFrame =
    anndataRollup(s, fixtureGroup(s, d))

  /** `q_zarr_anndata_v3`: the v3-dialect twin of [[zarrAnndata]] —
    * same members, same rollup, `zarr.json` metadata + inline
    * consolidation + raw-bits strings + sharded X. Shares
    * q_zarr_anndata's oracle text by design: the two spec generations
    * must be result-indistinguishable. */
  def zarrAnndataV3(s: SparkSession, d: String): DataFrame =
    anndataRollup(s, fixtureGroupV3(s, d))

  /** The shared per-label rollup behind the v2 and v3 AnnData-group
    * queries — one plan over either dialect's store (the member reads
    * detect the dialect), so the two formats must be
    * result-indistinguishable (they share oracle text by design). */
  private def anndataRollup(s: SparkSession, g: String): DataFrame = {
    val x = s.read.format("zarr").load(s"$g/X")
      .select(col("row_id"),
        round(aggregate(col("vec"), lit(0.0), (a, b) => a + b) + lit(1e-6), 4)
          .as("cell_sum"))
    val lab = ZarrGroup.readMember1(s, g, "obs/label")
      .select(col("idx").as("row_id"), col("value").as("label"))
    val name = ZarrGroup.readMember1(s, g, "obs/label_name")
      .select(col("idx").as("row_id"), col("value").as("label_name"))
    val ct = ZarrGroup.readCategorical(s, g, "obs/cell_type")
      .select(col("idx").as("row_id"), col("value").as("cell_type"))
    val nVars = ZarrGroup.readMember1(s, g, "var/col_id")
      .agg(count(lit(1)).as("n_vars"))
    x.join(lab, "row_id").join(name, "row_id").join(ct, "row_id")
      .groupBy("label", "label_name", "cell_type")
      .agg(count(lit(1)).as("n_cells"),
        round(sum("cell_sum") + lit(1e-6), 4).as("checksum"))
      .crossJoin(broadcast(nVars))
      .orderBy("label")
  }

  val queries: Map[String, Q] = Map(
    "q_zarr_scan"     -> zarrScan _,
    "q_zarr_scan_v3"  -> zarrScanV3 _,
    "q_zarr_pruned"   -> zarrPruned _,
    "q_zarr_pipeline" -> zarrPipeline _,
    "q_zarr_agg_pushdown" -> zarrAggPushdown _,
    "q_zarr_anndata"  -> zarrAnndata _,
    "q_zarr_anndata_v3" -> zarrAnndataV3 _,
  )

  private val zarrScanOracle =
    """SELECT CAST(vec_id AS BIGINT) AS row_id,
              round(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE))), 4) + 0.0 AS checksum,
              CAST(len(embedding) AS INT) AS dim
       FROM embeddings ORDER BY row_id"""

  val oracle: Map[String, String] = Map(
    "q_zarr_anndata" ->
      """WITH cell AS (SELECT CAST(label AS BIGINT) AS label,
                              'lab' || CAST(label AS VARCHAR) AS label_name,
                              'ct' || CAST(label AS VARCHAR) AS cell_type,
                              round(list_sum(list_transform(embedding,
                                    x -> CAST(x AS DOUBLE))) + 1e-6, 4)
                                AS cell_sum
                       FROM embeddings)
         SELECT label, label_name, cell_type,
                CAST(count(*) AS BIGINT) AS n_cells,
                round(sum(cell_sum) + 1e-6, 4) AS checksum,
                (SELECT CAST(max(len(embedding)) AS BIGINT)
                 FROM embeddings) AS n_vars
         FROM cell GROUP BY label, label_name, cell_type
         ORDER BY label""",
    // identical oracle text by design: the v2 and v3 group stores hold
    // the same logical AnnData and must be result-indistinguishable
    "q_zarr_anndata_v3" ->
      """WITH cell AS (SELECT CAST(label AS BIGINT) AS label,
                              'lab' || CAST(label AS VARCHAR) AS label_name,
                              'ct' || CAST(label AS VARCHAR) AS cell_type,
                              round(list_sum(list_transform(embedding,
                                    x -> CAST(x AS DOUBLE))) + 1e-6, 4)
                                AS cell_sum
                       FROM embeddings)
         SELECT label, label_name, cell_type,
                CAST(count(*) AS BIGINT) AS n_cells,
                round(sum(cell_sum) + 1e-6, 4) AS checksum,
                (SELECT CAST(max(len(embedding)) AS BIGINT)
                 FROM embeddings) AS n_vars
         FROM cell GROUP BY label, label_name, cell_type
         ORDER BY label""",
    "q_zarr_scan" -> zarrScanOracle,
    // identical oracle text by design: v2 and v3 stores of the same
    // data must be indistinguishable at the result layer
    "q_zarr_scan_v3" -> zarrScanOracle,
    "q_zarr_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(min(vec_id) AS BIGINT) AS min_id,
                CAST(max(vec_id) AS BIGINT) AS max_id
         FROM embeddings WHERE vec_id >= 17 AND vec_id <= 400""",
    "q_zarr_pruned" ->
      """SELECT CAST(vec_id AS BIGINT) AS row_id,
                round(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE))), 4) + 0.0 AS checksum
         FROM embeddings WHERE vec_id >= 100 AND vec_id < 300
         ORDER BY row_id""",
    // same pipeline as q_sc_normalize_log1p's oracle, vec from the parquet
    // twin of the zarr store
    "q_zarr_pipeline" ->
      """WITH c AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                           list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE))) AS v
                    FROM embeddings),
         sc AS (SELECT vec_id, v,
                       CASE WHEN list_sum(v) = 0 THEN 1.0
                            ELSE 100.0 / list_sum(v) END AS s FROM c),
         n AS (SELECT vec_id,
                      list_transform(v, x -> ln(1.0 + x * s)) AS y FROM sc)
         SELECT vec_id, round(list_sum(y), 4) AS row_checksum
         FROM n ORDER BY vec_id""",
  )
}
