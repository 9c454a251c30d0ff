package graft.sc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.zarr.ZarrGroup

/** The scanpy-shaped handle a reference user lands on: an AnnData —
  * X the (id, vec) cell×gene matrix, obs the per-cell annotation frame,
  * vars the per-gene one — backed by distributed DataFrames and stored
  * as a zarr GROUP ([[graft.zarr.ZarrGroup]]). `readZarr → pp ops →
  * writeZarr` is the reference's whole lifecycle in one fluent chain:
  *
  * {{{
  * val ad = AnnData.readZarr(spark, "gs://bucket/atlas.zarr")
  * ad.filterCells(minGenes = 200, tau = 0.0)
  *   .normalizePerCell(Some(1e4)).log1p()
  *   .writeZarr("gs://bucket/atlas_pp.zarr")
  * }}}
  *
  * Design rules: every op is the SAME ScMatrix declarative plan the
  * oracle'd queries run (no second implementation to drift); obs rides
  * along by id (filter ops semi-join it, annotate ops add columns —
  * scanpy's `adata.obs["n_genes"]` convention); nothing ever collects
  * the matrix. Write-side ids are re-sequenced to the contiguous
  * 0..n-1 zarr row domain by an order-preserving distributed reindex
  * (range-bucket + per-bucket offsets + keyed row_number — never one
  * global window partition). */
final case class AnnData(x: DataFrame, obs: DataFrame, vars: DataFrame,
                         uns: Seq[String] = Nil,
                         layers: Map[String, DataFrame] = Map.empty) {

  /** scanpy `pp.filter_cells`: keep cells with >= minGenes entries
    * above tau; annotates obs with the n_genes column (the scanpy
    * side-effect) and keeps obs AND every layer aligned to the
    * surviving cells (scanpy subsets `adata.layers` along obs too). */
  def filterCells(minGenes: Int, tau: Double): AnnData = {
    val fx = ScMatrix.filterCells(x, minGenes, tau)
    val newObs = obs.join(fx.select(col("id"), col("n_genes")), "id")
    val keep = fx.select(col("id"))
    AnnData(fx.drop("n_genes"), newObs, vars,
      uns :+ s"filter_cells(min_genes=$minGenes,tau=$tau)",
      layers.map { case (n, df) => n -> df.join(keep, Seq("id"), "left_semi") })
  }

  /** scanpy `pp.normalize_per_cell` (fixed target, or exact-median when
    * None). Row-local: obs/vars untouched. */
  def normalizePerCell(target: Option[Double]): AnnData =
    copy(x = ScMatrix.normalizePerCell(x, target),
      uns = uns :+ s"normalize_per_cell(target=${target.getOrElse("median")})")

  /** scanpy `pp.log1p`. */
  def log1p(): AnnData = copy(x = ScMatrix.log1p(x), uns = uns :+ "log1p")

  /** scanpy `pp.scale` (z-score, clipped). */
  def scale(maxValue: Double): AnnData =
    copy(x = ScMatrix.scaleZ(x, maxValue),
      uns = uns :+ s"scale(max_value=$maxValue)")

  /** elementwise |x| — the counts view over signed source data. */
  def absX(): AnnData =
    copy(x = x.withColumn("vec", transform(col("vec"), v => abs(v))),
      uns = uns :+ "abs")

  /** scanpy `pp.recipe_zheng17`. vars carries the surviving genes'
    * ORIGINAL positions (scanpy keeps `adata.var` filtered, not
    * renumbered): row id = the new compact column index, value = the
    * input gene id it came from. */
  def recipeZheng17(nTopGenes: Int): AnnData = {
    // the recipe re-selects the gene axis; layer matrices are aligned
    // per-gene, and silently carrying stale-width layers would corrupt
    // downstream reads — reject loudly (scanpy subsets layers in-place;
    // a caller who needs that applies the vars trail to each layer)
    require(layers.isEmpty,
      "recipeZheng17 changes the gene axis; drop or re-select layers first")
    val (r, genes) = ScMatrix.recipeZheng17WithGenes(x, nTopGenes)
    val newVars = genes.select(
      (row_number().over(Window.orderBy(col("pos"))) - 1)
        .cast("long").as("id"),
      col("pos").cast("long").as("value"))
    AnnData(r, obs, newVars,
      uns :+ s"recipe_zheng17(n_top_genes=$nTopGenes)")
  }

  /** Persist as an AnnData zarr group: X (flat spec-standard layout so
    * external zarr readers open it), one 1-D member per obs column
    * (dtype inferred: int->`<i4`, long->`<i8`, double->`<f8`,
    * string->`|S` at the observed max width), var/col_id, `.zmetadata`
    * consolidated LAST. Cell ids are re-sequenced to 0..n-1
    * order-preservingly; obs follows through the same mapping. */
  def writeZarr(path: String, chunkRows: Int = 128,
                sparse: Boolean = false): Unit = {
    val s = x.sparkSession
    // ids + map are consumed by EVERY artifact below (X, each obs
    // member batch, every layer) and their lineage contains the whole
    // preprocessing chain — persist both so the pp chain executes once
    // for the obs side instead of once per artifact (r13; these are
    // 1–2 BIGINTs per cell, nothing like the ARRAY<DOUBLE> matrix whose
    // caching measured slower in r12)
    val ids = x.select(col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val map = AnnData.reindexMap(ids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val x2 = x.join(map, "id").select(col("new_id").as("row_id"), col("vec"))
    if (sparse) {
      AnnData.writeCsrX(x2.select(col("row_id").as("id"), col("vec")),
        s"$path/X", v => v =!= 0.0)
      ZarrGroup.writeGroupMarker(s"$path/X")
    } else
      x2.write.format("zarr").option("chunk_rows", chunkRows)
        .option("commit", "rename").mode("overwrite").save(s"$path/X")
    // every obs column in ONE batched member write (one count + one
    // shuffle — the lifecycle queries used to pay one Spark job per
    // member); string widths for all |S columns come from one agg job
    val obsCols = obs.schema.fields.filter(_.name != "id")
    val obs2 = obs.join(map, "id")
      .select(col("new_id").as("id") +: obsCols.map(f => col(f.name)): _*)
    val strCols = obsCols.filter(_.dataType == StringType).map(_.name)
    val widths: Map[String, Int] =
      if (strCols.isEmpty) Map.empty
      else {
        val r = obs2.agg(
          coalesce(max(octet_length(col(strCols.head))), lit(1)),
          strCols.tail.map(c =>
            coalesce(max(octet_length(col(c))), lit(1))): _*).head
        strCols.zipWithIndex.map { case (c, i) => c -> r.getInt(i) }.toMap
      }
    val memberSpecs = obsCols.map { f =>
      f.dataType match {
        case IntegerType => f.name -> "<i4"
        case LongType => f.name -> "<i8"
        case DoubleType => f.name -> "<f8"
        case StringType => f.name -> s"|S${widths(f.name)}"
        case other => throw new IllegalArgumentException(
          s"obs column ${f.name}: unsupported zarr dtype for $other")
      }
    }.toSeq
    ZarrGroup.writeMembers(obs2, s"$path/obs", memberSpecs, chunk = chunkRows)
    ZarrGroup.write1(vars.select(col("id"), col("value")),
      s"$path/var/col_id", chunk = chunkRows, dtype = "<i8")
    // layers: alternative value matrices on the same (obs × var) axes —
    // each rides the same DSv2 sink as X, through the same id reindex
    // so every layer stays row-aligned with X in the store
    layers.foreach { case (name, df) =>
      df.join(map, "id").select(col("new_id").as("row_id"), col("vec"))
        .write.format("zarr").option("chunk_rows", chunkRows)
        .option("commit", "rename").mode("overwrite")
        .save(s"$path/layers/$name")
    }
    if (layers.nonEmpty) ZarrGroup.writeGroupMarker(s"$path/layers")
    map.unpersist(blocking = false)
    ids.unpersist(blocking = false)
    ZarrGroup.writeGroupMarker(path)
    ZarrGroup.writeGroupMarker(s"$path/obs")
    ZarrGroup.writeGroupMarker(s"$path/var")
    // uns: the pipeline provenance trail as root attrs (scanpy's
    // adata.uns["log1p"]-style run metadata) — jackson-built so any
    // future descriptor content is JSON-safe
    if (uns.nonEmpty) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val top = m.createObjectNode()
      val arr = top.putArray("graft_pipeline")
      uns.foreach(arr.add)
      ZarrGroup.writeAttrs(path, m.writeValueAsString(top))
    }
    ZarrGroup.consolidate(path)
  }
}

object AnnData {

  /** Open a CONSOLIDATED AnnData zarr group: X through the DSv2 source,
    * every `obs/…` member as an obs column (categorical sub-groups —
    * codes + categories — decoded through the dictionary), `var/…`
    * members as vars columns. Member discovery is the ONE `.zmetadata`
    * GET ([[ZarrGroup.members]]); un-consolidated stores fail loudly
    * there. */
  def readZarr(spark: SparkSession, path: String): AnnData = {
    val ms = ZarrGroup.members(path)
    // layout transparency: the X member may be a dense zarr array or an
    // AnnData sparse encoding — dispatch on the consolidated attrs (no
    // extra GET), densify the sparse forms through the COO scatter so
    // the facade's ops see one shape either way
    val xAttrs = ZarrGroup.consolidated(path).flatMap(_.get("X/.zattrs"))
    val xEnc = xAttrs.flatMap(a =>
      Option(a.get("encoding-type")).map(_.asText()))
    val x = xEnc match {
      case Some(enc @ ("csr_matrix" | "csc_matrix")) =>
        val shapeNode = xAttrs.get.get("shape")
        val (n, dim) = (shapeNode.get(0).asLong(), shapeNode.get(1).asInt())
        val coo = (if (enc == "csr_matrix") readCsrX(spark, path)
                   else readCscX(spark, path))
          .select(col("id"), col("gene").cast("int").as("pos"),
            col("value").as("val"))
        ScSparse.toDense(coo, dim, spark.range(n).toDF("id"))
      case _ =>
        spark.read.format("zarr").load(s"$path/X")
          .select(col("row_id").as("id"), col("vec"))
    }
    def columnsUnder(prefix: String): Seq[(String, DataFrame)] = {
      val names = ms.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      val (catParts, plain) = names.partition(_.contains("/"))
      val cats = catParts.map(_.split("/")(0)).distinct.map { c =>
        require(catParts.contains(s"$c/codes") && catParts.contains(s"$c/categories"),
          s"member $prefix$c: sub-group is not a categorical (codes+categories)")
        c -> ZarrGroup.readCategorical(spark, path, s"$prefix$c")
      }
      plain.map(n => n -> ZarrGroup.readMember1(spark, path, s"$prefix$n")) ++ cats
    }
    def frameOf(cols: Seq[(String, DataFrame)], fallback: DataFrame): DataFrame =
      cols.foldLeft(Option.empty[DataFrame]) { case (acc, (n, df)) =>
        val c = df.select(col("idx").as("id"), col("value").as(n))
        Some(acc.fold(c)(_.join(c, "id")))
      }.getOrElse(fallback)
    val obs = frameOf(columnsUnder("obs/"), x.select(col("id")))
    val vars = frameOf(columnsUnder("var/"),
      spark.emptyDataFrame.withColumn("id", lit(0L)))
    // uns provenance trail rides the root attrs, if a prior writeZarr
    // recorded one
    val uns = ZarrGroup.consolidated(path).flatMap(_.get(".zattrs"))
      .flatMap(a => Option(a.get("graft_pipeline")))
      .map(arr => (0 until arr.size()).map(arr.get(_).asText()))
      .getOrElse(Nil)
    // layers: every 2-D member under layers/ opens through the DSv2
    // source, lazily (a layer a query never touches costs nothing)
    val layerNames = ms.filter(_.startsWith("layers/"))
      .map(_.stripPrefix("layers/")).filterNot(_.contains("/"))
    val layers = layerNames.map { n =>
      n -> spark.read.format("zarr").load(s"$path/layers/$n")
        .select(col("row_id").as("id"), col("vec"))
    }.toMap
    AnnData(x, obs,
      // normalize the single-member var/col_id shape back to (id, value)
      if (vars.columns.contains("col_id"))
        vars.select(col("id"), col("col_id").as("value"))
      else vars,
      uns, layers)
  }

  /** Order-preserving contiguous re-sequencing of a unique-id column:
    * (id) -> (id, new_id) with new_id = rank of id in 0..n-1. Two-pass
    * distributed prefix sum — range buckets on the id value (monotone
    * for |id| < 2^53; quantile boundaries would be the skew-proof
    * upgrade for adversarial id distributions), per-bucket counts
    * cumsum'd on a bucket-count-sized frame, then a KEYED row_number
    * inside each bucket. Never a single global window partition. */
  private[sc] def reindexMap(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val st = ids.agg(min(col("id")).as("lo"), max(col("id")).as("hi"),
      count(lit(1)).as("n")).head
    if (st.getLong(2) == 0L)
      return ids.select(col("id"), col("id").as("new_id")).limit(0)
    val (lo, hi) = (st.getLong(0), st.getLong(1))
    // the double-based bucket function is only order-preserving for
    // |id| < 2^53 (and hi-lo+1 must not overflow) — out-of-contract id
    // domains (hash-derived int64) must fail loudly, not reorder rows
    // (ADVICE r9)
    require(math.abs(lo) < (1L << 53) && math.abs(hi) < (1L << 53),
      s"reindexMap: id domain [$lo, $hi] outside ±2^53 — the range-bucket " +
        "rank is not order-preserving there; pre-rank such ids explicitly")
    val nBuckets = math.max(1, s.sparkContext.defaultParallelism * 4)
    val span = math.max(1.0, (hi - lo + 1).toDouble)
    val bucketed = ids.withColumn("b",
      least(lit(nBuckets - 1),
        floor((col("id") - lit(lo)).cast("double") * nBuckets / span)
          .cast("int")))
    // per-bucket counts are a <= nBuckets-row frame: cumsum them on the
    // driver instead of a one-partition window over a SECOND execution
    // of the ids plan — the returned map's plan then references `ids`
    // exactly once, so each materialization runs the upstream once
    // (r13; before this, one map materialization executed the upstream
    // pp/ingest chain twice — offsets branch + join branch)
    val cnts = bucketed.groupBy("b").agg(count(lit(1)).as("cnt"))
      .orderBy("b").collect()
    var acc = 0L
    val offRows = cnts.map { r =>
      val o = (r.getInt(0), acc); acc += r.getLong(1); o
    }.toSeq
    val offsets = offRows.toDF("b", "off")
    bucketed.join(broadcast(offsets), "b")
      .withColumn("new_id",
        col("off") + row_number().over(Window.partitionBy("b").orderBy("id")) - 1)
      .select(col("id"), col("new_id"))
  }

  /** Inclusive distributed prefix sum over a CONTIGUOUS 0..m-1 id
    * domain: (id, v) → (id, cum = Σ v[id' ≤ id]). Same two-pass shape
    * as [[reindexMap]]: fixed-width range buckets (exact integer `div`
    * — the domain is contiguous, no fp monotonicity caveat), bucket
    * sums cumsum'd on a bucket-count-sized frame, keyed running sum
    * inside each bucket. */
  private[sc] def prefixSumContig(df: DataFrame, m: Long): DataFrame = {
    val s = df.sparkSession
    val nBuckets = math.max(1L, s.sparkContext.defaultParallelism * 4L)
    val w = math.max(1L, (m + nBuckets - 1) / nBuckets)
    val bucketed = df.withColumn("b", expr(s"id div $w"))
    val offsets = bucketed.groupBy("b").agg(sum("v").as("bs"))
      .withColumn("off", coalesce(sum("bs").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("b"), col("off"))
    bucketed.join(broadcast(offsets), "b")
      .withColumn("cum", col("off") + sum("v").over(
        Window.partitionBy("b").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("cum"))
  }

  /** The shared compressed-axis writer behind CSR and CSC: elements
    * (major, minor, v) with major in 0..nMajor-1, stored as
    * `{data, indices, indptr}` members. The global element ordering
    * (major-major, minor-minor over kept elements) is [[reindexMap]]
    * over the composite key major·nMinor+minor — an order-preserving
    * distributed rank, never a sort-collect; indptr is
    * [[prefixSumContig]] over per-major counts (empty majors included
    * via the 0-filled range join, so the start ladder carries
    * forward). */
  private def writeCompressed(elems: DataFrame, nMajor: Long, nMinor: Long,
                              path: String, kind: String,
                              shape: (Long, Long), chunk: Int): Unit = {
    val s = elems.sparkSession
    val keyed = elems.withColumn("k", col("major") * nMinor + col("minor"))
    // the rank's input is one BIGINT per element; persisting it keeps
    // reindexMap's two driver actions (domain stats + bucket counts)
    // and the map plan itself from re-running the element explode
    // chain (r13 — same rationale as writeZarr's ids persist)
    val keyIds = keyed.select(col("k").as("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emap = reindexMap(keyIds)
      .select(col("id").as("k"), col("new_id").as("eidx"))
    // the rank map has ONE ROW PER ELEMENT — it must never be broadcast,
    // but the static planner's size estimate for it compounds through the
    // window+join chain and can collapse under the broadcast threshold
    // (observed at 650M elements: Spark planned a BroadcastHashJoin and
    // died at the 512M-row broadcast cap; at 130M it "succeeded" by
    // broadcasting a ~109M-row table). MERGE pins the element⋈rank join
    // to sort-merge — both sides are element-sized at scale, and at
    // fixture scale the extra sort is noise.
    val indexed = keyed.join(emap.hint("merge"), "k")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // data + indices share the element-rank row domain, so they ride
      // ONE batched member write (one count + one band shuffle) instead
      // of two write1 jobs — the same batching writeZarr's obs members
      // got in r10, applied to the compressed pair (r12)
      ZarrGroup.writeMembers(
        indexed.select(col("eidx").as("id"), col("v").cast("double").as("data"),
          col("minor").cast("long").as("indices")),
        path, Seq("data" -> "<f8", "indices" -> "<i8"), chunk = chunk)
      // indptr[m] = Σ counts of majors < m, one entry per m in
      // 0..nMajor — deltas land at idx major+1 so the inclusive cumsum
      // yields the exclusive start ladder
      val deltas = indexed.groupBy(col("major")).agg(count(lit(1)).as("c"))
        .select((col("major") + 1).as("id"), col("c"))
      val indptr = prefixSumContig(
        s.range(nMajor + 1).toDF("id").join(deltas, Seq("id"), "left")
          .select(col("id"), coalesce(col("c"), lit(0L)).as("v")),
        nMajor + 1)
      ZarrGroup.write1(indptr.select(col("id"), col("cum").as("value")),
        s"$path/indptr", chunk = chunk, dtype = "<i8")
    } finally {
      indexed.unpersist(blocking = false)
      keyIds.unpersist(blocking = false)
    }
    ZarrGroup.writeAttrs(path,
      s"""{"encoding-type":"$kind","encoding-version":"0.1.0","shape":[${shape._1},${shape._2}]}""")
  }

  /** Write a dense (id, vec) matrix as AnnData's SPARSE CSR zarr
    * encoding — member group `X/{data, indices, indptr}` + the
    * `encoding-type: csr_matrix` attrs — keeping only elements where
    * `keep(value)` holds. This is how the reference-scale matrix
    * (1.3M×28k cells at ~2% density) is actually stored: 50× fewer
    * bytes than dense chunks. ids must be 0..n-1. */
  def writeCsrX(x: DataFrame, path: String,
                keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                chunk: Int = 4096): Unit = {
    val n = x.count()
    val dim = x.select(size(col("vec"))).limit(1).head.getInt(0)
    val elems = x.select(col("id"), posexplode(col("vec")).as(Seq("gene", "v")))
      .filter(keep(col("v")))
      .select(col("id").as("major"), col("gene").as("minor"), col("v"))
    writeCompressed(elems, n, dim, path, "csr_matrix", (n, dim), chunk)
  }

  /** COO-direct CSR write — the path reference-scale matrices must
    * take: `elems` is (id, gene, value) with ids already 0..n-1; the
    * dense (id, vec) form is never materialized (at 1.3M×28k that
    * would be 3.6e10 cells). Same distributed compressed-axis writer
    * as [[writeCsrX]]. */
  def writeCsrCoo(elems: DataFrame, n: Long, dim: Long, path: String,
                  chunk: Int = 4096): Unit =
    writeCompressed(
      elems.select(col("id").cast("long").as("major"),
        col("gene").cast("long").as("minor"), col("value").as("v")),
      n, dim, path, "csr_matrix", (n, dim), chunk)

  /** The CSC twin — gene-major storage (fast per-gene access; the
    * layout h5ad's CSC ingest reads, now writable on zarr too). */
  def writeCscX(x: DataFrame, path: String,
                keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                chunk: Int = 4096): Unit = {
    val n = x.count()
    val dim = x.select(size(col("vec"))).limit(1).head.getInt(0)
    val elems = x.select(col("id"), posexplode(col("vec")).as(Seq("gene", "v")))
      .filter(keep(col("v")))
      .select(col("gene").cast("long").as("major"), col("id").as("minor"), col("v"))
    writeCompressed(elems, dim, n, path, "csc_matrix", (n, dim), chunk)
  }

  /** The reader behind both [[readCsrX]] and [[readCscX]]: a
    * compressed-axis member group (`data`, `indices`, `indptr`) as
    * distributed (major, minor, v) — majors are cells in CSR and genes
    * in CSC. Elements reach their major through the grid-cell interval
    * join described at [[readCsrX]]. */
  private def readCompressed(spark: SparkSession, groupPath: String,
                             member: String, cellWidth: Long): DataFrame = {
    val data = ZarrGroup.readMember1(spark, groupPath, s"$member/data")
      .select(col("idx").as("eidx"), col("value").as("v"))
    val indices = ZarrGroup.readMember1(spark, groupPath, s"$member/indices")
      .select(col("idx").as("eidx"), col("value").as("minor"))
    val indptr = ZarrGroup.readMember1(spark, groupPath, s"$member/indptr")
    val majors = indptr.select(col("idx").as("major"), col("value").as("s"))
      .join(indptr.select((col("idx") - 1).as("major"), col("value").as("e")),
        "major")
      .filter(col("e") > col("s"))
    val mcells = majors.withColumn("cell",
      explode(sequence(expr(s"s div $cellWidth"), expr(s"(e - 1) div $cellWidth"))))
    data.join(indices, "eidx")
      .withColumn("cell", expr(s"eidx div $cellWidth"))
      .join(mcells, "cell")
      .filter(col("eidx") >= col("s") && col("eidx") < col("e"))
      .select(col("major"), col("minor"), col("v"))
  }

  /** Read a CSR X member group back as distributed COO (id, gene,
    * value). Major assignment — element e belongs to major m iff
    * indptr[m] ≤ e < indptr[m+1] — is the contiguous-interval join,
    * done grid-cell style (the q_join_interval shape): major spans
    * explode into fixed cells of the element-index domain, elements
    * join their one cell, the span predicate filters. One equi-join,
    * no window over the full element domain, no driver indptr. */
  def readCsrX(spark: SparkSession, groupPath: String, member: String = "X",
               cellWidth: Long = 4096): DataFrame =
    readCompressed(spark, groupPath, member, cellWidth)
      .select(col("major").as("id"), col("minor").as("gene"),
        col("v").as("value"))

  /** The CSC twin: majors are genes, minors are cell ids — same COO
    * output shape as [[readCsrX]] so downstream code is
    * layout-independent. */
  def readCscX(spark: SparkSession, groupPath: String, member: String = "X",
               cellWidth: Long = 4096): DataFrame =
    readCompressed(spark, groupPath, member, cellWidth)
      .select(col("minor").as("id"), col("major").as("gene"),
        col("v").as("value"))

  /** Write an `obsp/<name>` member — AnnData's pairwise-graph slot
    * (scanpy's `pp.neighbors` stores the kNN graph as
    * `obsp["distances"]`/`["connectivities"]`): a sparse n_obs×n_obs
    * CSR member group through the same distributed compressed-axis
    * writer as the sparse X ([[writeCompressed]] — order-preserving
    * element rank + prefix-sum indptr, never a driver materialization).
    * `edges` is the COO (id, nbr, value) with both axes in the group's
    * 0..n-1 row domain; re-consolidates so `.zmetadata` stays the TOC. */
  def writeObsp(edges: DataFrame, groupPath: String, name: String,
                n: Long, chunk: Int = 4096): Unit = {
    writeCompressed(
      edges.select(col("id").cast("long").as("major"),
        col("nbr").cast("long").as("minor"), col("value").as("v")),
      n, n, s"$groupPath/obsp/$name", "csr_matrix", (n, n), chunk)
    ZarrGroup.writeGroupMarker(s"$groupPath/obsp")
    ZarrGroup.writeGroupMarker(s"$groupPath/obsp/$name")
    ZarrGroup.consolidate(groupPath)
  }

  /** Read an `obsp/<name>` member back as COO (id, nbr, value) —
    * the same distributed interval-join decode as the sparse X. */
  def readObsp(spark: SparkSession, groupPath: String,
               name: String): DataFrame =
    readCompressed(spark, groupPath, s"obsp/$name", 4096)
      .select(col("major").as("id"), col("minor").as("nbr"),
        col("v").as("value"))

  /** Write an `obsm/<name>` member — AnnData's per-cell embedding slot
    * (X_pca, X_umap, …): a dense 2-D zarr array through the same DSv2
    * sink as X (flat layout), then RE-consolidate so `.zmetadata` stays
    * the complete TOC (consolidation-last is the layer's contract). ids
    * must already be the group's 0..n-1 row domain. */
  def writeObsm(df: DataFrame, groupPath: String, name: String,
                chunkRows: Int = 128): Unit = {
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr").option("chunk_rows", chunkRows)
      .option("commit", "rename").mode("overwrite")
      .save(s"$groupPath/obsm/$name")
    ZarrGroup.writeGroupMarker(s"$groupPath/obsm")
    ZarrGroup.consolidate(groupPath)
  }

  /** Read an `obsm/<name>` member back as (id, vec). */
  def readObsm(spark: SparkSession, groupPath: String,
               name: String): DataFrame =
    spark.read.format("zarr").load(s"$groupPath/obsm/$name")
      .select(col("row_id").as("id"), col("vec"))

  /** Write a `varp/<name>` member — AnnData's VAR-axis pairwise slot
    * (gene–gene graphs: correlation networks, co-expression): the
    * axis-symmetric twin of [[writeObsp]] — a sparse n_vars×n_vars CSR
    * member group through the same distributed compressed-axis writer.
    * `edges` is COO (id, nbr, value) in the 0..n_vars-1 gene domain. */
  def writeVarp(edges: DataFrame, groupPath: String, name: String,
                n: Long, chunk: Int = 4096): Unit = {
    writeCompressed(
      edges.select(col("id").cast("long").as("major"),
        col("nbr").cast("long").as("minor"), col("value").as("v")),
      n, n, s"$groupPath/varp/$name", "csr_matrix", (n, n), chunk)
    ZarrGroup.writeGroupMarker(s"$groupPath/varp")
    ZarrGroup.writeGroupMarker(s"$groupPath/varp/$name")
    ZarrGroup.consolidate(groupPath)
  }

  /** Read a `varp/<name>` member back as COO (id, nbr, value). */
  def readVarp(spark: SparkSession, groupPath: String,
               name: String): DataFrame =
    readCompressed(spark, groupPath, s"varp/$name", 4096)
      .select(col("major").as("id"), col("minor").as("nbr"),
        col("v").as("value"))

  /** Write a `varm/<name>` member — AnnData's per-gene multi-dim slot
    * (PCs loadings, gene stats): the var-axis twin of [[writeObsm]],
    * a dense 2-D zarr array keyed by gene index. */
  def writeVarm(df: DataFrame, groupPath: String, name: String,
                chunkRows: Int = 128): Unit = {
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr").option("chunk_rows", chunkRows)
      .option("commit", "rename").mode("overwrite")
      .save(s"$groupPath/varm/$name")
    ZarrGroup.writeGroupMarker(s"$groupPath/varm")
    ZarrGroup.consolidate(groupPath)
  }

  /** Read a `varm/<name>` member back as (id, vec). */
  def readVarm(spark: SparkSession, groupPath: String,
               name: String): DataFrame =
    spark.read.format("zarr").load(s"$groupPath/varm/$name")
      .select(col("row_id").as("id"), col("vec"))

  type Q = (SparkSession, String) => DataFrame

  /** `q_sc_anndata_lifecycle`: the reference's WHOLE deployment loop in
    * one query — open the AnnData zarr group, |x| counts view,
    * filter_cells(>=15 genes above 0.15), normalize_per_cell(100),
    * log1p, WRITE a new AnnData group (fresh store every run — the
    * write path is re-proven at every gate like q_zarr_pipeline's),
    * re-open it, and aggregate per label joining the round-tripped obs
    * (including the n_genes column filter_cells annotated, which
    * traveled as a `<i4` member through the reindexed store). The
    * oracle recomputes everything from the parquet twin, so a hash
    * match proves group IO, the pp ops, obs alignment through
    * filtering, and the order-preserving reindex agree end-to-end. */
  def lifecycle(s: SparkSession, d: String): DataFrame = {
    val g = graft.zarr.ZarrQueries.fixtureGroup(s, d)
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_anndata_rt_${System.nanoTime()}").toString
    // NOTE (r12 measurement): caching the store read (X feeds several
    // writeZarr plan branches) was tried and measured SLOWER (4.0 →
    // 4.7 s; anndata_pca 3.9 → 5.1 s): columnar-cache serialization of
    // the ARRAY<DOUBLE> vec column costs more than re-running the local
    // zarr chunk scan per branch. Left uncached deliberately — on a
    // remote object store the trade flips and the one-line persist on
    // `src.x` is the documented fix.
    readZarr(s, g)
      .absX()
      .filterCells(minGenes = 15, tau = 0.15)
      .normalizePerCell(Some(100.0))
      .log1p()
      .writeZarr(out)
    val back = readZarr(s, out)
    val cell = back.x.select(col("id"),
      round(aggregate(col("vec"), lit(0.0), (a, b) => a + b) + lit(1e-6), 4)
        .as("cell_sum"))
    back.obs.join(cell, "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n_genes")).as("sum_n_genes"),
        round(sum(col("cell_sum")) + lit(1e-6), 4).as("checksum"))
      .orderBy("label")
  }

  /** One-time sparse-AnnData fixture: the embeddings matrix stored as
    * CSR members (keep |x| > 0.15 — ~25% density) + obs/label, all
    * consolidated. */
  def fixtureCsr(s: SparkSession, sfDir: String): String =
    graft.tables.Fixtures.cached("zarrcsr2", "anndata_csr.zarr", sfDir) { dir =>
      val emb = graft.tables.Tables.embeddings(s, sfDir)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("vec"),
          col("label"))
      val g = dir.toString
      writeCsrX(emb.select(col("id"), col("vec")), s"$g/X",
        v => abs(v) > lit(0.15))
      // the SAME matrix gene-major — layout equivalence is gate-proven
      // (q_zarr_csc shares q_zarr_csr's oracle text by design)
      writeCscX(emb.select(col("id"), col("vec")), s"$g/X_csc",
        v => abs(v) > lit(0.15))
      ZarrGroup.write1(emb.select(col("id"), col("label").as("value")),
        s"$g/obs/label", chunk = 100, dtype = "<i4")
      ZarrGroup.writeGroupMarker(g)
      ZarrGroup.writeGroupMarker(s"$g/obs")
      ZarrGroup.writeGroupMarker(s"$g/X")
      ZarrGroup.writeGroupMarker(s"$g/X_csc")
      ZarrGroup.consolidate(g)
    }()

  /** `q_zarr_csr`: open the sparse store, decode CSR → COO
    * distributed, per-cell nnz + checksum over the KEPT elements only
    * (never densified — O(nnz) end to end, the property that makes the
    * reference matrix storable), joined to the obs label member and
    * rolled up per label. Oracle recomputes the same sparsification
    * from the parquet twin — a hash match proves data/indices/indptr
    * round the matrix exactly (values, column ids, row boundaries,
    * empty-row carry-forward). */
  def zarrCsr(s: SparkSession, d: String): DataFrame = {
    val g = fixtureCsr(s, d)
    cooLabelRollup(readCsrX(s, g),
      ZarrGroup.readMember1(s, g, "obs/label")
        .select(col("idx").as("id"), col("value").as("label")))
  }

  private def cooLabelRollup(coo: DataFrame, lab: DataFrame): DataFrame =
    coo.groupBy("id")
      .agg(count(lit(1)).as("nnz"),
        round(sum(col("value")) + lit(1e-6), 4).as("cell_sum"))
      .join(lab, "id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("nnz")).as("total_nnz"),
        round(sum(col("cell_sum")) + lit(1e-6), 4).as("checksum"))
      .orderBy("label")

  /** `q_zarr_csc`: the gene-major twin of [[zarrCsr]] — same matrix,
    * same rollup, the CSC member group. Shares q_zarr_csr's oracle
    * text by design: the two layouts must be result-identical. */
  def zarrCsc(s: SparkSession, d: String): DataFrame = {
    val g = fixtureCsr(s, d)
    cooLabelRollup(readCscX(s, g, "X_csc"),
      ZarrGroup.readMember1(s, g, "obs/label")
        .select(col("idx").as("id"), col("value").as("label")))
  }

  /** `q_zarr_csr_pipeline`: the sparse store feeding the SPARSE
    * preprocessing chain — CSR → COO → |x| counts view →
    * filter_cells(≥15) → normalize_per_cell(100) → log1p — O(nnz) at
    * every step, never densified (ln(1+0)=0, so implicit zeros
    * contribute nothing to the per-cell checksum). The store-to-
    * pipeline hand-off the reference matrix needs at 1.3M×28k. */
  def zarrCsrPipeline(s: SparkSession, d: String): DataFrame = {
    val g = fixtureCsr(s, d)
    val coo = readCsrX(s, g)
      .select(col("id"), col("gene").cast("int").as("pos"),
        abs(col("value")).as("val"))
    val keep = ScSparse.filterCellsSparse(coo, minGenes = 15, tau = 0.0)
    val kept = coo.join(keep.select("id"), Seq("id"), "left_semi")
    val out = ScSparse.log1pSparse(
      ScSparse.normalizePerCellSparse(kept, target = 100.0))
    val lab = ZarrGroup.readMember1(s, g, "obs/label")
      .select(col("idx").as("id"), col("value").as("label"))
    out.groupBy("id")
      .agg(round(sum(col("val")) + lit(1e-6), 4).as("cell_sum"))
      .join(keep, "id")
      .join(lab, "id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n_genes")).as("sum_n_genes"),
        round(sum(col("cell_sum")) + lit(1e-6), 4).as("checksum"))
      .orderBy("label")
  }

  /** `q_sc_anndata_pca` (rows-only by the q_sc_pca contract —
    * eigenvector sign is implementation-defined, so the reported
    * values are sign-invariant norms; AnnDataSpec pins obsm
    * round-trip exactness against the direct projection): preprocess,
    * persist the group, compute PCA scores, store them as the
    * `obsm/X_pca` member — scanpy's `adata.obsm["X_pca"]` — and read
    * them back off the store. */
  def anndataPca(s: SparkSession, d: String): DataFrame = {
    val g = graft.zarr.ZarrQueries.fixtureGroup(s, d)
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_anndata_pca_${System.nanoTime()}").toString
    // store-read caching measured slower here too — see the
    // [[lifecycle]] note (array-column cache serialization)
    val pp = readZarr(s, g).absX().normalizePerCell(Some(100.0)).log1p()
    pp.writeZarr(out)
    val pc = Pca.project(pp.x, k = 8)
    writeObsm(pc.select(col("id"), col("pc").as("vec")), out, "X_pca")
    readObsm(s, out, "X_pca")
      .select(col("id").as("vec_id"),
        round(sqrt(aggregate(transform(col("vec"), x => x * x),
          lit(0.0), _ + _)), 3).as("pc_norm"),
        size(col("vec")).as("n_components"))
      .orderBy("vec_id")
  }

  /** `q_sc_anndata_neighbors`: the scanpy `pp.neighbors` → store
    * lifecycle the facade was missing — compute the exact kNN graph
    * over the bounded block (the SAME oracle'd substrate as
    * q_sc_neighbors), persist it as the group's `obsp/distances`
    * sparse CSR member beside X, re-open the store, and read the graph
    * BACK off the CSR members. The oracle recomputes the graph from
    * the parquet twin, so a hash match proves the pairwise member
    * rounds edges, distances and per-row boundaries exactly. */
  def anndataNeighbors(s: SparkSession, d: String): DataFrame = {
    val emb = graft.tables.Tables.embeddings(s, d)
      .filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
    val n = emb.agg(max(col("id"))).head.getLong(0) + 1
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_anndata_nbr_${System.nanoTime()}").toString
    emb.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr").option("chunk_rows", 128)
      .option("commit", "rename").mode("overwrite").save(s"$out/X")
    ZarrGroup.writeGroupMarker(out)
    val edges = Neighbors.knnEdges(s, d, k = 10, maxId = 300)
      .select(col("id1").as("id"), col("id2").as("nbr"),
        col("dist").as("value"))
    writeObsp(edges, out, "distances", n)
    readObsp(s, out, "distances")
      .select(col("id").as("id1"), col("nbr").as("id2"),
        col("value").as("dist"))
      .orderBy("id1", "id2")
  }

  /** `q_sc_anndata_vargraph`: the VAR-axis members the facade was
    * missing — compute the gene–gene Pearson correlation network over
    * the bounded cell block (the q_sc_neighbors substrate transposed),
    * persist it as `varp/correlations` (sparse CSR, gene domain) and
    * per-gene (mean, std) as `varm/gene_stats` (dense 2-D) beside X,
    * re-open the store, and join the two read-back members. The oracle
    * recomputes both from the parquet twin, so a hash match proves the
    * var-axis pairwise AND multi-dim members round exactly.
    *
    * Scale shape: pairwise gene correlation is the Gram-matrix pattern
    * (Xᵀ X) — here a cell-keyed self-join + groupBy(g1, g2) agg, which
    * shuffles |cells|·k² rows for k genes. At the reference's 28k genes
    * you'd restrict to the HVG subset first (exactly what
    * filter_genes_dispersion is for) — correlation networks over all
    * genes are never materialized even by scanpy. */
  def anndataVarGraph(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumFmt
    // NOTE (r12 measurement): an in-row upper-triangle pair expansion
    // (nested transform/slice/flatten HOFs, zero pre-agg shuffles) was
    // tried here and measured SLOWER than this self-join at sf0.1
    // (3.35 → 4.2 s, twice): higher-order functions evaluate
    // interpreted per element, while the broadcast self-join + filter
    // below stays entirely inside whole-stage codegen. Kept the
    // codegen-friendly join form deliberately — guide §4 (prefer
    // codegen expressions) outweighs §2.4 (fewer exchanges) at this
    // operator's bounded-block contract.
    val g = graft.tables.Tables.embeddings(s, d)
      .filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"),
        posexplode(col("embedding")).as(Seq("gene", "x")))
      .select(col("id"), col("gene").cast("long").as("gene"),
        col("x").cast("double").as("v"))
    val stats = g.groupBy("gene").agg(
      NumFmt.roundSigned(avg(col("v")) + lit(1e-9), 6).as("mean"),
      NumFmt.roundSigned(stddev_samp(col("v")) + lit(1e-9), 6).as("std"))
    val edges = g.select(col("id"), col("gene").as("g1"), col("v").as("v1"))
      .join(g.select(col("id"), col("gene").as("g2"), col("v").as("v2")), "id")
      .filter(col("g1") < col("g2"))
      .groupBy("g1", "g2")
      .agg(NumFmt.roundSigned(corr(col("v1"), col("v2")) + lit(1e-9), 6)
        .as("corrv"))
      .filter(abs(col("corrv")) >= 0.05)
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_anndata_var_${System.nanoTime()}").toString
    ZarrGroup.writeGroupMarker(out)
    writeVarp(edges.select(col("g1").as("id"), col("g2").as("nbr"),
      col("corrv").as("value")), out, "correlations", n = 64)
    writeVarm(stats.select(col("gene").as("id"),
      array(col("mean"), col("std")).as("vec")), out, "gene_stats")
    val varpBack = readVarp(s, out, "correlations")
    val varmBack = readVarm(s, out, "gene_stats")
      .select(col("id"),
        element_at(col("vec"), 1).as("g1_mean"),
        element_at(col("vec"), 2).as("g1_std"))
    varpBack.join(varmBack, "id")
      .select(col("id").as("g1"), col("nbr").as("g2"),
        col("value").as("corrv"), col("g1_mean"), col("g1_std"))
      .orderBy("g1", "g2")
  }

  val queries: Map[String, Q] = Map(
    "q_sc_anndata_lifecycle" -> (lifecycle _),
    "q_sc_anndata_neighbors" -> (anndataNeighbors _),
    "q_sc_anndata_vargraph" -> (anndataVarGraph _),
    "q_zarr_csr" -> (zarrCsr _),
    "q_zarr_csc" -> (zarrCsc _),
    "q_zarr_csr_pipeline" -> (zarrCsrPipeline _),
    "q_sc_anndata_pca" -> (anndataPca _))

  val oracle: Map[String, String] = Map(
    // same per-cell pipeline arithmetic as q_zarr_pipeline's oracle
    // (CASE-guarded scale factor, ln(1+x*s)), plus the filter_cells
    // predicate and the n_genes annotation
    "q_sc_anndata_lifecycle" ->
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
                           list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE))) AS v
                    FROM embeddings),
         f AS (SELECT label, v,
                      len(list_filter(v, x -> x > 0.15)) AS n_genes
               FROM c),
         k AS (SELECT * FROM f WHERE n_genes >= 15),
         sc AS (SELECT label, n_genes, v,
                       CASE WHEN list_sum(v) = 0 THEN 1.0
                            ELSE 100.0 / list_sum(v) END AS s FROM k),
         l AS (SELECT label, n_genes,
                      round(list_sum(list_transform(v,
                            x -> ln(1.0 + x * s))) + 1e-6, 4) AS cell_sum
               FROM sc)
         SELECT label, CAST(count(*) AS BIGINT) AS n_cells,
                CAST(sum(n_genes) AS BIGINT) AS sum_n_genes,
                round(sum(cell_sum) + 1e-6, 4) AS checksum
         FROM l GROUP BY label ORDER BY label""",
    // the var-axis twin: per-gene stats + gene–gene correlation over
    // the same bounded cell block, |corr| thresholded at the rounded
    // value so the filter set is engine-identical
    "q_sc_anndata_vargraph" ->
      """WITH g AS (
           SELECT vec_id AS id,
                  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS gene,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings WHERE vec_id < 300),
         stats AS (
           SELECT gene, round(avg(v) + 1e-9, 6) + 0.0 AS mean,
                  round(stddev_samp(v) + 1e-9, 6) + 0.0 AS std
           FROM g GROUP BY gene),
         pairs AS (
           SELECT a.gene AS g1, b.gene AS g2,
                  round(corr(a.v, b.v) + 1e-9, 6) + 0.0 AS corrv
           FROM g a JOIN g b ON a.id = b.id AND a.gene < b.gene
           GROUP BY 1, 2)
         SELECT p.g1, p.g2, p.corrv, s.mean AS g1_mean, s.std AS g1_std
         FROM pairs p JOIN stats s ON s.gene = p.g1
         WHERE abs(p.corrv) >= 0.05
         ORDER BY p.g1, p.g2""",
    // the q_sc_neighbors substrate (k=10, maxId=300, rounded distance
    // + id tiebreak) minus the rank/mutual columns: what obsp stores
    "q_sc_anndata_neighbors" ->
      """WITH e AS (
           SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id < 300),
         p AS (
           SELECT a.id AS id1, b.id AS id2,
                  round(list_distance(a.v, b.v) + 1e-9, 6) AS dist
           FROM e a JOIN e b ON a.id != b.id),
         r AS (
           SELECT id1, id2, dist,
                  row_number() OVER (PARTITION BY id1
                    ORDER BY dist, id2) AS rk
           FROM p QUALIFY rk <= 10)
         SELECT id1, id2, dist FROM r ORDER BY id1, id2""",
    "q_zarr_csr" ->
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
                           list_filter(list_transform(embedding,
                               x -> CAST(x AS DOUBLE)),
                             x -> abs(x) > 0.15) AS kept
                    FROM embeddings),
         k AS (SELECT label, CAST(len(kept) AS BIGINT) AS nnz,
                      round(list_sum(kept) + 1e-6, 4) AS cell_sum
               FROM c WHERE len(kept) > 0)
         SELECT label, CAST(count(*) AS BIGINT) AS n_cells,
                CAST(sum(nnz) AS BIGINT) AS total_nnz,
                round(sum(cell_sum) + 1e-6, 4) AS checksum
         FROM k GROUP BY label ORDER BY label""",
    // identical oracle text by design: the CSR and CSC stores hold the
    // same matrix and must be result-indistinguishable
    "q_zarr_csc" ->
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
                           list_filter(list_transform(embedding,
                               x -> CAST(x AS DOUBLE)),
                             x -> abs(x) > 0.15) AS kept
                    FROM embeddings),
         k AS (SELECT label, CAST(len(kept) AS BIGINT) AS nnz,
                      round(list_sum(kept) + 1e-6, 4) AS cell_sum
               FROM c WHERE len(kept) > 0)
         SELECT label, CAST(count(*) AS BIGINT) AS n_cells,
                CAST(sum(nnz) AS BIGINT) AS total_nnz,
                round(sum(cell_sum) + 1e-6, 4) AS checksum
         FROM k GROUP BY label ORDER BY label""",
    // the sparse-pipeline arithmetic: abs view over the kept elements,
    // filter_cells >= 15, CASE-guarded scale, ln(1+x*s)
    "q_zarr_csr_pipeline" ->
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
                           list_transform(
                             list_filter(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE)),
                               x -> abs(x) > 0.15),
                             x -> abs(x)) AS v
                    FROM embeddings),
         f AS (SELECT label, v, CAST(len(v) AS BIGINT) AS n_genes
               FROM c WHERE len(v) >= 15),
         sc AS (SELECT label, n_genes, v,
                       CASE WHEN list_sum(v) = 0 THEN 1.0
                            ELSE 100.0 / list_sum(v) END AS s FROM f),
         l AS (SELECT label, n_genes,
                      round(list_sum(list_transform(v,
                            x -> ln(1.0 + x * s))) + 1e-6, 4) AS cell_sum
               FROM sc)
         SELECT label, CAST(count(*) AS BIGINT) AS n_cells,
                CAST(sum(n_genes) AS BIGINT) AS sum_n_genes,
                round(sum(cell_sum) + 1e-6, 4) AS checksum
         FROM l GROUP BY label ORDER BY label""")
}
