package graft.sc

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NumFmt
import graft.zarr.ZarrGroup

/** Reference-SHAPE probe: the full sparse AnnData lifecycle at the
  * reference corpus's published dimensions — 1.3M cells × 28k genes —
  * on one box. A real reference-scale run (that density) needs a
  * cluster; this probe keeps the AXES at full reference width and
  * scales only the per-cell density (~100 nnz/cell → 130M nonzeros,
  * ~30× sparser than the real matrix), because every axis-dependent
  * mechanism is what the single box can meaningfully prove:
  *
  *  - the order-preserving distributed reindex over a 1.3M-row domain;
  *  - the CSR element rank + indptr prefix-sum ladder over 1.3M majors
  *    (including empty-major carry-forward at real width);
  *  - 28k-wide per-gene aggregation;
  *  - the grid-cell interval-join decode back from the store.
  *
  * Determinism across engines is by construction: values are INTEGER
  * counts (exact in double under any summation order), so per-cell
  * scale factors are bit-equal in Spark and DuckDB, and the per-gene
  * checksum accumulates 4-dp-rounded values in DECIMAL
  * ([[NumFmt.moneySum]]) — order- and partitioning-independent. The
  * pipeline is the SAME ScSparse/AnnData code the gates prove; no
  * probe-only math.
  *
  * Run: `sbt "runMain graft.sc.RefShapeProbe [cells genes draws outDir]"`
  * (defaults 1300000 28000 100). Emits the COO dump (the verification
  * substrate a DuckDB oracle recomputes from), the per-gene summary
  * parquet, and one JSON line of phase timings.
  */
object RefShape {

  /** Pure-hash COO: `draws` gene draws per cell, collision-merged by
    * summing values (so the dump IS the matrix — one row per (id,gene)).
    * Values are integers 1..10 stored as double: raw counts, and the
    * cross-engine-exactness substrate (see object scaladoc). */
  def coo(s: SparkSession, cells: Long, genes: Int, draws: Int): DataFrame =
    s.range(cells)
      .select(col("id"), explode(sequence(lit(0), lit(draws - 1))).as("k"))
      .select(col("id"),
        pmod(xxhash64(lit("rs_gene"), col("id"), col("k")), lit(genes))
          .as("pos"),
        (pmod(xxhash64(lit("rs_val"), col("id"), col("k")), lit(10)) + 1)
          .cast("double").as("val"))
      .groupBy("id", "pos").agg(sum(col("val")).as("val"))

  /** The lifecycle over a COO frame: filter_cells(>= minGenes) →
    * normalize_per_cell(1e4) → log1p → reindex to the contiguous row
    * domain → WRITE the CSR AnnData group → re-open → decode → per-gene
    * (n_cells, decimal checksum of 4-dp values). Returns the 28k-row
    * summary computed FROM THE STORE, so equality with an oracle that
    * recomputes from the dump proves pipeline + store round-trip. */
  def run(s: SparkSession, cooDf: DataFrame, genes: Int, minGenes: Int,
          groupPath: String): DataFrame = {
    val kept = ScSparse.filterCellsSparse(cooDf, minGenes, tau = 0.0)
    val sp = cooDf.join(kept.select("id"), Seq("id"), "left_semi")
    val pp = ScSparse.log1pSparse(
      ScSparse.normalizePerCellSparse(sp, target = 1e4))
      .withColumn("val", round(col("val"), 4))
    val map = AnnData.reindexMap(kept.select(col("id")))
    val n = kept.count()
    val elems = pp.join(map, "id")
      .select(col("new_id").as("id"), col("pos").as("gene"), col("val").as("value"))
    ZarrGroup.writeGroupMarker(groupPath)
    AnnData.writeCsrCoo(elems, n, genes.toLong, s"$groupPath/X",
      chunk = 262144)
    ZarrGroup.consolidate(groupPath)
    AnnData.readCsrX(s, groupPath, cellWidth = 262144)
      .groupBy("gene")
      .agg(count(lit(1)).as("n_cells"),
        NumFmt.moneySum(col("value"), 4, 4).as("checksum"))
      .orderBy("gene")
  }

  /** DuckDB twin of [[run]] over the COO dump (same math, no store). */
  def oracleSql(dump: String, minGenes: Int): String =
    s"""WITH coo AS (SELECT * FROM read_parquet('$dump/*.parquet')),
       cs AS (SELECT id, count(1) AS n_genes, sum(val) AS row_sum
              FROM coo GROUP BY id),
       kept AS (SELECT id, 10000.0 / row_sum AS sc FROM cs
                WHERE n_genes >= $minGenes),
       px AS (SELECT c.pos AS gene, round(ln(1.0 + c.val * k.sc), 4) AS v
              FROM coo c JOIN kept k USING (id))
       SELECT gene, CAST(count(1) AS BIGINT) AS n_cells,
              ${NumFmt.moneySumSql("v", 4, 4)} AS checksum
       FROM px GROUP BY gene ORDER BY gene"""
}

object RefShapeProbe {
  def main(args: Array[String]): Unit = {
    val cells = args.lift(0).map(_.toLong).getOrElse(1300000L)
    val genes = args.lift(1).map(_.toInt).getOrElse(28000)
    val draws = args.lift(2).map(_.toInt).getOrElse(100)
    val out = args.lift(3).getOrElse("/tmp/graft_refshape")
    // default drops cells whose draws collided (~16% at draws=100); at
    // higher densities collisions are Poisson(draws²/2·genes), so pass an
    // explicit 5th arg sitting near that distribution's ~85th percentile
    // to keep the filter's bite comparable
    val minGenes = args.lift(4).map(_.toInt).getOrElse(draws)
    // at 650M+ nonzeros AQE fans the big exchanges into ~450 tasks and
    // the CUMULATIVE task-result metadata (status + SQL metrics per
    // task) crosses the 1g default — an operational knob any large
    // job sets, not a data collect (every driver-side collect in this
    // path is bounded)
    val s = graft.Graft.session(s"local[${graft.Harness.cpus}]",
      Map("spark.driver.maxResultSize" -> "8g"))
    s.sparkContext.setLogLevel("WARN")
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val dump = s"$out/coo.parquet"
    val (_, tGen) = t {
      RefShape.coo(s, cells, genes, draws)
        .write.mode(SaveMode.Overwrite).parquet(dump)
    }
    val cooDf = s.read.parquet(dump)
    val nnz = cooDf.count()
    val (res, tPipe) = t {
      val r = RefShape.run(s, cooDf, genes, minGenes, s"$out/anndata.zarr")
      r.write.mode(SaveMode.Overwrite).parquet(s"$out/gene_summary.parquet")
      r
    }
    val nGenes = s.read.parquet(s"$out/gene_summary.parquet").count()
    println(s"""REFSHAPE {"cells":$cells,"genes":$genes,"nnz":$nnz,""" +
      s""""gen_sec":${math.rint(tGen * 10) / 10},""" +
      s""""pipeline_store_decode_sec":${math.rint(tPipe * 10) / 10},""" +
      s""""summary_rows":$nGenes,"min_genes":$minGenes}""")
    // the DuckDB twin to run against the dump:
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/oracle.sql"),
      RefShape.oracleSql(dump, minGenes).getBytes("UTF-8"))
    s.stop()
  }
}
