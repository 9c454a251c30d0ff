package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sc.{AnnData, Markers, Pca, PerfbenchAccess, ScSparse}
import graft.tables.Tables
import graft.zarr.ZarrGroup

/** What an op needs: the session, the generated inputs, a scratch
  * directory, and a place to leave layer timings measured around calls
  * made inside the op. */
final class Ctx(val spark: SparkSession, val data: String, val work: String) {
  lazy val meta: JsonNode = new ObjectMapper().readTree(Paths.get(data, "meta.json").toFile)
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def timed[A](mark: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally marks(mark) = marks.getOrElse(mark, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** One operation: a call into the program that returns a DataFrame (or
  * null when the call's own work is the whole op), and the consumption
  * of that result. */
abstract class Op(val name: String) {
  def build(c: Ctx): DataFrame

  /** The timed consumption writes every row to the `noop` sink; the
    * check pass writes the rows out for the independent checks. */
  def consume(c: Ctx, df: DataFrame, checkDir: Option[String]): Unit = checkDir match {
    case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    case None => df.write.format("noop").mode("overwrite").save()
  }
}

trait Workload {
  def ops: Seq[Op]
  /** One-time work a first query pays: reading every input's schema. */
  def prepare(c: Ctx): Unit
  /** DuckDB oracle SQL for the ops that have one. */
  def oracle: Map[String, String] = Map.empty
}

/** Declared query ids run by id, exactly as a user of the facade would. */
final class IdsWorkload(ids: Seq[String], tables: Seq[String]) extends Workload {
  private val fns = SparkEntry.queries
  val ops: Seq[Op] = ids.map { id =>
    val fn = fns(id)
    new Op(id) { def build(c: Ctx): DataFrame = fn(c.spark, c.data) }
  }
  def prepare(c: Ctx): Unit = tables.foreach { t =>
    if (t == "events") Tables.events(c.spark, c.data) else Tables.load(c.spark, c.data, t)
  }
  override def oracle: Map[String, String] = SparkEntry.oracleSql.filter { case (k, _) => ids.contains(k) }
}

/** The paper's pipeline over a seeded sparse count matrix: ingest into a
  * CSR AnnData Zarr group, reopen it, then HVG, PCA and marker ranking
  * over the store. Ops of one pass share the kept-cell count and the HVG
  * list, in that order. */
final class ScAtlas extends Workload {
  private var nCells = 0L
  private var hvg: Array[Long] = Array.empty

  private def store(c: Ctx) = s"${c.work}/atlas.zarr"
  private def genes(c: Ctx) = c.meta.get("genes").asInt
  private def x(c: Ctx) = AnnData.readCsrX(c.spark, store(c))

  /** The store restricted to the HVGs, dense (id, vec) in HVG rank order. */
  private def denseHvg(c: Ctx): DataFrame = {
    import c.spark.implicits._
    val rank = hvg.toSeq.zipWithIndex.map { case (g, k) => (g, k) }.toDF("gene", "k")
    val sp = x(c).join(broadcast(rank), "gene")
      .select(col("id"), col("k").as("pos"), col("value").as("val"))
    ScSparse.toDense(sp, hvg.length, c.spark.range(nCells).toDF("id"))
  }

  val ops: Seq[Op] = Seq(
    new Op("ingest") {
      def build(c: Ctx): DataFrame = {
        val path = store(c)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
        val coo = Tables.readParquet(c.spark, s"${c.data}/counts.parquet")
        val kept = ScSparse.filterCellsSparse(coo, c.meta.get("min_genes").asInt, tau = 0.0)
        val sp = coo.join(kept.select("id"), Seq("id"), "left_semi")
        val pp = ScSparse.log1pSparse(ScSparse.normalizePerCellSparse(sp, target = 1e4))
          .withColumn("val", round(col("val"), 4))
        val map = PerfbenchAccess.reindexMap(kept.select(col("id")))
        nCells = kept.count()
        val elems = pp.join(map, "id")
          .select(col("new_id").as("id"), col("pos").as("gene"), col("val").as("value"))
        ZarrGroup.writeGroupMarker(path)
        c.timed("zarr.write_s") {
          AnnData.writeCsrCoo(elems, nCells, genes(c).toLong, s"$path/X")
        }
        ZarrGroup.writeGroupMarker(s"$path/obs")
        val labels = Tables.readParquet(c.spark, s"${c.data}/cells.parquet")
        c.timed("zarr.write_s") {
          ZarrGroup.write1(map.join(labels, "id").select(col("new_id").as("id"), col("label").as("value")),
            s"$path/obs/label", chunk = 4096, dtype = "<i4")
        }
        ZarrGroup.consolidate(path)
        null
      }
    },
    new Op("reopen") {
      def build(c: Ctx): DataFrame =
        x(c).groupBy("gene").agg(count(lit(1)).as("n_cells"), sum(col("value")).as("total"))
    },
    new Op("hvg") {
      def build(c: Ctx): DataFrame =
        ScSparse.hvgSparse(c.spark,
          x(c).select(col("id"), col("gene").cast("int").as("pos"), col("value").as("val")),
          nCells, genes(c), c.meta.get("hvg").asInt)

      /** The HVG list is small and feeds the next two ops: it is collected. */
      override def consume(c: Ctx, df: DataFrame, checkDir: Option[String]): Unit = {
        val rows = df.collect()
        hvg = rows.map(_.getInt(0).toLong)
        checkDir.foreach { dir =>
          val lines = "pos,disp" +: rows.toSeq.map(r => s"${r.getInt(0)},${r.get(1)}")
          Files.write(Paths.get(dir, "hvg.csv"), lines.mkString("\n").getBytes("UTF-8"))
        }
      }
    },
    new Op("pca") {
      def build(c: Ctx): DataFrame = Pca.project(denseHvg(c), c.meta.get("pcs").asInt)
    },
    new Op("markers") {
      def build(c: Ctx): DataFrame = {
        val labels = ZarrGroup.readMember1(c.spark, store(c), "obs/label")
          .select(col("idx").as("id"), col("value").cast("int").as("label"))
        Markers.markersFor(denseHvg(c).join(labels, "id").select("label", "vec"),
          c.meta.get("top_markers").asInt)
      }
    })

  def prepare(c: Ctx): Unit = {
    Tables.readParquet(c.spark, s"${c.data}/counts.parquet")
    Tables.readParquet(c.spark, s"${c.data}/cells.parquet")
  }

  /** Store size on disk after the last ingest. */
  def storeBytes(c: Ctx): Long = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(store(c)))
  def keptCells: Long = nCells
}

object Workloads {
  val llmIds: Seq[String] = Seq("q_dedup_exact", "q_dedup_canon", "q_dedup_simhash",
    "q_dedup_minhash", "q_dedup_prefix", "q_split_leakage", "q_dedup_clusters",
    "q_similarity_knn", "q_similarity_lsh", "q_similarity_ivf")

  val sqlIds: Seq[String] = (1 to 22).map(q => s"q_sql_tpch_q$q") ++ Seq("q_agg_hash",
    "q_agg_distinct", "q_agg_cube", "q_join_broadcast", "q_join_shuffle", "q_join_anti",
    "q_join_asof", "q_window_rank", "q_stream_tumbling", "q_stream_session")

  val tpch: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  def apply(name: String): Workload = name match {
    case "sc_atlas" => new ScAtlas
    case "llm_dedup" => new IdsWorkload(llmIds, Seq("documents", "embeddings"))
    case "sql_tail" => new IdsWorkload(sqlIds, tpch)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
