package graft.sc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** kNN graph over the cell matrix — the neighbor-graph step of
  * `scanpy.pp.neighbors` (the next op a scanpy user runs after the
  * reference's PCA; the reference repo itself stops at PCA, see SURVEY
  * §1.1 "graphs: none"). Exact Euclidean top-k per cell with a mutuality
  * flag; the UMAP-style connectivity kernel downstream of this edge list
  * is a per-edge scalar transform a user can apply to the output.
  *
  * Scale: exact all-pairs runs on an explicit bounded block (this is the
  * oracle'd correctness baseline, same posture as similarityKnn); the
  * unbounded scale paths for the same edge list are the shipped LSH /
  * IVF / PQ searchers. Ranking uses the ROUNDED distance (6 dp,
  * +1e-9) with an id tiebreak — the sampleWeighted precedent — so a
  * last-ulp accumulation difference between engines cannot reorder
  * ranks. */
object Neighbors {
  type Q = (SparkSession, String) => DataFrame

  /** The raw directed top-k edge list (id1, id2, dist, rk) — the shared
    * substrate for the mutuality-flagged graph below and for iterative
    * graph analytics (PageRank). */
  def knnEdges(s: SparkSession, d: String, k: Int = 10,
               maxId: Long = 300): DataFrame = {
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") < maxId)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.select(col("id").as("id1"), col("v").as("v1"))
      .join(e.select(col("id").as("id2"), col("v").as("v2")),
        col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        // fused codegen loop (L2DistanceSq) — same index-ascending
        // accumulation as the HOF fold it replaced, so the oracle'd
        // distances are bit-identical
        round(sqrt(graft.functions.GraftFunctions.l2Sq(col("v1"), col("v2")))
          + lit(1e-9), 6).as("dist"))
    val w = Window.partitionBy("id1").orderBy(col("dist"), col("id2"))
    pairs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  def knnGraph(s: SparkSession, d: String, k: Int = 10,
               maxId: Long = 300): DataFrame = {
    val edges = knnEdges(s, d, k, maxId)
    // mutual edge = i is in top-k of j AND j in top-k of i (the kNN
    // graph's symmetrization decision scanpy exposes as knn=True/False)
    val back = edges.select(col("id1").as("m1"), col("id2").as("m2"))
    edges
      .join(back, col("id1") === col("m2") && col("id2") === col("m1"),
        "left")
      .select(col("id1"), col("id2"), col("rk"), col("dist"),
        col("m1").isNotNull.as("mutual"))
      .orderBy("id1", "rk")
  }

  def scNeighbors(s: SparkSession, d: String): DataFrame = knnGraph(s, d)

  val queries: Map[String, Q] = Map(
    "q_sc_neighbors" -> scNeighbors _,
  )

  /** THE kNN-substrate oracle SQL (k=10, maxId=200, rounded distance +
    * id tiebreak) shared by every graph-query oracle (pagerank,
    * triangles, communities) — one definition so a ranking change
    * cannot silently diverge between them. Yields CTE `ed(id1, id2)`,
    * the directed top-k edge list. */
  // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
  // graph oracles reference each round's predecessor 2-3x — inlining
  // re-evaluates the WHOLE upstream chain per reference, which is
  // EXPONENTIAL in the unrolled round count (q_graph_kcore's oracle:
  // 162 s / intermittent OOM inlined, 1.4 s materialized, same rows).
  val oracleKnnSubstrate: String =
    """WITH e0 AS MATERIALIZED (
         SELECT vec_id AS id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings WHERE vec_id < 200),
       p AS MATERIALIZED (
         SELECT a.id AS id1, b.id AS id2,
                round(list_distance(a.v, b.v) + 1e-9, 6) AS dist
         FROM e0 a JOIN e0 b ON a.id != b.id),
       ed AS MATERIALIZED (
         SELECT id1, id2 FROM (
           SELECT id1, id2,
                  row_number() OVER (PARTITION BY id1
                    ORDER BY dist, id2) AS rk
           FROM p) WHERE rk <= 10)"""

  val oracle: Map[String, String] = Map(
    "q_sc_neighbors" ->
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
         SELECT r.id1, r.id2, CAST(r.rk AS INT) AS rk, r.dist,
                (m.id1 IS NOT NULL) AS mutual
         FROM r LEFT JOIN r m ON r.id1 = m.id2 AND r.id2 = m.id1
         ORDER BY r.id1, r.rk""",
  )
}
