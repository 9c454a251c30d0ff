package graft.sc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over the kNN edge list — graph-quality
  * propagation (Page et al. 1999), the scoring step a curation pipeline
  * runs over a document/link or embedding-neighbor graph to weight
  * training data by centrality. Fixed iteration count (not
  * convergence-tested) so the result is a deterministic function of the
  * graph and both engines can replay it exactly.
  *
  * Scale shape: the same class as the star-contraction CC — per
  * iteration ONE keyed join (ranks onto the out-edge list, both sides
  * hash-partitioned on the node key) and ONE keyed aggregation of the
  * received contributions, then a left join back onto the node set for
  * nodes that received nothing. Iterative lineage is cut with an
  * eager localCheckpoint every SECOND round — plans stay two joins
  * deep, half the materializations (the Dedup.connectedComponents
  * lesson: persist alone leaves the plan doubling per round). The node
  * set is the UNION of both edge endpoints, so pure sinks (nodes with
  * in-edges only) are ranked too: they get the (1-d)/n floor plus
  * whatever mass they receive, and contribute nothing onward. Dangling
  * mass is NOT redistributed (ranks no longer sum to 1 on graphs with
  * sinks — the common non-normalizing variant); on the kNN substrate
  * every node has out-degree k, so there are no sinks and the two
  * conventions coincide.
  *
  * Cross-engine parity: every constant is divided/multiplied as DOUBLE
  * on both engines (DuckDB would otherwise do DECIMAL arithmetic on
  * `0.15/n`), contributions are coalesced to 0.0 for in-degree-0 nodes,
  * and only the FINAL rank is rounded (6 dp, +1e-9) — per-iteration
  * float error is ~1e-16 relative and cannot reach the 6th decimal in
  * 10 rounds.
  */
object PageRank {
  type Q = (SparkSession, String) => DataFrame

  val Damping = 0.85
  val Iters = 10

  /** The operator proper: PageRank over ANY (id1, id2) edge list —
    * returns (id, r) unrounded. Public so specs exercise the SAME
    * update arithmetic on closed-form graphs (PageRankSpec's ring).
    *
    * `redistributeDangling=true` selects the NORMALIZING variant for
    * general graphs: each round the mass sitting on sinks (nodes with
    * no out-edges) is redistributed uniformly —
    * r' = (1-d)/n + d·(cs + dm/n) — so ranks sum to 1 every round
    * (Page et al.'s stochastic-matrix completion). The dangling mass dm
    * is a ONE-ROW aggregate broadcast into the update (the bounded-
    * stats class, like the normalize-target median) — nothing about
    * the round's shape changes: still one keyed join + one keyed agg. */
  /** `checkpointDir=Some(dir)` selects RELIABLE checkpointing for the
    * per-round lineage cuts (see [[Lineage.cut]]): localCheckpoint is
    * executor-local, so at cluster scale one lost executor kills a
    * 10-round job irrecoverably; a durable dir trades one DFS
    * write+read per cut for restartability. Results are identical
    * either way (CheckpointModeSpec). */
  def pageRankOnEdges(rawEdges: DataFrame, iters: Int = Iters,
                      damping: Double = Damping,
                      redistributeDangling: Boolean = false,
                      checkpointDir: Option[String] = None): DataFrame = {
    val edges = rawEdges.select(col("id1"), col("id2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // out-degree per source, attached once so each round's contribution
    // is a single projected join (kNN makes od == k, but derive it from
    // the data — the operator must hold on any edge list)
    val deg = edges.groupBy("id1").agg(count(lit(1)).as("od"))
    // BOTH endpoints: distinct(id1) alone would drop pure sinks and the
    // mass they receive (they never source an edge)
    val nodes = edges.select(col("id1").as("id"))
      .unionAll(edges.select(col("id2").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // n is a bounded single-scalar fetch (the IVF-fit class) feeding the
    // per-node constants; everything per-node stays distributed
    val n = nodes.count().toDouble
    val edgesD = edges.join(deg, "id1")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sinks = nodes that never source an edge (anti join against the
    // out-degree table); only materialized when redistribution is on
    val sinks =
      if (redistributeDangling)
        Some(nodes.join(deg.select(col("id1").as("id")), Seq("id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    // Lineage-cut cadence (r12, A/B'd at sf0.1): the PLAIN update
    // references `ranks` once per round, so a 2-round cadence halves
    // the eager materializations at a 2-join plan depth — cadence 3
    // measured no further gain. The DANGLING update references `ranks`
    // TWICE per round (the dm mass aggregate AND the contribution
    // join), and plan branches do not share subtree results — every
    // uncut round therefore re-executes the whole since-last-cut chain
    // once more per extra reference (cadence 3 measured 10.7 s vs
    // 7.8 s at cadence 2). Cut every round when redistribution is on:
    // each round's plan then executes exactly once.
    val cutEvery = if (redistributeDangling) 1 else 2
    var ranks = Lineage.cut(nodes.withColumn("r", lit(1.0 / n)), checkpointDir)
    for (i <- 1 to iters) {
      val contrib = edgesD.join(ranks, col("id1") === col("id"))
        .groupBy(col("id2"))
        .agg(sum(col("r") / col("od").cast("double")).as("cs"))
      ranks = sinks match {
        case None =>
          nodes.join(contrib, col("id") === col("id2"), "left")
            .select(col("id"),
              (lit((1.0 - damping) / n) +
                lit(damping) * coalesce(col("cs"), lit(0.0))).as("r"))
        case Some(sk) =>
          // this round's dangling mass: 1-row aggregate, broadcast in
          val dm = sk.join(ranks, Seq("id"))
            .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
          nodes.join(contrib, col("id") === col("id2"), "left")
            .crossJoin(broadcast(dm))
            .select(col("id"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("cs"), lit(0.0)) +
                  col("dm") / lit(n))).as("r"))
      }
      // cut lineage every THIRD round (r12: was every second — plans
      // three joins deep are still cheap to analyze, and each dropped
      // cut removes an eager materialization job and, at scale, a
      // rank-table write; A/B'd at sf0.1 against cadence 2 and 4)
      if (i % cutEvery == 0 || i == iters)
        ranks = Lineage.cut(ranks, checkpointDir)
    }
    // the eager localCheckpoint above cut ranks' lineage to the
    // checkpointed RDD, so the scaffolding caches can drop now instead
    // of pinning memory for the rest of a Verify/test session
    edges.unpersist(); edgesD.unpersist(); nodes.unpersist()
    sinks.foreach(_.unpersist())
    ranks
  }

  def pageRank(s: SparkSession, d: String, k: Int = 10, maxId: Long = 200,
               iters: Int = Iters, damping: Double = Damping): DataFrame =
    pageRankOnEdges(Neighbors.knnEdges(s, d, k, maxId), iters, damping)
      .select(col("id"), round(col("r") + lit(1e-9), 6).as("pr"))
      .orderBy("id")

  /** The normalizing variant on a SINK-BEARING graph: kNN edges with
    * sources restricted to id < 150, so nodes 150..199 appear only as
    * targets — pure sinks. With redistribution on, ranks sum to 1
    * every round (PageRankSpec gates the invariant at ±1e-9); the
    * DuckDB oracle unrolls the dangling-mass term per iteration. */
  def pageRankDangling(s: SparkSession, d: String): DataFrame =
    pageRankOnEdges(
      Neighbors.knnEdges(s, d, 10, 200).filter(col("id1") < 150),
      redistributeDangling = true)
      .select(col("id"), round(col("r") + lit(1e-9), 6).as("pr"))
      .orderBy("id")

  /** Triangle count + local clustering coefficient over the MUTUAL kNN
    * edges — the graph-cohesion diagnostic (how clique-like is each
    * node's neighborhood) used to separate dense duplicate clusters
    * from chains. Edges are canonicalized id1 < id2, so each triangle
    * (a<b<c) is found exactly once by the two-hop join a→b→c closed by
    * a→c.
    *
    * Scale shape: two self-equi-joins on node keys + keyed aggs — the
    * standard distributed triangle enumeration; the canonical ordering
    * halves the edge list and kills double counting without a distinct.
    * Join fan-out is bounded by degree ≤ k on the kNN substrate (the
    * general-graph guard is degree-ordering, noted not needed here). */
  def triangles(s: SparkSession, d: String, k: Int = 10,
                maxId: Long = 200): DataFrame = {
    val knn = Neighbors.knnGraph(s, d, k, maxId)
    trianglesOnEdges(
      knn.filter(col("mutual") && col("id1") < col("id2"))
        .select(col("id1").as("a"), col("id2").as("b")))
  }

  /** The operator proper over ANY canonical (a < b) undirected edge
    * list — public so specs drive closed-form graphs through the SAME
    * joins (PageRankSpec's clique/path cases). */
  def trianglesOnEdges(canonicalEdges: DataFrame): DataFrame = {
    // persisted because FOUR consumers read it (e1/e2/e3 + deg) and the
    // result plan still references it — lifecycle follows the session
    // cache, which Bench and Verify clear between queries (no early
    // unpersist: that would recompute the upstream graph per consumer)
    val und = canonicalEdges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    // per-node participation: each triangle touches its 3 corners
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        // clustering coefficient = triangles / possible neighbor pairs
        round(when(col("deg") >= 2,
            coalesce(col("n_tri"), lit(0L)).cast("double") * 2.0 /
              (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)) + lit(1e-9), 6).as("cc"))
      .orderBy("id")
  }

  val queries: Map[String, Q] = Map(
    "q_graph_pagerank" -> ((s: SparkSession, d: String) => pageRank(s, d)),
    "q_graph_pagerank_dangling" -> (pageRankDangling _),
    "q_graph_triangles" -> ((s: SparkSession, d: String) => triangles(s, d)),
  )

  /** The oracle unrolls the 10 iterations as chained CTEs — recursive
    * CTEs cannot aggregate in the recursive term (Postgres-family
    * restriction), and unrolling keeps each iteration's SQL the literal
    * mirror of the Spark round. */
  val oracle: Map[String, String] = {
    // the kNN substrate is defined ONCE in Neighbors.oracleKnnSubstrate
    // and shared by every graph oracle (pagerank, triangles,
    // communities)
    val knnSubstrate = Neighbors.oracleKnnSubstrate
    val header = knnSubstrate +
      """,
         deg AS MATERIALIZED (SELECT id1, count(*) AS od FROM ed GROUP BY id1),
         nodes AS MATERIALIZED (SELECT id1 AS id FROM ed UNION SELECT id2 FROM ed),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         pr0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
                 FROM nodes)"""
    val rounds = (1 to Iters).map { i =>
      s""", pr$i AS MATERIALIZED (
           SELECT no.id,
                  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * coalesce(c.cs, CAST(0 AS DOUBLE)) AS r
           FROM nodes no LEFT JOIN (
             SELECT e.id2 AS id, sum(p.r / CAST(d.od AS DOUBLE)) AS cs
             FROM pr${i - 1} p
                  JOIN ed e ON p.id = e.id1
                  JOIN deg d ON d.id1 = p.id
             GROUP BY e.id2) c USING (id))"""
    }.mkString
    // dangling variant: sources restricted (sinks exist), and each
    // round carries a dang_i CTE — the mass on out-degree-0 nodes —
    // folded back uniformly, mirroring the Spark broadcast scalar
    val headerD = knnSubstrate +
      """,
         eds AS MATERIALIZED (SELECT id1, id2 FROM ed WHERE id1 < 150),
         deg AS MATERIALIZED (
           SELECT id1, count(*) AS od FROM eds GROUP BY id1),
         nodes AS MATERIALIZED (
           SELECT id1 AS id FROM eds UNION SELECT id2 FROM eds),
         nn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         pr0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
                 FROM nodes)"""
    // pr_{i-1} is referenced TWICE per round (dangling mass + the
    // contribution join); MATERIALIZED stops DuckDB's CTE inlining from
    // doubling the expansion per level (2^10 substrate scans blew the
    // fd limit otherwise)
    val roundsD = (1 to Iters).map { i =>
      s""", dang$i AS MATERIALIZED (
           SELECT coalesce(sum(p.r), CAST(0 AS DOUBLE)) AS dm
           FROM pr${i - 1} p LEFT JOIN deg d ON d.id1 = p.id
           WHERE d.id1 IS NULL)
         , pr$i AS MATERIALIZED (
           SELECT no.id,
                  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                  + CAST(0.85 AS DOUBLE)
                    * (coalesce(c.cs, CAST(0 AS DOUBLE))
                       + (SELECT dm FROM dang$i) / (SELECT n FROM nn)) AS r
           FROM nodes no LEFT JOIN (
             SELECT e.id2 AS id, sum(p.r / CAST(d.od AS DOUBLE)) AS cs
             FROM pr${i - 1} p
                  JOIN eds e ON p.id = e.id1
                  JOIN deg d ON d.id1 = p.id
             GROUP BY e.id2) c USING (id))"""
    }.mkString
    Map(
      "q_graph_pagerank" ->
        (header + rounds +
          s" SELECT id, round(r + 1e-9, 6) AS pr FROM pr$Iters ORDER BY id"),
      "q_graph_pagerank_dangling" ->
        (headerD + roundsD +
          s" SELECT id, round(r + 1e-9, 6) AS pr FROM pr$Iters ORDER BY id"),
      "q_graph_triangles" ->
        (knnSubstrate + """,
           und AS MATERIALIZED (
             SELECT r.id1 AS a, r.id2 AS b
             FROM ed r JOIN ed m ON r.id1 = m.id2 AND r.id2 = m.id1
             WHERE r.id1 < r.id2),
           tri AS MATERIALIZED (
             SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM und e1
                  JOIN und e2 ON e1.b = e2.a
                  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
           pern AS MATERIALIZED (
             SELECT id, CAST(count(1) AS BIGINT) AS n_tri FROM (
               SELECT x AS id FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
             GROUP BY id),
           deg AS MATERIALIZED (
             SELECT id, CAST(count(1) AS BIGINT) AS deg FROM (
               SELECT a AS id FROM und UNION ALL SELECT b FROM und)
             GROUP BY id)
           SELECT d.id, d.deg, coalesce(pn.n_tri, 0) AS n_tri,
                  round(CASE WHEN d.deg >= 2
                          THEN CAST(coalesce(pn.n_tri, 0) AS DOUBLE) * 2.0
                               / (d.deg * (d.deg - 1))
                          ELSE CAST(0 AS DOUBLE) END + 1e-9, 6) AS cc
           FROM deg d LEFT JOIN pern pn USING (id)
           ORDER BY d.id"""))
  }
}
