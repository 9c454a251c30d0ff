package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** kNN majority-vote classification — the application layer on top of
  * the similarity-search rungs: label unlabeled vectors by the majority
  * label of their k nearest labeled neighbors (weak-labeling a corpus,
  * propagating quality tags, silver-standard eval sets). Train/test
  * split is the deterministic `vec_id % 5` hash split (the Sampling
  * precedent), so both engines see the identical sets.
  *
  * Exactness: neighbor ranking uses the ROUNDED L2 distance (6 dp,
  * +1e-9) with an id tiebreak — the Neighbors/sampleWeighted
  * precedent — so last-ulp float differences cannot reorder ranks;
  * votes are integer counts and the argmax breaks ties toward the
  * SMALLEST label under (votes DESC, label ASC). The fused codegen
  * L2 expression accumulates index-ascending, bit-identical to the
  * HOF fold.
  *
  * Scale: the exact all-pairs probe runs on an explicit bounded test
  * block (the oracle'd correctness baseline, same posture as
  * similarityKnn/Neighbors); the unbounded path for the same output is
  * the IVF/LSH/PQ searchers feeding the identical vote-window. The
  * vote aggregation itself is one keyed shuffle on the probe id —
  * linear in candidates at any scale. */
object KnnClassify {
  type Q = (SparkSession, String) => DataFrame

  val K = 10
  val MaxTestId = 200L

  def knnClassify(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val test = e.filter(col("vec_id") % 5 === 0 &&
      col("vec_id") < MaxTestId)
      .select(col("vec_id").as("tid"), col("v").as("tv"))
    val train = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("nid"), col("label"), col("v").as("nv"))
    val byProbe = Window.partitionBy("tid")
      .orderBy(col("dist"), col("nid"))
    val neigh = test.join(train)
      .select(col("tid"), col("nid"), col("label"),
        round(sqrt(graft.functions.GraftFunctions.l2Sq(col("tv"), col("nv")))
          + lit(1e-9), 6).as("dist"))
      .withColumn("rk", row_number().over(byProbe))
      .filter(col("rk") <= K)
    val byVotes = Window.partitionBy("tid")
      .orderBy(col("votes").desc, col("label"))
    neigh.groupBy("tid", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(byVotes))
      .filter(col("vr") === 1)
      .select(col("tid").as("vec_id"), col("label").as("pred_label"),
        col("votes"))
      .orderBy("vec_id")
  }

  val queries: Map[String, Q] = Map("q_knn_classify" -> knnClassify _)

  val oracle: Map[String, String] = Map(
    "q_knn_classify" ->
      s"""WITH e AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         t AS (SELECT vec_id AS tid, v AS tv FROM e
               WHERE vec_id % 5 = 0 AND vec_id < $MaxTestId),
         tr AS (SELECT vec_id AS nid, label, v AS nv FROM e
                WHERE vec_id % 5 != 0),
         nn AS (
           SELECT tid, nid, label,
                  round(list_distance(tv, nv) + 1e-9, 6) AS dist,
                  row_number() OVER (PARTITION BY tid
                    ORDER BY round(list_distance(tv, nv) + 1e-9, 6), nid)
                    AS rk
           FROM t CROSS JOIN tr QUALIFY rk <= $K),
         votes AS (
           SELECT tid, label, CAST(count(*) AS BIGINT) AS votes,
                  row_number() OVER (PARTITION BY tid
                    ORDER BY count(*) DESC, label) AS vr
           FROM nn GROUP BY tid, label QUALIFY vr = 1)
         SELECT tid AS vec_id, label AS pred_label, votes
         FROM votes ORDER BY vec_id""")
}
