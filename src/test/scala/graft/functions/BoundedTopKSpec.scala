package graft.functions

import graft.SparkSpec
import graft.rel.WindowSetSort
import graft.tables.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class BoundedTopKSpec extends SparkSpec {

  private val agg = BoundedTopK(3)

  test("reduce caps the buffer at k and keeps it sorted") {
    val rows = Seq(5.0 -> 1L, 1.0 -> 2L, 9.0 -> 3L, 9.0 -> 0L, 3.0 -> 4L)
      .map { case (s, i) => ScoreId(s, i) }
    val buf = rows.foldLeft(agg.zero)(agg.reduce)
    assert(buf.size == 3)
    // (9.0, 0) beats (9.0, 3) on the id tie-break
    assert(buf == List(ScoreId(9.0, 0L), ScoreId(9.0, 3L), ScoreId(5.0, 1L)))
  }

  test("property: fold == sort-take-k, and merge == fold of concatenation") {
    val rnd = new scala.util.Random(42)
    def model(v: Seq[ScoreId]) =
      v.sortBy(r => (-r.score, r.id)).take(3).toList
    for (_ <- 1 to 200) {
      // small score domain (0..4) forces tie-break coverage
      def gen() = List.fill(rnd.nextInt(12))(
        ScoreId(rnd.nextInt(5).toDouble, rnd.nextInt(8).toLong))
      val (a, b) = (gen(), gen())
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      assert(bufA == model(a), s"fold mismatch on $a")
      assert(agg.merge(bufA, bufB) == model(a ++ b),
        s"merge mismatch on $a ++ $b")
    }
  }

  test("q_topk_grouped == the window row_number formulation") {
    val viaAgg = WindowSetSort.queries("q_topk_grouped")(spark, sf).collect()
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("int").as("rn"))
      .orderBy("o_custkey", "rn")
      .collect()
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("SQL surface: bounded_top3 equals the Column-API query") {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_btk")
    val viaSql = spark.sql("""
      SELECT o_custkey, t.pos + 1 AS rn, t.col.score AS o_totalprice,
             t.col.id AS o_orderkey
      FROM (SELECT o_custkey, bounded_top3(o_totalprice, o_orderkey) AS top
            FROM orders_btk GROUP BY o_custkey)
      LATERAL VIEW posexplode(top) t AS pos, col
      ORDER BY o_custkey, rn""")
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .collect()
    val viaApi = WindowSetSort.queries("q_topk_grouped")(spark, sf)
      .withColumn("rn", col("rn").cast("long")).collect()
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("the aggregation carries a partial (map-side) phase") {
    // the entire point of the bounded buffer: ObjectHashAggregate /
    // SortAggregate must show a partial_ mode before the exchange so a
    // hot group collapses to ≤k rows per mapper
    val plan = planOf(WindowSetSort.queries("q_topk_grouped")(spark, sf))
    assert(plan.contains("partial_boundedtopk") ||
      plan.contains("partial_BoundedTopK") ||
      plan.toLowerCase.contains("partial_boundedtopk"),
      plan.take(2000))
  }
}
