package graft

import org.apache.spark.sql.functions._

class GraftFacadeSpec extends SparkSpec {

  test("facade exposes the full declared surface and runs a query by id") {
    // independent floor + spot ids, not a tautological self-compare
    assert(Graft.queries.size >= 120)
    assert(Graft.queries.contains("q_agg_hash") &&
      Graft.queries.contains("q_graph_pagerank"))
    val out = Graft.run("q_agg_hash", spark, sf)
    assert(out.count() > 0)
    val err = intercept[IllegalArgumentException] {
      Graft.run("q_no_such_query", spark, sf)
    }
    assert(err.getMessage.contains("valid ids"))
  }

  test("the extensions the facade installs resolve in SQL") {
    // the shared test session is the facade's own session; no register
    // call, so the native function resolves through the extension
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-9)
  }
}
