package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine_sim == HOF cosine formulation on real embeddings") {
    val e = graft.tables.Tables.embeddings(spark, sf)
      .limit(100)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val pairs = e.select($"vec_id".as("id1"), $"v".as("v1"))
      .join(e.select($"vec_id".as("id2"), $"v".as("v2")), $"id1" < $"id2")
    val diffs = pairs.select(
        GraftFunctions.cosineSim($"v1", $"v2").as("native"),
        graft.llm.Similarity.cosine($"v1", $"v2").as("hof"))
      .filter(abs($"native" - $"hof") > 1e-12)
      .count()
    assert(diffs == 0)
  }

  test("cosine_sim participates in whole-stage codegen") {
    val e = graft.tables.Tables.embeddings(spark, sf).limit(5)
      .select(transform($"embedding", _.cast("double")).as("v"))
    val df = e.select(expr("cosine_sim(v, v)").as("c"))
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    // formatted explain marks whole-stage-codegen'd operators with '*'
    val plan = formattedPlan(df)
    assert(plan.contains("* Project"), plan)
    // and no fallback marker on our expression
    assert(!planOf(df).toLowerCase.contains("codegenfallback"))
  }

  test("native l2_sq == HOF fold, bit for bit (same accumulation order)") {
    val e = graft.tables.Tables.embeddings(spark, sf)
      .limit(100)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val pairs = e.select($"vec_id".as("id1"), $"v".as("v1"))
      .join(e.select($"vec_id".as("id2"), $"v".as("v2")), $"id1" < $"id2")
    // EXACT equality, not epsilon: both accumulate index-ascending, so
    // the swap in Neighbors/Similarity cannot move oracle'd hashes
    val diffs = pairs.select(
        GraftFunctions.l2Sq($"v1", $"v2").as("native"),
        aggregate(zip_with($"v1", $"v2", (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(diffs == 0)
  }

  test("l2_sq participates in whole-stage codegen") {
    val e = graft.tables.Tables.embeddings(spark, sf).limit(5)
      .select(transform($"embedding", _.cast("double")).as("v"))
    val df = e.select(expr("l2_sq(v, v)").as("z"))
    assert(df.collect().forall(_.getDouble(0) == 0.0))
    assert(formattedPlan(df).contains("* Project"))
    assert(!planOf(df).toLowerCase.contains("codegenfallback"))
  }

  test("cosine_sim handles nulls and SQL registration") {
    val r = spark.sql(
      """SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS a,
                cosine_sim(array(1.0d, 0.0d), array(0.0d, 2.0d)) AS b""").head()
    assert(r.isNullAt(0) && math.abs(r.getDouble(1)) < 1e-12)
  }

  test("mistyped arguments fail at ANALYSIS, not mid-job") {
    // checkInputDataTypes (VectorPairExpression) turns the former runtime
    // IllegalArgumentException into an AnalysisException at plan time
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT l2_sq(array('a', 'b'), array('c', 'd'))")
        .queryExecution.analyzed
    }
    assert(err.getMessage.contains("l2_sq"), err.getMessage)
  }

  test("ragged (unequal-length) vectors return NULL, matching the HOF fold") {
    // the zip_with+aggregate formulation nulls the whole fold when the
    // shorter array is null-padded; the fused loops must agree
    val r = spark.sql(
      """SELECT l2_sq(array(1.0d, 2.0d), array(1.0d)) AS a,
                dot_product(array(1.0d, 2.0d), array(1.0d)) AS b,
                cosine_sim(array(1.0d, 2.0d), array(1.0d)) AS c,
                aggregate(zip_with(array(1.0d, 2.0d), array(1.0d),
                  (x, y) -> (x - y) * (x - y)), 0.0d, (a, e) -> a + e) AS hof
      """).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    // and the codegen path agrees with the interpreted path: run the same
    // ragged input through a real scan (codegen) rather than a literal fold
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(GraftFunctions.l2Sq($"a", $"b").as("z"))
    assert(df.head().isNullAt(0))
  }

  test("the extension route resolves every native expression without register") {
    // newSession() builds a fresh function registry from the builtins plus
    // the session extensions alone; nothing here calls register
    val s2 = spark.newSession()
    for ((id, _, _) <- GraftFunctions.nativeExpressions) {
      assert(s2.sessionState.functionRegistry.functionExists(id), id.funcName)
    }
    import graft.llm.Cdc.{W, B, Mask, Divisor}
    val r = s2.sql(
      s"""SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)),
                l2_sq(array(1.0d, 0.0d), array(1.0d, 0.0d)),
                dot_product(array(1.0d, 0.0d), array(1.0d, 0.0d)),
                cdc_chunks('the quick brown fox', $W, ${B}L, ${Mask}L, ${Divisor}L),
                simhash60('the quick brown fox'),
                lcp_len('abcd', 0L, 'abcx', 0L),
                dsir_buckets('the quick brown fox', 'dsir:', 64)""").head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0 &&
      r.getDouble(2) == 1.0)
    assert(r.getSeq[String](3).mkString == "the quick brown fox")
    assert(!r.isNullAt(4) && r.getLong(5) == 3L && !r.isNullAt(6))
  }

  test("register installs both aggregators into a session without them") {
    val s2 = spark.newSession()
    assert(!s2.catalog.functionExists("exact_median"))
    GraftFunctions.register(s2)
    val r = s2.sql(
      """SELECT exact_median(v), bounded_top3(v, id)
         FROM VALUES (1.0d, 1L), (9.0d, 2L), (4.0d, 3L) AS t(v, id)""").head()
    assert(r.getDouble(0) == 4.0)
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) ==
      Seq(2L, 3L, 1L))
  }

  test("ExactMedian aggregator: odd, even, and per-group medians") {
    import org.apache.spark.sql.functions.udaf
    val med = udaf(GraftFunctions.ExactMedian)
    val df = Seq(("a", 1.0), ("a", 9.0), ("a", 4.0),
                 ("b", 2.0), ("b", 8.0)).toDF("k", "x")
    val got = df.groupBy("k").agg(med($"x").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 4.0, "b" -> 5.0))
  }

  test("ExactMedian agrees with the exact percentile used by normalize") {
    val sums = graft.sc.ScMatrix.counts(spark, sf)
      .select(aggregate($"vec", lit(0.0), _ + _).as("s"))
    import org.apache.spark.sql.functions.udaf
    val med = udaf(GraftFunctions.ExactMedian)
    val a = sums.agg(med($"s")).head().getDouble(0)
    val b = sums.agg(expr("percentile(s, 0.5)")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-9, s"$a vs $b")
  }
}

class CosineFloatArraySpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("cosine_sim on raw ARRAY<FLOAT> equals the cast-to-double result") {
    val e = graft.tables.Tables.embeddings(spark, sf).limit(50)
    val viaFloat = e.select($"vec_id",
      expr("cosine_sim(embedding, embedding)").as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaDouble = e.select($"vec_id",
      GraftFunctions.cosineSim(
        transform($"embedding", _.cast("double")),
        transform($"embedding", _.cast("double"))).as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaFloat.foreach { case (id, c) =>
      assert(math.abs(c - 1.0) < 1e-6, s"self-cosine of $id = $c")
      assert(math.abs(c - viaDouble(id)) < 1e-6)
    }
  }

  test("unsupported element types are rejected, not silently misread") {
    val err = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.contains("cosine_sim") ||
      err.getCause != null, err.getMessage)
  }

  test("zero-norm vectors never win a top-k (safeCosine NULLs NaN)") {
    import graft.llm.Similarity
    val vecs = (Seq((0L, Seq.fill(4)(0.0))) ++            // zero vector
      (1L to 10L).map(i => (i, Seq(i.toDouble, 1.0, 0.0, 0.0))))
      .toDF("id", "v")
    val pairs = vecs.select($"id".as("id1"), $"v".as("v1"))
      .join(vecs.select($"id".as("id2"), $"v".as("v2")), $"id1" < $"id2")
      .select($"id1", $"id2", Similarity.safeCosine($"v1", $"v2").as("c"))
      .orderBy($"c".desc_nulls_last).limit(5)
      .collect()
    assert(pairs.forall(r => r.getLong(0) != 0L && !r.isNullAt(2)))
  }
}
