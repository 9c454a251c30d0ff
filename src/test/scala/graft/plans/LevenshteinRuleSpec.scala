package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LevenshteinThresholdRule: rewrite shape (every comparison form), the
  * no-rewrite cases, semantic equality against the naive predicate on
  * boundary distances and NULLs, and the real injected-session path (the
  * shared session is built with GraftExtensions). The naive ground truth
  * comes from a session with the rule excluded. */
class LevenshteinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def pairs: DataFrame = Seq(
    ("kitten", "sitting"),   // distance 3
    ("abc", "abc"),          // 0
    ("abc", "abd"),          // 1
    ("abc", "xyz"),          // 3
    ("a", "abcdefgh"),       // 7 (length gap beyond small bands)
    (null.asInstanceOf[String], "abc"),
    ("abc", null.asInstanceOf[String])
  ).toDF("t1", "t2")

  private def banded(plan: LogicalPlan): Seq[Levenshtein] =
    plan.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case l: Levenshtein if l.threshold.isDefined => l
    })

  private def naive(plan: LogicalPlan): Seq[Levenshtein] =
    plan.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case l: Levenshtein if l.threshold.isEmpty => l
    })

  private def rewritten(predicate: String): LogicalPlan =
    LevenshteinThresholdRule(
      pairs.filter(predicate).queryExecution.analyzed)

  test("rewrites <=, <, =, and mirrored literal-first comparisons") {
    for (p <- Seq("levenshtein(t1, t2) <= 2", "2 >= levenshtein(t1, t2)",
                  "levenshtein(t1, t2) < 3", "3 > levenshtein(t1, t2)",
                  "levenshtein(t1, t2) = 1", "1 = levenshtein(t1, t2)")) {
      val plan = rewritten(p)
      assert(banded(plan).nonEmpty, s"no banded form for: $p")
      assert(naive(plan).isEmpty, s"naive form survived for: $p")
    }
  }

  test("leaves projections, column bounds, and negative bounds alone") {
    for (df <- Seq(
      pairs.selectExpr("levenshtein(t1, t2) AS d"),      // not a predicate
      pairs.filter("levenshtein(t1, t2) <= length(t1)"), // non-literal bound
      pairs.filter("levenshtein(t1, t2) < 0")))  {       // k-1 would be -1
      val plan = LevenshteinThresholdRule(df.queryExecution.analyzed)
      assert(banded(plan).isEmpty, s"unexpected rewrite in: $plan")
    }
  }

  test("rule is idempotent on its own output") {
    val once = rewritten("levenshtein(t1, t2) <= 2")
    assert(LevenshteinThresholdRule(once) == once)
  }

  /** Ground truth where the rule cannot run: a session with it excluded.
    * The shared session carries the rule, so a naive reference computed
    * there would be the rule checked against itself. */
  private lazy val naiveSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      LevenshteinThresholdRule.ruleName)
    s
  }

  /** Rows of `path` passing `predicate` in the naive session, after
    * checking that its optimized plan kept the naive form. */
  private def naiveRows(path: String, predicate: String): Array[String] = {
    val df = naiveSession.read.parquet(path).filter(predicate)
    val plan = df.queryExecution.optimizedPlan
    assert(banded(plan).isEmpty && naive(plan).nonEmpty, plan.toString)
    df.collect().map(_.toString).sorted
  }

  // a parquet scan, not a local Seq — ConvertToLocalRelation folds
  // filters over LocalRelation away before the plan can be inspected
  private lazy val pairsPath: String = {
    val p = java.nio.file.Files.createTempDirectory("lev_pairs").toString +
      "/pairs.parquet"
    pairs.write.parquet(p)
    p
  }

  test("banded rewrite keeps naive semantics on boundaries and NULLs") {
    for ((pred, bandedPred) <- Seq(
      "levenshtein(t1, t2) <= 3" -> "levenshtein(t1, t2, 3) >= 0",
      "levenshtein(t1, t2) <= 0" -> "levenshtein(t1, t2, 0) >= 0",
      "levenshtein(t1, t2) < 3"  -> "levenshtein(t1, t2, 2) >= 0",
      "levenshtein(t1, t2) = 3"  -> "levenshtein(t1, t2, 3) = 3")) {
      val want = naiveRows(pairsPath, pred)
      val got = spark.read.parquet(pairsPath).filter(bandedPred)
        .collect().map(_.toString).sorted
      assert(got.sameElements(want), s"$pred vs $bandedPred")
    }
  }

  test("injected session optimizes the naive SQL to the banded plan") {
    // the shared session is built with GraftExtensions, so the rule runs
    // in it as it does in Verify and Bench
    val docs = s"$sf/documents.parquet"
    val pred = "levenshtein(lang, 'enn') <= 1"
    val df = spark.read.parquet(docs).filter(pred).select("doc_id")
    assert(banded(df.queryExecution.optimizedPlan).nonEmpty,
      df.queryExecution.optimizedPlan.toString)
    // and the injected functions ride along in the same session
    assert(!spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head().isNullAt(0))
    // same rows as the naive predicate where the rule cannot run
    assert(df.count() == naiveRows(docs, pred).length)
  }
}
