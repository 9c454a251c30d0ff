package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions.{call_function, expr}

/** Registration surface for graft's native expressions.
  *
  * Two routes, driven by one table ([[GraftFunctions.nativeExpressions]]):
  *  - `GraftExtensions` — `SparkSessionExtensions` injection for sessions
  *    built with `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (what `graft.Graft.session` sets; the idiomatic deployment path on a
  *    real cluster) or `.withExtensions(new GraftExtensions)`;
  *  - `register(spark)` — runtime registration into an existing session's
  *    function registry, for a session built without the extension. It
  *    also installs the two aggregators (`exact_median`, `bounded_top3`)
  *    for SQL users; the extension does not inject them.
  *
  * The queries need a graft session (one built with the extension, as
  * `graft.Graft.session` builds it): they call the native expressions
  * by name and plan the as-of join with the injected strategy. They use
  * the two aggregators through `udaf(...)`, never by name.
  */
object GraftFunctions {

  val cosineBuilder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(exprs(0), exprs(1))

  val l2SqBuilder: Seq[Expression] => Expression =
    exprs => L2DistanceSq(exprs(0), exprs(1))

  val dotBuilder: Seq[Expression] => Expression =
    exprs => DotProduct(exprs(0), exprs(1))

  /** cdc_chunks(text, w, b, mask, divisor) — params must be literals
    * (they parameterize the generated kernel call, not a row value). */
  val cdcChunksBuilder: Seq[Expression] => Expression = { exprs =>
    def asLong(e: Expression, name: String): Long = e.eval(null) match {
      case i: Int  => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"cdc_chunks: $name must be an integer literal, got $other")
    }
    CdcChunks(exprs(0), asLong(exprs(1), "w").toInt, asLong(exprs(2), "b"),
      asLong(exprs(3), "mask"), asLong(exprs(4), "divisor"))
  }

  val simHash60Builder: Seq[Expression] => Expression =
    exprs => SimHash60(exprs(0))

  val lcpLenBuilder: Seq[Expression] => Expression =
    exprs => LcpLen(exprs(0), exprs(1), exprs(2), exprs(3))

  /** dsir_buckets(text, salt, buckets) — salt/buckets must be literals
    * (they parameterize the generated kernel call, not a row value). */
  val dsirBucketsBuilder: Seq[Expression] => Expression = { exprs =>
    val salt = exprs(1).eval(null) match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => throw new IllegalArgumentException(
        s"dsir_buckets: salt must be a string literal, got $other")
    }
    val buckets = exprs(2).eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"dsir_buckets: buckets must be an integer literal, got $other")
    }
    DsirBuckets(exprs(0), salt, buckets)
  }

  /** The seven native expressions as (name, info, builder) — the one
    * list both registration routes install. */
  val nativeExpressions: Seq[(FunctionIdentifier, ExpressionInfo,
                              Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], cosineBuilder),
    ("l2_sq", classOf[L2DistanceSq], l2SqBuilder),
    ("dot_product", classOf[DotProduct], dotBuilder),
    ("cdc_chunks", classOf[CdcChunks], cdcChunksBuilder),
    ("simhash60", classOf[SimHash60], simHash60Builder),
    ("lcp_len", classOf[LcpLen], lcpLenBuilder),
    ("dsir_buckets", classOf[DsirBuckets], dsirBucketsBuilder)
  ).map { case (name, cls, builder) =>
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
  }

  /** Idempotent runtime registration. EVERY path is guarded by a
    * functionExists check: both udf.register and registerFunction WARN
    * "replaced a previously registered function" on re-registration. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def missing(n: String) = !reg.functionExists(FunctionIdentifier(n))
    nativeExpressions.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    // aggregator surface for SQL users — `SELECT g, exact_median(v) …`,
    // `SELECT g, bounded_top3(score, id) …` (array<struct<score,id>>,
    // descending, O(3) agg state; see BoundedTopK)
    if (missing("exact_median"))
      spark.udf.register("exact_median",
        org.apache.spark.sql.functions.udaf(ExactMedian))
    if (missing("bounded_top3"))
      spark.udf.register("bounded_top3",
        org.apache.spark.sql.functions.udaf(BoundedTopK(3)))
  }

  /** Column-API form of the native cosine expression (requires the
    * extension or register(spark) in that session). */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Column-API form of the native squared-L2 expression (requires the
    * extension or register(spark) in that session). */
  def l2Sq(a: Column, b: Column): Column =
    call_function("l2_sq", a, b)

  /** Column-API form of the native dot-product expression (requires the
    * extension or register(spark) in that session). */
  def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Column-API form of the native CDC chunker (requires the
    * extension or register(spark) in that session). */
  def cdcChunks(text: Column, w: Int, b: Long, mask: Long,
                divisor: Long): Column =
    call_function("cdc_chunks", text,
      org.apache.spark.sql.functions.lit(w),
      org.apache.spark.sql.functions.lit(b),
      org.apache.spark.sql.functions.lit(mask),
      org.apache.spark.sql.functions.lit(divisor))

  /** Column-API form of the native SimHash fingerprint (requires the
    * extension or register(spark) in that session). */
  def simHash60(text: Column): Column =
    call_function("simhash60", text)

  /** Column-API form of the native LCP-length probe (requires the
    * extension or register(spark) in that session). */
  def lcpLen(text: Column, pos: Column, ptext: Column, ppos: Column): Column =
    call_function("lcp_len", text, pos, ptext, ppos)

  /** Column-API form of the native DSIR bigram-bucket histogram
    * (requires the extension or register(spark) in that session). */
  def dsirBuckets(text: Column, salt: String, buckets: Int): Column =
    call_function("dsir_buckets", text,
      org.apache.spark.sql.functions.lit(salt),
      org.apache.spark.sql.functions.lit(buckets))

  /** Exact-median typed Aggregator (UDAF surface demo, SURVEY.md §7.3).
    * Buffers ALL values — fine for bounded per-group cardinalities (the
    * sc-matrix median-of-row-sums use is one group of #cells values; at
    * 100 TB use percentile_approx or the built-in exact percentile
    * instead, which spill). */
  object ExactMedian extends Aggregator[Double, List[Double], Double] {
    override def zero: List[Double] = Nil
    // List prepend is O(1); the old Array :+ buffer was O(n) per row
    override def reduce(b: List[Double], a: Double): List[Double] = a :: b
    override def merge(b1: List[Double], b2: List[Double]): List[Double] =
      b1 reverse_::: b2
    override def finish(r: List[Double]): Double = {
      if (r.isEmpty) return Double.NaN
      val s = r.toArray.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    override def bufferEncoder: Encoder[List[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Double]]()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}

/** Session-extensions installer: injects graft's native functions AND
  * optimizer rules at session build time — the no-code-change deployment
  * route (`--conf spark.sql.extensions=graft.functions.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.nativeExpressions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    // the rung-(c) physical operator (plans/AsOfJoinPlan.scala)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
