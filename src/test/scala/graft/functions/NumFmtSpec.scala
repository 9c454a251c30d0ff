package graft.functions

import org.apache.spark.sql.functions._

/** Pins the two cross-engine float-determinism conventions independent
  * of any gate query, so a refactor of NumFmt cannot silently weaken
  * them: (1) roundSigned collapses IEEE −0.0; (2) moneySum is exact and
  * partitioning/order-independent where double sums are not. */
class NumFmtSpec extends graft.SparkSpec {
  test("roundSigned collapses -0.0 to +0.0 and is identity elsewhere") {
    import spark.implicits._
    val rows = Seq(-1e-9, 0.0, 1e-9, -0.123451, 2.5, -2.5).toDF("x")
      .select(NumFmt.roundSigned(col("x"), 4).as("r"))
      .collect().map(_.getDouble(0)).toSeq
    // -1e-9 rounds to zero: must print 0.0, NOT -0.0
    assert(rows(0) == 0.0 &&
      java.lang.Double.doubleToRawLongBits(rows(0)) == 0L)
    assert(rows == Seq(0.0, 0.0, 0.0, -0.1235, 2.5, -2.5))
  }

  test("roundSignedSql is the same arithmetic in SQL text") {
    val got = spark.sql(
      s"SELECT ${NumFmt.roundSignedSql("-1e-9", 4)} AS r").head.getDouble(0)
    assert(got == 0.0 && java.lang.Double.doubleToRawLongBits(got) == 0L)
  }

  test("moneySum is exact where a double sum drifts, at any partitioning") {
    import spark.implicits._
    // 10M cents-valued doubles summing past 2^53-relative precision for
    // doubles-with-cents: 9999999.99 each → true sum 9.999999989998e13
    val n = 10000000L
    def df(parts: Int) = spark.range(0, n, 1, parts)
      .select((lit(9999999.0) + (col("id") % 100).cast("double") / 100.0)
        .as("v"))
    val exact = df(4).select(NumFmt.moneySum(col("v"), 2, 2).as("s"))
      .head.getDouble(0)
    val exact32 = df(32).select(NumFmt.moneySum(col("v"), 2, 2).as("s"))
      .head.getDouble(0)
    // decimal accumulation: same answer at any partitioning, equal to the
    // closed form n*9999999 + sum(id%100)/100 = 99999990000000 + 4950000/100...
    val closed = BigDecimal(9999999) * n + BigDecimal(n / 100) * BigDecimal(99 * 100 / 2) / 100
    assert(exact == exact32)
    assert(BigDecimal(exact) == closed)
  }
}
