package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM: the first
  * suite to run fixes its static confs for every other suite, so every
  * suite takes this one). sf0.001 is the unit-test scale. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Physical plan text (after AQE final plan materialization needs an
    * action; for shape checks the initial executedPlan string suffices). */
  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }
}

object SparkSpec {
  /** The library's own session (extensions, UTC, AQE, shuffle width =
    * cores), so the specs test the plans Verify and Bench run. The temp
    * warehouse dir is for BucketingSpec's `saveAsTable`. */
  lazy val session: SparkSession = {
    val s = Graft.session("local[4]", Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
