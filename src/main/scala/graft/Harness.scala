package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** What the command-line mains (Bench, Verify, PlanDump, ScaleStream,
  * RefShapeProbe, GenData) share: the core count, one quiet session
  * opened through [[Graft.session]], the JSON string escaper for their
  * artifacts, and the load average they stamp into them. */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** [[Graft.session]] on `local[cpus]`, logging at WARN. */
  def session(): SparkSession = {
    val s = Graft.session(s"local[$cpus]")
    s.sparkContext.setLogLevel("WARN")
    // Every unpartitioned window in this library is a bounded-stats frame
    // (gene-stats ≤~30k rows, ≤1024-bucket histograms — each bound argued
    // in scaladoc at its use site), so WindowExec's per-plan WARN is pure
    // noise here, and it would eat the last 2000 chars of Bench's stdout
    // that the bench parser keeps. A constant partitionBy can't silence
    // it (Catalyst folds the key away) — drop exactly that logger to ERROR.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped. Spark exception messages and oracle SQL are
    * multi-line, and a path from the environment may hold a quote; a raw
    * one breaks the one-line artifacts their readers `json.load`. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The 1/5/15-minute load averages from /proc/loadavg ("" where there
    * is none), so a loaded machine is visible in an artifact instead of
    * masquerading as a regression. */
  def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split(" ").take(3).mkString(" ")
    catch { case NonFatal(_) => "" }
}
