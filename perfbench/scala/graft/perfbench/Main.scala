package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: set up, warm up, time whole passes over one
  * workload's ops (one op at a time, one client), and write every raw
  * sample to `<out>/result.json`. Metrics are computed from the samples
  * by `perfbench/stats.py`.
  *
  * {{{
  * java ... graft.perfbench.Main --workload sc_atlas --data <inputs>
  *   --work <scratch> --out <out> --seconds 12 --trace 0
  * }}}
  */
object Main {
  private val json = new ObjectMapper()

  /** Warm-up after the first (checked) pass: at least this long, then on
    * until the pass time levels off, but no longer than the maximum. */
  val WarmupMinS = 12.0
  val WarmupMaxS = 20.0

  final case class Args(workload: String, data: String, work: String, out: String,
                        seconds: Double, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val start = System.nanoTime()
    Probes.install()
    val args = parse(argv)
    val result = json.createObjectNode()
    result.put("workload", args.workload)
    result.put("loadavg_start", Probes.loadavg())

    // --- set-up: session start plus the workload's one-time work, from
    // main to the first warm-up op
    val spark = session(Runtime.getRuntime.availableProcessors)
    val wl = Workloads(args.workload)
    val ctx = new Ctx(spark, args.data, args.work)
    wl.prepare(ctx)
    result.putArray("setup_s").add((System.nanoTime() - start) / 1e9)

    // --- warm-up: the first pass writes every output for the checks
    val checkDir = s"${args.out}/check"
    new File(checkDir).mkdirs()
    val oracle = json.createObjectNode()
    wl.oracle.foreach { case (k, v) => oracle.put(k, v) }
    json.writeValue(new File(s"$checkDir/oracle_sql.json"), oracle)
    val warm = result.putArray("warmup_s")
    val checkPass = runPass(wl, ctx, Some(checkDir), None)
    result.set("check_pass", checkPass)
    warm.add(checkPass.get("wall_s").asDouble)
    val w0 = System.nanoTime()
    val times = ArrayBuffer.empty[Double]
    def warmed = (System.nanoTime() - w0) / 1e9
    while (warmed < WarmupMinS || (!levelled(times) && warmed < WarmupMaxS)) {
      times += runPass(wl, ctx, None, None).get("wall_s").asDouble
      warm.add(times.last)
    }

    // --- timed passes: whole passes until --seconds have elapsed; the
    // traced run alternates untraced and traced passes
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val passes = result.putArray("passes")
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (args.trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val traced = tracer.filter(_ => i % 2 == 1)
      traced.foreach(_.attach())
      val p = runPass(wl, ctx, None, traced)
      traced.foreach(_.detach())
      p.put("traced", traced.isDefined)
      passes.add(p)
      i += 1
    }
    wl match {
      case sc: ScAtlas =>
        result.put("zarr_store_bytes", sc.storeBytes(ctx))
        result.put("kept_cells", sc.keptCells)
      case _ =>
    }
    result.put("loadavg_end", Probes.loadavg())
    json.writeValue(new File(s"${args.out}/result.json"), result)
    spark.stop()
  }

  /** The program's own session front door, on `local[cpus]`. Fixed heap,
    * local dir and tmpdir come from the JVM command line. */
  def session(cpus: Int): SparkSession = {
    val s = graft.Graft.session(s"local[$cpus]")
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Levelled off: at least two passes, and the latest is not more than
    * 3% faster than the best before it. */
  def levelled(t: scala.collection.Seq[Double]): Boolean =
    t.size >= 2 && t.last >= 0.97 * t.init.min

  /** One pass over every op. Per op: the time from the call into the
    * program to the last row consumed, with the call's own (eager) part
    * as build_s; with a tracer, the per-layer counters of both parts. */
  def runPass(wl: Workload, c: Ctx, check: Option[String], tracer: Option[Tracer]): ObjectNode = {
    val spark = c.spark
    val pass = json.createObjectNode()
    val ops = pass.putArray("ops")
    c.marks.clear()
    val a0 = Probes.allocatedBytes(); val w0 = Probes.writtenBytes(); val g0 = Probes.gcSeconds()
    val p0 = System.nanoTime()
    for (op <- wl.ops) {
      val rec = ops.addObject()
      rec.put("op", op.name)
      val marks0 = c.marks.toMap
      val opAlloc0 = Probes.allocatedBytes()
      try {
        val s0 = System.nanoTime()
        val df = op.build(c)
        val s1 = System.nanoTime()
        tracer.foreach { t =>
          if (df != null) t.addAnalysis(df.queryExecution)
          put(rec, "build", t.take())
        }
        val s2 = System.nanoTime()
        if (df != null) op.consume(c, df, check)
        val s3 = System.nanoTime()
        rec.put("s", (s1 - s0 + s3 - s2) / 1e9)
        rec.put("build_s", (s1 - s0) / 1e9)
        rec.put("consume_s", (s3 - s2) / 1e9)
        rec.put("ok", true)
      } catch {
        case NonFatal(e) =>
          rec.put("ok", false)
          rec.put("error", s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
          System.err.println(s"[perfbench] ${op.name} failed: $e")
      }
      tracer.foreach(t => put(rec, "consume", t.take()))
      c.marks.foreach { case (k, v) => rec.put(k, v - marks0.getOrElse(k, 0.0)) }
      rec.put("alloc_bytes", Probes.allocatedBytes() - opAlloc0)
      // persisted RDDs still registered once the result is consumed, then
      // cleared so that every pass starts from the same state
      rec.put("cached_rdds_left", spark.sparkContext.getPersistentRDDs.size)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    pass.put("wall_s", (System.nanoTime() - p0) / 1e9)
    pass.put("alloc_bytes", Probes.allocatedBytes() - a0)
    pass.put("written_bytes", Probes.writtenBytes() - w0)
    pass.put("gc_s", Probes.gcSeconds() - g0)
    pass
  }

  private def put(rec: ObjectNode, seg: String, s: Segment): Unit = {
    val o = rec.putObject(seg)
    o.put("jobs", s.jobs); o.put("stages", s.stages); o.put("tasks", s.tasks)
    o.put("sched_wait_ms", s.schedWaitMs); o.put("task_busy_ms", s.taskBusyMs)
    o.put("task_skew", s.taskSkew)
    o.put("shuffle_write_bytes", s.shuffleWrite); o.put("shuffle_read_bytes", s.shuffleRead)
    o.put("spill_bytes", s.spill)
    o.put("analysis_ms", s.analysisMs); o.put("optimizer_ms", s.optimizerMs)
    o.put("planning_ms", s.planningMs)
    o.put("exchange", s.exchange); o.put("smj", s.smj); o.put("bhj", s.bhj)
    o.put("bnlj", s.bnlj); o.put("window", s.window); o.put("join_rows", s.joinRows)
  }
}
