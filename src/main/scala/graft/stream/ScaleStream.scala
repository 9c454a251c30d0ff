package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Harness
import graft.llm.NearDedupStream
import graft.tables.Tables

/** Streaming AT SCALE — the artifact main behind STREAM_sf1.json.
  *
  * The gate's streaming queries prove semantics at spec scale; this main
  * proves the OPERATIONAL claims at corpus scale, the ones a 100 TB
  * deployment actually rides on:
  *
  *  1. **File-fed near-dedup over the FULL corpus** (not the 100-doc
  *     oracle block): signatures-only state (the ≫-heap lever), RocksDB
  *     state backend, event-time horizon — per-micro-batch state rows /
  *     memory / duration recorded from `StreamingQueryProgress`, so
  *     "bounded state" is a measured sawtooth, not an assertion. The
  *     feed is written as ordered parquet slices and streamed through
  *     the real file source, one slice per micro-batch — the
  *     [[NearDedupStream.runFileFeed]] production topology at
  *     corpus size.
  *  2. **Stateful funnel over the FULL events table** with RocksDB +
  *     watermark, sealed by a far-future sentinel event so every user's
  *     outcome flushes — then the stream's per-step user counts are
  *     compared EXACTLY to the batch twin ([[Funnel.funnelConversion]]'s
  *     own aggregation semantics): a corpus-scale correctness anchor,
  *     not just liveness.
  *
  * Wall-clock, loadavg and per-batch state series go to one JSON file
  * (arg 2). Diagnostic main, same contract class as [[graft.Bench]].
  */
object ScaleStream {

  /** Write `df`'s slices as ascending-mtime single files so the file
    * source's default oldest-first ordering replays them as an ordered
    * stream, one micro-batch each (maxFilesPerTrigger=1). */
  private def writeOrderedSlices(df: DataFrame, orderCol: String,
                                 slices: Int, dir: String): Unit = {
    // relativeError 0 = EXACT quantiles: slices are then truly disjoint
    // ascending ranges, so the ordered replay produces NO late data and
    // stream/batch parity below is exact (a fuzzy boundary would let a
    // few rows land one slice late and be watermark-dropped)
    val bounds = df.stat.approxQuantile(
      orderCol, (1 to (slices - 1)).map(_.toDouble / slices).toArray, 0.0)
    val loHi = (Double.MinValue +: bounds.toSeq) :+ Double.MaxValue
    loHi.sliding(2).foreach { pair =>
      val (lo, hi) = (pair(0), pair(1))
      df.filter(col(orderCol).cast("double") >= lo &&
          col(orderCol).cast("double") < hi)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5) // distinct mtimes: slice k+1 strictly after slice k
    }
  }

  private case class BatchRow(batchId: Long, inputRows: Long,
                              stateRows: Long, stateMemBytes: Long,
                              durationMs: Long)

  private def progressRows(
      q: org.apache.spark.sql.streaming.StreamingQuery): Seq[BatchRow] =
    q.recentProgress.toSeq.map { p =>
      BatchRow(p.batchId, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum,
        p.batchDuration)
    }

  private def jsonArr(rows: Seq[BatchRow]): String = rows.map { r =>
    s"""{"batch":${r.batchId},"input_rows":${r.inputRows},""" +
      s""""state_rows":${r.stateRows},"state_mem_bytes":${r.stateMemBytes},""" +
      s""""duration_ms":${r.durationMs}}"""
  }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "/root/repo/STREAM_OUT.json"
    val spark = Harness.session()
    spark.conf.set(NearDedupStream.rocksDbConf._1, NearDedupStream.rocksDbConf._2)
    // both replays run ~50 (data + no-data) micro-batches; keep every
    // progress sample so the state series in the artifact is complete
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
    import spark.implicits._
    val load0 = Harness.loadavg()
    val tmp = System.getProperty("java.io.tmpdir")

    // ---------------- 1. corpus-scale file-fed near-dedup ----------------
    val horizonSec = 2000L
    val dedupSlices = 48
    val t0 = System.nanoTime()
    val feedDir = s"$tmp/graft_scalestream_feed_${System.nanoTime()}"
    val feed = NearDedupStream.prepFeedDocs(
      Tables.documents(spark, sfDir)) // FULL corpus — no oracle block cap
    writeOrderedSlices(feed, "doc_id", dedupSlices, feedDir)
    val prepSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val src = spark.readStream
      .schema(spark.read.parquet(feedDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir).as[NearDedupStream.FeedRow]
    val flagged = NearDedupStream.topology(src,
      horizonSec = Some(horizonSec), signaturesOnly = true)
    val sink = s"scalestream_dedup_${System.nanoTime()}"
    val q1 = flagged.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(sink).start()
    val (dedupBatches, nVerdicts, nDocs) =
      try {
        q1.processAllAvailable()
        (progressRows(q1), spark.table(sink).count(),
          spark.read.parquet(feedDir).count())
      } finally {
        q1.stop()
        try spark.sql(s"DROP TABLE IF EXISTS $sink") catch { case _: Throwable => () }
      }
    val dedupSec = (System.nanoTime() - t1) / 1e9
    // bounded-state invariant: the horizon must keep peak state well
    // below "every band row ever seen" (what a horizonless run retains)
    val totalBandRows = nDocs * NearDedupStream.Bands
    val peakState = dedupBatches.map(_.stateRows).maxOption.getOrElse(0L)

    // ---------------- 2. corpus-scale stateful funnel --------------------
    val t2 = System.nanoTime()
    val evDir = s"$tmp/graft_scalestream_events_${System.nanoTime()}"
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("ts"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    writeOrderedSlices(ev, "ts_ns", 24, evDir)
    // far-future sentinel (3 days past the last event): pushes the final
    // watermark beyond every user's 48 h seal point so ALL outcomes
    // flush and the stream/batch parity check below is exact
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3L * 86400 * 1000)
    Seq((-1L, "noop", sentinelTs.getTime * 1000000L, sentinelTs))
      .toDF("user_id", "event_type", "ts_ns", "ts")
      .coalesce(1).write.mode("append").parquet(evDir)
    val evPrepSec = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val evSrc = spark.readStream
      .schema(spark.read.parquet(evDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(evDir)
      .withWatermark("ts", "10 minutes")
      .as[(Long, String, Long, java.sql.Timestamp)]
    val funnel = Funnel.statefulFunnel(evSrc)
    val sink2 = s"scalestream_funnel_${System.nanoTime()}"
    val q2 = funnel.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(sink2).start()
    val (funnelBatches, streamSteps) =
      try {
        q2.processAllAvailable()
        val depths = spark.table(sink2).toDF("user_id", "depth")
        val steps = (1 to 3).map(k =>
          depths.filter(col("depth") >= k).count())
        (progressRows(q2), steps)
      } finally {
        q2.stop()
        try spark.sql(s"DROP TABLE IF EXISTS $sink2") catch { case _: Throwable => () }
      }
    val funnelSec = (System.nanoTime() - t3) / 1e9
    // batch twin: q_funnel_conversion's own semantics on the same table
    val batchSteps = Funnel.funnelConversion(spark, sfDir)
      .orderBy("step").select(col("n_users")).as[Long].collect().toSeq
    val funnelPeak = funnelBatches.map(_.stateRows).maxOption.getOrElse(0L)
    val parity = streamSteps == batchSteps

    val json =
      s"""{"sf":${Harness.json(sfDir)},"rocksdb":true,"loadavg_start":${Harness.json(load0)},""" +
        s""""loadavg_end":${Harness.json(Harness.loadavg())},""" +
        s""""near_dedup":{"docs":$nDocs,"slices":$dedupSlices,""" +
        s""""signatures_only":true,"horizon_sec":$horizonSec,""" +
        s""""prep_sec":${"%.1f".format(prepSec)},""" +
        s""""stream_sec":${"%.1f".format(dedupSec)},""" +
        s""""pair_emissions":$nVerdicts,""" +
        s""""peak_state_rows":$peakState,""" +
        s""""band_rows_seen":$totalBandRows,""" +
        s""""batches":${jsonArr(dedupBatches)}},""" +
        s""""funnel":{"prep_sec":${"%.1f".format(evPrepSec)},""" +
        s""""stream_sec":${"%.1f".format(funnelSec)},""" +
        s""""stream_steps":${streamSteps.mkString("[", ",", "]")},""" +
        s""""batch_steps":${batchSteps.mkString("[", ",", "]")},""" +
        s""""parity":$parity,""" +
        s""""peak_state_rows":$funnelPeak,""" +
        s""""batches":${jsonArr(funnelBatches)}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    // cleanup the corpus-sized feed copies
    Seq(feedDir, evDir).foreach { d =>
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(d)).deleteRecursively()
      } catch { case _: Throwable => () }
    }
    require(parity,
      s"funnel stream/batch parity FAILED: stream=$streamSteps batch=$batchSteps")
    spark.stop()
  }
}
