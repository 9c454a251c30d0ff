package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's front door: one import gives a correctly-configured
  * session and the full query surface.
  *
  * {{{
  * val spark = graft.Graft.session()             // local dev
  * val docs  = graft.tables.Tables.documents(spark, dataDir)
  * graft.SparkEntry.queries("q_dedup_exact")(spark, dataDir).show()
  * // settings fixed at session start go in `conf`:
  * graft.Graft.session("local[4]", Map("spark.driver.maxResultSize" -> "8g"))
  * }}}
  *
  * On a real cluster, skip `session()` and add the same settings to an
  * existing builder / spark-submit:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (the seven native expressions, the Levenshtein threshold rule and the
  * as-of join strategy; the `exact_median` / `bounded_top3` aggregators
  * come from `GraftFunctions.register`), UTC session timezone (the oracle
  * convention every operator's rounding assumes), and
  * `spark.sql.legacy.parquet.nanosAsLong=true` if the data carries
  * nanosecond timestamps (the Tables loaders set it per-read too).
  * Shuffle partitions are a per-deployment choice — size to cores at
  * small scale, to data volume under AQE at large.
  */
object Graft {

  /** A session with the library's recommended local configuration:
    * extensions installed, UTC, AQE on, shuffle width = default
    * parallelism (not the 200 default that makes laptop runs
    * shuffle-bound). This is the one session builder in the tree: the
    * command-line mains (through [[Harness]]) and the test suite open
    * their sessions with it, so every gate runs the plans a user gets.
    * `conf` adds settings that must be fixed before the session
    * starts (driver and static SQL confs such as
    * `spark.sql.warehouse.dir`); runtime SQL confs belong in
    * `spark.conf.set` on the returned session. Idempotent via
    * getOrCreate — and because getOrCreate returns any PRE-existing
    * session (whose static confs, including spark.sql.extensions, can no
    * longer change), the native functions are also registered directly
    * on the returned session so the one-call contract holds either way. */
  def session(master: String = "local[*]",
              conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The DEFAULT whole-stage-codegen compile cache holds only 100
      // classes (static conf). Bench interleaves its passes, so a query's
      // timed runs are separated by a full pass over every id, and with
      // 100 entries every timed run paid Janino recompilation (~0.1–0.5 s
      // on sub-second queries). Quiet-box evidence: q_agg_distinct
      // 0.252 s (back-to-back) → 0.766 s (interleaved, 100-entry cache) →
      // back to the back-to-back level with the cache sized for the
      // workload. A production cluster serving hundreds of query shapes
      // sizes this cache the same way; steady-state latency is the
      // quantity under test, not JIT compile time.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(conf)
      .getOrCreate()
    s.conf.set("spark.sql.shuffle.partitions",
      s.sparkContext.defaultParallelism.toString)
    functions.GraftFunctions.register(s)
    s
  }

  /** The full declared query surface (SURVEY §2 contract). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries

  /** Run one declared query by id against a testdata-layout directory. */
  def run(name: String, spark: SparkSession, dataDir: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query id '$name' — valid ids: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))(
      spark, dataDir)
}
