package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** As-of (time-travel) join — Spark has no native operator; rather than a
  * custom SparkPlan we compose built-ins (preference order (a), SURVEY.md
  * §4.2): union both sides, one windowed `last(ignoreNulls)` pass per key,
  * then filter to the probe side.
  *
  * Scale shape: ONE hash exchange on the key + a per-key time sort — same
  * cost as the sort-merge pass a dedicated as-of operator would do, with
  * AQE handling skewed keys. The naive alternative (range join + groupBy
  * max) would shuffle twice and blow up on key×time cardinality.
  *
  * Tie semantics match DuckDB `ASOF JOIN` (`probe.ts >= build.ts`,
  * i.e. a build row at the exact probe timestamp matches): build rows sort
  * BEFORE probe rows at equal (ts, tie) via the `side` column.
  */
object AsOf {
  import Relational.Q

  /** Generic as-of: for each probe row, attach `valCols` of the latest build
    * row with build.ts <= probe.ts and equal key. Probe rows with no prior
    * build row are dropped (inner as-of). */
  def asOfJoin(probe: DataFrame, build: DataFrame, key: String, ts: String,
               buildCols: Map[String, String]): DataFrame = {
    val pTagged = probe.withColumn("__side", lit(1))
    val bTagged = build.withColumn("__side", lit(0))
    // align schemas: probe keeps its columns, build contributes ts/key/vals
    val common = Seq(key, ts)
    val pCols = probe.columns
    val unioned = pTagged
      .select((pCols.map(col) :+ col("__side")) ++
        buildCols.keys.map(c => lit(null).cast(build.schema(c).dataType).as(s"__b_$c")): _*)
      .unionByName(
        bTagged.select((pCols.map(c =>
          if (common.contains(c)) col(c) else lit(null).cast(probe.schema(c).dataType).as(c))
          :+ col("__side")) ++ buildCols.keys.map(c => col(c).as(s"__b_$c")): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = buildCols.foldLeft(unioned) { case (df, (bc, outName)) =>
      df.withColumn(outName, last(col(s"__b_$bc"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1)
      .filter(buildCols.values.map(col(_).isNotNull).reduce(_ && _))
      .drop((buildCols.keys.map(c => s"__b_$c").toSeq :+ "__side"): _*)
  }

  /** Each purchase event ↦ latest prior (<=) signup of the same user.
    * Timestamps compared at MICROsecond precision on both sides (DuckDB
    * 1.0.0 truncates the parquet ns-timestamps to micros on read). */
  def joinAsOf(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("ts_us").as("signup_us"))
    asOfJoin(purchases, signups, "user_id", "ts_us",
      Map("signup_us" -> "signup_us"))
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"), col("signup_us"))
      .orderBy("event_id")
  }

  /** The rung-(c) native as-of join (plans/AsOfJoinPlan.scala): same
    * semantics as [[asOfJoin]], planned as a dedicated co-partitioned
    * streaming merge instead of union+window. Key/ts must be BIGINT;
    * disambiguate overlapping column names on the build side first. */
  def asOfJoinNative(probe: DataFrame, build: DataFrame,
                     probeKey: String, probeTs: String,
                     buildKey: String, buildTs: String,
                     leftOuter: Boolean = false,
                     tolerance: Option[Long] = None): DataFrame = {
    val s = probe.sparkSession
    val lPlan = probe.queryExecution.analyzed
    val rPlan = build.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = {
      val hits = p.output.filter(_.name == n)
      // loud on duplicates: a silent first-match would bind the WRONG
      // side's column after a join that kept both (no error, bad joins)
      require(hits.length == 1,
        s"column $n resolves to ${hits.length} attributes in " +
          s"${p.output.map(_.name).mkString(",")} — rename to disambiguate")
      hits.head
    }
    org.apache.spark.sql.graft.GraftSqlShim.ofRows(s,
      graft.plans.AsOfJoinNode(lPlan, rPlan,
        attr(lPlan, probeKey), attr(lPlan, probeTs),
        attr(rPlan, buildKey), attr(rPlan, buildTs),
        leftOuter = leftOuter, tolerance = tolerance))
  }

  /** q_join_asof through the native operator — same DuckDB ASOF JOIN
    * oracle as the composed form, so the gate proves rung (a) == rung
    * (c) == DuckDB on every run. */
  def joinAsOfNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts_us").as("signup_us"))
    asOfJoinNative(purchases, signups,
      "user_id", "ts_us", "s_user_id", "signup_us")
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"), col("signup_us"))
      .orderBy("event_id")
  }

  /** Left as-of: every purchase kept; purchases with no prior signup get
    * a NULL signup_us — DuckDB `ASOF LEFT JOIN` semantics. */
  def joinAsOfLeft(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts_us").as("signup_us"))
    asOfJoinNative(purchases, signups,
      "user_id", "ts_us", "s_user_id", "signup_us", leftOuter = true)
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"), col("signup_us"))
      .orderBy("event_id")
  }

  /** Tolerance-bounded as-of (pandas merge_asof(tolerance=...) shape):
    * the matched signup must lie within the trailing 1-day band
    * [purchase.ts - 24h, purchase.ts]. Inner: out-of-band probes drop. */
  val TolMicros: Long = 86400L * 1000000L
  def joinAsOfTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts_us").as("signup_us"))
    asOfJoinNative(purchases, signups,
      "user_id", "ts_us", "s_user_id", "signup_us",
      tolerance = Some(TolMicros))
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"), col("signup_us"))
      .orderBy("event_id")
  }

  /** NEAREST as-of (pandas merge_asof(direction='nearest')): each
    * purchase matches the signup with the smallest |Δts| either side,
    * ties to the EARLIER signup. Same one-shuffle union trick as the
    * composed backward form, but TWO frames over the SINGLE
    * (key, ts)-sort: a trailing last(ignoreNulls) gives the latest
    * prior, a leading first(ignoreNulls) gives the earliest following —
    * Spark plans one exchange + one sort feeding both windows, so
    * nearest costs the same shuffle as backward. A build row at equal
    * ts sorts before the probe (side asc) and wins via the prior frame
    * with Δ = 0. */
  def joinAsOfNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        lit(1).as("__side"), lit(null).cast("long").as("__b"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(lit(null).cast("long").as("event_id"), col("user_id"),
        col("ts_us"), lit(0).as("__side"), col("ts_us").as("__b"))
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("__side").asc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    purchases.unionByName(signups)
      .withColumn("prev_us", last(col("__b"), ignoreNulls = true).over(wPrev))
      .withColumn("next_us", first(col("__b"), ignoreNulls = true).over(wNext))
      .filter(col("__side") === 1)
      .withColumn("signup_us",
        when(col("prev_us").isNull, col("next_us"))
          .when(col("next_us").isNull, col("prev_us"))
          .when(col("ts_us") - col("prev_us") <=
            col("next_us") - col("ts_us"), col("prev_us"))
          .otherwise(col("next_us")))
      .filter(col("signup_us").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"), col("signup_us"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "q_join_asof" -> joinAsOf _,
    "q_join_asof_native" -> joinAsOfNative _,
    "q_join_asof_left" -> joinAsOfLeft _,
    "q_join_asof_tol" -> joinAsOfTolerance _,
    "q_join_asof_nearest" -> joinAsOfNearest _)

  private val asOfOracle =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
              epoch_us(s.ts) AS signup_us
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
         ON p.user_id = s.user_id AND p.ts >= s.ts
       ORDER BY p.event_id"""

  val oracle: Map[String, String] = Map(
    "q_join_asof" -> asOfOracle,
    // identical oracle text by design: the two implementations must be
    // indistinguishable at the result layer
    "q_join_asof_native" -> asOfOracle,
    "q_join_asof_left" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
                epoch_us(s.ts) AS signup_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND p.ts >= s.ts
         ORDER BY p.event_id""",
    // DuckDB ASOF has no tolerance clause; the latest-within-band match
    // is equivalently max(ts) over the trailing band as a correlated
    // scalar subquery (latest prior = max ts among candidates)
    "q_join_asof_tol" ->
      s"""SELECT event_id, user_id, purchase_us, signup_us FROM (
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
              (SELECT max(epoch_us(s.ts)) FROM events s
                WHERE s.event_type = 'signup' AND s.user_id = p.user_id
                  AND epoch_us(s.ts) <= epoch_us(p.ts)
                  AND epoch_us(s.ts) >= epoch_us(p.ts) - $TolMicros) AS signup_us
            FROM events p WHERE p.event_type = 'purchase')
          WHERE signup_us IS NOT NULL
          ORDER BY event_id""",
    // nearest has no native DuckDB form: rank all same-user candidates
    // by |Δ| with the earlier-signup tiebreak and keep rank 1 — the
    // naive O(per-user pairs) mirror of the one-sort window plan
    "q_join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
                    FROM events WHERE event_type = 'purchase'),
         b AS (SELECT user_id, epoch_us(ts) AS s_us
               FROM events WHERE event_type = 'signup'),
         c AS (SELECT p.event_id, p.user_id, p.p_us, b.s_us,
                      row_number() OVER (PARTITION BY p.event_id
                        ORDER BY abs(p.p_us - b.s_us), b.s_us) AS rk
               FROM p JOIN b USING (user_id))
         SELECT event_id, user_id, p_us AS purchase_us, s_us AS signup_us
         FROM c WHERE rk = 1 ORDER BY event_id""",
  )
}
