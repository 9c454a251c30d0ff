package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Scale-factor-parameterized synthetic data generator — a faithful twin of
  * the driver's testdata schema (TESTDATA.md; schemas/distributions measured
  * off `/root/testdata/sf0.1` on 2026-08-16) so scale-up gates above the
  * driver's largest shipped fixture (sf0.1) can be run locally:
  *
  * {{{
  *   sbt "runMain graft.tables.GenData 1.0 /tmp/graft_testdata/sf1"
  * }}}
  *
  * Design, and why it scales:
  *   - **Distributed and partition-independent.** Every column is a pure
  *     function of the row id via `xxhash64(tag, id, ...)` (codegen'd
  *     built-in) — no `rand()` (whose value depends on task/partition
  *     assignment), no driver-side RNG loop, no state. `spark.range(n)` at
  *     any parallelism produces bit-identical tables, so the same generator
  *     run on a 1000-executor cluster at sf=10000 yields the same rows.
  *   - **One fixed seed family.** Streams are decorrelated by the string
  *     tag mixed into the hash, not by seed bookkeeping.
  *   - **Single-file output** (`coalesce(1)` + rename) to mirror the
  *     driver's pyarrow layout — `tools/check.py`'s
  *     `read_parquet('<dir>/<table>.parquet')` needs plain files. This is
  *     the ONLY non-distributed step, acceptable for local fixtures (a real
  *     deployment would keep the multi-file directory layout).
  *
  * Distribution fidelity (measured at sf0.1 → reproduced here):
  *   region 5 / nation 25 fixed; customer 150k·sf (5 segments, acctbal
  *   U[-1000,10000)); supplier 10k·sf; part 200k·sf (8×8 adj-noun names,
  *   25 brands, 6 types, size 1..50, retailprice 900 + (key%1000)/10);
  *   orders 1.5M·sf (status F/O/P, priority ×5, dates 1995..2001-08);
  *   lineitem ≈ 4·orders via per-order Poisson(4) line counts (≈1.8% of
  *   orders have no lines, matching the measured 2764/150000);
  *   events 1M·sf (monotone micros-NTZ timestamps over 2024-01 ± in-gap
  *   jitter, 5 event types, Exp(mean 50) value, `{"k": N}` json props);
  *   documents 50k·sf (10..100 words over the same 31-token vocab, lang
  *   en≈41%/fr/es/zh/de, source src0..19, ~0.2% exact + ~0.4% near dups
  *   so the dedup families have real work at every scale);
  *   embeddings 20k·sf (64-d unit vectors, 10 cluster centers + noise).
  *
  * Timestamps are written as TIMESTAMP_NTZ (physical parquet micros,
  * isAdjustedToUTC=false) to match the driver's CURRENT testdata
  * generation — `Tables.events` pins that matrix.
  */
object GenData {

  /** U[0,1) stream `tag` evaluated at (id [, k]) — top 53 bits of xxhash64. */
  private def u(tag: String, cols: Column*): Column =
    shiftrightunsigned(xxhash64((lit(tag) +: cols): _*), 11).cast("double") /
      lit(9007199254740992.0) // 2^53

  private def pick(tag: String, id: Column, values: Seq[String]): Column =
    element_at(typedlit(values), (u(tag, id) * values.size).cast("int") + 1)

  /** Inverse-CDF draw of Poisson(mean) truncated at `max`, as a Column.
    * CDF values are Scala-computed literals; the draw is
    * |{k : cdf(k) <= u}| via a codegen'd higher-order filter. */
  private def poisson(tag: String, id: Column, mean: Double, max: Int): Column = {
    val pmf = (0 to max).scanLeft(math.exp(-mean)) { case (p, k) => p * mean / (k + 1) }
    val cdf = pmf.tail.scanLeft(pmf.head)(_ + _).take(max + 1)
    val uu = u(tag, id)
    // cdf has max+1 entries, so an (astronomically rare) draw with
    // u >= cdf(max) would count all of them = max+1 — cap at max.
    least(size(filter(typedlit(cdf), c => c <= uu)), lit(max))
  }

  private val Segments   = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions    = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns      = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes  = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  // lang CDF ≈ measured sf0.1 shares (en .412 fr .148 es .149 zh .151 de .140)
  private val Langs = Seq("en" -> 0.41, "fr" -> 0.56, "es" -> 0.71, "zh" -> 0.86, "de" -> 1.0)

  private val EpochDay = java.time.LocalDate.of(1970, 1, 1)

  private def ntz(c: Column): Column = c.cast(TimestampNTZType)

  def region(s: SparkSession): DataFrame = {
    import s.implicits._
    Regions.zipWithIndex.map { case (n, k) => (k, n) }
      .toDF("r_regionkey", "r_name")
  }

  def nation(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 25).map(k => (k, s"NATION_$k", k % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1, (150000 * sf).toLong)
    s.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (u("cnat", col("id")) * 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("cbal", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick("cseg", col("id"), Segments).as("c_mktsegment"))
  }

  def supplier(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1, (10000 * sf).toLong)
    s.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (u("snat", col("id")) * 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("sbal", col("id")) * 11000.0, 2).as("s_acctbal"))
  }

  def part(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1, (200000 * sf).toLong)
    s.range(n).select(
      col("id").as("p_partkey"),
      concat(pick("padj", col("id"), Adjectives), lit(" "),
             pick("pnoun", col("id"), Nouns)).as("p_name"),
      concat(lit("Brand#"),
             ((u("pbrand", col("id")) * 25).cast("int") + 1).cast("string")).as("p_brand"),
      pick("ptype", col("id"), PartTypes).as("p_type"),
      ((u("psize", col("id")) * 50).cast("int") + 1).as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice"))
  }

  /** Orders; `o_orderdate` uniform over 1995-01-01 .. 2001-08-01 (2404 days). */
  def orders(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1, (1500000 * sf).toLong)
    val nCust = math.max(1, (150000 * sf).toLong)
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay.toInt
    s.range(n).select(
      col("id").as("o_orderkey"),
      (u("ocust", col("id")) * nCust).cast("long").as("o_custkey"),
      pick("ostat", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", col("id")) * 499000.0, 2).as("o_totalprice"),
      ntz(date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        lit(day0) + (u("odate", col("id")) * 2404).cast("int"))).as("o_orderdate"),
      pick("oprio", col("id"), Priorities).as("o_orderpriority"))
  }

  /** Lineitem: per-order Poisson(4) line count (so ≈e⁻⁴ of orders have no
    * lines, as measured), exploded distributively — never a driver loop. */
  def lineitem(s: SparkSession, sf: Double): DataFrame = {
    val nOrders = math.max(1, (1500000 * sf).toLong)
    val nPart = math.max(1, (200000 * sf).toLong)
    val nSupp = math.max(1, (10000 * sf).toLong)
    val day0 = java.time.LocalDate.of(1995, 1, 2).toEpochDay.toInt
    val base = s.range(nOrders)
      .withColumn("nlines", poisson("lnum", col("id"), 4.0, 17))
      .where(col("nlines") > 0)
      .select(col("id").as("l_orderkey"),
        posexplode(sequence(lit(1), col("nlines"))).as(Seq("pos", "seq")))
    val oid = col("l_orderkey")
    val p = col("pos")
    base.select(
      oid,
      (u("lpart", oid, p) * nPart).cast("long").as("l_partkey"),
      (u("lsupp", oid, p) * nSupp).cast("long").as("l_suppkey"),
      ((u("lline", oid, p) * 7).cast("int") + 1).as("l_linenumber"),
      ((u("lqty", oid, p) * 50).cast("int") + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("lext", oid, p) * 104100.0, 2).as("l_extendedprice"),
      ((u("ldisc", oid, p) * 11).cast("int").cast("double") / 100.0).as("l_discount"),
      ((u("ltax", oid, p) * 9).cast("int").cast("double") / 100.0).as("l_tax"),
      pick2("lrf", oid, p, Seq("A", "N", "R")).as("l_returnflag"),
      pick2("lls", oid, p, Seq("F", "O")).as("l_linestatus"),
      ntz(date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        lit(day0) + (u("lship", oid, p) * 2498).cast("int"))).as("l_shipdate"))
  }

  private def pick2(tag: String, a: Column, b: Column, values: Seq[String]): Column =
    element_at(typedlit(values), (u(tag, a, b) * values.size).cast("int") + 1)

  /** Events: timestamps monotone in event_id — row i lands in slot
    * [i·gap, (i+1)·gap) of a 30-day January-2024 window with in-slot
    * jitter, so event-time order equals id order at every scale (the
    * property the streaming replay queries rely on). */
  def events(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(1, (1000000 * sf).toLong)
    val nUsers = math.max(1, (15000 * sf).toLong)
    val startUs = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val spanUs = 30L * 24 * 3600 * 1000000L
    val gap = spanUs / n
    // at sf ~2.6M the fixed 30-day window runs out of micros and every
    // timestamp would collapse to the same slot — refuse loudly there
    require(gap > 0, s"events: sf too large for the fixed 30-day window (n=$n)")
    s.range(n).select(
      col("id").as("event_id"),
      ntz(timestamp_micros(lit(startUs) + col("id") * gap +
        (u("ets", col("id")) * gap).cast("long"))).as("ts"),
      (u("euser", col("id")) * nUsers).cast("long").as("user_id"),
      pick("etype", col("id"), EventTypes).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u("eval", col("id"))), 2).as("value"),
      concat(lit("{\"k\": "), (u("ek", col("id")) * 100).cast("int").cast("string"),
        lit("}")).as("props"))
  }

  /** Documents: 10..100 words over the 31-token vocab. ~0.2% of docs are
    * EXACT copies of a nearby earlier doc and a further ~0.4% are near
    * copies (last word replaced), so exact/minhash/suffix dedup have real
    * positives at every sf — text is a pure function of the DONOR id, so
    * "copy another row" needs no join, just re-evaluating the word stream
    * at the donor's id. */
  def documents(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(500, (50000 * sf).toLong) // driver floors docs at 500
    val id = col("id")
    val uDup = u("ddup", id)
    val back = (u("dback", id) * 20).cast("long") + 1
    val donorCand = greatest(id - back, lit(0L))
    // a donor that is ITSELF a dup would have its base word stream copied,
    // not its actual (copied/mutated) text — such rows would be labeled
    // dups without matching any real row, so they fall back to originals
    val donorIsDup = donorCand > 0 && u("ddup", donorCand) < lit(0.006)
    val isDup = id > 0 && uDup < lit(0.006) && !donorIsDup
    val donor = when(isDup, donorCand).otherwise(id)
    val mutate = isDup && uDup >= lit(0.002)
    def wordsOf(doc: Column): Column = {
      val nw = (u("dnw", doc) * 91).cast("int") + 10
      transform(sequence(lit(1), nw), i =>
        element_at(typedlit(Vocab),
          pmod(xxhash64(lit("dword"), doc, i), lit(Vocab.size)).cast("int") + 1))
    }
    val baseWords = wordsOf(donor)
    // replacement word drawn from the 30 OTHER vocab entries (skip-over-
    // original), so a "near dup" can never silently be an exact dup
    val nwDonor = (u("dnw", donor) * 91).cast("int") + 10
    val origIdx = pmod(xxhash64(lit("dword"), donor, nwDonor), lit(Vocab.size)).cast("int")
    val replDraw = pmod(xxhash64(lit("dmut"), id), lit(Vocab.size - 1)).cast("int")
    val replIdx = when(replDraw >= origIdx, replDraw + 1).otherwise(replDraw)
    val mutated = concat(slice(baseWords, lit(1), size(baseWords) - 1),
      array(element_at(typedlit(Vocab), replIdx + 1)))
    val text = array_join(when(mutate, mutated).otherwise(baseWords), " ")
    val lang = Langs.tail.foldLeft(when(u("dlang", id) < Langs.head._2, Langs.head._1)) {
      case (acc, (l, cut)) => acc.when(u("dlang", id) < cut, l)
    }
    s.range(n).select(
      id.as("doc_id"),
      text.as("text"),
      lang.as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** Embeddings: 64-d float unit vectors in 10 clusters — center(label)
    * uniform[-1,1]^64 plus per-row noise, L2-normalized in double then cast
    * to float (normalize-then-cast keeps |v|≈1 at float precision). */
  def embeddings(s: SparkSession, sf: Double): DataFrame = {
    val n = math.max(500, (20000 * sf).toLong) // driver floors vecs at 500
    val id = col("id")
    val label = (u("elab", id) * 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (u("ectr", label, j) * 2.0 - 1.0) + (u("enoise", id, j) - 0.5) * 1.2)
    val withNorm = s.range(n)
      .select(id, label.as("label"), raw.as("raw"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
    withNorm.select(
      id.as("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label"))
  }

  def tables(s: SparkSession, sf: Double): Map[String, DataFrame] = Map(
    "region" -> region(s), "nation" -> nation(s),
    "customer" -> customer(s, sf), "supplier" -> supplier(s, sf),
    "part" -> part(s, sf), "orders" -> orders(s, sf),
    "lineitem" -> lineitem(s, sf), "events" -> events(s, sf),
    "documents" -> documents(s, sf), "embeddings" -> embeddings(s, sf))

  /** Write all tables under `outDir` as single files `<table>.parquet`,
    * mirroring the driver layout (DuckDB `read_parquet` wants files). */
  def write(s: SparkSession, sf: Double, outDir: String): Unit = {
    val out = new java.io.File(outDir)
    out.mkdirs()
    for ((name, df) <- tables(s, sf).toSeq.sortBy(_._1)) {
      val tmp = new java.io.File(out, s"_tmp_$name")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val part = tmp.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dest = new java.io.File(out, s"$name.parquet")
      if (dest.exists()) dest.delete()
      require(part.renameTo(dest), s"rename failed for $name")
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      println(s"[gendata] $name -> $dest")
    }
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = args.lift(1).getOrElse(s"/tmp/graft_testdata/sf$sf")
    val spark = graft.Harness.session()
    write(spark, sf, outDir)
    spark.stop()
  }
}
