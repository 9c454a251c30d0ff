package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (see TESTDATA.md /
  * FIXTURES.md).
  *
  * Mirrors the reference's source layer (`zarr_spark.py` chunk readers —
  * reference repo lasersonlab/single-cell-experiments; mount empty at build
  * time, see SURVEY.md §0): there, 1 Zarr chunk = 1 RDD partition. Here the
  * equivalent is Parquet row-group splits = input partitions, handled by
  * Spark's vectorized DSv2 reader — predicate pushdown and column pruning
  * come for free and matter at 100 TB (only referenced columns are read).
  */
object Tables {
  val relationalTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extensionTables: Seq[String] = Seq("events", "documents", "embeddings")

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** Parquet SCHEMA memo keyed on (qualified path, mtime, length).
    *
    * `spark.read.parquet(p)` runs schema inference on EVERY call — a
    * driver-side footer-reading job measured at ~100–135 ms per table
    * construction at sf0.1 (r13 probe), paid by every one of the 258
    * queries × 4 bench passes: the single largest shared component of
    * the sub-second tail's fixed cost. The schema of a given parquet
    * file is a pure function of its bytes, so it is memoized per
    * (path, mtime, len) — one cheap getFileStatus per construction
    * replaces the inference job, and a regenerated/replaced file gets a
    * new key (mtime+length change) so the memo can never serve a stale
    * shape. METADATA caching only (the SuffixIndex handle-memo class):
    * no rows, no results, every query still scans the parquet at action
    * time. Inference-relevant session confs must ride the key via
    * `confKey` — events passes its timestamp-inference confs; plain
    * tables have conf-independent shapes and pass none. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), org.apache.spark.sql.types.StructType]()

  /** Read a parquet file/dir with the memoized schema (see above).
    * `p` is a literal path: the reader expands Hadoop glob patterns, so
    * its metacharacters (and the escape character itself) are escaped —
    * a data dir named `a\b` or `a[1]` is read, not parsed as a pattern. */
  def readParquet(spark: SparkSession, p: String,
                  confKey: String = ""): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(fs.makeQualified(hp))
    val key = (fs.makeQualified(hp).toString, st.getModificationTime,
      st.getLen, confKey)
    val literal = p.replaceAll("""([\\*?\[\]{}])""", """\\$1""")
    val sch = schemaMemo.computeIfAbsent(key,
      _ => spark.read.parquet(literal).schema)
    spark.read.schema(sch).parquet(literal)
  }

  /** Plain parquet load for every table except `events`. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(name != "events", "use Tables.events (ns-timestamp handling)")
    readParquet(spark, path(dir, name))
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Rechunk (reference R11, zarr_spark.py::repartition_chunks): with
    * Parquet + AQE this is just an explicit repartition — hash for balanced
    * chunks, range when downstream wants clustered writes. */
  def rechunk(df: DataFrame, n: Int, rangeBy: Option[String] = None): DataFrame =
    rangeBy match {
      case Some(c) => df.repartitionByRange(n, col(c))
      case None    => df.repartition(n)
    }

  /** `events.parquet` has shipped with THREE physical types for `ts` across
    * testdata generations: TIMESTAMP(NANOS) (surfaces as BIGINT nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), TIMESTAMP(MICROS) with
    * isAdjustedToUTC=true (surfaces as TimestampType), and TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false (surfaces as TimestampNTZType —
    * `spark.sql.parquet.inferTimestampNTZ.enabled` defaults true in Spark 4).
    * This loader inspects the loaded schema and normalizes every shape to
    * the same two columns:
    *   ts    TIMESTAMP (microsecond precision, session-local = UTC)
    *   ts_ns BIGINT    (epoch nanos, exact ordering key; DuckDB epoch_ns(ts)
    *                    parity — the TIMESTAMP column alone truncates)
    * The NTZ→LTZ cast interprets the wall-clock in the session timezone;
    * both the gate and bench sessions pin UTC, so values are preserved
    * exactly. Session timezone must be UTC for oracle parity.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // memoized-schema read is safe here because every conf the
    // inference depends on rides the key: nanosAsLong is pinned true
    // one line up, and inferTimestampNTZ is carried explicitly
    val raw = readParquet(s, path(d, "events"), confKey = "events:ntz=" +
      s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"))
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long generation
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros, isAdjustedToUTC=false
        val ltz = raw.withColumn("ts", col("ts").cast(TimestampType))
        ltz.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case TimestampType => // micros, isAdjustedToUTC=true
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unexpected dataType $other — a fourth testdata " +
            "generation? Extend Tables.events to normalize it.")
    }
  }
}
