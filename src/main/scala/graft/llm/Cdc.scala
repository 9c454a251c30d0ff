package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Content-defined chunking (Rabin-style rolling hash) — the
  * shift-robust segmentation used by dedup/sync pipelines (LBFS/rsync
  * lineage, FastCDC-class systems): chunk boundaries are cut where a
  * polynomial hash of the trailing W-char window hits 0 mod D, so an
  * insertion early in a document moves ONE boundary instead of
  * re-striding every fixed-size chunk. The fixed-stride sliding chunker
  * (`q_text_chunk`) breaks under a 1-char shift; this one is the rung
  * that survives it — and its chunk hashes feed substring-level dedup.
  *
  * Everything is exact integer arithmetic: H(i) = Σ_k ord(c_{i+k})·B^k
  * mod 2^20 (B = 31, W = 16) — Spark computes it in the native
  * [[graft.functions.CdcChunks]] kernel as a per-step-masked fold,
  * DuckDB as a HUGEINT power-table sum reduced mod 2^20 at the end; mod
  * distributes over +/×, so the two are identical BIGINTs and both
  * queries hash-verify.
  *
  * Scale shape: per-doc chunking is pure projection — since round 11 a
  * NATIVE Catalyst expression ([[graft.functions.CdcChunks]]): one
  * compiled O(len·W) JVM loop per row, resident in whole-stage codegen,
  * with chunk extraction slicing the code-point array directly. The
  * earlier higher-order-function formulation (kept below as
  * `chunksExpr`, the declarative twin CdcChunksSpec pins the kernel
  * against) paid interpreted-evaluator lambda dispatch per window step
  * — tens of millions of interpreted steps per MB — plus an
  * O(len²/64) substring-extraction tail; the kernel removes both, which
  * is what makes the operator viable on real 10–100 KB web documents.
  * The cross-doc dup-pair query shuffles once on chunk hash with a df
  * cap (same posting-list discipline as q_similarity_sparse) so a
  * boilerplate chunk shared by everything can never go quadratic. */
object Cdc {
  type Q = (SparkSession, String) => DataFrame

  val W = 16            // rolling window (chars)
  val B = 31L           // polynomial base
  val Mask = 1048576L   // 2^20 modulus
  val Divisor = 64L     // boundary when H % 64 == 0 → ~64-char chunks
  val MinShared = 2     // dup pair needs ≥ 2 shared chunks
  val MinChunkLen = 20  // trivia chunks don't witness duplication
  val MaxChunkDf = 20   // df cap on the chunk-hash join (skew guard)

  /** The chunk builder as one SQL-string HOF expression. Kept as the
    * DECLARATIVE TWIN of the native kernel: the query path runs
    * [[graft.functions.CdcChunks]] (compiled per-row loop,
    * codegen-resident); CdcChunksSpec pins expr(chunksExpr) == kernel so
    * the two definitions cannot drift. The doc-shorter-than-one-window
    * case yields a single whole-doc chunk (sequence() would DESCEND on
    * a negative stop — guarded). */
  private[graft] val chunksExpr: String = {
    val positions =
      s"CASE WHEN length(text) >= $W THEN sequence(0, length(text) - $W) " +
        "ELSE array() END"
    // O(1) lookups on the per-row code-point array (see scaladoc); all
    // boundary math stays on length(text), so semantics are unchanged
    // from the substring form — only the lookup cost moved
    val hash =
      s"aggregate(sequence(0, ${W - 1}), 0L, " +
        s"(acc, k) -> pmod(acc * $B + element_at(ords, CAST(i + k + 1 AS INT)), $Mask))"
    // cut AFTER the window; a cut at the very end would make an empty
    // tail chunk, so it is excluded
    val cuts =
      s"filter(transform($positions, i -> CASE WHEN ($hash) % $Divisor = 0 " +
        s"THEN CAST(i + $W AS BIGINT) ELSE CAST(-1 AS BIGINT) END), c -> c >= 0 AND c < length(text))"
    val blDef = s"concat(array(0L), $cuts, array(CAST(length(text) AS BIGINT)))"
    // `bl` is REFERENCED (a lambda variable), never re-expanded: the
    // chunk transform below mentions it three times per chunk, and HOF
    // lambda bodies get no common-subexpression elimination — inlining
    // the boundary-list tree here re-ran the full rolling-hash pass per
    // chunk per reference (the O(len³/64) shape a thread dump caught
    // crawling single-threaded for >1h at sf0.1)
    val chunks = s"transform(sequence(1, size(bl) - 1), " +
      s"k -> substring(text, CAST(element_at(bl, CAST(k AS INT)) + 1 AS INT), " +
      s"CAST(element_at(bl, CAST(k + 1 AS INT)) - element_at(bl, CAST(k AS INT)) AS INT)))"
    // nested single-element transforms = `let` bindings: ords (the
    // code-point array) and bl (the boundary list) are each materialized
    // ONCE per row and bound as lambda variables the optimizer cannot
    // inline into the per-step lambda bodies. split keeps a trailing
    // empty element under its -1 limit — filtered so ords length ==
    // length(text) exactly.
    s"element_at(transform(array(transform(filter(split(text, ''), " +
      s"ch -> ch <> ''), ch -> ascii(ch))), " +
      s"ords -> element_at(transform(array($blDef), bl -> $chunks), 1)), 1)"
  }

  /** `q_text_cdc`: per-doc chunk census — count, span sanity, and an
    * order-preserving md5 fingerprint of the chunk hash sequence. */
  def textCdc(s: SparkSession, d: String): DataFrame =
    // chunking is compute-per-byte-bound (W multiply-adds per position),
    // so file-split parallelism (1 small file = 1 partition) is the wrong
    // unit — spread rows across the cluster first; the 1-wide shuffle is
    // noise next to the projection it feeds.
    // The partition COUNT is explicit because AQE sizes exchanges by
    // BYTES and would coalesce this megabyte-scale-but-compute-bound
    // shuffle back to one partition.
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions
        .cdcChunks(col("text"), W, B, Mask, Divisor).as("chunks"))
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        expr("CAST(aggregate(chunks, 0L, (a, c) -> a + length(c)) AS BIGINT)")
          .as("n_chars"),
        md5(concat_ws("|",
          expr("transform(chunks, c -> md5(c))"))).as("fingerprint"))
      .orderBy("doc_id")

  /** `q_dedup_cdc`: doc pairs sharing ≥ 2 substantial chunks — the
    * shift-robust near-dup witness. One shuffle keyed on chunk md5,
    * df-capped so no chunk joins more than MaxChunkDf docs. */
  def dedupCdc(s: SparkSession, d: String): DataFrame = {
    // same row-spreading rationale (and explicit count) as textCdc
    val chunks = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(graft.functions.GraftFunctions
        .cdcChunks(col("text"), W, B, Mask, Divisor)).as("chunk"))
      .filter(length(col("chunk")) >= MinChunkLen)
      .select(col("doc_id"), md5(col("chunk")).as("h"))
      .distinct()
    val df = chunks.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxChunkDf)
    val capped = chunks.join(df.select("h"), "h")
    val a = capped.select(col("doc_id").as("id1"), col("h"))
    val b = capped.select(col("doc_id").as("id2"), col("h"))
    a.join(b, "h").filter(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= MinShared)
      .orderBy("id1", "id2")
  }

  val queries: Map[String, Q] = Map(
    "q_text_cdc"  -> textCdc _,
    "q_dedup_cdc" -> dedupCdc _,
  )

  private val chunksCte =
    """pw AS (WITH RECURSIVE q(k, p) AS (
             SELECT 0, CAST(1 AS HUGEINT)
             UNION ALL SELECT k + 1, p * 31 FROM q WHERE k < 15)
           SELECT k, p FROM q),
       -- H(i) = sum_k ord(c_{i+k}) * 31^(15-k) mod 2^20: HUGEINT sum,
       -- one mod at the end == Spark's per-step masked fold
       wh AS (SELECT doc_id, i,
                     CAST(sum(ord(substr(text, CAST(i + (15 - k) + 1 AS INT), 1))
                              * p) % 1048576 AS BIGINT) AS h
              FROM documents,
                   LATERAL unnest(range(0, greatest(len(text) - 15, 0))) u(i),
                   pw
              GROUP BY doc_id, i),
       cuts AS (SELECT doc_id, list_sort(list(i + 16)) AS cl
                FROM wh JOIN documents d2 USING (doc_id)
                WHERE h % 64 = 0 AND i + 16 < len(d2.text)
                GROUP BY doc_id),
       bl AS (SELECT d.doc_id, d.text,
                     [CAST(0 AS BIGINT)] ||
                     coalesce(c.cl, CAST([] AS BIGINT[])) ||
                     [CAST(len(d.text) AS BIGINT)] AS b
              FROM documents d LEFT JOIN cuts c USING (doc_id)),
       ch AS (SELECT doc_id,
                     list_transform(range(1, len(b)),
                       k -> substr(text, CAST(b[CAST(k AS INT)] + 1 AS INT),
                                   CAST(b[CAST(k AS INT) + 1]
                                        - b[CAST(k AS INT)] AS INT))) AS chunks
              FROM bl)"""

  val oracle: Map[String, String] = Map(
    "q_text_cdc" ->
      s"""WITH $chunksCte
         SELECT doc_id,
                CAST(len(chunks) AS BIGINT) AS n_chunks,
                CAST(list_sum(list_transform(chunks, c -> len(c))) AS BIGINT)
                  AS n_chars,
                md5(array_to_string(list_transform(chunks, c -> md5(c)), '|'))
                  AS fingerprint
         FROM ch ORDER BY doc_id""",
    "q_dedup_cdc" ->
      s"""WITH $chunksCte,
         hx AS (SELECT DISTINCT doc_id, md5(c) AS h
                FROM (SELECT doc_id, unnest(chunks) AS c FROM ch)
                WHERE len(c) >= 20),
         capped AS (SELECT doc_id, h FROM hx
                    WHERE h IN (SELECT h FROM hx GROUP BY h
                                HAVING count(1) <= 20))
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(count(1) AS BIGINT) AS shared_chunks
         FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY id1, id2
         HAVING count(1) >= 2
         ORDER BY id1, id2""",
  )
}
