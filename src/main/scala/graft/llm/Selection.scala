package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NumFmt
import graft.tables.Tables

/** Data-selection scoring for training-data pipelines: DSIR-style
  * hashed-n-gram importance weights and chi-squared feature/class
  * association — the two standard "which documents / which features
  * matter for my target distribution" primitives (extension surface,
  * SURVEY §2B; both fully DuckDB-oracle'd).
  *
  * Scale shape (both): corpus touched once by an explode that stays
  * keyed on doc-local data; every model-side frame is either ≤64 rows
  * (DSIR bucket tables — broadcast) or per-language scalars (chi2 —
  * broadcast); the only corpus-width shuffles are keyed groupBys. No
  * driver-side state, no all-pairs anywhere — both run unchanged on a
  * 1000-executor corpus.
  */
object Selection {
  type Q = (SparkSession, String) => DataFrame

  val DsirBuckets = 64
  val DsirSalt = "dsir:"

  /** Hashed-feature bucket of a word bigram — md5-derived in BOTH
    * engines (the q_embed_project/jl-sign pattern), so the oracle can
    * reproduce the feature map exactly: first 6 md5 hex digits → int
    * → mod buckets. */
  private def bucket(gram: Column): Column =
    conv(substring(md5(concat(lit(DsirSalt), gram)), 1, 6), 16, 10)
      .cast("long") % DsirBuckets

  /** DSIR importance weight per document (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — the
    * public hashed-n-gram formulation): fit Laplace-smoothed bucket
    * unigram models over hashed word bigrams for a TARGET corpus (here
    * source = 'src0', the in-domain slice) and the RAW corpus, then
    * score every document by the log importance ratio
    *   log w(x) = Σ_grams [ln λ_target(b(g)) − ln λ_raw(b(g))].
    * Selection = keep the top-weight documents; the score column is the
    * whole operator, so that is what the query emits.
    *
    * The two model frames are DsirBuckets rows each — broadcast — and
    * the per-doc score is one keyed groupBy over the exploded grams:
    * the 100 TB cost is exactly one corpus scan + one doc-keyed
    * shuffle. */
  def textDsir(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // r12 optimization (guide §2.3/§4): the per-doc bucket HISTOGRAM is
    // computed by one compiled kernel pass (DsirBuckets — identical
    // tokenize/bigram/md5 contract, pinned by DsirBucketsSpec) instead
    // of exploding one row per gram occurrence. Downstream shuffles now
    // carry (doc, bucket, count) integers, never gram strings, and the
    // corpus-tokens-sized explode + its persist are gone. Docs below 2
    // tokens have no grams and are filtered exactly as the explode form
    // dropped them. Persisted: feeds the model fit and the score pass
    // (harness-released via clearCache, the BM25 pattern).
    val perDoc = docs
      .select(col("doc_id"), col("source"),
        graft.functions.GraftFunctions
          .dsirBuckets(col("text"), DsirSalt, DsirBuckets).as("bc"))
      .withColumn("ng",
        aggregate(col("bc"), lit(0L), (a, x) => a + x))
      .filter(col("ng") > 0)
      .persist()
    val bRows = perDoc.select(col("doc_id"), col("source"), col("ng"),
      posexplode(col("bc")).as(Seq("b", "c")))
      .filter(col("c") > 0)
      .select(col("doc_id"), col("source"), col("ng"),
        col("b").cast("long").as("b"), col("c"))
    // BOTH bucket-count frames in ONE keyed pass (target is a
    // conditional sum, not a second scan); totals are a 1-row broadcast
    // — the bounded-stats class, no driver action anywhere
    val counts = bRows.groupBy("b").agg(
      sum(when(col("source") === "src0", col("c")).otherwise(0L)).as("tc"),
      sum(col("c")).as("rc"))
    val totals = counts.agg(
      sum(col("tc")).cast("double").as("t_tot"),
      sum(col("rc")).cast("double").as("r_tot"))
    // λ frames on a generated 0..63 spine, so Laplace smoothing covers
    // buckets absent from the target slice
    val spine = s.range(DsirBuckets).select(col("id").as("b"))
    val model = spine
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        log((coalesce(col("tc"), lit(0L)) + 1.0) /
          (col("t_tot") + DsirBuckets)).as("log_t"),
        log((coalesce(col("rc"), lit(0L)) + 1.0) /
          (col("r_tot") + DsirBuckets)).as("log_r"))
    bRows.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(max(col("ng")).as("n_grams"),
        // + 0.0 collapses IEEE −0.0 (a doc whose importance ratio rounds
        // to zero at 4dp — first seen at sf1)
        NumFmt.roundSigned(
          sum(col("c") * (col("log_t") - col("log_r"))) + lit(1e-9), 4)
          .as("log_w"))
      .orderBy("doc_id")
  }

  /** The pre-r12 gram-explode formulation — kept as the independently
    * derived twin DsirBucketsSpec pins [[textDsir]] against (same
    * pattern as Dedup.simhashAgg / Cdc's HOF twin). */
  private[graft] def textDsirExplode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val grams = docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.wordNGrams(TextOps.tokens(col("text")), 2)).as("g"))
      .withColumn("b", bucket(col("g")))
      .drop("g")
      .persist()
    val counts = grams.groupBy("b").agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tc"),
      count(lit(1)).as("rc"))
    val totals = counts.agg(
      sum(col("tc")).cast("double").as("t_tot"),
      sum(col("rc")).cast("double").as("r_tot"))
    val spine = s.range(DsirBuckets).select(col("id").as("b"))
    val model = spine
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        log((coalesce(col("tc"), lit(0L)) + 1.0) /
          (col("t_tot") + DsirBuckets)).as("log_t"),
        log((coalesce(col("rc"), lit(0L)) + 1.0) /
          (col("r_tot") + DsirBuckets)).as("log_r"))
    grams.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"),
        NumFmt.roundSigned(sum(col("log_t") - col("log_r")) + lit(1e-9), 4).as("log_w"))
      .orderBy("doc_id")
  }

  /** Chi-squared (token, lang) association over document-level presence
    * — the classic feature-selection statistic: for each token t and
    * class l, the 2×2 contingency of "doc contains t" × "doc is l",
    *   χ² = N(AD − BC)² / ((A+B)(C+D)(A+C)(B+D)).
    * All four cells derive from three keyed counts (presence per
    * (t, l), document frequency per t, docs per l — the last a tiny
    * broadcast), so the statistic is pure integer arithmetic until the
    * single final division: bit-identical across engines, no summation-
    * order sensitivity at all. Top 30 by (rounded χ², t, l) — a total
    * order, so LIMIT is engine-stable. */
  def statsChi2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("n"))
    val perLang = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
    val presence = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("t"))
    val tl = presence.groupBy("t", "lang").agg(count(lit(1)).as("a"))
    val df = presence.groupBy("t").agg(count(lit(1)).as("df"))
    tl.join(df, "t").join(broadcast(perLang), "lang")
      .crossJoin(broadcast(n))
      .select(col("t"), col("lang"), col("a").as("n_docs_t_l"),
        round(
          (col("n") *
            pow(col("a") * (col("n") - col("nl") - (col("df") - col("a")))
              - (col("df") - col("a")) * (col("nl") - col("a")), 2))
            .cast("double") /
            (col("df") * (col("n") - col("df")) * col("nl") *
              (col("n") - col("nl"))).cast("double") + lit(1e-9),
          4).as("chi2"))
      .orderBy(col("chi2").desc, col("t"), col("lang"))
      .limit(30)
  }

  val queries: Map[String, Q] = Map(
    "q_text_dsir"  -> textDsir _,
    "q_stats_chi2" -> statsChi2 _,
  )

  val oracle: Map[String, String] = Map(
    // gram/bucket/λ definitions restated from first principles; the
    // bigram form mirrors wordNGrams(toks, 2) (space-joined, empty
    // below n), the bucket hash mirrors `bucket` above
    "q_text_dsir" ->
      s"""WITH toks AS (SELECT doc_id, source, str_split(text, ' ') AS tk
                        FROM documents),
         g AS (SELECT doc_id, source,
                      CAST(('0x' || substr(md5('$DsirSalt' ||
                        tk[i] || ' ' || tk[i+1]), 1, 6)) AS BIGINT)
                        % $DsirBuckets AS b
               FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
               WHERE len(tk) >= 2),
         tt AS (SELECT CAST(count(1) AS DOUBLE) AS t_tot FROM g
                WHERE source = 'src0'),
         rt AS (SELECT CAST(count(1) AS DOUBLE) AS r_tot FROM g),
         model AS (
           SELECT s.b,
                  ln((coalesce(t.tc, 0) + 1.0) / (tt.t_tot + $DsirBuckets))
                    AS log_t,
                  ln((coalesce(r.rc, 0) + 1.0) / (rt.r_tot + $DsirBuckets))
                    AS log_r
           FROM (SELECT unnest(range(0, $DsirBuckets)) AS b) s
           LEFT JOIN (SELECT b, count(1) AS tc FROM g
                      WHERE source = 'src0' GROUP BY b) t ON s.b = t.b
           LEFT JOIN (SELECT b, count(1) AS rc FROM g GROUP BY b) r
             ON s.b = r.b, tt, rt)
         SELECT g.doc_id, CAST(count(1) AS BIGINT) AS n_grams,
                round(sum(m.log_t - m.log_r) + 1e-9, 4) + 0.0 AS log_w
         FROM g JOIN model m ON g.b = m.b
         GROUP BY g.doc_id ORDER BY g.doc_id""",
    "q_stats_chi2" ->
      """WITH n AS (SELECT CAST(count(1) AS BIGINT) AS n FROM documents),
         pl AS (SELECT lang, CAST(count(1) AS BIGINT) AS nl
                FROM documents GROUP BY lang),
         pres AS (SELECT DISTINCT doc_id, lang,
                         unnest(str_split(text, ' ')) AS t
                  FROM documents),
         tl AS (SELECT t, lang, CAST(count(1) AS BIGINT) AS a
                FROM pres GROUP BY t, lang),
         df AS (SELECT t, CAST(count(1) AS BIGINT) AS df
                FROM pres GROUP BY t)
         SELECT tl.t, tl.lang, tl.a AS n_docs_t_l,
                round(CAST(n.n * ((tl.a * (n.n - pl.nl - (df.df - tl.a))
                        - (df.df - tl.a) * (pl.nl - tl.a)) ** 2) AS DOUBLE)
                  / CAST(df.df * (n.n - df.df) * pl.nl * (n.n - pl.nl)
                      AS DOUBLE) + 1e-9, 4) AS chi2
         FROM tl JOIN df ON tl.t = df.t JOIN pl ON tl.lang = pl.lang, n
         ORDER BY chi2 DESC, tl.t, tl.lang LIMIT 30""",
  )
}
