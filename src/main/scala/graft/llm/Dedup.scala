package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Deduplication operators for a training-data pipeline: exact, SimHash,
  * n-gram Jaccard, and MinHash+LSH near-dup detection.
  *
  * Scale design:
  *  - exact dedup = one hash-shuffle on md5(text) — the canonical 100 TB
  *    pattern (no text comparison ever, fixed-width keys);
  *  - SimHash / MinHash turn near-dup detection into equality buckets:
  *    candidate generation is a groupBy on (band, hash) — linear shuffle,
  *    no all-pairs. The all-pairs variants here (simhash hamming pairs,
  *    jaccard pairs) restrict to an explicit doc_id block, making the
  *    quadratic region bounded and intentional; the LSH path is the one
  *    that scales unbounded.
  *  - token hashing uses md5-hex→int so the DuckDB oracle can reproduce it
  *    exactly; LSH banding uses xxhash64 (engine-native, oracle:no).
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** 60-bit integer hash of a string column, reproducible in DuckDB as
    * CAST('0x' || substr(md5(x),1,15) AS BIGINT). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // -------------------------------------------------------- exact dedup --

  /** Exact dedup groups: representative (min doc_id) + cardinality per
    * distinct text hash. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
      .orderBy("rep_id")

  /** Canonicalization dedup: normalize before hashing — lowercase, strip
    * punctuation to spaces, collapse runs of whitespace, trim — so
    * reformatted copies (case changes, punctuation drift, re-wrapped
    * whitespace) collapse into one group that byte-exact dedup misses.
    * The standard first rung of the web-corpus dedup ladder, below
    * SimHash/MinHash: still one hash shuffle, zero false positives for
    * anything outside the normalization class.
    *
    * Scale shape: identical to dedupExact — per-row canonicalization is
    * codegen'd string work, then ONE shuffle keyed on the 128-bit md5 of
    * the canonical form (never the text itself). */
  def canonical(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{Nd} ]", " "),
      " +", " "))

  def dedupCanon(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("canon", canonical(col("text")))
      .groupBy(md5(col("canon")).as("canon_md5"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
      .orderBy("rep_id")

  // ------------------------------------------------------------ simhash --

  /** 60-bit SimHash per document over its token multiset — now the
    * native [[graft.functions.SimHash60]] expression: a pure per-row
    * compiled kernel, so the fingerprint pass carries ZERO shuffles and
    * zero row amplification (r12 optimization; guide §2.3/§4). The
    * aggregation formulation below ([[simhashAgg]]) is kept as the
    * declarative twin SimHash60Spec pins the kernel against. */
  def simhash(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simHash60(col("text")).as("simhash"))
  }

  /** The pre-r12 formulation: explode tokens, 60 per-bit counters as 60
    * columns of ONE keyed aggregation (itself an optimization over the
    * earlier explode(0..59): one exchange, not two). Still exchanges the
    * corpus once per fingerprint pass where the expression form needs no
    * exchange at all. Kept as the independently-derived twin for the
    * kernel-equality spec. */
  private[graft] def simhashAgg(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .withColumn("hv", md5Hash60(col("t")))
    val bitSums = (0 until 60).map { j =>
      sum(when(expr(s"shiftright(hv, $j) & 1") === 1, 1).otherwise(-1))
        .as(s"s$j")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map { j =>
          when(col(s"s$j") > 0,
            lit(1L << j)).otherwise(0L)
        }.reduce(_ + _).as("simhash"))
  }

  /** Near-dup candidate pairs by SimHash hamming distance within a bounded
    * doc_id block. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val sh = simhash(Tables.documents(s, d).filter(col("doc_id") < 100))
    val a = sh.select(col("doc_id").as("id1"), col("simhash").as("h1"))
    val b = sh.select(col("doc_id").as("id2"), col("simhash").as("h2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("hamming", bit_count(expr("h1 ^ h2")).cast("int"))
      .filter(col("hamming") <= 10)
      .select("id1", "id2", "hamming")
      .orderBy("id1", "id2")
  }

  /** Incremental dedup: screen a NEW batch against the EXISTING corpus —
    * the production shape at scale, where the daily increment is deduped
    * against an index of everything already admitted rather than
    * re-deduping the whole corpus. Three rungs per increment doc:
    * byte-exact (md5), canonical (md5 of [[canonical]]), and SimHash
    * near-dup vs any corpus doc at hamming <= 10. Emits one verdict row
    * per increment doc; `admit` = clean on all three rungs.
    *
    * The near rung is banded hamming-LSH (Manku et al., "Detecting
    * near-duplicates for web crawling", WWW'07): 12 disjoint 5-bit bands
    * of the 60-bit fingerprint; <= 10 differing bits can ruin at most 10
    * bands, so every true pair shares >= 2 exact band values — the
    * band-equality join is a COMPLETE candidate generator, and the exact
    * hamming check runs only on candidates. At this fixture scale 5-bit
    * bands are coarse (32 values/band); at corpus scale band width grows
    * with the fingerprint (Manku's 64-bit/4x16 config for hamming <= 3)
    * so bucket sizes stay bounded — same plan, different constants.
    *
    * Scale shape: corpus hash sets are distinct-projected before the
    * joins (set-sized, not corpus-sized rows); all three rungs are hash
    * joins keyed on fixed-width values; the 80/20 split threshold is
    * integer arithmetic broadcast from a one-row count — no collect. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val thr = docs.agg(expr("(count(1) * 8) div 10").as("thr"))
    val tagged = docs.crossJoin(broadcast(thr))
    screenIncrement(
      tagged.filter(col("doc_id") < col("thr")),
      tagged.filter(col("doc_id") >= col("thr")))
  }

  /** 12 disjoint 5-bit bands of a 60-bit fingerprint — the hamming-LSH
    * candidate generator shared by the incremental screen and the split
    * leakage audit (one definition so the two can't drift on band
    * geometry; completeness argument at [[screenIncrement]]). */
  private[llm] def bandify(sh: DataFrame, id: String, h: String): DataFrame =
    sh.select(col(id), col(h),
        explode(sequence(lit(0), lit(11))).as("b"))
      .withColumn("bv", expr(s"shiftright($h, b * 5) & 31"))

  /** The screening core over explicit (corpus, increment) frames of
    * (doc_id, text) — split out so specs can plant cross-split dups. */
  def screenIncrement(corpus: DataFrame, inc: DataFrame): DataFrame = {
    val corpusExact = corpus.select(md5(col("text")).as("h")).distinct()
      .withColumn("f_exact", lit(true))
    val corpusCanon = corpus
      .select(md5(canonical(col("text"))).as("hc")).distinct()
      .withColumn("f_canon", lit(true))

    val shCorpus = simhash(corpus.select("doc_id", "text"))
      .select(col("doc_id").as("cid"), col("simhash").as("ch"))
    val shInc = simhash(inc.select("doc_id", "text"))
      .select(col("doc_id").as("iid"), col("simhash").as("ih"))
    val near = bandify(shInc, "iid", "ih")
      .join(bandify(shCorpus, "cid", "ch"), Seq("b", "bv"))
      .select("iid", "ih", "cid", "ch").distinct()
      .filter(bit_count(expr("ih ^ ch")) <= 10)
      .select(col("iid")).distinct()
      .withColumn("f_near", lit(true))

    inc.select(col("doc_id"), md5(col("text")).as("h"),
        md5(canonical(col("text"))).as("hc"))
      .join(corpusExact, Seq("h"), "left")
      .join(corpusCanon, Seq("hc"), "left")
      .join(near, col("doc_id") === col("iid"), "left")
      .select(col("doc_id"),
        coalesce(col("f_exact"), lit(false)).as("exact_dup"),
        coalesce(col("f_canon"), lit(false)).as("canon_dup"),
        coalesce(col("f_near"), lit(false)).as("near_dup"))
      .withColumn("admit",
        !col("exact_dup") && !col("canon_dup") && !col("near_dup"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ split leakage --

  /** Dedup-aware split audit: test docs with a near-duplicate in the
    * TRAIN split — the leakage that survives naive hash splitting
    * because near-copies hash to independent buckets. (The GPT-3 and C4
    * papers both report this class of test contamination; n-gram overlap
    * vs test SETS is [[graft.llm.Sampling]]'s contamination audit — this
    * one audits the pipeline's OWN train/test split.) Uses THE shared
    * [[graft.llm.Sampling.splitCol]] definition, so the audit can never
    * silently check a different split than the one training consumed,
    * and the same banded hamming-LSH rung as the incremental screen
    * (complete for hamming ≤ 10, see [[screenIncrement]]).
    *
    * Output per leaking test doc: how many train near-dups it has and
    * the closest hamming distance (0 = an exact/reformatted copy leaked
    * across the split).
    *
    * Scale shape: ONE corpus pass computes simhash for all docs; the
    * split tag is a scalar hash projection; band-equality candidate join
    * + exact hamming verify + one keyed agg — the same linear-shuffle
    * budget as the incremental near rung, nothing all-pairs. */
  def splitLeakage(s: SparkSession, d: String): DataFrame =
    splitLeakageOf(Tables.documents(s, d))

  /** Core over an explicit (doc_id, text) frame — split out so specs can
    * plant a known cross-split near-copy (same pattern as
    * [[screenIncrement]]). */
  def splitLeakageOf(documents: DataFrame): DataFrame = {
    // Split BEFORE simhash: the two sides are disjoint scan-filters (the
    // split predicate reaches the parquet scan), so each doc's tokens
    // flow through exactly one fingerprint aggregation — joining the tag
    // onto a corpus-wide simhash instead planted a redundant join per
    // side in the physical plan.
    val docs = documents
      .withColumn("split", graft.llm.Sampling.splitCol(col("doc_id")))
    def side(which: String): DataFrame =
      simhash(docs.filter(col("split") === which).select("doc_id", "text"))
    val test = side("test")
      .select(col("doc_id").as("tid"), col("simhash").as("th"))
    val train = side("train")
      .select(col("doc_id").as("rid"), col("simhash").as("rh"))
    bandify(test, "tid", "th")
      .join(bandify(train, "rid", "rh"), Seq("b", "bv"))
      .select("tid", "th", "rid", "rh").distinct()
      .withColumn("hamming", bit_count(expr("th ^ rh")).cast("int"))
      .filter(col("hamming") <= 10)
      .groupBy("tid")
      .agg(count(lit(1)).as("n_train_neardups"),
        min(col("hamming")).as("min_hamming"))
      .orderBy("tid")
  }

  // ----------------------------------------------------- n-gram jaccard --

  /** Distinct token set per doc, relational form (doc_id, t). */
  private[llm] def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .distinct()

  /** THE token-set Jaccard pair computation (single implementation —
    * the ground truth all approximate dedup paths verify against, and the
    * place the +1e-9 round-boundary epsilon lives). `cand` optionally
    * restricts the pair space to pre-generated candidates (LSH).
    *
    * The intersection join is keyed by a HASH of the token, NOT the
    * token string: fixed 8-byte shuffle keys instead of arbitrary-length
    * text — at 100 TB the difference between a lean and a bloated
    * shuffle. The hash never reaches the output (set sizes still count
    * the distinct token STRINGS), so it only has to be collision-free
    * enough WITHIN one engine and the cheap codegen'd xxhash64 replaces
    * the md5-hex-substring-conv chain (the sparseCosine lesson, r11:
    * md5 route 2.39 s vs 1.3 s at sf0.1); the DuckDB oracle joins its
    * own md5-keyed (or raw-string) grams, and the gate's hash equality
    * re-proves the no-collision assumption on every run. */
  def jaccardPairs(tok: DataFrame, tau: Double,
                   cand: Option[DataFrame] = None): DataFrame = {
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val left = tok.select(col("doc_id").as("id1"), xxhash64(col("t")).as("th"))
    val right = tok.select(col("doc_id").as("id2"), xxhash64(col("t")).as("th"))
    val inter = (cand match {
      case None => left.join(right, Seq("th")).filter(col("id1") < col("id2"))
      case Some(c) => left.join(c, Seq("id1")).join(right, Seq("id2", "th"))
    }).groupBy("id1", "id2").agg(count(lit(1)).as("x"))
    inter
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jaccard",
        round(col("x").cast("double") / (col("n1") + col("n2") - col("x"))
          + lit(1e-9), 4))
      .filter(col("jaccard") >= tau)
      .select("id1", "id2", "jaccard")
  }

  /** Exact token-set Jaccard similarity pairs ≥ tau within a doc_id block —
    * the ground-truth near-dup set the approximate methods are judged
    * against. Relational formulation (explode → equi-join on token →
    * count ratio) so the shuffle is keyed by token, not all-pairs. */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    jaccardPairs(
      tokenSets(Tables.documents(s, d).filter(col("doc_id") < 100)), 0.95)
      .orderBy("id1", "id2")

  /** ONE-SIDED containment pairs: |A∩B| / |A| ≥ tau with |A| ≥
    * minTokens — the asymmetric rung of the near-dup family. Jaccard
    * misses a short document wholly QUOTED inside a long one (the
    * union dilutes the ratio below any near-dup threshold); containment
    * is exactly the quote/subset witness, and the reason dedup
    * pipelines run it beside the symmetric pass. Same relational shape
    * as [[jaccardPairs]]: token-keyed equi-join (8-byte hashed
    * shuffle keys), never all-pairs; at corpus scale the candidate
    * stage would be the asymmetric-LSH analogue, here the block bound
    * plays that role. Direction matters: (a contained-in b) and (b
    * contained-in a) are separate rows, each judged by its own side's
    * size. */
  def containmentPairs(tok: DataFrame, tau: Double,
                       minTokens: Int): DataFrame = {
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // join-key-only hash: xxhash64, same argument as jaccardPairs
    val left = tok.select(col("doc_id").as("id_a"), xxhash64(col("t")).as("th"))
    val right = tok.select(col("doc_id").as("id_b"), xxhash64(col("t")).as("th"))
    left.join(right, Seq("th")).filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("x"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .filter(col("na") >= minTokens)
      .withColumn("containment",
        round(col("x").cast("double") / col("na") + lit(1e-9), 4))
      .filter(col("containment") >= tau)
      .select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
        col("containment"))
  }

  /** `q_dedup_containment`: one-sided containment ≥ 0.95 over the
    * bounded oracle block, contained side ≥ 20 distinct tokens (the
    * tiny-set guard — the fixture vocabulary is ~40 tokens, so
    * unguarded small sets are trivially contained everywhere). */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    containmentPairs(
      tokenSets(Tables.documents(s, d).filter(col("doc_id") < 100)),
      tau = 0.95, minTokens = 20)
      .orderBy("contained_id", "container_id")

  // -------------------------------------------------------- minhash lsh --

  /** (doc_id, band, bh) MinHash band-hash buckets — ONE definition shared
    * by the batch LSH candidate generator below and the streaming
    * near-dedup ([[NearDedupStream]]), so the banding (and therefore the
    * recall argument) cannot drift between the two. Signature = numHashes
    * seeded-xxhash64 min-hashes per doc in one agg pass; band hash =
    * xxhash64 over each (numHashes/bands)-slice. */
  /** doc_id -> h0..h{k-1} minhash signature columns — the ONE seeded
    * xxhash64 definition behind band hashing AND the signatures-only
    * streaming state (NearDedupStream). */
  private[llm] def signatureFrame(docs: DataFrame,
                                  numHashes: Int): DataFrame =
    tokenSets(docs).groupBy("doc_id")
      .agg(min(xxhash64(lit(0), col("t"))).as("h0"),
        (1 until numHashes).map(i =>
          min(xxhash64(lit(i), col("t"))).as(s"h$i")): _*)

  /** (doc_id, sig ARRAY<BIGINT>) — the signature as one array column. */
  private[llm] def minhashSignatures(docs: DataFrame,
                                     numHashes: Int): DataFrame =
    signatureFrame(docs, numHashes).select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))

  private[llm] def bandHashes(docs: DataFrame, numHashes: Int,
                              bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // one pass: doc_id -> minhash signature h0..h{k-1}
    val sig = signatureFrame(docs, numHashes)
    // band hashes: xxhash64 over each r-slice of the signature
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"h${b * rows + r}"))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** LSH candidate pairs only (no verification): MinHash signatures →
    * banding → equality buckets → intra-bucket pairs. Buckets larger than
    * `maxBucket` are dropped whole: a degenerate bucket (hot band slice)
    * is otherwise quadratic in its size, and a genuine near-dup pair that
    * loses one band still surfaces through its other bands-1 chances —
    * bounded worst case (≤ maxBucket² pairs per bucket) for negligible
    * recall loss. Exact duplicates should be removed BEFORE this stage
    * (they collide on every band by construction). */
  def minHashCandidates(docs: DataFrame, numHashes: Int, bands: Int,
                        maxBucket: Int = 256): DataFrame = {
    val buckets = bandHashes(docs, numHashes, bands)
    val sized = buckets
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .filter(col("bn") <= maxBucket)
      .drop("bn")
    sized.select(col("doc_id").as("id1"), col("band"), col("bh"))
      .join(sized.select(col("doc_id").as("id2"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** MinHash signatures (numHashes permutations via seeded xxhash64) +
    * LSH banding → candidate pairs → exact Jaccard verification ≥ tau.
    * The scalable near-dup path: no all-pairs anywhere — candidates come
    * from equality buckets on (band_id, band_hash). */
  def minHashPairs(docs: DataFrame, numHashes: Int, bands: Int,
                   tau: Double, maxBucket: Int = 256): DataFrame = {
    val tok = tokenSets(docs)
    val cand = minHashCandidates(docs, numHashes, bands, maxBucket)
    // exact verification on candidates only
    jaccardPairs(tok, tau, Some(cand))
  }

  /** MinHash-LSH near-dup pairs (verified). Oracle'd since r8 against
    * the exact all-pairs Jaccard ground truth (same SQL as
    * q_dedup_ngram): the verification stage already makes every emitted
    * pair exact, and at this parameterization the CANDIDATE stage is
    * complete too — a τ≥0.95 pair collides per band with probability
    * j^rows ≈ 0.9025 (rows=2), so missing all 16 bands has probability
    * ≤ 0.0975^16 ≈ 6e-17, and maxBucket=256 cannot drop a bucket when
    * only 100 docs exist. Hash equality therefore pins end-to-end
    * recall = 1, strictly stronger than the old rows-only check. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    minHashPairs(Tables.documents(s, d).filter(col("doc_id") < 100),
      numHashes = 32, bands = 16, tau = 0.95)
      .orderBy("id1", "id2")

  /** Edit-distance near-dup pairs over a small doc block (strictly
    * block-bounded; at scale, band by simhash/minhash first and verify
    * survivors with this). Uses the THRESHOLD form of levenshtein —
    * banded O(k·len) DP with early exit instead of the full O(len²)
    * matrix; it returns -1 above the threshold, so `!= -1` is exactly
    * the old `dist <= 80` filter and survivors carry identical
    * distances (the DuckDB oracle keeps the unbounded form + filter,
    * which the hash gate proves equivalent). */
  def dedupEditDistance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    docs.select(col("doc_id").as("id1"), col("text").as("t1"))
      .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("t1"), col("t2"), 80).as("edit_dist"))
      .filter(col("edit_dist") =!= -1)
      .orderBy("id1", "id2")
  }

  // ------------------------------------------- end-to-end cleaning pass --

  /** The composed training-data cleaning pipeline over documents:
    * 1. quality gate (token count + common-token ratio),
    * 2. exact dedup (keep min doc_id per md5),
    * 3. near-dup removal: drop any doc with a lower-id partner at
    *    token-set Jaccard ≥ 0.95 (keep-first policy),
    * emitting the surviving corpus with its quality features. Every stage
    * is oracle-able, so the whole pipeline hash-checks against DuckDB —
    * the composition IS the product for a 100 TB cleaning job; bounded to
    * the doc_id<200 block only in the jaccard stage's pair join. */
  def pipelineDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
    val toks = split(col("text"), " ")
    val quality = docs
      .withColumn("n_tokens", size(toks))
      .withColumn("common_ratio",
        size(filter(toks, t => t.isin(TextOps.CommonTokens: _*)))
          .cast("double") / size(toks))
      .filter(col("n_tokens") >= 20 && col("common_ratio") >= 0.05)
    val exactKept = quality
      .withColumn("rep", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("rep")).drop("rep")
    val tok = tokenSets(exactKept.select("doc_id", "text"))
    // The near-dup verify stage consumes LSH candidates — the 100 TB path:
    // candidate generation is linear keyed shuffles, never the raw
    // token-equi-join (quadratic in docs-per-token on a hot token). At
    // tau=0.95 with 16 bands × 2 rows, candidate recall is
    // 1-(1-0.95²)^16 ≈ 1-1.6e-16, so the verified output equals the exact
    // formulation (the DuckDB oracle keeps the exact pair SQL — it cannot
    // reproduce xxhash64) — PipelineLshSpec asserts that equality.
    val cand = minHashCandidates(exactKept.select("doc_id", "text"),
      numHashes = 32, bands = 16)
    val nearPairs = jaccardPairs(tok, 0.95, Some(cand))
      .select(col("id2").as("doc_id")).distinct()
    exactKept.join(nearPairs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        // +1e-9 round-boundary epsilon, same convention as jaccardPairs /
        // textQuality (exact-rational ratios land on .00005 boundaries and
        // Spark/DuckDB round them apart)
        round(col("common_ratio") + lit(1e-9), 4).as("common_ratio"))
      .orderBy("doc_id")
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): every node connects its strictly
    * LARGER neighbours to the minimum of its closed neighbourhood.
    * One symmetrize + one keyed min-agg + one keyed join — all linear
    * shuffles on node id. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.filter(col("v") > col("u"))
      .join(m, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: orient every edge larger→smaller, then each
    * node connects its smaller neighbours (and itself) to the minimum
    * of that oriented neighbourhood. Same linear shuffle shape. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    val m = or.groupBy("u").agg(min(col("v")).as("m"))
    or.join(m, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionAll(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components over an undirected pair graph — the stage that
    * turns PAIRWISE near-dup matches into duplicate CLUSTERS (one
    * canonical representative per component, the min node id). A pair
    * list alone under-deletes: (a,b), (b,c) are two pairs but ONE
    * cluster {a,b,c}.
    *
    * Algorithm: alternating large-star/small-star contraction (Kiveris
    * et al.) — each round HALVES chain distances instead of walking them
    * one hop at a time, so convergence is O(log diameter) rounds, not
    * O(diameter). That is the difference that matters at 100 TB:
    * near-dup graphs of templated boilerplate form long chains, and a
    * plain min-label propagation is round-bound by the longest one
    * (CcContractionSpec proves a 64-node path converges in ≤7 rounds
    * here vs ~64 for propagation). Iteration control lives on the
    * driver (a scalar emptiness check per round); ALL data movement
    * stays distributed — each round is two keyed min-aggs + two keyed
    * joins, shuffles keyed by node id only, never by payload.
    *
    * Each round's edge set is EAGERLY checkpointed: iterative plans
    * double in size per round if only persisted (persist caches data,
    * not the logical plan — analysis time then grows exponentially with
    * the round count); checkpointing resets the plan to a scan of the
    * materialized blocks. `checkpointDir=Some(dir)` selects RELIABLE
    * checkpoints (graft.sc.Lineage.cut) — executor-loss-safe at cluster
    * scale, where the default localCheckpoint would kill the multi-round
    * job on the first lost executor. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 25,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsRounds(edges, nodes, maxIter, checkpointDir)._1

  /** connectedComponents + the number of contraction rounds it took —
    * the round count is the spec-asserted scale property. */
  def connectedComponentsRounds(edges: DataFrame, nodes: DataFrame,
                                maxIter: Int = 25,
                                checkpointDir: Option[String] = None): (DataFrame, Int) = {
    // checkpoint the initial edges ONCE: the loop re-reads them, and
    // without this the whole upstream edge derivation (e.g. the Jaccard
    // pair computation) would re-execute on the first round
    var e = graft.sc.Lineage.cut(
      edges.select(col("id1").as("u"), col("id2").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), checkpointDir)
    var converged = false
    var i = 0
    // fixpoint test: the two-phase contraction converges exactly when
    // the edge set is stable (its only fixpoints are disjoint stars
    // centred at component minima). Both sets are distinct, so
    // |next| == |e| AND next ⊆ e ⇔ next == e. The count comparison is
    // a near-free aggregate over the just-materialized blocks and
    // SHORT-CIRCUITS the subset probe: rounds that still change the
    // edge-set size (almost all of them) pay no except at all,
    // where the former two-sided except ran two full anti-join
    // shuffles every round just to learn "not yet".
    var eCount = e.count()
    while (!converged && i < maxIter) {
      val next = graft.sc.Lineage.cut(smallStar(largeStar(e)), checkpointDir)
      val nextCount = next.count()
      converged = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
      i += 1
    }
    require(converged, s"connectedComponents: no fixpoint in $maxIter rounds")
    // at the fixpoint every non-root points to exactly its component
    // min; roots and singletons label themselves
    val labels = nodes.select(col("node"))
      .join(e.select(col("u").as("node"), col("v").as("label")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    (labels, i)
  }

  /** Near-dup clusters on the bounded doc block: exact Jaccard pairs →
    * connected components → (doc_id, cluster_rep). Singletons keep
    * themselves as representative, so the output is total over the block
    * and deterministic. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
    val pairs = jaccardPairs(tokenSets(docs.select("doc_id", "text")), 0.95)
      .select("id1", "id2")
    val nodes = docs.select(col("doc_id").as("node"))
    connectedComponents(pairs, nodes)
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** Keep-latest compaction: the upsert-resolution dedup (CDC/changelog
    * semantics — many versions per key, only the newest survives). One
    * window shuffle on the key; at 100 TB this is the standard
    * log-compaction pass before publishing a snapshot. Total order via
    * (ts_us, event_id) tie-break so the survivor is deterministic. */
  def dedupLatest(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    graft.tables.Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Repeated-passage detection (the corpus-level "exact substring"
    * dedup signal, at word-shingle granularity): an 8-word shingle that
    * recurs across ≥2 DISTINCT documents marks boilerplate — license
    * headers, navigation chrome, templated paragraphs — the passages a
    * training-data pipeline clips even when the documents containing
    * them are NOT near-duplicates as wholes. Per surviving doc: how many
    * of its distinct shingles are corpus-repeated, and what fraction of
    * the doc that is (the clip-or-keep decision feature).
    *
    * Scale shape: shingles shuffle as 60-bit md5 keys (not ~50-char
    * strings — the [[jaccardPairs]] convention); the df count is one
    * keyed agg with map-side combine; the repeated-shingle set joins
    * back as a semi-equi-join on the same key, re-using the hash
    * partitioning AQE already produced. Nothing is all-pairs and no doc
    * text moves after the first projection — at 100 TB this is two
    * keyed exchanges over fixed-width rows. Suffix-array exactness
    * (byte-level, as in the Lee et al. dedup paper) does not
    * distribute; the shingle approximation is the standard cluster
    * form. */
  def repeatedPassages(docs: DataFrame, n: Int, minDf: Int): DataFrame = {
    import graft.llm.TextOps.{tokens, wordNGrams}
    // Hoist tokenization into its own projection BEFORE the gram lambda:
    // wordNGrams references its input n times per gram via element_at, and
    // an inline `tokens(text)` argument is re-evaluated at every reference
    // — split(text) n·grams times = O(len²) per doc. Same trap documented
    // and measured at TextOps.repetitionOf (3.9 s → ~1 s for 3-grams;
    // this 8-gram site was 18.8 s before hoisting).
    // Persist the distinct gram set: it feeds THREE consumers (df count,
    // per-doc sizes, the semi-join left side) and without it each branch
    // re-scans + re-explodes + re-hashes the whole corpus — exchange reuse
    // does not fire because the branches push down different null filters.
    // At 100 TB one materialization of fixed-width (doc_id, gh) rows is
    // roughly a shuffle-write's worth of IO; three corpus re-reads are not.
    // Same internal-persist pattern as recipe/resample; the gate/bench
    // clearCache() after each query releases it.
    val gh = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        explode(wordNGrams(col("toks"), n)).as("g"))
      // join-key-only hash: xxhash64, same argument as jaccardPairs
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rep = gh.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("gh")
    val sizes = gh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    gh.join(rep, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rep"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_rep"), col("n_shingles"),
        round(col("n_rep").cast("double") / col("n_shingles") + lit(1e-9), 4)
          .as("rep_frac"))
      .orderBy("doc_id")
  }

  def dedupSubstring(s: SparkSession, d: String): DataFrame =
    repeatedPassages(Tables.documents(s, d), 8, 2)

  // ------------------------------------------------------------- wiring --

  val queries: Map[String, Q] = Map(
    "q_dedup_substring" -> dedupSubstring _,
    "q_dedup_clusters" -> dedupClusters _,
    "q_dedup_latest"  -> dedupLatest _,
    "q_dedup_exact"   -> dedupExact _,
    "q_dedup_canon"   -> dedupCanon _,
    "q_dedup_incremental" -> dedupIncremental _,
    "q_dedup_simhash" -> dedupSimhash _,
    "q_dedup_ngram"   -> dedupNgram _,
    "q_dedup_containment" -> dedupContainment _,
    "q_dedup_minhash" -> dedupMinhash _,
    "q_dedup_editdist" -> dedupEditDistance _,
    "q_split_leakage" -> splitLeakage _,
    "q_pipeline_docs" -> pipelineDocs _,
  )

  val oracle: Map[String, String] = Map(
    // same 60-bit md5 gram keys as the Spark side (jaccardPairs
    // convention), same ≥2-distinct-docs cutoff; list-comprehension
    // shingling mirrors wordNGrams' empty-below-n contract
    "q_dedup_substring" ->
      """WITH tok AS (SELECT doc_id, str_split(text, ' ') AS ts
                      FROM documents),
         g0 AS (SELECT doc_id,
                  unnest([array_to_string(ts[i+1:i+8], ' ')
                          FOR i IN range(0, greatest(len(ts)-7, 0))]) AS g
                FROM tok),
         grams AS (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS gh
                   FROM g0),
         rep AS (SELECT gh
                 FROM (SELECT gh, count(1) AS df FROM grams GROUP BY gh)
                 WHERE df >= 2),
         sizes AS (SELECT doc_id, count(1) AS n_shingles
                   FROM grams GROUP BY doc_id)
         SELECT g.doc_id, CAST(count(1) AS BIGINT) AS n_rep,
                s.n_shingles,
                round(CAST(count(1) AS DOUBLE) / s.n_shingles + 1e-9, 4)
                  AS rep_frac
         FROM grams g JOIN sizes s ON s.doc_id = g.doc_id
         WHERE gh IN (SELECT gh FROM rep)
         GROUP BY g.doc_id, s.n_shingles
         ORDER BY g.doc_id""",
    // connected components in SQL: recursive label walk over the
    // symmetrized near-dup edges; min reachable id = component rep
    "q_dedup_clusters" ->
      """WITH RECURSIVE
         tok AS (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS t
                 FROM documents WHERE doc_id < 100),
         tokh AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS th
                  FROM tok),
         sizes AS (SELECT doc_id, count(1) AS n FROM tok GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(1) AS x
                   FROM tokh a JOIN tokh b
                     ON a.th = b.th AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id1, id2
                   FROM inter JOIN sizes s1 ON s1.doc_id = id1
                              JOIN sizes s2 ON s2.doc_id = id2
                   WHERE round(CAST(x AS DOUBLE) / (s1.n + s2.n - x) + 1e-9, 4)
                         >= 0.95),
         edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                   UNION ALL
                   SELECT id2, id1 FROM pairs),
         nodes AS (SELECT DISTINCT doc_id AS node FROM documents
                   WHERE doc_id < 100),
         walk(node, label) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.src, w.label FROM walk w JOIN edges e ON w.node = e.dst)
         SELECT CAST(node AS BIGINT) AS doc_id,
                CAST(min(label) AS BIGINT) AS cluster_rep
         FROM walk GROUP BY node ORDER BY doc_id""",
    "q_dedup_latest" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1
         ORDER BY user_id""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS rep_id,
                CAST(count(1) AS BIGINT) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY rep_id""",
    // regexp_replace needs the 'g' flag (DuckDB default replaces the
    // first match only); \p classes are RE2-compatible on both engines
    "q_dedup_canon" ->
      """WITH c AS (SELECT doc_id,
                trim(regexp_replace(
                  regexp_replace(lower(text), '[^\p{L}\p{Nd} ]', ' ', 'g'),
                  ' +', ' ', 'g')) AS canon
              FROM documents)
         SELECT md5(canon) AS canon_md5,
                CAST(min(doc_id) AS BIGINT) AS rep_id,
                CAST(count(1) AS BIGINT) AS n_copies
         FROM c GROUP BY md5(canon) ORDER BY rep_id""",
    "q_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                      FROM documents WHERE doc_id < 100),
         h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv
               FROM tok),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                  FROM h, generate_series(0, 59) g(j) GROUP BY doc_id, j),
         sh AS (SELECT doc_id,
                       sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                                ELSE 0 END) AS simhash
                FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
         ORDER BY id1, id2""",
    // The oracle does the near rung as DIRECT all-pairs hamming (no
    // banding); the Spark side generates candidates via 12x5-bit band
    // equality first — the hash gate therefore PROVES the band join is
    // a complete candidate generator on this data, not just faster.
    // all-pairs oracle vs the banded Spark side — equality re-proves
    // band completeness for hamming <= 10 (as q_dedup_incremental does);
    // split expression is byte-identical to q_sample_hash's
    "q_split_leakage" ->
      """WITH spl AS (SELECT doc_id,
                  CASE WHEN CAST('0x' ||
                         substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15)
                         AS BIGINT) % 100 < 90
                       THEN 'train' ELSE 'test' END AS split
                FROM documents),
         tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                 FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv
               FROM tok),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN (hv >> j) & 1 = 1
                                  THEN 1 ELSE -1 END) AS s
                  FROM h, generate_series(0, 59) g(j) GROUP BY doc_id, j),
         sh AS (SELECT doc_id,
                       sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                                ELSE 0 END) AS simhash
                FROM bits GROUP BY doc_id),
         pairs AS (SELECT ti.doc_id AS tid,
                          bit_count(xor(si.simhash, sr.simhash)) AS hamming
                   FROM spl ti JOIN sh si ON si.doc_id = ti.doc_id,
                        spl tr JOIN sh sr ON sr.doc_id = tr.doc_id
                   WHERE ti.split = 'test' AND tr.split = 'train'
                     AND bit_count(xor(si.simhash, sr.simhash)) <= 10)
         SELECT tid, CAST(count(1) AS BIGINT) AS n_train_neardups,
                CAST(min(hamming) AS INTEGER) AS min_hamming
         FROM pairs GROUP BY tid ORDER BY tid""",
    "q_dedup_incremental" ->
      """WITH n AS (SELECT (count(1) * 8) // 10 AS thr FROM documents),
         corpus AS (SELECT d.* FROM documents d, n WHERE doc_id < thr),
         inc AS (SELECT d.* FROM documents d, n WHERE doc_id >= thr),
         ce AS (SELECT DISTINCT md5(text) AS h FROM corpus),
         cc AS (SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(
                  lower(text), '[^\p{L}\p{Nd} ]', ' ', 'g'),
                  ' +', ' ', 'g'))) AS hc
                FROM corpus),
         tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                 FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv
               FROM tok),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN (hv >> j) & 1 = 1
                                  THEN 1 ELSE -1 END) AS s
                  FROM h, generate_series(0, 59) g(j) GROUP BY doc_id, j),
         sh AS (SELECT doc_id,
                       sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                                ELSE 0 END) AS simhash
                FROM bits GROUP BY doc_id),
         near AS (SELECT DISTINCT i.doc_id AS iid
                  FROM sh i, sh c, n
                  WHERE i.doc_id >= thr AND c.doc_id < thr
                    AND bit_count(xor(i.simhash, c.simhash)) <= 10)
         SELECT doc_id,
                md5(text) IN (SELECT h FROM ce) AS exact_dup,
                md5(trim(regexp_replace(regexp_replace(
                  lower(text), '[^\p{L}\p{Nd} ]', ' ', 'g'),
                  ' +', ' ', 'g'))) IN (SELECT hc FROM cc) AS canon_dup,
                doc_id IN (SELECT iid FROM near) AS near_dup,
                NOT (md5(text) IN (SELECT h FROM ce)
                     OR md5(trim(regexp_replace(regexp_replace(
                          lower(text), '[^\p{L}\p{Nd} ]', ' ', 'g'),
                          ' +', ' ', 'g'))) IN (SELECT hc FROM cc)
                     OR doc_id IN (SELECT iid FROM near)) AS admit
         FROM inc ORDER BY doc_id""",
    // identical oracle text as q_dedup_ngram BY DESIGN: the LSH route
    // must reproduce the exact all-pairs ground truth — its verification
    // stage makes emitted pairs exact, and the banding parameters make
    // the candidate stage complete at this tau (see dedupMinhash docs)
    "q_dedup_minhash" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS t
                      FROM documents WHERE doc_id < 100),
         tokh AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS th
                  FROM tok),
         sizes AS (SELECT doc_id, count(1) AS n FROM tok GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(1) AS x
                   FROM tokh a JOIN tokh b
                     ON a.th = b.th AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id1, id2,
                round(CAST(x AS DOUBLE) / (s1.n + s2.n - x) + 1e-9, 4)
                  AS jaccard
         FROM inter JOIN sizes s1 ON s1.doc_id = id1
                    JOIN sizes s2 ON s2.doc_id = id2
         WHERE round(CAST(x AS DOUBLE) / (s1.n + s2.n - x) + 1e-9, 4) >= 0.95
         ORDER BY id1, id2""",
    // the asymmetric twin of q_dedup_ngram: |A∩B| / |A|, directed
    // pairs, tiny-set guard
    "q_dedup_containment" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS t
                      FROM documents WHERE doc_id < 100),
         sizes AS (SELECT doc_id, count(1) AS n FROM tok GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS x
                   FROM tok a JOIN tok b
                     ON a.t = b.t AND a.doc_id <> b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a AS contained_id, id_b AS container_id,
                round(CAST(x AS DOUBLE) / s.n + 1e-9, 4) AS containment
         FROM inter JOIN sizes s ON s.doc_id = id_a
         WHERE s.n >= 20
           AND round(CAST(x AS DOUBLE) / s.n + 1e-9, 4) >= 0.95
         ORDER BY 1, 2""",
    "q_dedup_ngram" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS t
                      FROM documents WHERE doc_id < 100),
         tokh AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS th
                  FROM tok),
         sizes AS (SELECT doc_id, count(1) AS n FROM tok GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(1) AS x
                   FROM tokh a JOIN tokh b
                     ON a.th = b.th AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id1, id2,
                round(CAST(x AS DOUBLE) / (s1.n + s2.n - x) + 1e-9, 4)
                  AS jaccard
         FROM inter JOIN sizes s1 ON s1.doc_id = id1
                    JOIN sizes s2 ON s2.doc_id = id2
         WHERE round(CAST(x AS DOUBLE) / (s1.n + s2.n - x) + 1e-9, 4) >= 0.95
         ORDER BY id1, id2""",
    "q_dedup_editdist" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
         FROM documents a JOIN documents b ON a.doc_id < b.doc_id
         WHERE a.doc_id < 50 AND b.doc_id < 50
           AND levenshtein(a.text, b.text) <= 80
         ORDER BY id1, id2""",
    "q_pipeline_docs" ->
      """WITH quality AS (
           SELECT doc_id, lang, text,
                  CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
                  CAST(len(list_filter(str_split(text, ' '),
                    x -> x IN ('join','select','filter','from','where',
                               'group','order'))) AS DOUBLE)
                    / len(str_split(text, ' ')) AS common_ratio
           FROM documents WHERE doc_id < 200),
         gated AS (
           SELECT * FROM quality
           WHERE n_tokens >= 20 AND common_ratio >= 0.05),
         exact AS (
           SELECT * FROM (
             SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
             FROM gated) WHERE doc_id = rep),
         tok AS (SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS t
                 FROM exact),
         tokh AS (SELECT doc_id,
                         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS th
                  FROM tok),
         sizes AS (SELECT doc_id, count(1) AS n FROM tok GROUP BY doc_id),
         near AS (
           SELECT DISTINCT b.id2 AS doc_id FROM (
             SELECT a.doc_id AS id1, b.doc_id AS id2, count(1) AS x
             FROM tokh a JOIN tokh b
               ON a.th = b.th AND a.doc_id < b.doc_id
             GROUP BY 1, 2) b
           JOIN sizes s1 ON s1.doc_id = b.id1
           JOIN sizes s2 ON s2.doc_id = b.id2
           WHERE round(CAST(x AS DOUBLE) / (s1.n + s2.n - x) + 1e-9, 4)
                 >= 0.95)
         SELECT doc_id, lang, n_tokens,
                round(common_ratio + 1e-9, 4) AS common_ratio
         FROM exact
         WHERE doc_id NOT IN (SELECT doc_id FROM near)
         ORDER BY doc_id""",
  )
}
