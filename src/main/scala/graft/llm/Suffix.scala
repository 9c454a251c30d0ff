package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Distributed suffix ranking by PREFIX DOUBLING — the exact,
  * any-alignment repeated-passage machinery behind suffix-array corpus
  * dedup (the "deduplicating training data" line of work ranks every
  * corpus suffix so that equal ranks witness equal passages at ANY
  * byte offset, where shingle/chunk methods only witness repeats that
  * happen to align with their grid).
  *
  * Why prefix doubling and not gram explosion: detecting a repeated
  * L-char window by exploding all L-grams costs an L× data blowup in
  * the shuffle (every char is copied into L grams) — at 100 TB and
  * L=64 that is a 6.4 PB shuffle. Prefix doubling never materializes a
  * substring: it keeps ONE fixed-width row per corpus position
  * (doc_id, pos, rank) and refines rank through log2(L) rounds, each
  * round combining a position's class with the class 2^k positions
  * ahead. Total shuffle volume is O(N·log L) fixed-width rows — the
  * published scaling for suffix-array construction on data-parallel
  * engines (Manber–Myers doubling; Larsson–Sadakane refinement).
  *
  * Round shape (all declarative — two keyed windows, no self-join, no
  * global sort, no RDD hop), the Larsson–Sadakane head-ordinal
  * refinement:
  *  - rank is the 0-based ordinal OF THE CLASS HEAD in global suffix
  *    order (ties share it), not a dense class id. That invariant makes
  *    re-ranking LOCAL to each class: when a class splits, its members
  *    receive ordinals inside the class's own [head, head+size) range
  *    and no other class's rank moves — so no global coordination is
  *    ever needed after the first round.
  *  - pairing: lead(rank, k·2^w) over (partition by doc_id order by
  *    pos) — suffixes never cross documents, so the pair source is a
  *    per-doc window, one doc-keyed exchange of fixed-width rows.
  *  - re-rank: new rank = rank + rank() over (partition by rank order
  *    by tuple) - 1 — one rank-keyed exchange; a singleton class is a
  *    1-row window partition and costs nothing. The largest AMBIGUOUS
  *    class is the skew bound; real corpora split classes
  *    geometrically, and the probe below exits as soon as none remain.
  *  - the initial width-1 ranks are per-character head ordinals from a
  *    ~alphabet-sized frequency frame (a bounded-stats window,
  *    broadcast-joined back) — never a corpus-wide sort.
  *  Early exit when every class is singleton (max post-split class size
  *  == 1, read from the round's own window) — every later round would
  *  be the identity.
  *
  * Ordering semantics match plain string comparison: the
  * out-of-range sentinel rank2 = -1 sorts below every real class, so
  * a suffix that exhausts mid-window sorts before every suffix it
  * prefixes — exactly byte order on the ASCII corpus the fixtures
  * assert (Multimodal's builders fail loudly on non-ASCII text; the
  * DuckDB oracle compares suffixes with binary collation, which
  * coincides with code-point order only for ASCII).
  *
  * Scale notes: rows are (long, long, long) throughout; the pairing
  * window's skew is bounded by the longest single document and the
  * re-rank window's by the largest ambiguous class; lineage is cut
  * every round (reliable checkpointing via the shared
  * [[graft.sc.Lineage]] switch).
  *
  * The five suffix queries (census, window, maxrep, coverage, clip)
  * do NOT each rebuild the ladder: they consume
  * the persisted corpus [[SuffixIndex]] (built once per corpus
  * fingerprint from [[ranksWithLevels]]), the build-once/analyze-many
  * shape of the suffix-dedup pipelines. [[ranks]]/[[ranksWithLevels]]
  * remain the computational core — the index build calls them, and the
  * specs pin index == direct computation row-exactly.
  */
object Suffix {
  type Q = (SparkSession, String) => DataFrame

  /** repeated-window witness length (a power of two: 6 doubling rounds) */
  val WindowLen = 64

  /** Rows of `windows` whose class (rank) spans >= 2 documents — the
    * cross-doc duplication witness shared by the window/coverage/clip
    * consumers. min(doc_id) != max(doc_id) over a rank-partitioned
    * window is the ">= 2 distinct docs" predicate without a
    * countDistinct expansion, and the window form keeps it to ONE scan
    * + ONE rank-keyed exchange (the groupBy + join-back alternative
    * scans and exchanges the corpus-position frame twice — plan
    * branches don't share exchanges). */
  private def sharedClassRows(windows: DataFrame): DataFrame = {
    val byRank = Window.partitionBy("rank")
    windows
      .withColumn("_d0", min("doc_id").over(byRank))
      .withColumn("_d1", max("doc_id").over(byRank))
      .filter(col("_d0") =!= col("_d1"))
      .drop("_d0", "_d1")
  }

  /** (doc_id, pos, rank): rank is the 0-based HEAD-ORDINAL of the
    * suffix's first-`prefixLen`-chars equivalence class in global
    * suffix order — ties (equal prefixes) share it, and it equals the
    * ordinal of the class's first member in the sorted suffix sequence
    * (SQL `rank() - 1` semantics, NOT dense_rank). With prefixLen >=
    * the longest document it is the full lexicographic suffix rank
    * (ties = identical whole suffixes).
    *
    * RADIX-m doubling (m = min(maxRadix, prefixLen/width), default
    * maxRadix 16): each round combines m adjacent width-w class ids
    * (leads at w..(m−1)·w — ONE window spec, one exchange, one
    * WindowExec pass), so width grows m× per round — log_m rounds
    * instead of log2 (a 1024-char cap is 3 synchronization rounds at
    * radix 16, the 64-char window cap is 2). Tuple lexicographic order
    * equals string order because a suffix that runs out mid-tuple has
    * -1 sentinels in every later slot. The final round's radix is the
    * remainder power of two, so the ladder lands on prefixLen EXACTLY
    * — never an overshoot, because classes must express exactly
    * prefixLen-char equality (the window dedup consumes prefix-64
    * classes; overshooting would split prefix-equal positions that
    * differ later). */
  def ranks(docs: DataFrame, prefixLen: Int,
            checkpointDir: Option[String] = None): DataFrame =
    ranksWithLevels(docs, prefixLen, checkpointDir)._1

  /** [[ranks]] plus every intermediate (width, table) level — the
    * geometric class ladder (widths 1, 4, 16, …) that LCP-style
    * consumers (longest-repeat) descend. Each level is materialized
    * (lineage-cut), so keeping references costs storage, not
    * recomputation. Levels stop early on saturation like ranks does. */
  def ranksWithLevels(docs: DataFrame, prefixLen: Int,
                      checkpointDir: Option[String] = None,
                      maxRadix: Int = 16)
      : (DataFrame, Seq[(Int, DataFrame)]) = {
    require(prefixLen >= 2 && (prefixLen & (prefixLen - 1)) == 0,
      s"prefixLen must be a power of two >= 2, got $prefixLen")
    require(maxRadix >= 2 && (maxRadix & (maxRadix - 1)) == 0,
      s"maxRadix must be a power of two >= 2, got $maxRadix")
    val spark = docs.sparkSession
    // one row per corpus position; the explode is compute-light but the
    // rounds it feeds are not, so spread rows first (explicit count —
    // AQE sizes by bytes and would coalesce a small corpus to 1).
    // split keeps a trailing empty element under its -1 limit — filtered
    // before explode so no phantom position appears past each doc's end.
    // persisted for round 1 only: the frame feeds two branches of one
    // plan (the alphabet frequency agg and the ordinal join), and plan
    // branches don't share subtree results — uncached, the HOF explode
    // would run twice. Released as soon as round 1 materializes.
    val chars = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(filter(split(text, ''), ch -> ch <> ''), ch -> ascii(ch))"))
          .as(Seq("pos", "c")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("c").cast("long").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // width-1 head ordinals from the alphabet-sized frequency frame:
    // head(c) = #positions with a smaller code point (bounded-stats
    // window — the alphabet, not the corpus), broadcast back
    val heads = chars.groupBy("c").agg(count(lit(1)).as("f"))
      .withColumn("head", coalesce(sum("f").over(
        Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("c"), col("head"))
    var r = chars.join(broadcast(heads), "c")
      .select(col("doc_id"), col("pos"), col("head").as("rank"))
    val levels = Seq.newBuilder[(Int, DataFrame)]
    levels += 1 -> r // the lazy base level (cheap plan, never re-ranked)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    var width = 1
    var saturated = false
    while (width < prefixLen && !saturated) {
      // RADIX-m round, m = min(maxRadix, prefixLen/width) — both are
      // powers of two, so the ladder lands on prefixLen exactly. All
      // m−1 leads share ONE window spec (one exchange, one WindowExec
      // pass), so raising the radix trades wider shuffle rows
      // (m+2 longs/row) for fewer synchronization rounds (log_m instead
      // of log_4). maxRadix=16 makes a 1024-char cap 3 rounds instead
      // of 5 — at fixture scale rounds are nearly all fixed cost, and
      // at cluster scale the per-round latency floor (2 shuffles + a
      // lineage cut) is what a 100 TB corpus pays log_m(L) times; a
      // bytes-bound deployment can lower maxRadix to shrink row width.
      // the FIRST round re-ranks inside width-1 classes — alphabet-sized
      // classes are the biggest window partitions the ladder ever sees,
      // and sorting them by m−1 tuple columns is the round's cost, so
      // the first round stays at radix 4 regardless of maxRadix
      val m = math.min(if (width == 1) 4 else maxRadix, prefixLen / width)
      var paired = r
      (1 until m).foreach { i =>
        paired = paired.withColumn(s"r${i + 1}",
          lead(col("rank"), i * width, -1L).over(byDoc))
      }
      val tupleCols = (2 to m).map(i => col(s"r$i"))
      // the Larsson–Sadakane step: members of a split class take
      // ordinals inside the class's own [head, head+size) range —
      // rank() ties keep equal tuples equal, and a singleton class is
      // untouched (rank + 1 - 1). The post-split class size rides the
      // same exchange (partition keys are a superset of the window's)
      // and feeds the saturation probe off the materialized frame.
      val wClass = Window.partitionBy("rank").orderBy(tupleCols: _*)
      val wSplit = Window.partitionBy(col("rank") +: tupleCols: _*)
      val next = paired
        .withColumn("nrank", col("rank") + rank().over(wClass) - 1)
        .withColumn("sz", count(lit(1)).over(wSplit))
        .select(col("doc_id"), col("pos"), col("nrank").as("rank"), col("sz"))
      // cut every round: the saturation probe is an action anyway, the
      // rows are four longs wide, and the plan would otherwise deepen
      // by two windows per round
      r = graft.sc.Lineage.cut(next, checkpointDir)
      if (width == 1) chars.unpersist(blocking = false) // round 1 is done
      width *= m
      levels += width -> r.select("doc_id", "pos", "rank")
      // all classes singleton -> every further round is the identity
      // (null max = empty corpus: nothing left to refine either way)
      if (width < prefixLen) {
        val mx = r.agg(max("sz")).head
        saturated = mx.isNullAt(0) || mx.getLong(0) == 1L
      }
    }
    (r.select("doc_id", "pos", "rank"), levels.result())
  }

  /** `q_text_suffix_census`: the full suffix ordering, fingerprinted per
    * document — md5 over this doc's "pos:rank" sequence in position
    * order, where rank is the GLOBAL head-ordinal suffix rank (so the
    * value is corpus-sensitive: any change anywhere in the corpus that
    * reorders suffixes moves ranks and flips fingerprints). n_suffixes
    * doubles as the doc length check. */
  def suffixCensus(s: SparkSession, d: String): DataFrame = {
    SuffixIndex.full(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_suffixes"),
        md5(concat_ws("|", expr(
          "transform(array_sort(collect_list(struct(pos, rank))), " +
            "p -> concat(p.pos, ':', p.rank))")))
          .as("fingerprint"))
      .orderBy("doc_id")
  }

  /** `q_dedup_suffix_window`: per-doc census of positions whose
    * WindowLen-char window also appears in ANOTHER document — at any
    * alignment (the exactness rung above the gridded chunk dedups:
    * q_dedup_substring needs the repeat to align with its 8-token grid,
    * q_*_cdc needs an intact hash-cut chunk; this witnesses EVERY
    * 64-char repeat). Classes come from 6 doubling rounds — never from
    * materialized substrings. */
  def dedupSuffixWindow(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val windows = SuffixIndex.levelFor(s, d, WindowLen)
      .join(lens, "doc_id")
      .filter(col("pos") + WindowLen <= col("len"))
    // class -> does it span >= 2 docs (the cross-doc witness).
    // min(doc_id) != max(doc_id) over a rank-partitioned WINDOW is the
    // >=2-distinct-docs predicate in ONE pass: the former
    // groupBy(rank) + join-back shape scanned the corpus-position
    // level twice and exchanged it twice (the agg and the probe side
    // of the join are different subtrees, so exchange reuse never
    // fires); this shape is one scan, one rank-keyed exchange, one
    // sort. The window partition is a class — the documented skew
    // bound (largest ambiguous class), same as the re-rank rounds.
    sharedClassRows(windows)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        countDistinct("rank").as("n_distinct_dup"))
      .orderBy("doc_id")
  }

  /** `q_dedup_suffix_coverage`: per-document duplicated-span coverage —
    * how many characters of each document sit inside at least one
    * cross-doc-shared WindowLen-char window, with overlapping/abutting
    * windows merged into spans (the corpus-duplication fraction the
    * suffix-dedup literature reports, and the span set a
    * remove-duplicated-passages pass would clip). Output per affected
    * doc: (doc_id, n_chars, dup_chars, n_spans).
    *
    * Span merging is gaps-and-islands over the dup window START
    * positions (per-doc window: a new island starts when pos exceeds
    * the running max end) — never an offset explosion: the engine
    * touches one row per dup position, where the oracle brute-forces
    * the union by unnesting all 64 offsets per window and counting
    * distinct. Abutting spans (pos == prev end) merge, matching the
    * offset-union semantics exactly. */
  def dedupSuffixCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lens = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("len"))
    val windows = SuffixIndex.levelFor(s, d, WindowLen)
      .join(lens, "doc_id")
      .filter(col("pos") + WindowLen <= col("len"))
    // one-pass cross-doc witness (see [[sharedClassRows]])
    val dup = sharedClassRows(windows).select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dup
      .withColumn("prev_end", max(col("pos") + WindowLen)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("new_island").over(byDoc))
    islands.groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max(col("pos") + WindowLen).as("e"))
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s")).as("dup_chars"),
        count(lit(1)).as("n_spans"))
      .join(lens, "doc_id")
      .select(col("doc_id"), col("len").as("n_chars"),
        col("dup_chars"), col("n_spans"))
      .orderBy("doc_id")
  }

  /** `q_dedup_suffix_maxrep`: the LONGEST duplicated cross-document
    * passage in the corpus, exactly — the suffix-array dedup
    * literature's headline metric. One row:
    * (max_rep_len, n_max_pairs, rep_md5).
    *
    * Exactness without ever materializing suffixes:
    *  1. descend the geometric class ladder to the LARGEST width w*
    *     with a class spanning >= 2 documents AMONG POSITIONS WITH >= w*
    *     CHARS REMAINING — the answer lives in [w*, next width). The
    *     length filter is load-bearing: identical whole suffixes
    *     SHORTER than w share a class at every width (the sentinel
    *     construction), so an unfiltered descent would anchor on, say,
    *     two documents ending in the same two characters and report 2.
    *     Filtered, a class at width w certifies a true w-char repeat,
    *     and any pair achieving max >= w* has both lengths >= max >= w*
    *     so it is never filtered out;
    *  2. classes are SA-CONTIGUOUS, so inside each shared w*-class the
    *     members sorted by their FULL suffix rank are globally
    *     adjacent, and the classic adjacency argument (any suffix
    *     between a max-achieving cross-doc pair shares the full repeat,
    *     and somewhere in between the document must switch) pins the
    *     maximum onto a CONSECUTIVE different-doc pair — linear in
    *     class size, never pairwise;
    *  3. each consecutive pair's exact LCP comes from one zip_with
    *     first-mismatch scan of the two texts (candidate pairs are few:
    *     only members of maximal shared classes).
    * n_max_pairs counts the consecutive different-doc pairs achieving
    * the max (identical on the oracle side by the same adjacency
    * argument); rep_md5 content-proves the passage (min md5 across
    * ties). All-unique corpora yield (0, 0, null).
    *
    * Scale: the ladder is already materialized by ranks; the descent
    * is one count per level; candidates shrink with w* (a huge shared
    * class at a near-maximal width IS the pathological corpus).
    * w* = 1 degrades to char-class-sized windows — documented skew
    * bound, unreachable for corpora sharing any 4-char string. */
  def dedupSuffixMaxrep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val levels = SuffixIndex.levels(s, d)
    val full = levels.last._2
    val lens = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("len"))
    // ONE ladder scan replaces the per-level descent (which paid one
    // Spark action — join + agg + count — per level until first hit,
    // log L jobs back to back): tag every level with its width, keep
    // positions with >= w chars remaining (only those form TRUE
    // w-prefix classes — short identical suffixes would otherwise
    // certify repeats longer than they are), and take the LARGEST
    // width owning a class spanning >= 2 docs. min(doc_id) !=
    // max(doc_id) is that witness without a countDistinct expansion,
    // so the whole probe partial-aggregates map-side and ships one
    // (w, rank) row per map partition. Bytes scanned equal the full
    // descent's worst case (the descent re-scans one level per probe
    // and typically probes most of the ladder — w* is small on real
    // corpora); job count falls from log L actions to 1.
    // The probe KEEPS its per-(w, rank) cross-doc class rows (persisted
    // — a tiny fixed-width frame, one row per duplicated class) instead
    // of aggregating straight to max(w): the candidate phase below
    // needs exactly the wStar slice of that frame as its shared-class
    // witness, and reusing it replaces sharedClassRows' second full
    // rank-keyed window pass over the wStar level with one broadcast
    // semi-join (r12 probe: the window pass was ~0.4 s of the 1.7 s
    // candidate phase at sf0.1; identical rows by construction — the
    // probe's groupBy filter IS the witness definition).
    def probeClasses(ls: Seq[(Int, DataFrame)]): Option[(Int, DataFrame)] =
      if (ls.isEmpty) None
      else {
        val cls = ls
          .map { case (w, t) => t.select(col("doc_id"), col("pos"), col("rank"))
            .withColumn("w", lit(w)) }
          .reduce(_ unionAll _)
          .join(lens, "doc_id")
          .filter(col("pos") + col("w") <= col("len"))
          .groupBy("w", "rank")
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1"))
          .select(col("w"), col("rank"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val row = cls.agg(max("w")).head
        if (row.isNullAt(0)) { cls.unpersist(blocking = false); None }
        else Some((row.getInt(0), cls))
      }
    // probe the UPPER half of the ladder first: any shared class there
    // dominates every lower width, so the lower half is scanned only
    // when the upper probe comes back empty — on dup-bearing corpora
    // (w* ≥ WindowLen almost always) this halves the ladder bytes
    // scanned at a worst case of two jobs instead of one
    val (lowLvls, highLvls) = levels.splitAt(levels.length / 2)
    val hit = probeClasses(highLvls).orElse(probeClasses(lowLvls))
      .map { case (wStar, cls) =>
        val t = levels.find(_._1 == wStar).get._2
        val eligible = t.join(lens, "doc_id")
          .filter(col("pos") + wStar <= col("len"))
        // eligible rows whose class the probe proved cross-doc — the
        // sharedClassRows witness, without re-scanning the level. No
        // broadcast hint: cls is already materialized (the probe's agg
        // ran through the persist), so the planner sees its TRUE size —
        // broadcast when tiny (the common case), shuffled semi-join on
        // a pathological corpus whose duplicated-class list is itself
        // huge (a forced broadcast would be the scale-killer here).
        val shared = eligible.join(
          cls.filter(col("w") === wStar).select("rank"),
          Seq("rank"), "left_semi")
        (shared, cls)
      }
    val result: Seq[(Long, Long, String)] = hit match {
      case None => Seq((0L, 0L, null))
      case Some((lvl, cls)) =>
        val texts = docs.select(col("doc_id"), col("text"))
        val cand = lvl
          .join(full.withColumnRenamed("rank", "frank"), Seq("doc_id", "pos"))
          .join(texts, "doc_id")
        val byClass = Window.partitionBy("rank")
          .orderBy("frank", "doc_id", "pos")
        val pairs = cand
          .withColumn("pdoc", lag("doc_id", 1).over(byClass))
          .withColumn("ppos", lag("pos", 1).over(byClass))
          .withColumn("ptext", lag("text", 1).over(byClass))
          .filter(col("pdoc").isNotNull && col("pdoc") =!= col("doc_id"))
          // native LCP kernel (graft.functions.LcpLen): one compiled
          // byte-walk per candidate pair. The zip_with first-mismatch
          // form it replaces split BOTH whole texts into per-char
          // arrays per row (O(len) alloc for an O(lcp) answer) and
          // walked them with the interpreted HOF evaluator — r12
          // A/B'd; LcpLenSpec pins kernel == HOF equality.
          .withColumn("lcp", graft.functions.GraftFunctions.lcpLen(
            col("text"), col("pos").cast("long"),
            col("ptext"), col("ppos").cast("long")))
          .select("doc_id", "pos", "text", "lcp")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val mxRow = pairs.agg(max("lcp")).head
          val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
          if (mx < 1L) Seq((0L, 0L, null))
          else {
            val r = pairs.filter(col("lcp") === mx)
              .agg(count(lit(1)).as("n"),
                min(md5(expr(s"substring(text, CAST(pos + 1 AS INT), ${mx.toInt})")))
                  .as("h"))
              .head
            Seq((mx, r.getLong(0), r.getString(1)))
          }
        } finally {
          pairs.unpersist(blocking = false)
          cls.unpersist(blocking = false)
        }
    }
    result.toDF("max_rep_len", "n_max_pairs", "rep_md5")
  }

  /** `q_dedup_suffix_clip`: the REMOVE pass the span census feeds — the
    * exact-substring dedup TRANSFORMATION (the "deduplicating training
    * data" pipelines don't just count duplicated passages, they cut
    * them): every character inside a cross-document-shared
    * WindowLen-char window is clipped out, and the row certifies the
    * exact surviving text. One row per document (clipping may empty a
    * doc but never drops it): (doc_id, n_chars, n_kept, kept_md5).
    *
    * Shape: the merged spans are q_dedup_suffix_coverage's
    * gaps-and-islands frame (cheap keyed aggs over the shared
    * [[SuffixIndex]] level); the cut itself is ONE codegen fold per doc
    * over its sorted span array (substring concat across the gaps) —
    * per-doc local work, no explosion: the engine never materializes a
    * row per character, where the oracle brute-forces exactly that
    * (per-char rows anti-joined to the covered-offset union, string_agg
    * in offset order — md5 equality proves the clipped TEXT, not just
    * its length). */
  def dedupSuffixClip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lens = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("len"))
    val windows = SuffixIndex.levelFor(s, d, WindowLen)
      .join(lens, "doc_id")
      .filter(col("pos") + WindowLen <= col("len"))
    // one-pass cross-doc witness (see [[sharedClassRows]])
    val dup = sharedClassRows(windows).select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dup
      .withColumn("prev_end", max(col("pos") + WindowLen)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("new_island").over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max(col("pos") + WindowLen).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(expr(
        // fold the doc's disjoint sorted spans: emit the gap before each
        // span, then the tail after the last — one pass, codegen HOF
        """aggregate(spans,
             struct(CAST(0 AS BIGINT) AS p, '' AS acc),
             (st, x) -> struct(x.e AS p,
               concat(st.acc, substring(text, CAST(st.p + 1 AS INT),
                                        CAST(x.s - st.p AS INT))) AS acc),
             st -> concat(st.acc, substring(text, CAST(st.p + 1 AS INT),
                            CAST(length(text) - st.p AS INT))))"""),
        col("text")))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        length(col("kept")).cast("long").as("n_kept"),
        md5(col("kept")).as("kept_md5"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_text_suffix_census"    -> suffixCensus _,
    "q_dedup_suffix_window"   -> dedupSuffixWindow _,
    "q_dedup_suffix_maxrep"   -> dedupSuffixMaxrep _,
    "q_dedup_suffix_coverage" -> dedupSuffixCoverage _,
    "q_dedup_suffix_clip"     -> dedupSuffixClip _,
  )

  val oracle: Map[String, String] = Map(
    // the oracle MATERIALIZES what the engine never does — every suffix
    // string — and sorts them with binary collation (= code-point order
    // on the ASCII corpus). rank() (1-based, ties share, gaps skip) - 1
    // IS the head ordinal the engine's Larsson–Sadakane invariant keeps.
    "q_text_suffix_census" ->
      """WITH sfx AS (
           SELECT doc_id, i AS pos, substr(text, CAST(i + 1 AS INT)) AS sfx
           FROM documents, LATERAL unnest(range(0, len(text))) u(i)),
         rk AS (SELECT doc_id, pos,
                       rank() OVER (ORDER BY sfx) - 1 AS rank
                FROM sfx)
         SELECT doc_id, CAST(count(1) AS BIGINT) AS n_suffixes,
                md5(string_agg(pos || ':' || rank, '|' ORDER BY pos))
                  AS fingerprint
         FROM rk GROUP BY doc_id ORDER BY doc_id""",
    // globally SA-adjacent different-doc pairs suffice for the MAX (the
    // same adjacency argument the engine uses inside shared classes);
    // the engine's consecutive-in-class pairs and these are the same
    // set at the max, so n_max_pairs and rep_md5 agree exactly
    "q_dedup_suffix_maxrep" ->
      """WITH sfx AS (
           SELECT doc_id, i AS pos, substr(text, CAST(i + 1 AS INT)) AS sfx
           FROM documents, LATERAL unnest(range(0, len(text))) u(i)),
         sa AS (SELECT doc_id, pos, sfx,
                       lag(doc_id) OVER w AS pdoc, lag(sfx) OVER w AS psfx
                FROM sfx WINDOW w AS (ORDER BY sfx, doc_id, pos)),
         pr AS (SELECT sfx, psfx FROM sa
                WHERE pdoc IS NOT NULL AND pdoc <> doc_id),
         l AS (SELECT sfx,
                      coalesce((SELECT min(i)
                                FROM unnest(range(1, least(len(sfx), len(psfx)) + 1)) t(i)
                                WHERE substr(sfx, CAST(i AS INT), 1)
                                      <> substr(psfx, CAST(i AS INT), 1)) - 1,
                               least(len(sfx), len(psfx))) AS lcp
               FROM pr),
         m AS (SELECT max(lcp) AS mx FROM l)
         SELECT CAST(coalesce(mx, 0) AS BIGINT) AS max_rep_len,
                CAST(coalesce((SELECT count(1) FROM l
                               WHERE lcp = mx AND mx >= 1), 0) AS BIGINT)
                  AS n_max_pairs,
                (SELECT min(md5(substr(sfx, 1, CAST(mx AS INT)))) FROM l
                 WHERE lcp = mx AND mx >= 1) AS rep_md5
         FROM m""",
    "q_dedup_suffix_window" ->
      """WITH w AS (
           SELECT doc_id, i AS pos, substr(text, CAST(i + 1 AS INT), 64) AS win
           FROM documents,
                LATERAL unnest(range(0, greatest(len(text) - 63, 0))) u(i)),
         x AS (SELECT win FROM w GROUP BY win
               HAVING count(DISTINCT doc_id) >= 2)
         SELECT doc_id, CAST(count(1) AS BIGINT) AS n_dup_windows,
                CAST(count(DISTINCT win) AS BIGINT) AS n_distinct_dup
         FROM w JOIN x USING (win)
         GROUP BY doc_id ORDER BY doc_id""",
    // the oracle brute-forces the span union: unnest all 64 offsets of
    // every shared window, count distinct covered offsets; spans are
    // counted at their left edges (covered offset whose predecessor is
    // not covered) — exactly the engine's merged-island semantics
    "q_dedup_suffix_coverage" ->
      """WITH w AS (
           SELECT doc_id, i AS pos, substr(text, CAST(i + 1 AS INT), 64) AS win
           FROM documents,
                LATERAL unnest(range(0, greatest(len(text) - 63, 0))) u(i)),
         x AS (SELECT win FROM w GROUP BY win
               HAVING count(DISTINCT doc_id) >= 2),
         dp AS (SELECT DISTINCT doc_id, pos FROM w JOIN x USING (win)),
         ofs AS (SELECT DISTINCT doc_id, off
                 FROM dp, LATERAL unnest(range(pos, pos + 64)) t(off))
         SELECT o.doc_id,
                CAST(any_value(len(d.text)) AS BIGINT) AS n_chars,
                CAST(count(1) AS BIGINT) AS dup_chars,
                CAST(sum(CASE WHEN p.off IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_spans
         FROM ofs o
         JOIN documents d ON d.doc_id = o.doc_id
         LEFT JOIN ofs p ON p.doc_id = o.doc_id AND p.off = o.off - 1
         GROUP BY o.doc_id ORDER BY o.doc_id""",
    // the oracle rebuilds the clipped text the brute-force way: one row
    // per character, anti-joined to the covered-offset union, re-strung
    // in offset order — md5 equality proves the engine's span fold cut
    // EXACTLY the duplicated characters and nothing else
    "q_dedup_suffix_clip" ->
      """WITH w AS (
           SELECT doc_id, i AS pos, substr(text, CAST(i + 1 AS INT), 64) AS win
           FROM documents,
                LATERAL unnest(range(0, greatest(len(text) - 63, 0))) u(i)),
         x AS (SELECT win FROM w GROUP BY win
               HAVING count(DISTINCT doc_id) >= 2),
         dp AS (SELECT DISTINCT doc_id, pos FROM w JOIN x USING (win)),
         ofs AS (SELECT DISTINCT doc_id, off
                 FROM dp, LATERAL unnest(range(pos, pos + 64)) t(off)),
         chars AS (SELECT doc_id, i AS off,
                          substr(text, CAST(i + 1 AS INT), 1) AS ch
                   FROM documents, LATERAL unnest(range(0, len(text))) u(i)),
         kept AS (SELECT c.doc_id,
                         string_agg(c.ch, '' ORDER BY c.off) AS kt,
                         count(1) AS nk
                  FROM chars c
                  LEFT JOIN ofs o ON o.doc_id = c.doc_id AND o.off = c.off
                  WHERE o.off IS NULL
                  GROUP BY c.doc_id)
         SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
                CAST(coalesce(k.nk, 0) AS BIGINT) AS n_kept,
                md5(coalesce(k.kt, '')) AS kept_md5
         FROM documents d LEFT JOIN kept k USING (doc_id)
         ORDER BY d.doc_id""",
  )
}
