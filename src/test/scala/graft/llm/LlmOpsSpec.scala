package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** tiny_docs-style fixtures (FIXTURES.md §3): planted exact + near dups. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (0L, "spark sql join filter window group order by"),
    (1L, "spark sql join filter window group order by"),         // exact dup of 0
    (2L, "spark sql join filter window group order limit"),      // near dup (1-token edit)
    (3L, "completely different tokens here nothing shared xyz"),
    (4L, "streaming watermark state checkpoint trigger output"),
    (5L, "spark sql join filter window group order by extra"),   // near dup of 0/1
  ).toDF("doc_id", "text")

  test("canonical normalization collapses case, punctuation, whitespace") {
    val v = Seq(
      ("Hello,  WORLD!", "hello world"),
      ("a-b c", "a b c"),
      ("  trim me  ", "trim me"),
      ("unchanged text", "unchanged text"),
    ).toDF("raw", "want")
      .withColumn("got", Dedup.canonical(col("raw")))
    assert(v.filter(col("got") =!= col("want")).count() == 0)
    // canon dedup can only MERGE groups relative to byte-exact dedup
    val exact = Dedup.dedupExact(spark, sf).count()
    val canon = Dedup.dedupCanon(spark, sf).count()
    assert(canon <= exact && canon > 0)
    // every document lands in exactly one canon group
    val copies = Dedup.dedupCanon(spark, sf)
      .agg(sum("n_copies")).head.getLong(0)
    assert(copies == graft.tables.Tables.documents(spark, sf).count())
  }

  test("incremental screen: planted cross-split dups trip each rung") {
    // the near-only doc needs enough shared tokens that a 1-token edit
    // stays under hamming 10: at 8 tokens the edit lands at 11, at 18
    // tokens at 5 (simhash bit flips shrink as shared mass grows)
    val longDoc = "the quick brown fox jumps over the lazy dog near " +
      "the riverbank while birds sing in morning light"
    val corpus = Seq(
      (0L, "spark sql join filter window group order by"),
      (1L, longDoc),
    ).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "spark sql join filter window group order by"),    // exact
      (11L, "Spark  SQL join, filter window group order by!"), // canon only
      (12L, longDoc.replace("dog", "cat")),                    // near only
      (13L, "qqq www eee rrr ttt yyy uuu iii ooo"),            // clean
    ).toDF("doc_id", "text")
    val v = Dedup.screenIncrement(corpus, inc)
      .orderBy("doc_id")
      .select("doc_id", "exact_dup", "canon_dup", "near_dup", "admit")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    assert(v(0) == ((10L, true, true, true, false)))  // exact implies all
    assert(v(1)._1 == 11L && !v(1)._2 && v(1)._3 && !v(1)._5)
    assert(v(2)._1 == 12L && !v(2)._2 && !v(2)._3 && v(2)._4 && !v(2)._5)
    assert(v(3) == ((13L, false, false, false, true)))
  }

  test("exact dedup groups identical texts, keeps min id as rep") {
    val groups = docs.groupBy(md5($"text").as("text_md5"))
      .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(0L) == 2L)            // docs 0,1 collapse
    assert(groups.values.sum == 6L)
  }

  test("simhash: identical docs → distance 0; near dups close; unrelated far") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(ham(0L, 1L) == 0)
    assert(ham(0L, 2L) < ham(0L, 3L))
    assert(ham(0L, 5L) < ham(0L, 3L))
  }

  test("containment: a quoted subset scores 1.0 one-way; direction is asymmetric") {
    // doc 10's tokens are a strict subset of doc 11's (a quote inside a
    // longer doc); Jaccard = 5/9 ≈ 0.56 would miss it at any near-dup tau
    val quote = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (12L, "unrelated words entirely different content here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(Dedup.tokenSets(quote),
        tau = 0.95, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((10L, 11L, 1.0))) // 10 ⊂ 11 only; never 11 → 10
    // the symmetric pass indeed misses it
    assert(Dedup.jaccardPairs(Dedup.tokenSets(quote), 0.95).count() == 0)
    // tiny-set guard: below minTokens nothing is emitted
    assert(Dedup.containmentPairs(Dedup.tokenSets(quote),
      tau = 0.95, minTokens = 6).count() == 0)
  }

  test("minhash-lsh finds the exact and near dup pairs (high tau)") {
    val pairs = Dedup.minHashPairs(docs, numHashes = 32, bands = 16, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))    // exact dup always found
    assert(pairs.contains((0L, 2L)) || pairs.contains((0L, 5L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("connected components: pairs become transitive clusters, chains converge") {
    // (1,2),(2,3) is ONE cluster {1,2,3}; 4 is a singleton; (5,6) separate.
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val nodes = (1L to 6L).toDF("node")
    val reps = Dedup.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L), reps)
    // long chain: diameter > 1 forces multiple propagation rounds
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainReps = Dedup.connectedComponents(chain, (0L to 9L).toDF("node"))
      .collect().map(r => r.getLong(1)).distinct
    assert(chainReps.toSeq == Seq(0L), chainReps.toSeq)
  }

  test("minhash recall vs exact jaccard ground truth on sf0.001 block") {
    val gt = Dedup.dedupNgram(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.dedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(gt))             // verification step kills false pos
    if (gt.nonEmpty)
      assert(mh.size.toDouble / gt.size >= 0.8, s"recall ${mh.size}/${gt.size}")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0)))
      .toDF("a", "b", "c", "d")
    val r = df.select(
      Similarity.cosine($"a", $"b"), Similarity.cosine($"a", $"c"),
      Similarity.cosine($"a", $"d")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-12)
  }

  test("lsh finds planted near-duplicates (cos≈0.99) with perfect recall") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(40)(Array.fill(64)(rng.nextGaussian() * 0.1))
    // plant 5 near-dups: copy + tiny noise
    val planted = (0 until 5).map { i =>
      (100L + i, base(i).map(_ + rng.nextGaussian() * 0.001).toSeq)
    }
    val all = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++ planted
    val df = all.toSeq.toDF("id", "v")
    val got = Similarity.lshPairs(df, tau = 0.95, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(want.subsetOf(got), s"missing ${want -- got}")
  }

  test("lsh pairs are a subset of brute-force pairs at the same tau (sf0.001)") {
    val brute = Similarity.dedupEmbedding(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.similarityLsh(spark, sf)
      .filter($"id1" < 200 && $"id2" < 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("langId classifies hand-written samples") {
    val df = Seq(
      ("the cat is on the table and it is happy", "en"),
      ("le chat est sur la table et il est content", "fr"),
      ("el gato esta en la mesa con una manta para el", "es"),
      ("der hund und die katze sind mit ein ball", "de"),
      ("你好世界这是中文", "zh"),
      ("zzz qqq xxx", "und"),
    ).toDF("text", "expected")
    val got = df.select(TextOps.langId($"text").as("p"), $"expected").collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"predicted ${r.getString(0)} expected ${r.getString(1)}"))
  }

  test("quality score is in [0,1] and favors longer docs") {
    val rows = TextOps.textQuality(spark, sf).collect()
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality"); q >= 0.0 && q <= 1.0
    })
  }

  test("fingerprint: identical text → identical fingerprint columns") {
    val fp = TextOps.textFingerprint(spark, sf)
      .select("doc_id", "canonical_md5", "fp_count").collect()
    assert(fp.length == 500 && fp.forall(_.getLong(2) > 0))
  }

  test("kl: matching distribution scores ~0, skewed source scores higher") {
    import spark.implicits._
    // corpus-wide token mix is 2:1 a:b. Source "same" mirrors it;
    // source "skew" is all-a. KL(same) ~ 0 < KL(skew).
    val docs = Seq(
      ("same", "a a b a a b"),
      ("skew", "a a a a a a"))
      .toDF("source", "text")
    val out = TextOps.textKlFor(docs, supportSize = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("skew") > out("same") + 0.1)
    // exact closed forms: corpus q = (10a, 2b)/12; same p = (4a,2b)/6,
    // skew p = (6a)/6 -> KL(skew) = ln(12/10) = 0.1823
    assert(math.abs(out("skew") - math.log(12.0 / 10)) < 1e-4)
    val pA = 4.0 / 6; val pB = 2.0 / 6
    val klSame = pA * math.log(pA / (10.0 / 12)) + pB * math.log(pB / (2.0 / 12))
    assert(math.abs(out("same") - klSame) < 1e-4)
  }

  test("oov: planted vocab cut counts exactly the out-of-vocab tokens") {
    import spark.implicits._
    // vocabSize=2 -> vocab = {"a" (4x), "b" (3x)}; "c"/"d" are OOV.
    // count-desc token-asc tiebreak: "c" (2x) loses the cut to a and b.
    val docs = Seq(
      (1L, "a a b c"),   // 1 OOV of 4
      (2L, "a b c d"),   // 2 OOV of 4
      (3L, "a b a"))     // 0 OOV of 3
      .toDF("doc_id", "text")
    val out = TextOps.textOovFor(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 2L, 0.5)))
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("synthetic media schema: binary payload + typed metadata") {
    val m = Multimodal.syntheticMedia(spark, sf)
    val f = m.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(f("payload") == "binary" && f("format") == "string"
      && f("width") == "int" && f("n_frames") == "int")
  }

  test("decode stub is deterministic and batch pipeline preserves rows") {
    // the stub is the documented extension point for no-pure-JVM-route
    // formats (H.264 etc.); no fixture row reaches it since the avi
    // decoder landed, so pin its contract directly
    val stub1 = Multimodal.decodeStub("payload".getBytes, 4, 3)
    val stub2 = Multimodal.decodeStub("payload".getBytes, 4, 3)
    assert(stub1.toSeq == stub2.toSeq && stub1.length == 12 &&
      stub1.forall(v => v >= 0f && v <= 1f))
    val media = Multimodal.syntheticMedia(spark, sf).as[Multimodal.MediaRow]
    val out1 = Multimodal.extractFeatures(media).collect().sortBy(_.id)
    val out2 = Multimodal.extractFeatures(media).collect().sortBy(_.id)
    assert(out1.length == 500)
    assert(out1.zip(out2).forall { case (a, b) =>
      a.features.sameElements(b.features) })
  }

  test("video rows get frame-sampled features through the REAL avi/jpeg " +
    "decode (stride-2 frame count, pooled luma per kept frame)") {
    val media = Multimodal.syntheticMedia(spark, sf).as[Multimodal.MediaRow]
    val vids = Multimodal.extractFeatures(media)
      .filter($"format" === "avi").collect()
    assert(vids.nonEmpty)
    val byId = media.filter($"format" === "avi").collect()
      .map(m => m.id -> m).toMap
    vids.foreach { v =>
      val src = byId(v.id)
      // stride-2 sampling of the container's true frame count
      assert(v.n_frames == (src.n_frames + 1) / 2, s"video ${v.id}")
      assert(v.features.nonEmpty)
      // real decode: DC-only frames are flat 8x8 blocks of value
      // 2*trunc((blockSum-8128)/128)+128 in [10, 128] -> pooled floats
      // in (0, 0.6]; the old stub normalized payload BYTES and produced
      // values across (0, 1] incl. > 0.6 almost surely
      assert(v.features.forall(f => f > 0f && f <= 128f / 255f + 1e-6f),
        s"video ${v.id}: features outside the DC-only luma range")
    }
  }

  test("metadata predicates stay pushable (no decode in the plan)") {
    val plan = formattedPlan(
      Multimodal.syntheticMedia(spark, sf).filter($"format" === "ppm"))
    assert(!plan.contains("mapPartitions"), plan)
    // parquet-backed media lake: the format predicate reaches the scan
    assert(plan.contains("PushedFilters") && plan.contains("format"), plan)
  }

  test("real ppm/wav rows decode actual bytes (not the stub)") {
    val media = Multimodal.syntheticMedia(spark, sf)
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media)
      .collect().map(f => f.id -> f).toMap
    val rows = media.collect().map(r => r.id -> r).toMap
    val ppm = rows.values.filter(_.format == "ppm").take(3)
    assert(ppm.nonEmpty)
    ppm.foreach { m =>
      val (w, h, rgb) = MediaCodecs.decodePpmRgb(m.payload)
      assert((w, h) == (m.width, m.height))
      val expect =
        Multimodal.poolIntMean(Multimodal.lumaInt(rgb), w, h, 4, 255000.0)
      assert(feats(m.id).features.sameElements(expect))
    }
    val wav = rows.values.filter(_.format == "wav").take(3)
    assert(wav.nonEmpty)
    wav.foreach { m =>
      val (rate, samples) = MediaCodecs.decodeWav(m.payload)
      assert(rate == 8000 && samples.length == m.width * m.height)
      assert(feats(m.id).features.sameElements(
        Multimodal.poolAudioMean(samples.map(_.toDouble), 16)))
    }
  }

  test("binaryFile ingest route decodes to the same features as the lake") {
    val viaFiles = Multimodal.multimodalBinaryFiles(spark, sf)
      .select("id", "checksum")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val viaLake = Multimodal.multimodalFeatures(spark, sf)
      .filter($"format" === "ppm").select("id", "checksum")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(viaFiles.nonEmpty && viaFiles == viaLake,
      s"files=${viaFiles.size} lake=${viaLake.size}")
  }
}

class MediaCodecsSpec extends SparkSpec {
  test("bmp round trip: identical pixels give identical luma as ppm") {
    // 3x2: odd width forces a nonzero row pad (3*3=9 -> 12 bytes/row);
    // both decoders share the Rec.601 kernel so the SAME rgb through
    // BMP's bottom-up BGR layout and PPM's top-down RGB must agree
    val rgb = Array.tabulate[Byte](3 * 3 * 2)(i => ((i * 37 + 11) % 256).toByte)
    val (wb, hb, pb) = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(3, 2, rgb))
    val (wp, hp, pp) = MediaCodecs.decodePpm(MediaCodecs.encodePpm(3, 2, rgb))
    assert((wb, hb) == ((3, 2)) && (wp, hp) == ((3, 2)))
    pb.zip(pp).foreach { case (a, b) => assert(a == b) }
  }

  test("bmp layout: little-endian header, bottom-up rows, 4-byte padding") {
    val rgb = Array[Byte](
      255.toByte, 0, 0,  0, 255.toByte, 0,  0, 0, 255.toByte, // row 0: R G B
      10, 10, 10,        20, 20, 20,        30, 30, 30)       // row 1
    val bytes = MediaCodecs.encodeBmp(3, 2, rgb)
    assert(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)
    // file size LE at offset 2: 54 + 2 rows * 12 padded bytes
    assert(bytes(2) == (54 + 24).toByte && bytes(3) == 0)
    // first stored row is the LAST image row (bottom-up): gray 10 in BGR
    assert(bytes(54) == 10 && bytes(55) == 10 && bytes(56) == 10)
    // pad bytes close each 12-byte row
    assert(bytes(54 + 9) == 0 && bytes(54 + 10) == 0 && bytes(54 + 11) == 0)
    // decode restores image order: pixel (0,0) is pure red
    val (_, _, px) = MediaCodecs.decodeBmp(bytes)
    assert(math.abs(px(0) - 0.299f) < 1e-6)
  }

  test("ppm round trip: golden 2x2 image decodes to exact luma") {
    val rgb = Array[Byte](
      255.toByte, 0, 0,   0, 255.toByte, 0, // red, green
      0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte) // blue, white
    val bytes = MediaCodecs.encodePpm(2, 2, rgb)
    val (w, h, px) = MediaCodecs.decodePpm(bytes)
    assert((w, h) == (2, 2))
    assert(math.abs(px(0) - 0.299f) < 1e-6) // pure red
    assert(math.abs(px(1) - 0.587f) < 1e-6) // pure green
    assert(math.abs(px(2) - 0.114f) < 1e-6) // pure blue
    assert(math.abs(px(3) - 1.0f) < 1e-6)   // white
  }

  test("ppm header grammar: comments and extra whitespace") {
    val rgb = Array[Byte](10, 20, 30)
    val withComments = ("P6\n# a comment\n1\t1 # trailing\n255\n")
      .getBytes("US-ASCII") ++ rgb
    val (w, h, px) = MediaCodecs.decodePpm(withComments)
    assert((w, h) == (1, 1) && px.length == 1)
  }

  test("wav round trip: PCM16 samples come back exact") {
    val samples = Array[Short](0, 16384, -16384, 32767, -32768, 123)
    val bytes = MediaCodecs.encodeWav(44100, samples)
    val (rate, back) = MediaCodecs.decodeWav(bytes)
    assert(rate == 44100)
    assert(back.length == samples.length)
    samples.zip(back).foreach { case (s, f) =>
      assert(f == s / 32768.0f)
    }
  }

  test("wav chunk walk skips unknown chunks") {
    val base = MediaCodecs.encodeWav(8000, Array[Short](100, -100))
    // splice a LIST chunk between WAVE and fmt
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = base.slice(0, 12) ++ list ++ base.drop(12)
    // fix RIFF size
    val bb = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    val (rate, back) = MediaCodecs.decodeWav(spliced)
    assert(rate == 8000 && back.length == 2)
  }

  test("audio pooling: k windows of mean energy") {
    val pooled = MediaCodecs.poolAudio(
      Array(1f, 1f, 3f, 3f, 5f, 5f, 7f, 7f), 4)
    assert(pooled.toSeq == Seq(1f, 3f, 5f, 7f))
  }
}

class IvfSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("ivf top-k: high recall vs brute force on sf0.001 embeddings") {
    val vecs = graft.tables.Tables.embeddings(spark, sf)
      .filter($"vec_id" < 200)
      .select($"vec_id".as("id"),
        transform($"embedding", _.cast("double")).as("v"))
    val ivf = Similarity.ivfTopK(vecs, k = 3, nList = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force top-3 per query vector
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id1").orderBy(col("cosine").desc, col("id2"))
    val brute = vecs.select($"id".as("id1"), $"v".as("v1"))
      .join(vecs.select($"id".as("id2"), $"v".as("v2")), $"id1" =!= $"id2")
      .select($"id1", $"id2",
        graft.functions.GraftFunctions.cosineSim($"v1", $"v2").as("cosine"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low (nProbe=4/8 cells)")
    // every query vector got exactly k results
    assert(ivf.groupBy(_._1).forall(_._2.size == 3))
  }

  test("ivf is deterministic across runs (seeded kmeans)") {
    val vecs = graft.tables.Tables.embeddings(spark, sf)
      .filter($"vec_id" < 100)
      .select($"vec_id".as("id"),
        transform($"embedding", _.cast("double")).as("v"))
    val a = Similarity.ivfTopK(vecs, k = 2).collect().map(_.toSeq).toSet
    val b = Similarity.ivfTopK(vecs, k = 2).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("recall audit: 64 sampled queries, exact denominator, sane floor") {
    val rows = Similarity.similarityRecall(spark, sf).collect()
    assert(rows.length == 64, s"${rows.length} audit rows")
    // the exact side must find k=5 neighbours for every query (the
    // corpus is far larger than k) — a short denominator means the
    // brute-force sweep lost rows
    assert(rows.forall(_.getAs[Long]("n_exact") == 5L))
    val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(mean >= 0.5, s"mean IVF recall@5 $mean below audit floor")
    // id1 strictly increasing → stable dump ordering
    val ids = rows.map(_.getAs[Long]("id1"))
    assert(ids.zip(ids.tail).forall { case (a, b) => a < b })
  }

  test("probe-subset ivf answers agree with the full-probe run") {
    val vecs = graft.tables.Tables.embeddings(spark, sf)
      .filter($"vec_id" < 150)
      .select($"vec_id".as("id"),
        transform($"embedding", _.cast("double")).as("v"))
    val subset = vecs.filter($"id" < 20).select($"id")
    val full = Similarity.ivfTopK(vecs, k = 3)
      .filter($"id1" < 20).collect().map(_.toSeq).toSet
    val probed = Similarity.ivfTopK(vecs, k = 3, probeIds = Some(subset))
      .collect().map(_.toSeq).toSet
    assert(full == probed) // restricting probes must not change answers
  }
}
