package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native SimHash kernel vs the aggregation twin it replaced
  * ([[graft.llm.Dedup.simhashAgg]]): fingerprints must be IDENTICAL on
  * every input class — randomized multi-token docs, repeated tokens
  * (multiset weighting), empty docs, leading/trailing/double spaces
  * (empty tokens are real tokens under split-with-kept-empties), single
  * tokens, and non-ASCII — plus the md5-prefix golden value and the
  * analysis-time type error. The r12 optimization swapped the corpus
  * explode + 60-column keyed aggregation for this per-row expression;
  * these tests are the proof the swap is an identity. */
class SimHash60Spec extends SparkSpec {
  import spark.implicits._

  private def viaKernel(texts: Seq[String]): Map[Long, Long] = {
    graft.llm.Dedup.simhash(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def viaAgg(texts: Seq[String]): Map[Long, Long] =
    graft.llm.Dedup.simhashAgg(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kernel == aggregation twin on randomized docs (repeats, empty " +
    "tokens from space runs, single tokens, empty doc)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("the", "cat", "sat", "on", "a", "mat", "once",
      "again", "x", "", "longer-token-value")
    val texts = Seq("", " ", "  ", "one", " lead", "trail ", "a  b") ++
      (0 until 80).map(_ => (0 until rnd.nextInt(60))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    assert(viaKernel(texts) === viaAgg(texts))
  }

  test("kernel == aggregation twin on non-ASCII tokens (byte-level " +
    "split at 0x20 == regex split on space)") {
    val texts = Seq("héllo wörld héllo", "日本語 テキスト 日本語 の",
      "кириллица и ascii mixed", "emoji 🙂 token 🙂 twice")
    assert(viaKernel(texts) === viaAgg(texts))
  }

  test("golden: single token sets exactly the bits of its 60-bit md5 " +
    "prefix (counter +1 on set bits, -1 on clear bits)") {
    // one token => fingerprint == the token's hash value itself
    val df = Seq((0L, "tok")).toDF("doc_id", "text")
    val expected = df
      .select(conv(substring(md5(col("text")), 1, 15), 16, 10)
        .cast("long").as("hv"))
      .head.getLong(0)
    assert(viaKernel(Seq("tok"))(0L) === expected)
  }

  test("analysis-time type error on a non-string argument") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("v")
        .select(GraftFunctions.simHash60(col("v"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("simhash60"))
  }
}
