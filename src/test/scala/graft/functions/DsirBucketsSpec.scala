package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native DSIR bucket kernel vs the declarative gram pipeline: the
  * histogram must equal the explode-and-count of
  * wordNGrams(tokens(text), 2) bucketed by the md5 formula, on every
  * input class — and the full r12 textDsir (kernel + weighted score)
  * must reproduce the pre-r12 gram-explode query row-for-row on the
  * sf0.001 corpus (including the 4dp-rounded log_w: the weighted sum
  * c·diff vs per-gram diff+diff+… reorders IEEE addition, and this is
  * the gate proving the reorder never reaches the 4th decimal). */
class DsirBucketsSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.Selection.{DsirBuckets => NB, DsirSalt}

  private def viaKernel(texts: Seq[String]): Seq[Seq[Long]] = {
    texts.toDF("text")
      .select(GraftFunctions.dsirBuckets(col("text"), DsirSalt, NB).as("bc"))
      .collect().map(_.getSeq[Long](0).toList).toList
  }

  private def viaExplode(texts: Seq[String]): Seq[Seq[Long]] = {
    val grams = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), explode(
        graft.llm.TextOps.wordNGrams(
          graft.llm.TextOps.tokens(col("text")), 2)).as("g"))
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit(DsirSalt), col("g"))), 1, 6), 16, 10)
          .cast("long") % NB).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    texts.indices.map { i =>
      val hist = new Array[Long](NB)
      grams.filter(_._1 == i).foreach { case (_, b, c) => hist(b.toInt) = c }
      hist.toList
    }
  }

  test("kernel histogram == explode-and-count on randomized docs " +
    "(repeats, space runs → empty tokens, <2-token docs, non-ASCII)") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("sql", "from", "select", "où", "日本", "x", "")
    val texts = Seq("", "one", "a b", "a  b", " lead trail ", "t t t t") ++
      (0 until 60).map(_ => (0 until rnd.nextInt(50))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    assert(viaKernel(texts) === viaExplode(texts))
  }

  test("r12 textDsir == pre-r12 gram-explode textDsir on the sf0.001 " +
    "corpus (rows, n_grams, and 4dp log_w identical)") {
    val d = "/root/testdata/sf0.001"
    val now = graft.llm.Selection.textDsir(spark, d).collect()
    spark.sharedState.cacheManager.clearCache()
    val was = graft.llm.Selection.textDsirExplode(spark, d).collect()
    assert(now.length === was.length)
    now.zip(was).foreach { case (a, b) => assert(a === b) }
  }
}
