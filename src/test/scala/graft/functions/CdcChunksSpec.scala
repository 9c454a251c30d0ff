package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native CDC chunker vs its declarative HOF twin: the kernel and
  * `Cdc.chunksExpr` must produce IDENTICAL chunk arrays on every input
  * class (normal docs, no-cut docs, shorter-than-window docs, empty
  * docs, cut-at-the-very-end docs, BMP non-ASCII), plus golden
  * invariants (concat(chunks) == text, boundary hash property) and the
  * analysis-time type error. */
class CdcChunksSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.Cdc.{W, B, Mask, Divisor}

  private def hofChunks(texts: Seq[String]): Seq[Seq[String]] =
    texts.toDF("text")
      .select(expr(graft.llm.Cdc.chunksExpr).as("c"))
      .collect().map(_.getSeq[String](0).toList).toList

  private def kernelChunks(texts: Seq[String]): Seq[Seq[String]] = {
    texts.toDF("text")
      .select(GraftFunctions.cdcChunks(col("text"), W, B, Mask, Divisor).as("c"))
      .collect().map(_.getSeq[String](0).toList).toList
  }

  test("kernel == HOF twin on randomized ASCII docs (incl. empty, " +
    "short, and single-window docs)") {
    val rnd = new scala.util.Random(11)
    val vocab = "abcdefgh .,\n"
    val texts = Seq("", "x", "a" * (W - 1), "b" * W) ++
      (0 until 60).map(_ => (0 until rnd.nextInt(400))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString)
    assert(kernelChunks(texts) === hofChunks(texts))
  }

  test("kernel == HOF twin on BMP non-ASCII (code-point semantics)") {
    val texts = Seq("héllo wörld " * 20, "日本語のテキスト" * 12,
      "mixed ascii и кириллица " * 9)
    assert(kernelChunks(texts) === hofChunks(texts))
  }

  test("golden invariants: chunks reassemble the text, every cut is a " +
    "true hash boundary, no cut at the very end") {
    val rnd = new scala.util.Random(23)
    val texts = (0 until 20).map(_ => (0 until 300 + rnd.nextInt(200))
      .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    kernelChunks(texts).zip(texts).foreach { case (chunks, text) =>
      assert(chunks.mkString === text)
      assert(chunks.forall(_.nonEmpty))
      var off = 0
      chunks.dropRight(1).foreach { c =>
        off += c.length
        // the boundary at `off` means H(off - W) % Divisor == 0
        var acc = 0L
        (0 until W).foreach { k =>
          acc = (acc * B + text.codePointAt(off - W + k)) % Mask
        }
        assert(acc % Divisor === 0L, s"cut at $off is not a hash boundary")
      }
    }
  }

  test("mistyped argument fails at analysis time") {
    val e = intercept[Exception] {
      Seq(1L).toDF("v")
        .select(GraftFunctions.cdcChunks(col("v"), W, B, Mask, Divisor))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
