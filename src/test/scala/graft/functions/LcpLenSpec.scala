package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native LCP kernel vs the declarative zip_with first-mismatch twin it
  * replaced in dedupSuffixMaxrep: identical on every input class
  * (random ASCII pairs with planted shared prefixes, BMP non-ASCII,
  * astral-plane code points, whole-suffix matches, zero-length
  * remainders), plus the kernel's own edge contract (position at or
  * beyond the end → 0) and the analysis-time type error. */
class LcpLenSpec extends SparkSpec {
  import spark.implicits._

  // the exact expression dedupSuffixMaxrep used before the native
  // kernel (lim + first-mismatch over per-code-point arrays)
  private val hofLcp =
    "CASE WHEN least(length(text) - pos, length(ptext) - ppos) <= 0 THEN 0L " +
      "ELSE (CASE WHEN m = 0 THEN CAST(least(length(text) - pos, " +
      "length(ptext) - ppos) AS BIGINT) ELSE m - 1 END) END"

  private def bothForms(rows: Seq[(String, Long, String, Long)]) = {
    rows.toDF("text", "pos", "ptext", "ppos")
      .withColumn("lim", least(length(col("text")) - col("pos"),
        length(col("ptext")) - col("ppos")).cast("int"))
      .withColumn("m", expr(
        "array_position(zip_with(" +
          "slice(filter(split(text, ''), ch -> ch <> ''), CAST(pos + 1 AS INT), greatest(lim, 0)), " +
          "slice(filter(split(ptext, ''), ch -> ch <> ''), CAST(ppos + 1 AS INT), greatest(lim, 0)), " +
          "(x, y) -> x <> y), true)"))
      .withColumn("hof", expr(hofLcp))
      .withColumn("native", GraftFunctions.lcpLen(
        col("text"), col("pos"), col("ptext"), col("ppos")))
      .select("hof", "native")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
  }

  private def assertEqualForms(rows: Seq[(String, Long, String, Long)]): Unit =
    bothForms(rows).zip(rows).foreach { case ((hof, native), in) =>
      assert(hof === native, s"kernel diverges from HOF twin on $in")
    }

  test("kernel == HOF twin on randomized ASCII suffix pairs " +
    "(planted shared prefixes, random positions)") {
    val rnd = new scala.util.Random(7)
    val vocab = "abcd ,"
    def doc(n: Int) =
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString
    val rows = (0 until 80).map { _ =>
      val shared = doc(rnd.nextInt(20))
      val t = doc(rnd.nextInt(10)) + shared + doc(rnd.nextInt(10))
      val p = doc(rnd.nextInt(10)) + shared + doc(rnd.nextInt(10))
      (t, rnd.nextInt(math.max(t.length, 1)).toLong,
        p, rnd.nextInt(math.max(p.length, 1)).toLong)
    } ++ Seq(
      ("abc", 0L, "abc", 0L),     // whole-suffix match
      ("abc", 2L, "xyc", 2L),     // 1-char tail match
      ("abc", 2L, "xyz", 2L),     // immediate mismatch
      ("", 0L, "abc", 0L),        // empty text → lim 0
      ("abc", 3L, "abc", 0L))     // pos at end → lim 0
    assertEqualForms(rows)
  }

  test("kernel == HOF twin on BMP non-ASCII and astral-plane code " +
    "points (code-point offsets and counts, not UTF-16 units)") {
    val astral = new String(Character.toChars(0x1D11E)) // 𝄞, 4-byte UTF-8
    val rows = Seq(
      ("héllo wörld", 1L, "xéllo wörld", 1L),
      ("日本語テキスト", 2L, "中国語テキスト", 2L),
      (s"a${astral}b${astral}c", 1L, s"x${astral}b${astral}c", 1L),
      (s"$astral$astral$astral", 0L, s"$astral${astral}x", 0L),
      ("и кириллица", 2L, "и кириллицы", 2L))
    assertEqualForms(rows)
  }

  test("kernel edge contract: positions beyond the end and negative " +
    "positions return 0") {
    val got = Seq(("abc", 9L, "abc", 0L), ("abc", 0L, "abc", 9L),
      ("abc", -1L, "abc", 0L))
      .toDF("text", "pos", "ptext", "ppos")
      .select(GraftFunctions.lcpLen(
        col("text"), col("pos"), col("ptext"), col("ppos")))
      .collect().map(_.getLong(0)).toList
    assert(got === List(0L, 0L, 0L))
  }

  test("analysis-time type error on non-string / non-bigint arguments") {
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, 2)).toDF("a", "b")
        .select(GraftFunctions.lcpLen(col("a"), col("b"), col("a"), col("b")))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("lcp_len"))
  }
}
