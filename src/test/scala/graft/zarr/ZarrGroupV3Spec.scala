package graft.zarr

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Gates for the zarr-v3 group layer:
  *  - 1-D round-trips for every supported dtype, incl. raw-bits
  *    fixed-width strings (v3 has no |S) and partial chunks, through
  *    the `c/`-prefixed chunk keys and the bytes+gzip codec chain
  *    (and a member with any other chunk-key separator is rejected);
  *  - inline consolidated metadata on the ROOT zarr.json, preferred
  *    over member documents (proven by deleting them);
  *  - the v3 categorical decode;
  *  - q_zarr_anndata_v3 equals the v2 twin row-for-row (the two
  *    dialects share oracle text by design). */
class ZarrGroupV3Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("zarr3_grp_spec").toString

  test("1-D v3 round-trip: int64, float64, raw-bits strings, partial chunk") {
    val dir = tmp()
    val n = 257
    val longs = spark.range(n).select(col("id"), (col("id") * 3).as("value"))
    val m1 = ZarrGroup.write1(longs, s"$dir/a", chunk = 100, dtype = "<i8",
      format = 3)
    assert(m1.numChunks == 3)
    // chunk keys carry the v3 `c/` prefix
    assert(new File(s"$dir/a/c/0").exists() && new File(s"$dir/a/c/2").exists())
    assert(!new File(s"$dir/a/0").exists())
    val got1 = ZarrGroup.read1(spark, s"$dir/a", ZarrGroup.read1Meta(s"$dir/a"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got1.toSeq == (0 until n).map(i => (i.toLong, i * 3L)))

    val dbl = spark.range(n).select(col("id"), (col("id") / 7.0).as("value"))
    ZarrGroup.write1(dbl, s"$dir/b", chunk = 64, dtype = "<f8", zlib = false,
      format = 3)
    val got2 = ZarrGroup.read1(spark, s"$dir/b", ZarrGroup.read1Meta(s"$dir/b"))
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(got2.toSeq == (0 until n).map(i => (i.toLong, i / 7.0)))

    val strs = spark.range(10)
      .select(col("id"), concat(lit("é"), col("id")).as("value"))
    val m3 = ZarrGroup.write1(strs, s"$dir/s", chunk = 4, dtype = "|S4",
      format = 3)
    assert(Zarr3.dataTypeName("|S4") == "r32") // raw bits, byte-aligned
    assert(m3.sWidth == 4)
    val got3 = ZarrGroup.read1(spark, s"$dir/s", ZarrGroup.read1Meta(s"$dir/s"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got3.toSeq == (0 until 10).map(i => (i.toLong, s"é$i")))
  }

  test("a 1-D v3 member with a non-'/' chunk-key separator is rejected") {
    val dir = tmp()
    ZarrGroup.write1(spark.range(4).select(col("id"), col("id").as("value")),
      s"$dir/a", chunk = 2, dtype = "<i8", format = 3)
    val metaP = java.nio.file.Paths.get(s"$dir/a/zarr.json")
    val dotted = new String(Files.readAllBytes(metaP), "UTF-8")
      .replace("\"separator\":\"/\"", "\"separator\":\".\"")
    Files.write(metaP, dotted.getBytes("UTF-8"))
    new File(s"$dir/a/.zarr.json.crc").delete()
    val e = intercept[IllegalArgumentException] {
      ZarrGroup.read1Meta(s"$dir/a")
    }
    assert(e.getMessage.contains("separator"), e.getMessage)
  }

  test("inline consolidated metadata is preferred over member zarr.json") {
    val dir = tmp()
    ZarrGroup.write1(
      spark.range(50).select(col("id"), col("id").as("value")),
      s"$dir/obs/n", chunk = 20, dtype = "<i8", format = 3)
    ZarrGroup.writeGroupMarker(dir, format = 3)
    ZarrGroup.writeGroupMarker(s"$dir/obs", format = 3)
    val nKeys = ZarrGroup.consolidate(dir)
    assert(nKeys == 2) // obs group + obs/n array (root excluded)
    val m = ZarrGroup.consolidated(dir).get
    assert(m.contains("obs") && m.contains("obs/n"))
    assert(ZarrGroup.members(dir) == Seq("obs/n"))
    // the object-store contract: delete the member document, reads
    // still work off the root's inline map
    assert(new File(s"$dir/obs/n/zarr.json").delete())
    val ns = ZarrGroup.readMember1(spark, dir, "obs/n")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(ns.toSeq == (0 until 50).map(i => (i.toLong, i.toLong)))
    val err = intercept[IllegalArgumentException] {
      ZarrGroup.memberMeta1(dir, "obs/ghost")
    }
    assert(err.getMessage.contains("obs/ghost"))
  }

  test("v3 categorical member decodes through the dictionary; -1 is NULL") {
    val dir = tmp()
    ZarrGroup.write1(
      spark.range(6).select(col("id"), (col("id") % 3 - 1).as("value")),
      s"$dir/ct/codes", chunk = 4, dtype = "<i4", format = 3)
    ZarrGroup.write1(
      spark.range(2).select(col("id"),
        concat(lit("c"), col("id")).as("value")),
      s"$dir/ct/categories", chunk = 4, dtype = "|S4", format = 3)
    ZarrGroup.writeGroupMarker(dir, format = 3)
    ZarrGroup.writeGroupMarker(s"$dir/ct",
      Some("""{"encoding-type":"categorical"}"""), format = 3)
    ZarrGroup.consolidate(dir)
    val got = ZarrGroup.readCategorical(spark, dir, "ct")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      .sortBy(_._1)
    assert(got.toSeq == Seq(0L -> None, 1L -> Some("c0"), 2L -> Some("c1"),
      3L -> None, 4L -> Some("c0"), 5L -> Some("c1")))
    // the categorical marker rode the inline consolidation
    val ctNode = ZarrGroup.consolidated(dir).get("ct")
    assert(ctNode.get("attributes").get("encoding-type").asText()
      == "categorical")
  }

  test("q_zarr_anndata_v3 equals the v2 twin row-for-row") {
    val v2 = ZarrQueries.zarrAnndata(spark, sf).collect().map(_.toString)
    val v3 = ZarrQueries.zarrAnndataV3(spark, sf).collect().map(_.toString)
    assert(v3.toSeq == v2.toSeq)
  }
}
