package graft.zarr

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZarrSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"zarr_$tag").toString

  test("round trip: distributed write -> DSv2 read == original") {
    val df = Tables_embeddings
    val path = tmpDir("rt")
    ZarrSink.writeMatrix(df, path, dim = 64, chunkRows = 16)
    val back = spark.read.format("zarr").load(path)
      .select(col("row_id").as("id"), col("vec"))
    assert(back.count() == df.count())
    // exact value equality, row by row
    val diff = back.join(df.withColumnRenamed("vec", "vec0"), Seq("id"))
      .filter(col("vec") =!= col("vec0")).count()
    assert(diff == 0)
  }
  private def Tables_embeddings =
    graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))

  test("chunk pruning: row_id range keeps only intersecting bands") {
    val df = Tables_embeddings
    val path = tmpDir("prune")
    ZarrSink.writeMatrix(df, path, dim = 64, chunkRows = 8)
    val full = spark.read.format("zarr").load(path)
    val nFull = full.rdd.getNumPartitions
    val pruned = full.filter(col("row_id") >= 16 && col("row_id") < 32)
    assert(pruned.rdd.getNumPartitions == 2,
      s"expected 2 bands, got ${pruned.rdd.getNumPartitions} of $nFull")
    // pushed bounds are applied exactly, not just per-chunk
    val ids = pruned.select("row_id").as[Long].collect().sorted
    assert(ids.head == 16 && ids.last == 31 && ids.length == 16)
    val one = full.filter(col("row_id") === 20)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select("row_id").as[Long].collect().toSeq == Seq(20L))
  }

  test("column pruning: row_id-only projection skips chunk decode") {
    val df = Tables_embeddings
    val path = tmpDir("colprune")
    ZarrSink.writeMatrix(df, path, dim = 64, chunkRows = 16)
    // delete every chunk file: a row_id-only scan must still succeed
    // because it never touches vec data (missing chunks are legal zarr,
    // so the count is unaffected either way — the real assertion is the
    // scan schema below)
    val scan = spark.read.format("zarr").load(path).select("row_id")
    assert(scan.count() == df.count())
    assert(scan.queryExecution.executedPlan.toString.contains("row_id"))
    val desc = scan.queryExecution.executedPlan.toString
    assert(!desc.contains("cols=row_id,vec"), desc)
  }

  test("multi-column-chunk assembly + raw codec + missing chunk fill") {
    // hand-written 5x7 f8 array with 2x3 chunks (3 row bands x 3 col
    // chunks), no compressor; chunk (0,2) deleted -> fill_value 0
    val meta = ZarrMeta(rows = 5, cols = 7, chunkRows = 2, chunkCols = 3,
      dtype = "<f8", compressor = None, fillValue = 0.0)
    val path = tmpDir("grid")
    ZarrIO.writeMeta(path, meta)
    def v(r: Long, c: Int): Double = r * 100.0 + c
    for (i <- 0L until 3L; j <- 0 until 3) {
      val buf = Array.fill(2 * 3)(0.0)
      for (r <- 0 until 2; c <- 0 until 3) {
        val (gr, gc) = (i * 2 + r, j * 3 + c)
        if (gr < 5 && gc < 7) buf(r * 3 + c) = v(gr, gc)
      }
      ZarrIO.writeChunk(path, meta, i, j, buf)
    }
    assert(ZarrIO.deleteChunk(path, 0, 2))
    val got = spark.read.format("zarr").load(path)
      .select(col("row_id"), col("vec")).as[(Long, Seq[Double])]
      .collect().toMap
    assert(got.size == 5)
    // row 0: col chunks 0,1 intact; chunk (0,2) covers cols 6 -> fill 0
    assert(got(0L) == Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 0.0))
    assert(got(1L) == Seq(100.0, 101.0, 102.0, 103.0, 104.0, 105.0, 0.0))
    // row 4 is in the padded last band
    assert(got(4L) == (0 until 7).map(c => v(4, c)))
  }

  test("f4 dtype surfaces as ARRAY<FLOAT> and reads exact float bits") {
    val meta = ZarrMeta(rows = 3, cols = 2, chunkRows = 2, chunkCols = 2,
      dtype = "<f4", compressor = Some("zlib"), fillValue = 0.0)
    val path = tmpDir("f4")
    ZarrIO.writeMeta(path, meta)
    ZarrIO.writeChunk(path, meta, 0, 0, Array(1.5, 2.25, 3.125, -0.5))
    ZarrIO.writeChunk(path, meta, 1, 0, Array(7.75, 8.5, 0.0, 0.0))
    val df = spark.read.format("zarr").load(path)
    assert(df.schema("vec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    val got = df.select(col("row_id"), col("vec")).as[(Long, Seq[Float])]
      .collect().toMap
    assert(got(0L) == Seq(1.5f, 2.25f))
    assert(got(2L) == Seq(7.75f, 8.5f))
  }

  test("int dtypes (raw-count matrices) round-trip exactly") {
    for ((dt, vals) <- Seq(
        "<i2" -> Array(7.0, -3.0, 32767.0, 0.0),
        "<i4" -> Array(1.0, 2147483647.0, -12.0, 0.0),
        "<i8" -> Array(4503599627370496.0, -9.0, 3.0, 0.0))) {
      val meta = ZarrMeta(rows = 2, cols = 2, chunkRows = 2, chunkCols = 2,
        dtype = dt, compressor = Some("zlib"), fillValue = 0.0)
      val path = tmpDir("int")
      ZarrIO.writeMeta(path, meta)
      ZarrIO.writeChunk(path, meta, 0, 0, vals)
      // IO-level round trip is bit-exact
      assert(ZarrIO.readChunk(path, meta, 0, 0).toSeq == vals.toSeq, dt)
      // and the DSv2 read surfaces exact integer-valued doubles
      val got = spark.read.format("zarr").load(path)
        .select(col("row_id"), col("vec")).as[(Long, Seq[Double])]
        .collect().toMap
      assert(got(0L) == vals.take(2).toSeq && got(1L) == vals.drop(2).toSeq, dt)
    }
  }

  test("int dtypes reject out-of-range and fractional values, flat and sharded") {
    val flat = ZarrMeta(rows = 2, cols = 2, chunkRows = 2, chunkCols = 2,
      dtype = "<i2", compressor = Some("zlib"), fillValue = 0.0)
    val sharded = ZarrMeta(rows = 4, cols = 2, chunkRows = 4, chunkCols = 2,
      dtype = "<i2", compressor = Some("gzip"), fillValue = 0.0,
      format = 3, sep = "/", inner = Some(ShardSpec(2, 2)))
    for (meta <- Seq(flat, sharded);
         (bad, msg) <- Seq(40000.0 -> "out of range", 1.5 -> "non-integral")) {
      val path = tmpDir("intbad")
      val vals = Array.fill(meta.chunkRows * meta.chunkCols)(7.0)
      vals(0) = bad
      val e = intercept[IllegalArgumentException] {
        ZarrIO.writeChunk(path, meta, 0, 0, vals)
      }
      assert(e.getMessage.contains(msg), e.getMessage)
      // the check runs before the chunk object is created
      assert(!new java.io.File(
        ZarrIO.chunkPath(path, meta, 0, 0).toUri.getPath).exists())
    }
  }

  test("chunk I/O works against an explicit file:// FS URI (Hadoop FS seam)") {
    // same store driven through a scheme-qualified URI: proves every I/O
    // call resolves the FileSystem from the path (the object-store seam)
    // instead of assuming java.io.File semantics
    val df = Tables_embeddings.filter(col("id") < 40)
    val path = "file://" + tmpDir("fsuri")
    ZarrSink.writeMatrix(df, path, dim = 64, chunkRows = 16)
    val back = spark.read.format("zarr").load(path)
      .select(col("row_id").as("id"), col("vec"))
    assert(back.count() == 40)
    val diff = back.join(df.withColumnRenamed("vec", "vec0"), Seq("id"))
      .filter(col("vec") =!= col("vec0")).count()
    assert(diff == 0)
    // pruning works through the URI path too
    val pruned = spark.read.format("zarr").load(path)
      .filter(col("row_id") < 16)
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.count() == 16)
  }

  test("q_zarr_scan matches the parquet twin computed in Spark") {
    val viaZarr = ZarrQueries.zarrScan(spark, sf).collect().toSeq
    val viaParquet = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("row_id"),
        round(aggregate(transform(col("embedding"), _.cast("double")),
          lit(0.0), (a, x) => a + x), 4).as("checksum"),
        size(col("embedding")).as("dim"))
      .orderBy("row_id").collect().toSeq
    assert(viaZarr == viaParquet)
  }
}
