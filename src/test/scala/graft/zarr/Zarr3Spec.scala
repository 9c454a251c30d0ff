package graft.zarr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Zarr v3 store support: zarr.json metadata, c/i/j chunk keys, the
  * sharding_indexed read path (index walk, crc32c seal, gzip'd inner
  * chunks, absent-chunk fill), and DSv2 equivalence with v2 stores. */
class Zarr3Spec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"zarr3_$tag").toString

  /** (id, vec) through the DSv2 writer as a flat sharded v3 store. */
  private def writeSharded(df: org.apache.spark.sql.DataFrame, path: String,
                           shardRows: Int, innerRows: Int): Unit =
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr")
      .option("chunk_rows", innerRows).option("shard_rows", shardRows)
      .option("format", 3).option("commit", "rename")
      .mode("overwrite").save(path)

  private def embeddings =
    graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))

  test("v3 sharded round trip: write -> DSv2 read == original") {
    val df = embeddings
    val path = tmpDir("rt") + "/s.zarr"
    writeSharded(df, path, shardRows = 16, innerRows = 4)
    val meta = ZarrIO.readMeta(path)
    assert(meta.format == 3 && meta.inner.contains(ShardSpec(4, 64)))
    val back = spark.read.format("zarr").load(path)
      .select(col("row_id").as("id"), col("vec"))
    assert(back.count() == df.count())
    val diff = back.join(df.withColumnRenamed("vec", "vec0"), Seq("id"))
      .filter(col("vec") =!= col("vec0")).count()
    assert(diff == 0)
  }

  test("v3 == v2: same data through either store generation") {
    val df = embeddings
    val p2 = tmpDir("v2"); val p3 = tmpDir("v3") + "/s.zarr"
    ZarrSink.writeMatrix(df, p2, dim = 64, chunkRows = 16)
    writeSharded(df, p3, shardRows = 16, innerRows = 8)
    val r2 = spark.read.format("zarr").load(p2)
    val r3 = spark.read.format("zarr").load(p3)
    assert(r2.join(r3.withColumnRenamed("vec", "vec3"), Seq("row_id"))
      .filter(col("vec") =!= col("vec3")).count() == 0)
    assert(r2.count() == r3.count())
  }

  test("absent shard and absent inner chunk read as fill_value") {
    val meta = ZarrMeta(rows = 8, cols = 4, chunkRows = 4, chunkCols = 4,
      dtype = "<f8", compressor = Some("gzip"), fillValue = 7.5,
      format = 3, sep = "/", inner = Some(ShardSpec(2, 4)))
    val path = tmpDir("fill")
    Zarr3.writeMeta(path, meta, ZarrIO.hadoopConf())
    // write ONLY shard 0; shard 1 absent entirely
    Zarr3.writeShard(path, meta, 0, 0,
      Array.tabulate(16)(_.toDouble), ZarrIO.hadoopConf())
    val got = spark.read.format("zarr").load(path)
      .orderBy("row_id").collect()
      .map(r => r.getSeq[Double](1))
    assert(got.length == 8)
    assert(got(0) == Seq(0.0, 1.0, 2.0, 3.0))
    // rows of the absent shard = fill everywhere
    (4 until 8).foreach(i => assert(got(i) == Seq(7.5, 7.5, 7.5, 7.5)))
  }

  test("corrupted shard index fails the crc32c seal loudly") {
    val meta = ZarrMeta(rows = 4, cols = 4, chunkRows = 4, chunkCols = 4,
      dtype = "<f8", compressor = None, fillValue = 0.0,
      format = 3, sep = "/", inner = Some(ShardSpec(2, 4)))
    val path = tmpDir("crc")
    Zarr3.writeMeta(path, meta, ZarrIO.hadoopConf())
    Zarr3.writeShard(path, meta, 0, 0,
      Array.tabulate(16)(_.toDouble), ZarrIO.hadoopConf())
    // flip a byte inside the index region (tail-4-crc covers it); drop
    // the LocalFileSystem's own .crc sidecar so the corruption reaches
    // OUR seal instead of Hadoop's (an object store has no sidecar —
    // the shard index crc32c is the only integrity layer there)
    val f = new java.io.File(path, "c/0/0")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x7f).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    new java.io.File(path, "c/0/.0.crc").delete()
    val e = intercept[Exception] {
      Zarr3.readShard(path, meta, 0, 0, ZarrIO.hadoopConf())
    }
    assert(e.getMessage.contains("crc32c"), e.getMessage)
  }

  test("v3 unsharded store (bytes+gzip codecs) reads through the DSv2") {
    val meta = ZarrMeta(rows = 6, cols = 3, chunkRows = 2, chunkCols = 3,
      dtype = "<f8", compressor = Some("gzip"), fillValue = 0.0,
      format = 3, sep = "/")
    val path = tmpDir("plain")
    Zarr3.writeMeta(path, meta, ZarrIO.hadoopConf())
    (0 until 3).foreach { i =>
      ZarrIO.writeChunk(path, meta, i, 0,
        Array.tabulate(6)(k => (i * 6 + k).toDouble))
    }
    val got = spark.read.format("zarr").load(path)
      .orderBy("row_id").collect().map(r => r.getSeq[Double](1))
    assert(got.length == 6)
    assert(got(0) == Seq(0.0, 1.0, 2.0) && got(5) == Seq(15.0, 16.0, 17.0))
  }

  test("DSv2 write with format=3 produces a readable v3 store") {
    val df = embeddings
    val path = tmpDir("dsv2w") + "/store.zarr"
    // commit=rename: this test asserts the flat spec-standard v3 layout
    // (zarr.json + c/ at the store root), which is what rename mode is
    // for; the default versioned protocol is covered by ZarrVersionedSpec
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr")
      .option("chunk_rows", 16).option("format", 3)
      .option("commit", "rename")
      .mode("overwrite").save(path)
    val meta = ZarrIO.readMeta(path)
    assert(meta.format == 3 && meta.sep == "/" &&
      meta.compressor.contains("gzip") && meta.inner.isEmpty)
    // the v3 store came out of the same two-phase commit: zarr.json
    // present, chunk keys under c/
    assert(new java.io.File(path, "zarr.json").exists())
    assert(new java.io.File(path, "c/0/0").exists())
    val back = spark.read.format("zarr").load(path)
      .select(col("row_id").as("id"), col("vec"))
    assert(back.count() == df.count())
    assert(back.join(df.withColumnRenamed("vec", "vec0"), Seq("id"))
      .filter(col("vec") =!= col("vec0")).count() == 0)
  }

  test("DSv2 SHARDED write (shard_rows): one object per shard, inner " +
    "chunks intact, reads equal to the unsharded twin") {
    val df = embeddings
    val base = tmpDir("dsv2shard")
    val sharded = base + "/sharded.zarr"
    val flat = base + "/flat.zarr"
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr")
      .option("chunk_rows", 4).option("shard_rows", 16)
      .option("format", 3).option("commit", "rename")
      .mode("overwrite").save(sharded)
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr")
      .option("chunk_rows", 4).option("format", 3)
      .option("commit", "rename")
      .mode("overwrite").save(flat)
    val meta = ZarrIO.readMeta(sharded)
    // shard = 16 rows × full width, inner chunks 4 rows
    assert(meta.chunkRows == 16 && meta.inner.contains(ShardSpec(4, 64)))
    val n = df.count()
    val shardObjs = Option(new java.io.File(sharded, "c/")
      .listFiles()).map(_.length).getOrElse(-1)
    val flatObjs = Option(new java.io.File(flat, "c/")
      .listFiles()).map(_.length).getOrElse(-1)
    // object count drops by the shardRows/chunkRows factor (the codec's
    // whole purpose): ceil(n/16) shard dirs vs ceil(n/4) chunk dirs
    assert(shardObjs == (n + 15) / 16, s"shard objects: $shardObjs")
    assert(flatObjs == (n + 3) / 4, s"flat objects: $flatObjs")
    // bit-identical reads through either layout
    val a = spark.read.format("zarr").load(sharded)
    val b = spark.read.format("zarr").load(flat)
    assert(a.count() == n && b.count() == n)
    assert(a.join(b.withColumnRenamed("vec", "vec0"), Seq("row_id"))
      .filter(col("vec") =!= col("vec0")).count() == 0)
    // and equal to the source, incl. the padded tail shard's real rows
    assert(a.select(col("row_id").as("id"), col("vec"))
      .join(df.withColumnRenamed("vec", "vec0"), Seq("id"))
      .filter(col("vec") =!= col("vec0")).count() == 0)
  }

  test("DSv2 sharded write: column-chunked inners + versioned commit + " +
    "guardrails (format, multiple, divisibility)") {
    val df = embeddings
    val path = tmpDir("dsv2shard2") + "/s.zarr"
    // inner chunks 8 rows × 16 cols inside 24-row full-width shards,
    // through the DEFAULT versioned commit
    df.select(col("id").as("row_id"), col("vec"))
      .write.format("zarr")
      .option("chunk_rows", 8).option("chunk_cols", 16)
      .option("shard_rows", 24).option("format", 3)
      .mode("overwrite").save(path)
    val back = spark.read.format("zarr").load(path)
      .select(col("row_id").as("id"), col("vec"))
    assert(back.join(df.withColumnRenamed("vec", "vec0"), Seq("id"))
      .filter(col("vec") =!= col("vec0")).count() == 0)
    def failWith(msg: String)(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      def chain(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + chain(t.getCause)
      assert(chain(e).contains(msg), chain(e))
    }
    failWith("requires format=3") {
      df.select(col("id").as("row_id"), col("vec"))
        .write.format("zarr").option("shard_rows", 16)
        .mode("overwrite").save(tmpDir("g1") + "/x.zarr")
    }
    failWith("multiple of chunk_rows") {
      df.select(col("id").as("row_id"), col("vec"))
        .write.format("zarr").option("chunk_rows", 5)
        .option("shard_rows", 16).option("format", 3)
        .mode("overwrite").save(tmpDir("g2") + "/x.zarr")
    }
    failWith("must divide the vec width") {
      df.select(col("id").as("row_id"), col("vec"))
        .write.format("zarr").option("chunk_rows", 8)
        .option("chunk_cols", 17)
        .option("shard_rows", 16).option("format", 3)
        .mode("overwrite").save(tmpDir("g3") + "/x.zarr")
    }
  }

  test("v3 pruning: row_id range keeps only intersecting shards") {
    val df = embeddings
    val path = tmpDir("prune") + "/s.zarr"
    writeSharded(df, path, shardRows = 16, innerRows = 4)
    val pruned = spark.read.format("zarr").load(path)
      .filter(col("row_id") >= 20 && col("row_id") < 40)
    val parts = pruned.rdd.getNumPartitions
    assert(parts <= 3, s"expected <=3 shard partitions, got $parts")
    assert(pruned.count() == 20)
  }
}
