package graft.sc

import org.apache.spark.sql.functions._

/** Small-shape correctness gate for the reference-shape probe: the
  * pipeline+store summary must equal a driver-side brute force of the
  * same math computed straight off the COO (no store, no reindex), and
  * the generator must be partition-independent like GenData. */
class RefShapeSpec extends graft.SparkSpec {
  test("probe summary == brute-force recomputation at a small shape") {
    val cells = 500L; val genes = 40; val draws = 10; val minGenes = 10
    val coo = RefShape.coo(spark, cells, genes, draws)
    val dir = java.nio.file.Files.createTempDirectory("refshape").toString
    val got = RefShape.run(spark, coo, genes, minGenes, s"$dir/g")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // brute force off the COO rows on the driver (5k entries)
    val rows = coo.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byCell = rows.groupBy(_._1)
    val kept = byCell.filter { case (_, es) => es.length >= minGenes }
    val exp = kept.toSeq.flatMap { case (_, es) =>
      val sc = 1e4 / es.map(_._3).sum
      es.map { case (_, g, v) =>
        g -> BigDecimal(math.log1p(v * sc))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP) }
    }.groupBy(_._1).map { case (g, vs) =>
      (g, vs.size.toLong, vs.map(_._2).sum.toDouble)
    }.toSeq.sortBy(_._1)
    assert(got == exp)
    // the filter dropped something and kept something (shape sanity)
    assert(kept.nonEmpty && kept.size < byCell.size)
  }

  test("generator is partition-independent (the GenData property)") {
    val a = RefShape.coo(spark, 300, 20, 5).orderBy("id", "pos")
      .collect().map(_.toSeq).toSeq
    val b = RefShape.coo(
      spark.range(0).sparkSession, 300, 20, 5) // same session, different plan
      .repartition(13).orderBy("id", "pos")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
