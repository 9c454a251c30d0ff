package graft.sc

import org.apache.spark.sql.DataFrame

/** The sc_atlas ingest op calls the same order-preserving reindex that
  * the program's own AnnData lifecycle uses; it is package-private, so
  * the benchmark reaches it from inside the package. */
object PerfbenchAccess {
  def reindexMap(ids: DataFrame): DataFrame = AnnData.reindexMap(ids)
}
