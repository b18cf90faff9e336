package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // the pruned-read and nanos-as-long confs every production session carries
      // (graft.Tables.session), from the same constants
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.sources.KeyedReads.PruneChunk.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        graft.sources.KeyedReads.ListSerialThreshold.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
