package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.GraftColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** What a delete leaves behind for the table's other readers: file
  * layouts that agree with the table, and a stats artifact that settles.
  */
class DeleteAftermathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  test("a scan-routed delete keeps the table's column order in every rewritten file") {
    val dir = Files.createTempDirectory("graft-aftermath-order").resolve("t").toString
    (0 until 3).foreach { i =>
      (i * 10 until i * 10 + 10).map(id => (s"row$id", id.toLong, id * 2))
        .toDF("payload", "id", "extra").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val r = TargetedDelete.deleteAuto(spark, dir, "id", Seq(3L, 14L), inlineMaxKeys = 0)
    assert(r.rowsDeleted == 2L)
    val footers = ParquetSource.listParquetStatuses(dir, conf)
      .map(st => ParquetSource.footer(conf, st))
    assert(footers.nonEmpty)
    footers.foreach(f =>
      assert(f.schema.map(_.fieldNames.toSeq).contains(Seq("payload", "id", "extra")), f))
    assert(spark.read.parquet(dir).count() == 28L)
  }

  test("a file emptied by a delete gets a stats entry; the next update runs no job") {
    val dir = Files.createTempDirectory("graft-aftermath-stats").resolve("t").toString
    (0 until 3).foreach { i =>
      (i * 100 until i * 100 + 100).map(id => (id.toLong, s"row$id"))
        .toDF("id", "payload").coalesce(1).write.mode("append").parquet(dir)
    }
    FileStatsIndex.buildAndSave(spark, dir, Seq("id"))
    // file 2 wholly deleted: its replacement is an empty, schema'd file
    TargetedDelete.delete(spark, dir, "id", (200L until 300L).toSeq)
    FileStatsIndex.update(spark, dir, Seq("id"))
    val stats = new Path(dir, "_stats")
    val fs = stats.getFileSystem(conf)
    def artifact() = fs.listStatus(stats).filter(_.isFile)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val entries = spark.read.parquet(stats.toString).collect()
    assert(entries.length == ParquetSource.listParquetFiles(dir, conf).size)
    val empty = entries.filter(_.getAs[Long]("n_rows") == 0L)
    assert(empty.length == 1 && empty.head.isNullAt(empty.head.fieldIndex("id__min")))
    val before = artifact()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftColumnBridge.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try FileStatsIndex.update(spark, dir, Seq("id"))
    finally {
      GraftColumnBridge.waitForListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0)
    assert(artifact() == before)
    // and the entry prunes: no probe ever reaches the empty file
    assert(KeyedReads.prunedRead(spark, dir, "id", Array[Any](250L, 5L))
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
  }
}
