package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("scanLayout's per-path cache stays bounded as new paths keep coming") {
    val dir = Files.createTempDirectory("tables-units").toString
    spark.range(10).toDF("id").coalesce(1).write.parquet(s"$dir/one")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val file = fs.listStatus(new Path(s"$dir/one")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    // 300 distinct paths, one footer each: a long-lived session meets a
    // new path per store epoch or scratch table
    (1 to 300).foreach { i =>
      val copy = new Path(dir, s"p$i.parquet")
      FileUtil.copy(fs, file, fs, copy, false, conf)
      assert(Tables.scanUnits(spark, copy.toString) === 1)
    }
    assert(Tables.unitsCached <= 257, s"${Tables.unitsCached} cached entries")
  }
}
