package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fill(dir: String, nSmall: Int, rowsEach: Int): Unit =
    (0 until nSmall).foreach { i =>
      Seq.tabulate(rowsEach)(r => (i * 10000L + r, s"v$i-$r")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }

  test("small files merge, big files stay, rows and content survive exactly") {
    val dir = Files.createTempDirectory("graft-cmp").resolve("t").toString
    fill(dir, 12, 50)                              // 12 tiny files
    Seq.tabulate(20000)(r => (900000L + r, "big")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir) // one big file
    val conf = spark.sparkContext.hadoopConfiguration
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
    val bigFile = ParquetSource.listParquetFiles(dir, conf)
      .map(f => f -> new Path(f).getFileSystem(conf).getFileStatus(new Path(f)).getLen)
      .maxBy(_._2)._1

    val res = Compaction.compact(spark, dir, targetBytes = 64 * 1024,
      smallBytes = 32 * 1024)
    assert(res.groupsCompacted >= 1 && res.filesRemoved == 12)
    val after = ParquetSource.listParquetFiles(dir, conf)
    assert(after.size < 13 && after.contains(bigFile),
      s"big file must be untouched; ${after.size} files remain")
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == before)
    // no markers or staging debris left behind
    val fs = new Path(dir).getFileSystem(conf)
    assert(!fs.exists(new Path(dir, "_compaction")))
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_compact_staging")))
  }

  test("idempotent: a second compact finds nothing to do") {
    val dir = Files.createTempDirectory("graft-cmp2").resolve("t").toString
    fill(dir, 6, 40)
    Compaction.compact(spark, dir, targetBytes = 1024 * 1024, smallBytes = 512 * 1024)
    val res2 = Compaction.compact(spark, dir, targetBytes = 1024 * 1024,
      smallBytes = 512 * 1024)
    // everything merged into one file already at or above the small bound,
    // or a single surviving group member — either way nothing moves
    assert(res2.filesRemoved == 0 || res2.groupsCompacted == 0 ||
      spark.read.parquet(dir).count() == 240)
    assert(spark.read.parquet(dir).count() == 240)
  }

  test("recovery completes an interrupted swap without losing or duplicating rows") {
    val dir = Files.createTempDirectory("graft-cmp3").resolve("t").toString
    fill(dir, 4, 25)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val files = ParquetSource.listParquetFiles(dir, conf)
    val before = spark.read.parquet(dir).count()

    // simulate a crash AFTER move-in, BEFORE original deletion: the
    // replacement holds the first two files' rows; marker points at both
    val group = files.take(2)
    val staging = new Path(dir, "_sim_staging")
    spark.read.parquet(group: _*).coalesce(1)
      .write.parquet(staging.toString)
    val part = fs.listStatus(staging).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val target = new Path(dir, "part-compacted-sim.parquet")
    fs.mkdirs(new Path(dir, "_compaction"))
    val marker = new Path(dir, "_compaction/group_sim.json")
    val out = fs.create(marker, true)
    out.write((target.toString +: group).mkString("\n").getBytes("UTF-8")); out.close()
    fs.rename(part, target)
    fs.delete(staging, true)
    // crash: originals still present alongside the replacement (duplicates)
    assert(spark.read.parquet(dir).count() == before + 50)

    assert(Compaction.recover(spark, dir) == 1)
    assert(spark.read.parquet(dir).count() == before)
    assert(!fs.exists(marker))

    // and the opposite crash (marker written, replacement never moved in)
    // keeps the originals: nothing lost
    val files2 = ParquetSource.listParquetFiles(dir, conf)
    fs.mkdirs(new Path(dir, "_compaction"))
    val m2 = new Path(dir, "_compaction/group_sim2.json")
    val o2 = fs.create(m2, true)
    o2.write((new Path(dir, "never-made-it.parquet").toString +: files2.take(1))
      .mkString("\n").getBytes("UTF-8")); o2.close()
    assert(Compaction.recover(spark, dir) == 1)
    assert(spark.read.parquet(dir).count() == before)
  }

  /** Write `df` as ONE parquet file named `dir/<name>`. */
  private def placeAs(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = Files.createTempDirectory("graft-cmp-stage").resolve("s").toString
    df.coalesce(1).write.parquet(stage)
    val fs = new Path(dir).getFileSystem(conf)
    fs.mkdirs(new Path(dir))
    val part = fs.listStatus(new Path(stage)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new Path(dir, name)))
  }

  test("a narrower file sorting first does not drop the wider file's columns") {
    val dir = Files.createTempDirectory("graft-cmp-mixed").resolve("t").toString
    placeAs(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "part-a.parquet")
    placeAs(Seq((3L, "c", 30), (4L, "d", 40)).toDF("k", "v", "w"), dir, "part-b.parquet")
    val res = Compaction.compact(spark, dir, targetBytes = 1024 * 1024)
    assert(res.groupsCompacted === 1 && res.filesRemoved === 2 && res.rowsMoved === 4L)
    val files = ParquetSource.listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
    assert(files.size === 1)
    val out = spark.read.parquet(files.head)
    assert(out.columns.toSeq === Seq("k", "v", "w"))
    assert(out.orderBy("k").collect().map(_.toString).toSeq ===
      Seq("[1,a,null]", "[2,b,null]", "[3,c,30]", "[4,d,40]"))
  }

  test("conflicting column types abort before the swap and keep the originals") {
    val dir = Files.createTempDirectory("graft-cmp-conflict").resolve("t").toString
    placeAs(Seq((1L, "a")).toDF("k", "v"), dir, "part-a.parquet")
    placeAs(Seq((2L, 7)).toDF("k", "v"), dir, "part-b.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val before = ParquetSource.listParquetFiles(dir, conf)
    intercept[Exception](Compaction.compact(spark, dir, targetBytes = 1024 * 1024))
    assert(ParquetSource.listParquetFiles(dir, conf) === before)
    val fs = new Path(dir).getFileSystem(conf)
    assert(!fs.exists(new Path(dir, "_compaction")))
    assert(spark.read.parquet(before.head).count() === 1L)
    assert(spark.read.parquet(before(1)).count() === 1L)
  }
}
