package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import scala.jdk.CollectionConverters._

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

  private def rowGroups(file: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(file).getFileSystem(conf)
    ParquetSource.footerMeta(conf, fs.getFileStatus(new Path(file))).getBlocks.size
  }

  private def onlyFile(dir: String): String = {
    val files = ParquetSource.listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
    assert(files.size === 1)
    files.head
  }

  test("a spliced group keeps every row in file-name order, the codec and the Spark schema") {
    val dir = Files.createTempDirectory("graft-cmp-splice").resolve("t").toString
    (0 until 5).foreach { i =>
      placeAs(Seq.tabulate(30)(r => (i * 100L + r, s"v$i-$r")).toDF("k", "v")
        .withColumn("k", when(col("k") % 7 === 0, lit(null)).otherwise(col("k"))),
        dir, s"part-$i.parquet")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = ParquetSource.listParquetStatuses(dir, conf)
    val before = ParquetSource.listParquetFiles(dir, conf)
      .flatMap(f => spark.read.parquet(f).collect().toSeq)
    val codecs = statuses.map(st => ParquetSource.footerMeta(conf, st).getBlocks.get(0)
      .getColumns.get(0).getCodec).distinct
    val schema = ParquetSource.footer(conf, statuses.head).schema
    val res = Compaction.compact(spark, dir, targetBytes = 1024 * 1024)
    assert(res.groupsCompacted === 1 && res.filesRemoved === 5 && res.rowsMoved === 150L)
    val out = onlyFile(dir)
    // one row group per original: the column chunks were copied, not re-encoded
    assert(rowGroups(out) === 5)
    assert(spark.read.parquet(out).collect().toSeq === before)
    val st = new Path(out).getFileSystem(conf).getFileStatus(new Path(out))
    val meta = ParquetSource.footerMeta(conf, st)
    assert(meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).distinct === codecs)
    assert(ParquetSource.footer(conf, st).schema === schema)
  }

  test("INT96 timestamps and pre-1582 dates splice identically under LEGACY and CORRECTED") {
    val rows = Seq(
      ("0900-03-01", "0900-03-01 10:11:12"), ("1582-10-04", "1582-10-04 00:00:01"),
      ("1582-10-15", "1582-10-15 23:59:59"), ("2021-06-30", "2021-06-30 12:00:00"))
    Seq("LEGACY", "CORRECTED").foreach { mode =>
      val dir = Files.createTempDirectory(s"graft-cmp-rebase-$mode").resolve("t").toString
      val keys = Seq("spark.sql.parquet.datetimeRebaseModeInWrite",
        "spark.sql.parquet.int96RebaseModeInWrite", "spark.sql.parquet.outputTimestampType")
      keys.zip(Seq(mode, mode, "INT96")).foreach { case (k, v) => spark.conf.set(k, v) }
      try rows.zipWithIndex.foreach { case ((d, t), i) =>
        placeAs(Seq((i.toLong, d, t)).toDF("k", "d", "t")
          .select(col("k"), to_date(col("d")).as("d"), to_timestamp(col("t")).as("t")),
          dir, s"part-$i.parquet")
      } finally keys.foreach(spark.conf.unset)
      val conf = spark.sparkContext.hadoopConfiguration
      val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
      val kv = ParquetSource.footer(conf, ParquetSource.listParquetStatuses(dir, conf).head).keyValue
      assert(kv.contains("org.apache.spark.legacyDateTime") === (mode == "LEGACY"))
      assert(kv.contains("org.apache.spark.legacyINT96") === (mode == "LEGACY"))
      Compaction.compact(spark, dir, targetBytes = 1024 * 1024)
      val out = onlyFile(dir)
      assert(rowGroups(out) === rows.size, s"$mode: the group was not spliced")
      val outKv = ParquetSource.footer(conf,
        new Path(out).getFileSystem(conf).getFileStatus(new Path(out))).keyValue
      Seq("org.apache.spark.legacyDateTime", "org.apache.spark.legacyINT96",
        "org.apache.spark.sql.parquet.row.metadata").foreach { key =>
        assert(outKv.get(key) === kv.get(key), s"$mode: $key")
      }
      assert(spark.read.parquet(dir).orderBy("k").collect().toSeq === before, mode)
    }
  }

  test("files written under different rebase modes merge through the rewrite") {
    val dir = Files.createTempDirectory("graft-cmp-rebase-mixed").resolve("t").toString
    val key = "spark.sql.parquet.datetimeRebaseModeInWrite"
    Seq("LEGACY", "CORRECTED").zipWithIndex.foreach { case (mode, i) =>
      spark.conf.set(key, mode)
      try placeAs(Seq((i.toLong, "0900-03-01")).toDF("k", "d")
          .select(col("k"), to_date(col("d")).as("d")), dir, s"part-$i.parquet")
      finally spark.conf.unset(key)
    }
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
    assert(before.map(_.getDate(1).toString).distinct === Seq("0900-03-01"))
    Compaction.compact(spark, dir, targetBytes = 1024 * 1024)
    val out = onlyFile(dir)
    assert(rowGroups(out) === 1, "differing rebase keys must not splice")
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq === before)
  }

  test("a group of mixed MessageType still merges through the rewrite") {
    val dir = Files.createTempDirectory("graft-cmp-mixed-mt").resolve("t").toString
    placeAs(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "part-a.parquet")
    placeAs(Seq((3L, "c")).toDF("k", "v"), dir, "part-b.parquet")
    // a third file with another column: its parquet schema differs
    placeAs(Seq((4L, 7)).toDF("k", "w"), dir, "part-c.parquet")
    val res = Compaction.compact(spark, dir, targetBytes = 1024 * 1024)
    assert(res.groupsCompacted === 1 && res.rowsMoved === 4L)
    val out = onlyFile(dir)
    assert(rowGroups(out) === 1)
    assert(spark.read.parquet(out).orderBy("k").collect().map(_.toString).toSeq ===
      Seq("[1,a,null]", "[2,b,null]", "[3,c,null]", "[4,null,7]"))
  }
}
