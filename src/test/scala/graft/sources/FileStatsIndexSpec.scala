package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.sources.FileStatsIndex._

class FileStatsIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("range predicate on a sorted layout prunes files; pruned read is exact") {
    val dir = Files.createTempDirectory("graft-fsi").resolve("li").toString
    Tables.load(spark, TestSpark.sf, "lineitem")
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.parquet(dir)
    val stats = spark.read.parquet(buildAndSave(spark, dir, Seq("l_orderkey")))
    val total = ParquetSource
      .listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
      .count(!_.contains("_stats"))
    assert(stats.count() == total)

    val hi = 500L
    val survivors = survivingFiles(spark, dir, stats, Seq(Lte("l_orderkey", hi)))
    assert(survivors.nonEmpty && survivors.size < total,
      s"expected pruning: ${survivors.size} of $total files survive")

    val pruned = readPruned(spark, dir, stats,
      Seq(Lte("l_orderkey", hi)), col("l_orderkey") <= hi)
    val direct = spark.read.parquet(dir).filter(col("l_orderkey") <= hi)
    assert(pruned.count() == direct.count())
    assert(pruned.exceptAll(direct).isEmpty && direct.exceptAll(pruned).isEmpty)
  }

  test("eq/gte/isnull arms; all-null files drop for ranges, survive for IsNull") {
    val dir = Files.createTempDirectory("graft-fsi2").resolve("t").toString
    // three 1-file slices: values 0-9, 100-109, all-null
    Seq.tabulate(10)(i => (i.toLong, s"a$i")).toDF("k", "v")
      .coalesce(1).write.parquet(dir)
    Seq.tabulate(10)(i => (100L + i, s"b$i")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq.fill(5)((Option.empty[Long], "n")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)

    val stats = build(spark, dir, Seq("k"))
    assert(stats.count() == 3)
    assert(survivingFiles(spark, dir, stats, Seq(Eq("k", 105L))).size == 1)
    assert(survivingFiles(spark, dir, stats, Seq(Gte("k", 50L))).size == 1)
    assert(survivingFiles(spark, dir, stats, Seq(Between("k", 5L, 102L))).size == 2)
    assert(survivingFiles(spark, dir, stats, Seq(IsNull("k"))).size == 1)
    assert(survivingFiles(spark, dir, stats, Seq(Eq("k", 55L))).isEmpty)
    val empty = readPruned(spark, dir, stats, Seq(Eq("k", 55L)), col("k") === 55L)
    assert(empty.isEmpty && empty.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("files added after the build are never silently dropped") {
    val dir = Files.createTempDirectory("graft-fsi3").resolve("t").toString
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(dir)
    val stats = build(spark, dir, Seq("k")).localCheckpoint()
    // late arrival the index has never seen, containing a match
    Seq((999L, "late")).toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    val survivors = survivingFiles(spark, dir, stats, Seq(Eq("k", 999L)))
    assert(survivors.size == 1, "unknown file must stay in")
    val got = readPruned(spark, dir, stats, Seq(Eq("k", 999L)), col("k") === 999L)
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("late"))
  }

  test("autoPrune extracts conjunct bounds from a Catalyst condition, conservatively") {
    val dir = Files.createTempDirectory("graft-fsi5").resolve("t").toString
    Seq.tabulate(10)(i => (i.toLong, i * 2.0)).toDF("k", "v").coalesce(1).write.parquet(dir)
    Seq.tabulate(10)(i => (100L + i, i * 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    buildAndSave(spark, dir, Seq("k"))
    val files = ParquetSource
      .listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
    assert(files.size == 2, "hidden _stats paths must not be listed as data")

    def prune(cond: String): Int = FileStatsIndex.autoPrune(spark, dir, files,
      Some(org.apache.spark.sql.GraftColumnBridge.parseExpression(spark, cond))).size
    assert(prune("k <= 50") == 1)                 // Lte arm
    assert(prune("105 <= k") == 1)                // flipped operands
    assert(prune("k = 3 AND v >= 0.0") == 1)      // conjunct on unindexed v ignored
    assert(prune("k > 200") == 0)                 // nothing can match
    assert(prune("k <= 50 OR k >= 200") == 2)     // OR: no extraction, no pruning
    assert(prune("abs(k) <= 1") == 2)             // function: no extraction
    // no condition / no artifact: pass-through
    assert(FileStatsIndex.autoPrune(spark, dir, files, None).size == 2)
  }

  test("Pipeline.read auto-prunes a stats-indexed source on its where clause") {
    val dir = Files.createTempDirectory("graft-fsi6").resolve("t").toString
    Seq.tabulate(10)(i => (i.toLong, s"a$i")).toDF("k", "v").coalesce(1).write.parquet(dir)
    Seq.tabulate(10)(i => (100L + i, s"b$i")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    buildAndSave(spark, dir, Seq("k"))
    def readCfg(where: Option[String]) = graft.Pipeline.read(spark,
      graft.config.PipelineConfig.parse(
        (s"""source.type: parquet
            |source.path: $dir
            |target.type: parquet
            |target.path: /tmp/unused-fsi6
            |""" + where.fold("")(w => s"source.where: $w\n")).stripMargin)
        .fold(e => fail(s"parse failed: $e"), identity))
    assert(readCfg(None).inputFiles.length == 2)
    val prunedRead = readCfg(Some("k >= 100"))
    assert(prunedRead.inputFiles.length == 1, "one file must be skipped pre-scan")
    assert(prunedRead.count() == 10)
    // all files pruned -> empty result, schema intact, no error
    val none = readCfg(Some("k = 55"))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
  }

  test("incremental update stats only unseen files; no-op when nothing is new") {
    val dir = Files.createTempDirectory("graft-fsi7").resolve("t").toString
    Seq.tabulate(5)(i => (i.toLong, "x")).toDF("k", "v").coalesce(1).write.parquet(dir)
    val statsPath = FileStatsIndex.update(spark, dir, Seq("k")) // falls back to full build
    assert(spark.read.parquet(statsPath).count() == 1)
    Seq.tabulate(5)(i => (200L + i, "y")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    FileStatsIndex.update(spark, dir, Seq("k"))
    val stats = spark.read.parquet(statsPath)
    assert(stats.count() == 2)
    assert(stats.agg(max("k__max")).collect().head.getLong(0) == 204L)
    // idempotent: nothing new -> artifact unchanged
    FileStatsIndex.update(spark, dir, Seq("k"))
    assert(spark.read.parquet(statsPath).count() == 2)
    // and the updated artifact prunes correctly
    assert(survivingFiles(spark, dir, spark.read.parquet(statsPath),
      Seq(Gte("k", 100L))).size == 1)
  }

  test("update drops stale entries after compaction and indexes the replacement") {
    val dir = Files.createTempDirectory("graft-fsi9").resolve("t").toString
    (0 until 6).foreach { i =>
      Seq.tabulate(20)(r => (i * 100L + r, s"v$r")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val statsPath = FileStatsIndex.buildAndSave(spark, dir, Seq("k"))
    assert(spark.read.parquet(statsPath).count() == 6)
    // compaction merges the small files into one replacement
    Compaction.compact(spark, dir, targetBytes = 10L << 20, smallBytes = 5L << 20)
    FileStatsIndex.update(spark, dir, Seq("k"))
    val stats = spark.read.parquet(statsPath)
    val files = ParquetSource
      .listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
    assert(stats.count() == files.size, "index rows must match live files exactly")
    assert(stats.agg(sum("n_rows")).collect().head.getLong(0) == 120L)
    // pruning still correct against the refreshed artifact
    val pruned = readPruned(spark, dir, stats,
      Seq(Between("k", 0L, 50L)), col("k").between(0L, 50L))
    assert(pruned.count() == 20L)
  }

  test("z-ordered layout + two-column index prunes on EITHER dimension") {
    import graft.operators.ZOrder
    val dir = Files.createTempDirectory("graft-fsi8").resolve("li").toString
    val li = graft.Tables.load(spark, TestSpark.sf, "lineitem")
    val Array(pkMax, skMax) = li.selectExpr("max(l_partkey)", "max(l_suppkey)")
      .head().toSeq.map(_.toString.toLong).toArray
    val z = ZOrder.zValue(Seq(
      ZOrder.scaleTo(col("l_partkey"), 1L, pkMax, 16),
      ZOrder.scaleTo(col("l_suppkey"), 1L, skMax, 16)), 16)
    ZOrder.clusterBy(li, z, 16).write.parquet(dir)
    val stats = spark.read.parquet(
      buildAndSave(spark, dir, Seq("l_partkey", "l_suppkey")))
    val total = stats.count()
    assert(total >= 8, s"need a multi-file layout, got $total")
    // a narrow predicate on EACH dimension must skip files — the
    // interleaved layout keeps both projections clustered, which a
    // plain 1-column sort cannot do for the second key
    val byPart = survivingFiles(spark, dir, stats,
      Seq(Between("l_partkey", 1L, pkMax / 16))).size
    val bySupp = survivingFiles(spark, dir, stats,
      Seq(Between("l_suppkey", 1L, skMax / 16))).size
    assert(byPart < total, s"partkey predicate pruned nothing ($byPart/$total)")
    assert(bySupp < total, s"suppkey predicate pruned nothing ($bySupp/$total)")
    // correctness: pruned read == direct filter on the second dimension
    val pred = Seq(Between("l_suppkey", 1L, skMax / 16))
    val pruned = readPruned(spark, dir, stats, pred,
      col("l_suppkey").between(1L, skMax / 16))
    val direct = spark.read.parquet(dir)
      .filter(col("l_suppkey").between(1L, skMax / 16))
    assert(pruned.count() == direct.count())
  }

  test("config e2e: target.statsIndex builds the artifact after a sorted copy") {
    val out = Files.createTempDirectory("graft-fsi4").resolve("out").toString
    val cfg = graft.config.PipelineConfig.parse(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/orders.parquet
         |target.type: parquet
         |target.path: $out
         |target.mode: overwrite
         |target.globalSortBy: o_orderkey
         |target.statsIndex: o_orderkey
         |""".stripMargin).fold(e => fail(s"parse failed: $e"), identity)
    assert(cfg.renderRedacted.contains("statsIndex=List(o_orderkey)"))
    graft.Pipeline.run(spark, cfg)
    val stats = spark.read.parquet(s"$out/_stats")
    assert(stats.columns.toSet ==
      Set("file", "n_rows", "o_orderkey__min", "o_orderkey__max", "o_orderkey__nulls"))
    // the _stats dir must not leak into plain reads of the target
    val direct = spark.read.parquet(out)
    assert(direct.columns.contains("o_orderkey") && !direct.columns.contains("file"))
    // and pruning works against the freshly built artifact
    val pruned = readPruned(spark, out, stats,
      Seq(Lte("o_orderkey", 100L)), col("o_orderkey") <= 100L)
    val expect = direct.filter(col("o_orderkey") <= 100L)
    assert(pruned.count() == expect.count())
  }

  test("config e2e: target.zorderBy + statsIndex prunes on either dimension") {
    val out = Files.createTempDirectory("graft-fsi10").resolve("li").toString
    val cfg = graft.config.PipelineConfig.parse(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/lineitem.parquet
         |target.type: parquet
         |target.path: $out
         |target.mode: overwrite
         |target.zorderBy: l_partkey, l_suppkey
         |target.zorderFiles: 8
         |target.statsIndex: l_partkey, l_suppkey
         |""".stripMargin).fold(e => fail(s"parse failed: $e"), identity)
    val r = graft.Pipeline.run(spark, cfg)
    val li = graft.Tables.load(spark, TestSpark.sf, "lineitem")
    assert(r.rowsCopied == li.count())
    val stats = spark.read.parquet(s"$out/_stats")
    val total = stats.count()
    assert(total >= 4, s"want a multi-file z layout, got $total")
    val Array(pkMax, skMax) = li.selectExpr("max(l_partkey)", "max(l_suppkey)")
      .head().toSeq.map(_.toString.toLong).toArray
    assert(survivingFiles(spark, out, stats,
      Seq(Between("l_partkey", 1L, pkMax / 8))).size < total)
    assert(survivingFiles(spark, out, stats,
      Seq(Between("l_suppkey", 1L, skMax / 8))).size < total)
    assert(spark.read.parquet(out).count() == r.rowsCopied)
    // layout knobs are mutually exclusive, eagerly
    val bad = graft.config.PipelineConfig.parse(
      s"""source.type: parquet
         |source.path: x
         |target.type: parquet
         |target.path: y
         |target.zorderBy: a, b
         |target.sortBy: a
         |""".stripMargin)
    assert(bad.swap.exists(_.contains("zorderBy is its own layout")))
    val one = graft.config.PipelineConfig.parse(
      s"""source.type: parquet
         |source.path: x
         |target.type: parquet
         |target.path: y
         |target.zorderBy: a
         |""".stripMargin)
    assert(one.swap.exists(_.contains("at least two columns")))
  }

  /** The aggregation the footer fold reproduces, over every file with
    * rows; empty files get the fold's `n_rows = 0` entry.
    */
  private def aggregated(dir: String, columns: Seq[String],
                         empty: Seq[String]): Seq[org.apache.spark.sql.Row] = {
    val rows = spark.read.parquet(dir).groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), columns.flatMap { c =>
        Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
      }: _*).collect().toSeq
    rows ++ empty.map(f => org.apache.spark.sql.Row.fromSeq(f +: 0L +:
      columns.flatMap(_ => Seq(null, null, 0L))))
  }

  private def emptyFiles(dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetSource.listParquetStatuses(dir, conf)
      .filter(st => ParquetSource.footer(conf, st).rows == 0L)
      .map(st => org.apache.spark.paths.SparkPath.fromFileStatus(st).urlEncoded)
  }

  test("footer fold equals the aggregation on every folded type, all-null and empty files") {
    val dir = Files.createTempDirectory("graft-fsi-fold").resolve("t").toString
    val cols = Seq("b", "s", "i", "l", "d", "bo", "d1", "d2", "d3", "str")
    def typed(df: org.apache.spark.sql.DataFrame) = df.select(
      col("b").cast("byte").as("b"), col("s").cast("short").as("s"), col("i").cast("int").as("i"),
      col("l").cast("long").as("l"), col("d").cast("date").as("d"), col("bo").cast("boolean").as("bo"),
      col("d1").cast("decimal(9,2)").as("d1"), col("d2").cast("decimal(18,4)").as("d2"),
      col("d3").cast("decimal(30,6)").as("d3"), col("str").cast("string").as("str"))
    val base = spark.range(0, 3000).select(
      when(col("id") % 11 === 3, lit(null)).otherwise(col("id") % 256 - 128).as("b"),
      (col("id") * 37 % 65536 - 32768).as("s"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 7919 % 100003 - 50000).as("i"),
      (col("id") * 1000003L - 1500000000L).as("l"),
      date_add(lit("1969-12-01").cast("date"), (col("id") % 400 - 200).cast("int")).as("d"),
      (col("id") % 3 === 0).as("bo"),
      (col("id") * 3.25 - 4000).as("d1"),
      (col("id") * 12345.6789 - 1e7).as("d2"),
      when(col("id") % 5 === 1, lit(null))
        .otherwise(concat(lit("-"), col("id").cast("string"), lit("123456789012.345678"))).as("d3"),
      concat(lit("k"), (col("id") * 7 % 1000).cast("string")).as("str"))
    // several row groups per file: bounds fold across chunks
    typed(base).repartition(3, col("l")).write.option("parquet.block.size", 4096L).parquet(dir)
    typed(base.limit(40).select(base.columns.map(c => lit(null).as(c)): _*))
      .coalesce(1).write.mode("append").parquet(dir)
    typed(base.limit(0)).coalesce(1).write.mode("append").parquet(dir)
    val empty = emptyFiles(dir)
    assert(empty.size === 1)
    val fold = FileStatsIndex.build(spark, dir, cols)
    assert(fold.inputFiles.isEmpty, "every file must fold from its footer")
    val want = aggregated(dir, cols, empty)
    assert(fold.schema === spark.read.parquet(dir).groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), cols.flatMap { c =>
        Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
      }: _*).schema)
    assert(fold.collect().map(_.toString).sorted.toSeq === want.map(_.toString).sorted)
    // the saved artifact is the same rows in one file
    val path = buildAndSave(spark, dir, cols)
    assert(ParquetSource.listParquetFiles(path, spark.sparkContext.hadoopConfiguration).size === 1)
    assert(spark.read.parquet(path).collect().map(_.toString).sorted.toSeq ===
      want.map(_.toString).sorted)
  }

  test("a string over 4 KiB and a double column take the aggregation, with the same rows") {
    val dir = Files.createTempDirectory("graft-fsi-scan").resolve("t").toString
    Seq((1L, "a", 0.5), (2L, "b", -0.0)).toDF("k", "str", "x").coalesce(1).write.parquet(dir)
    Seq((3L, "c" * 5000, Double.NaN), (4L, "d", 2.0)).toDF("k", "str", "x")
      .coalesce(1).write.mode("append").parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ParquetSource.listParquetStatuses(dir, conf)
    val long = files.filter(st => spark.read.parquet(st.getPath.toString)
      .filter(length(col("str")) > 4096).count() > 0).map(_.getPath.toUri.getPath)
    val byStr = FileStatsIndex.build(spark, dir, Seq("k", "str"))
    assert(byStr.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSeq === long)
    assert(byStr.collect().map(_.toString).sorted.toSeq ===
      aggregated(dir, Seq("k", "str"), Nil).map(_.toString).sorted)
    val byX = FileStatsIndex.build(spark, dir, Seq("x"))
    assert(byX.inputFiles.length === files.size)
    assert(byX.collect().map(_.toString).sorted.toSeq ===
      aggregated(dir, Seq("x"), Nil).map(_.toString).sorted)
  }
}
