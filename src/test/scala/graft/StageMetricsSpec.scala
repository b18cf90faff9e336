package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.{PipelineConfig, TargetConfig}

/** Per-stage row counts riding the single write action via observe()
  * — the free lineage report for config pipelines.
  */
class StageMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cfg(text: String): PipelineConfig =
    PipelineConfig.parse(text).fold(e => fail(s"parse failed: $e"), identity)

  test("metrics report source and per-stage counts in order, zero extra scans") {
    val out = Files.createTempDirectory("graft-sm").resolve("out").toString
    val c = cfg(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/documents.parquet
         |target.type: parquet
         |target.path: $out
         |target.mode: overwrite
         |transforms: qualityFilter, dedupExact, split
         |transform.qualityFilter.textColumn: text
         |transform.qualityFilter.minScore: 4750
         |transform.dedupExact.idColumn: doc_id
         |transform.dedupExact.textColumn: text
         |transform.split.keyColumn: doc_id
         |transform.split.fractions: train=90, val=10
         |""".stripMargin)
    val (result, metrics) = Pipeline.runWithStageMetrics(spark, c)
    val names = metrics.map(_._1)
    assert(names == Seq("source", "1:qualityFilter", "2:dedupExact", "3:split"))
    val counts = metrics.map(_._2)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").count()
    assert(counts.head == docs)
    // monotone non-increasing through the filter/dedup stages; split preserves
    assert(counts(1) <= counts.head && counts(2) <= counts(1) && counts(3) == counts(2))
    assert(result.rowsCopied == counts.last)
    assert(spark.read.parquet(out).count() == counts.last)
    // at least one stage actually dropped rows on this corpus
    assert(counts.last < counts.head)
  }

  test("partial-probe stages are rejected; full-materialize stages are not") {
    val base = Files.createTempDirectory("graft-sm4")
    def c(transforms: String, extra: String) = cfg(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/embeddings.parquet
         |target.type: parquet
         |target.path: ${base.resolve(transforms)}
         |target.mode: overwrite
         |transforms: $transforms
         |$extra
         |""".stripMargin)
    // semanticDedup's limit(1) dim probe would register truncated counts
    // for upstream stages -> rejected eagerly, before any job runs
    val bad = c("semanticDedup",
      """transform.semanticDedup.idColumn: doc_id
        |transform.semanticDedup.vecColumn: embedding
        |transform.semanticDedup.numPlanes: 16
        |transform.semanticDedup.bandBits: 8
        |transform.semanticDedup.threshold: 0.95
        |transform.semanticDedup.seed: 7""".stripMargin)
    val e = intercept[IllegalArgumentException](Pipeline.runWithStageMetrics(spark, bad))
    assert(e.getMessage.contains("partial action"))
  }

  test("a configured validation block runs instead of being silently skipped") {
    val out = Files.createTempDirectory("graft-sm5").resolve("out").toString
    val c = cfg(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/nation.parquet
         |target.type: parquet
         |target.path: $out
         |target.mode: overwrite
         |validation.primaryKey: n_nationkey
         |""".stripMargin)
    val (result, metrics) = Pipeline.runWithStageMetrics(spark, c)
    assert(metrics.map(_._1) == Seq("source"))
    val v = result.validation.getOrElse(fail("validation block was skipped"))
    assert(v.isEmpty) // a faithful copy diffs clean
  }

  test("resumable configs are rejected eagerly") {
    val c = cfg(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/nation.parquet
         |target.type: parquet
         |target.path: ${Files.createTempDirectory("graft-sm2").resolve("o")}
         |target.mode: append
         |savepoints.dir: ${Files.createTempDirectory("graft-sm3")}
         |""".stripMargin)
    intercept[IllegalArgumentException](Pipeline.runWithStageMetrics(spark, c))
    // and a resumable config with a non-append target mode is a PARSE
    // error: the batch loop always appends, so any other mode would lie
    assert(PipelineConfig.parse(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/nation.parquet
         |target.type: parquet
         |target.path: /tmp/x
         |target.mode: overwrite
         |savepoints.dir: /tmp/sp
         |""".stripMargin).swap.exists(_.contains("per-file-batch APPENDS")))
  }

  test("RDD-driven sinks are rejected instead of hanging the Observation") {
    // TarShards writes through .rdd actions: no SQLExecutionEnd ever
    // fires for the observed plan, so o.get() would block forever
    val base = Files.createTempDirectory("graft-sm6")
    val c = cfg(
      s"""source.type: parquet
         |source.path: ${TestSpark.sf}/documents.parquet
         |target.type: tar-shards
         |target.path: ${base.resolve("tar")}
         |target.keyColumn: doc_id
         |target.payloadColumn: text
         |""".stripMargin)
    val e = intercept[IllegalArgumentException](Pipeline.runWithStageMetrics(spark, c))
    assert(e.getMessage.contains("SQL-executed sink"))
  }

  test("compaction and stats index run on the stage-metrics entry point too") {
    val base = Files.createTempDirectory("graft-sm7")
    val src = base.resolve("src").toString
    (0 until 3).foreach(i =>
      spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
        .filter(pmod(col("n_nationkey"), lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(src))
    val out = base.resolve("out").toString
    val c = cfg(
      s"""source.type: parquet
         |source.path: $src
         |target.type: parquet
         |target.path: $out
         |target.mode: overwrite
         |target.compactTargetBytes: 104857600
         |target.statsIndex: n_nationkey
         |""".stripMargin)
    val (result, _) = Pipeline.runWithStageMetrics(spark, c)
    val files = graft.sources.ParquetSource.listParquetFiles(
      out, spark.sparkContext.hadoopConfiguration)
    assert(files.size == 1, s"compaction skipped: ${files.size} files")
    // the stats index exists and describes the COMPACTED file set
    val stats = spark.read.parquet(s"$out/_stats")
    assert(stats.count() == 1)
    assert(spark.read.parquet(out).count() == result.rowsCopied)
  }

  test("validation reads the full source even when skipFiles names already-copied files") {
    val base = Files.createTempDirectory("graft-sm8")
    val src = base.resolve("src").toString
    (0 until 3).foreach(i =>
      spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
        .filter(pmod(col("n_nationkey"), lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(src))
    val first = graft.sources.ParquetSource.listParquetFiles(
      src, spark.sparkContext.hadoopConfiguration).head
    // an earlier run already copied the first file into the append target
    val out = base.resolve("out").toString
    spark.read.parquet(first).write.parquet(out)
    val c = cfg(
      s"""source.type: parquet
         |source.path: $src
         |target.type: parquet
         |target.path: $out
         |target.mode: append
         |skipFiles: $first
         |validation.primaryKey: n_nationkey
         |""".stripMargin)
    val (result, _) = Pipeline.runWithStageMetrics(spark, c)
    assert(result.rowsCopied ==
      spark.read.parquet(src).count() - spark.read.parquet(first).count())
    val diffs = result.validation.getOrElse(fail("validation block was skipped"))
      .collect().map(_.getAs[String]("diff_kind"))
    assert(diffs.isEmpty, s"a correct copy diffed: ${diffs.toSeq}")
  }
}
