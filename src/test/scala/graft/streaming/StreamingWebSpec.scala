package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.Web

/** Exactly-once streaming line curation (StreamingWeb): epochs driven
  * directly through processEpoch so crash/replay scenarios are
  * deterministic — the StreamingDedup spec discipline.
  */
class StreamingWebSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def setup(): (String, String) = {
    val base = Files.createTempDirectory("graft-sweb")
    val census = base.resolve("census").toString
    val out = base.resolve("out").toString
    Web.createLineCensus(spark.emptyDataset[(Long, String)].toDF("id", "text"),
      "id", "text", census)
    (census, out)
  }

  private def outDocs(out: String): Map[Long, String] =
    spark.read.parquet(out).as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap

  private val b0 = Seq((1L, "banner\nbody one"), (2L, "banner\nbody two"))
  private val b1 = Seq((3L, "banner\nbody three\nfresh"), (4L, "fresh\nbody four"))

  test("epochs curate against everything seen so far; output and census advance exactly once") {
    val (census, out) = setup()
    StreamingWeb.processEpoch(b0.toDF("id", "text"), 0L, "id", "text", census, out, 2)
    StreamingWeb.processEpoch(b1.toDF("id", "text"), 1L, "id", "text", census, out, 2)
    val whole = Web.lineDedup(
      (b0 ++ b1).toDF("id", "text"), "id", "text")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(outDocs(out) === whole)
    // marked epoch replay is a strict no-op (same files, same census)
    val before = spark.read.parquet(census + "/rows").collect().toSet
    StreamingWeb.processEpoch(b1.toDF("id", "text"), 1L, "id", "text", census, out, 2)
    assert(spark.read.parquet(census + "/rows").collect().toSet === before)
    assert(outDocs(out) === whole)
  }

  test("a marker-less partial attempt rolls back and redoes identically") {
    val (census, out) = setup()
    StreamingWeb.processEpoch(b0.toDF("id", "text"), 0L, "id", "text", census, out, 2)
    // simulate epoch 1 dying AFTER publishing output and the census
    // delta but BEFORE the marker: run the protocol's body by hand
    val batch = b1.toDF("id", "text")
    val survivors = graft.Checkpoints.materialize(
      Web.lineDedupAgainst(census, batch, "id", "text"))
    val stage = s"$out/_stage/e1"
    survivors.write.mode("overwrite").parquet(stage)
    graft.sources.EpochFiles.publish(spark, stage, out, "e1")
    Web.advanceStagedLineCensus(batch, "id", "text", census, "e1")
    // no marker written — the replay must retire both and redo
    StreamingWeb.processEpoch(batch, 1L, "id", "text", census, out, 2)
    val whole = Web.lineDedup((b0 ++ b1).toDF("id", "text"), "id", "text")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(outDocs(out) === whole)
    // census counts each batch exactly once: 'banner' seen 3 times
    val occ = spark.read.parquet(census + "/rows")
      .groupBy("line_hash").agg(sum("occ").as("occ"))
      .join(Seq("banner").toDF("l").select(md5(col("l")).as("line_hash")), "line_hash")
      .select("occ").as[Long].head()
    assert(occ === 3L)
  }

  test("compaction between epochs changes nothing a probe can see") {
    val (census, out) = setup()
    StreamingWeb.processEpoch(b0.toDF("id", "text"), 0L, "id", "text", census, out, 2)
    StreamingWeb.processEpoch(b1.toDF("id", "text"), 1L, "id", "text", census, out, 2)
    val probe = Seq((9L, "banner\nfresh\nnever seen")).toDF("id", "text")
    val pre = Web.lineDedupAgainst(census, probe, "id", "text")
      .as[(Long, String, Long, Long)].collect().toSeq
    val filesBefore = spark.read.parquet(census + "/rows").inputFiles.length
    Web.compactLineCensus(spark, census)
    val post = Web.lineDedupAgainst(census, probe, "id", "text")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(pre === post)
    assert(pre.head._2 === "never seen") // both dup lines suppressed
    assert(spark.read.parquet(census + "/rows").inputFiles.length <= filesBefore)
  }

  test("post-marker auto-compact folds the census without changing probes or replay safety") {
    val (census, out) = setup()
    graft.sources.AutoCompact.setPolicy(spark, census, 1)
    StreamingWeb.processEpoch(b0.toDF("id", "text"), 0L, "id", "text", census, out, 2)
    StreamingWeb.processEpoch(b1.toDF("id", "text"), 1L, "id", "text", census, out, 2)
    val whole = Web.lineDedup((b0 ++ b1).toDF("id", "text"), "id", "text")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(outDocs(out) === whole)
    // the fold runs strictly AFTER a commit marker once file GROWTH
    // crosses the threshold (the post-fold-baseline trigger): epoch
    // 0's delta names are guaranteed gone — whichever epoch crossed
    // first folded them — and the recorded baseline proves an
    // auto-fold ran. Epoch 1's names may legitimately wait for more
    // growth; an absolute-count trigger folding every epoch is the
    // quadratic-I/O behavior the growth policy removed.
    val fs = new org.apache.hadoop.fs.Path(census + "/rows")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(census + "/rows"))
      .exists(st => st.getPath.getName.startsWith("part-e0__")))
    assert(graft.sources.AutoCompact.baseline(spark, census).nonEmpty)
    // a replay of a committed (and since-folded) epoch short-circuits
    // on its marker: census rows and output identical
    val before = spark.read.parquet(census + "/rows").collect().toSet
    StreamingWeb.processEpoch(b1.toDF("id", "text"), 1L, "id", "text", census, out, 2)
    assert(spark.read.parquet(census + "/rows").collect().toSet === before)
    assert(outDocs(out) === whole)
  }

  test("end to end through a real stream: file source, two micro-batches") {
    val (census, out) = setup()
    val base = Files.createTempDirectory("graft-sweb-src")
    val srcDir = base.resolve("in").toString
    val ckpt = base.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // flat files in srcDir (the file stream source does not recurse)
    def drop(rows: Seq[(Long, String)], name: String): Unit = {
      val staging = base.resolve("st-" + name).toString
      rows.toDF("id", "text").coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, name + ".parquet"))
      ()
    }
    drop(b0, "f0")
    val schema = b0.toDF("id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamingWeb.curateLines(stream, "id", "text", census, out, ckpt)
    try {
      q.processAllAvailable()
      drop(b1, "f1")
      q.processAllAvailable()
    } finally q.stop()
    val whole = Web.lineDedup((b0 ++ b1).toDF("id", "text"), "id", "text")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(outDocs(out) === whole)
  }
}
