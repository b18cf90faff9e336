package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("exact dedup drops duplicate content across microbatches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup")
    val in = tmp.resolve("in").toString
    Seq((1L, "the same text", ts(100)), (2L, "other text", ts(101)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$in/b0")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(s"$in/*")
    val query = StreamingDedup
      .exactWithinWatermark(stream, "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(100))
      .option("checkpointLocation", tmp.resolve("ck").toString).start()
    try {
      query.processAllAvailable()
      // a later batch re-delivers doc 1's content under a new id
      Seq((3L, "the same text", ts(200)), (4L, "fresh text", ts(201)))
        .toDF("doc_id", "text", "ts").write.parquet(s"$in/b1")
      query.processAllAvailable()
    } finally query.stop()
    val ids = spark.table("sdedup_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L)) // doc 3's content already admitted
    assert(spark.table("sdedup_out").columns.toSet ==
      Set("doc_id", "text", "ts")) // digest helper column dropped
  }

  test("curateAgainstStore: batches dedup against store AND prior survivors") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-nds-stream")
    val in = tmp.resolve("in").toString
    val out = tmp.resolve("out").toString
    val store = tmp.resolve("store").toString
    // corpus history the stream must respect
    graft.pipeline.Dedup.NearDupStore.create(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"),
      "doc_id", "text", store)
    // batch 0: 10 duplicates the stored corpus doc; 11 is new
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11L, "red orange yellow green blue indigo violet pink brown black"))
      .toDF("doc_id", "text").write.parquet(s"$in/b0")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$in/*")
    val query = StreamingDedup.curateAgainstStore(stream, "doc_id", "text",
      store, out, tmp.resolve("ck").toString)
    try {
      query.processAllAvailable()
      // batch 1: 20 duplicates batch 0's SURVIVOR 11 (never in the
      // original store — only reachable through the advance); 21 is new
      Seq((20L, "red orange yellow green blue indigo violet pink brown black"),
          (21L, "totally novel words that nothing previous has ever used"))
        .toDF("doc_id", "text").write.parquet(s"$in/b1")
      query.processAllAvailable()
    } finally query.stop()
    spark.catalog.refreshByPath(out)
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 21L),
      s"survivors $ids: 10 must drop vs the store, 20 vs batch 0's survivor")
  }

  test("store curation epochs are exactly-once under replay and mid-publish crashes") {
    import graft.pipeline.Dedup.NearDupStore
    import graft.sources.EpochFiles
    val tmp = java.nio.file.Files.createTempDirectory("graft-nds-eo")
    val out = tmp.resolve("out").toString
    val store = tmp.resolve("store").toString
    NearDupStore.create(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"),
      "doc_id", "text", store)
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDedup.processEpoch(batch, id, "doc_id", "text", store, out, 9, 10)
    def files(dir: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    def outIds: Seq[Long] = {
      spark.catalog.refreshByPath(out)
      spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq.sorted
    }
    def storeIdCounts: Map[Long, Long] = {
      spark.catalog.refreshByPath(s"$store/sigs")
      spark.read.parquet(s"$store/sigs").groupBy("id").count()
        .as[(Long, Long)].collect().toMap
    }

    val batch0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 1
      (11L, "red orange yellow green blue indigo violet pink brown black"))
      .toDF("doc_id", "text")
    run(batch0, 0)
    val out0 = (files(out), outIds, storeIdCounts)
    assert(out0._2 == Seq(11L) && out0._3 == Map(1L -> 1L, 11L -> 1L))
    // a replayed COMMITTED epoch is a no-op: identical files, rows, store
    run(batch0, 0)
    assert((files(out), outIds, storeIdCounts) == out0)

    // epoch 1 with two crashed half-attempts on the books:
    val batch1 = Seq(
      (20L, "red orange yellow green blue indigo violet pink brown black"), // dup of 11
      (21L, "totally novel words that nothing previous has ever used"))
      .toDF("doc_id", "text")
    // attempt A died after publishing a WRONG survivor set to outDir
    // (both rows, including the dup) and before the marker
    val stageA = s"$out/_stage/e1"
    batch1.write.mode("overwrite").parquet(stageA)
    EpochFiles.publish(spark, stageA, out, "e1")
    assert(outIds == Seq(11L, 20L, 21L)) // polluted, as a crash would leave it
    // attempt B died after half an (equally wrong) store advance
    NearDupStore.advanceStaged(batch1, "doc_id", "text", store, "e1")
    assert(storeIdCounts.keySet == Set(1L, 11L, 20L, 21L)) // polluted
    // the replay must roll BOTH back and land the correct state
    run(batch1, 1)
    assert(outIds == Seq(11L, 21L),
      "replay must retire the crashed attempt's outDir files, then publish survivors")
    assert(storeIdCounts == Map(1L -> 1L, 11L -> 1L, 21L -> 1L),
      "store tables must hold each survivor EXACTLY once after the retried epoch")
    // shingles/bands advanced in lockstep (same tag discipline)
    spark.catalog.refreshByPath(s"$store/shingles")
    assert(spark.read.parquet(s"$store/shingles").select("id").as[Long]
      .collect().toSet == Set(1L, 11L, 21L))
    spark.catalog.refreshByPath(s"$store/bands/rows")
    assert(spark.read.parquet(s"$store/bands/rows").groupBy("id").count()
      .as[(Long, Long)].collect().toMap == Map(1L -> 16L, 11L -> 16L, 21L -> 16L))
    // and a replay of the now-committed epoch 1 changes nothing
    val s1 = (files(out), outIds, storeIdCounts)
    run(batch1, 1)
    assert((files(out), outIds, storeIdCounts) == s1)
  }

  test("post-marker auto-compact folds the store without changing decisions or replay safety") {
    import graft.pipeline.Dedup.NearDupStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-nds-ac")
    val out = tmp.resolve("out").toString
    val store = tmp.resolve("store").toString
    NearDupStore.create(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"),
      "doc_id", "text", store)
    graft.sources.AutoCompact.setPolicy(spark, store, 1)
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingDedup.processEpoch(batch, id, "doc_id", "text", store, out, 9, 10)
    run(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 1
      (11L, "red orange yellow green blue indigo violet pink brown black"))
      .toDF("doc_id", "text"), 0)
    run(Seq(
      (20L, "red orange yellow green blue indigo violet pink brown black"), // dup of 11
      (21L, "totally novel words that nothing previous has ever used"))
      .toDF("doc_id", "text"), 1)
    def outIds: Seq[Long] = {
      spark.catalog.refreshByPath(out)
      spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq.sorted
    }
    assert(outIds == Seq(11L, 21L))
    // the fold runs strictly AFTER a commit marker once file GROWTH
    // crosses the threshold (the post-fold-baseline trigger): epoch
    // 0's advance names are guaranteed gone from every table —
    // whichever epoch crossed first folded them — and the recorded
    // baseline proves an auto-fold ran. Epoch 1's names may
    // legitimately wait for more growth; folding on EVERY mutation
    // once the store's total exceeded the threshold is the
    // quadratic-I/O behavior the growth policy removed.
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("bands/rows", "sigs", "shingles")) {
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$t"))
        .map(_.getPath.getName)
      assert(!names.exists(_.startsWith("part-e0__")),
        s"$t still carries epoch 0's advance files after the auto-compact fold")
    }
    assert(graft.sources.AutoCompact.baseline(spark, store).nonEmpty)
    // each survivor sits in the folded store exactly once, and a replay
    // of a committed (and since-folded) epoch short-circuits on its
    // marker — nothing to retire, nothing double-appended
    def storeIdCounts: Map[Long, Long] = {
      spark.catalog.refreshByPath(s"$store/sigs")
      spark.read.parquet(s"$store/sigs").groupBy("id").count()
        .as[(Long, Long)].collect().toMap
    }
    val settled = (outIds, storeIdCounts)
    assert(settled._2 == Map(1L -> 1L, 11L -> 1L, 21L -> 1L))
    run(Seq(
      (20L, "red orange yellow green blue indigo violet pink brown black"),
      (21L, "totally novel words that nothing previous has ever used"))
      .toDF("doc_id", "text"), 1)
    assert((outIds, storeIdCounts) == settled)
  }

  test("exact dedup state is watermark-bounded: expired digests re-admit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup-wm")
    val in = tmp.resolve("in").toString
    Seq((1L, "recycled content", ts(100))).toDF("doc_id", "text", "ts")
      .write.parquet(s"$in/b0")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(s"$in/*")
    val query = StreamingDedup
      .exactWithinWatermark(stream, "text", "ts", "10 seconds")
      .writeStream.format("memory").queryName("sdedup_wm_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(100))
      .option("checkpointLocation", tmp.resolve("ck").toString).start()
    try {
      query.processAllAvailable()
      // advance event time FAR past the horizon, evicting doc 1's digest
      Seq((2L, "unrelated advancing doc", ts(100000)))
        .toDF("doc_id", "text", "ts").write.parquet(s"$in/b1")
      query.processAllAvailable()
      // the recycled content is now outside any retained state: re-admitted
      Seq((3L, "recycled content", ts(100001)))
        .toDF("doc_id", "text", "ts").write.parquet(s"$in/b2")
      query.processAllAvailable()
    } finally query.stop()
    val ids = spark.table("sdedup_wm_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 1 admitted, 2 admitted, 3 admitted AGAIN (state for 1 was evicted
    // when the watermark passed ts(100) + 10s) — dedup is a bounded-state
    // contract, not an unbounded promise
    assert(ids == Set(1L, 2L, 3L))
  }

  test("near-dup candidates: identical docs collide, bucket state spans batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snear")
    val in = tmp.resolve("in").toString
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten eleven"
    Seq((10L, textA), (20L, textB)).toDF("doc_id", "text")
      .write.parquet(s"$in/b0")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$in/*")
    val hits = StreamingDedup.nearDupCandidates(stream, "doc_id", "text")
    val query = hits.writeStream.format("memory").queryName("snear_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(100))
      .option("checkpointLocation", tmp.resolve("ck").toString).start()
    try {
      query.processAllAvailable()
      assert(spark.table("snear_out").count() == 0) // distinct docs: no hits

      // batch 2: an exact copy of A (new id) and a fresh doc
      Seq((30L, textA), (40L, "completely different words here entirely"))
        .toDF("doc_id", "text").write.parquet(s"$in/b1")
      query.processAllAvailable()
      val out = spark.table("snear_out").as[StreamingDedup.NearDupHit].collect()
      // the copy collides with the FIRST batch's occupant in every band
      assert(out.nonEmpty && out.forall(h => h.doc_id == 30L && h.dup_of == 10L))
      assert(out.map(_.band).distinct.length == 16) // identical sig: all bands
      assert(!out.exists(h => h.doc_id == 40L || h.dup_of == 40L))
    } finally query.stop()
  }

  test("run in batch mode, candidates equal the batch LSH star edges") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 200)
    // mapGroupsWithState on a static Dataset: state spans the one batch,
    // so "first occupant" is each bucket's min id — the star-edge shape
    val streamingPairs = StreamingDedup
      .nearDupCandidates(docs, "doc_id", "text")
      .collect().map(h => (h.dup_of, h.doc_id)).toSet
    val signed = docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.pipeline.Dedup.minHashSignature(
          graft.pipeline.Dedup.shingles("text", 3), 64).as("sig"))
      .filter(size(col("sig")) === 64)
    val batchPairs = graft.pipeline.Dedup
      .lshStarEdges(signed, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamingPairs == batchPairs)
  }
}
