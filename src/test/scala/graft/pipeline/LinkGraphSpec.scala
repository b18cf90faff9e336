package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Persisted link-graph store: the maintained level state must stay
  * row-identical to the whole-graph pageRankLevels recurrence after
  * every epoch, replay, crash-repair, and compact — the same
  * incremental-equals-recompute law GraphsSpec pins for the frame-level
  * appendToPageRank, here enforced across the persisted layout.
  */
class LinkGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("lg-spec").resolve("g").toString

  private def edgesDf(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.toDF("src", "dst")

  private def sortedLevels(df: DataFrame): Seq[(Long, Int, Long)] =
    df.select(col("id").cast("long"), col("iter").cast("int"),
        col("rank").cast("long"))
      .orderBy("id", "iter")
      .as[(Long, Int, Long)].collect().toSeq

  private def fullLevels(e: DataFrame, iters: Int = 3): Seq[(Long, Int, Long)] =
    sortedLevels(graft.operators.Graphs.pageRankLevels(e, "src", "dst", iters))

  private val e1 = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 4L -> 1L)
  private val e2 = Seq(2L -> 4L, 5L -> 1L, 5L -> 6L, 6L -> 5L, 3L -> 1L) // one dup

  test("create serves the whole-graph recurrence") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    assert(sortedLevels(LinkGraph.levels(spark, r)) === fullLevels(edgesDf(e1)))
    val ranks = LinkGraph.ranks(spark, r)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val direct = graft.operators.Graphs.pageRank(edgesDf(e1), "src", "dst", 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(ranks === direct)
  }

  test("epoch append equals full recompute over the union graph") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    val n = LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    assert(n === 4) // 3->1 already present
    val union = edgesDf(e1 ++ e2)
    assert(sortedLevels(LinkGraph.levels(spark, r)) === fullLevels(union))
    // edges dedup'd and complete
    assert(LinkGraph.edges(spark, r).distinct().count() ===
      LinkGraph.edges(spark, r).count())
    assert(LinkGraph.edges(spark, r).count() === (e1 ++ e2).distinct.size.toLong)
  }

  test("replaying the same tag is end-state idempotent") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    val before = sortedLevels(LinkGraph.levels(spark, r))
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    assert(sortedLevels(LinkGraph.levels(spark, r)) === before)
    assert(LinkGraph.edges(spark, r).count() === (e1 ++ e2).distinct.size.toLong)
  }

  test("crash between table publishes is repaired by replaying the tag") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    // simulate a crash that died after edges+deg published but before
    // levels: retire the levels files the tag wrote
    graft.sources.EpochFiles.retire(spark, r + "/levels", "e1")
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    assert(sortedLevels(LinkGraph.levels(spark, r)) ===
      fullLevels(edgesDf(e1 ++ e2)))
  }

  test("rollback restores the pre-epoch state") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    val before = sortedLevels(LinkGraph.levels(spark, r))
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    LinkGraph.rollbackEpoch(spark, r, "e1")
    assert(sortedLevels(LinkGraph.levels(spark, r)) === before)
    assert(LinkGraph.edges(spark, r).count() === e1.distinct.size.toLong)
  }

  test("all-duplicate epoch is a no-op") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    val before = sortedLevels(LinkGraph.levels(spark, r))
    assert(LinkGraph.appendEpoch(edgesDf(e1), "src", "dst", r, "dup") === 0L)
    assert(sortedLevels(LinkGraph.levels(spark, r)) === before)
  }

  test("chained epochs then compact: reads invariant, overrides folded") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    val e3 = Seq(7L -> 1L, 4L -> 7L, 6L -> 2L)
    LinkGraph.appendEpoch(edgesDf(e3), "src", "dst", r, "e2")
    val expect = fullLevels(edgesDf(e1 ++ e2 ++ e3))
    assert(sortedLevels(LinkGraph.levels(spark, r)) === expect)
    LinkGraph.compact(spark, r)
    assert(sortedLevels(LinkGraph.levels(spark, r)) === expect)
    // compaction folded the LSM: exactly one row per (id, iter)
    val raw = spark.read.parquet(r + "/levels")
    assert(raw.count() === raw.select("id", "iter").distinct().count())
  }

  test("forget equals recompute over the remaining graph; re-invoke no-ops") {
    val r = root()
    LinkGraph.create(edgesDf(e1 ++ e2), "src", "dst", r, iters = 3)
    LinkGraph.forget(spark, r, Seq(2L))
    val remaining = (e1 ++ e2).distinct.filter { case (s, d) => s != 2L && d != 2L }
    assert(sortedLevels(LinkGraph.levels(spark, r)) ===
      fullLevels(edgesDf(remaining)))
    assert(LinkGraph.edges(spark, r)
      .filter(col("src") === 2L || col("dst") === 2L).count() === 0L)
    // completed forget re-invoked is a no-op
    LinkGraph.forget(spark, r, Seq(2L))
    assert(sortedLevels(LinkGraph.levels(spark, r)) ===
      fullLevels(edgesDf(remaining)))
  }

  test("forget drops orphaned vertices from the level state") {
    val r = root()
    // 9 exists only through 1 -> 9: forgetting 1 orphans it
    val es = Seq(1L -> 9L, 1L -> 2L, 2L -> 3L, 3L -> 2L)
    LinkGraph.create(edgesDf(es), "src", "dst", r, iters = 3)
    LinkGraph.forget(spark, r, Seq(1L))
    val remaining = Seq(2L -> 3L, 3L -> 2L)
    assert(sortedLevels(LinkGraph.levels(spark, r)) ===
      fullLevels(edgesDf(remaining)))
    assert(LinkGraph.levels(spark, r).filter(col("id").isin(1L, 9L)).count() === 0L)
  }

  test("forgetting edgeless ids is a level no-op") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    val before = sortedLevels(LinkGraph.levels(spark, r))
    LinkGraph.forget(spark, r, Seq(777L))
    assert(sortedLevels(LinkGraph.levels(spark, r)) === before)
  }

  test("property: random graphs, random victim sets — forget ≡ recompute") {
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val nV = 10 + rng.nextInt(8)
      val all = Seq.fill(35 + rng.nextInt(25))(
        (rng.nextInt(nV).toLong, rng.nextInt(nV).toLong)).distinct
      val victims = (0 until nV).filter(_ => rng.nextDouble() < 0.2)
        .map(_.toLong)
      if (victims.nonEmpty) {
        val r = root()
        LinkGraph.create(edgesDf(all), "src", "dst", r, iters = 4)
        LinkGraph.forget(spark, r, victims)
        val vs = victims.toSet
        val remaining = all.filter { case (s, d) => !vs(s) && !vs(d) }
        assert(sortedLevels(LinkGraph.levels(spark, r)) ===
          fullLevels(edgesDf(remaining), iters = 4), s"trial $trial")
      }
    }
  }

  test("property: random graphs, random epoch splits — incremental ≡ recompute") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val nV = 12 + rng.nextInt(10)
      val all = Seq.fill(40 + rng.nextInt(30))(
        (rng.nextInt(nV).toLong, rng.nextInt(nV).toLong)).distinct
      val (a, b) = all.partition(_ => rng.nextBoolean())
      if (a.nonEmpty && b.nonEmpty) {
        val r = root()
        LinkGraph.create(edgesDf(a), "src", "dst", r, iters = 4)
        LinkGraph.appendEpoch(edgesDf(b), "src", "dst", r, s"t$trial")
        assert(sortedLevels(LinkGraph.levels(spark, r)) ===
          fullLevels(edgesDf(all), iters = 4), s"trial $trial")
      }
    }
  }

  private def fullComponents(e: DataFrame): Seq[(Long, Long)] = {
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    graft.operators.Graphs.connectedComponents(nodes, e, "id")
      .orderBy("id").as[(Long, Long)].collect().toSeq
  }

  private def storeComponents(r: String): Seq[(Long, Long)] =
    LinkGraph.components(spark, r).orderBy("id").as[(Long, Long)].collect().toSeq

  test("components: create equals the frame-level closure; epoch merge maintains exactly") {
    val r = root()
    // sparse base: two separate components {1,2,3} and {5,6}, plus 4->1
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 1)
    LinkGraph.createComponents(spark, r)
    assert(storeComponents(r) === fullComponents(edgesDf(e1)))
    // the epoch's 5->1 edge merges {5,6} into component 1; replay of
    // the same tag must be end-state idempotent
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "ce1")
    assert(storeComponents(r) === fullComponents(edgesDf(e1 ++ e2)))
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "ce1")
    assert(storeComponents(r) === fullComponents(edgesDf(e1 ++ e2)))
    // compact folds the label LSM without changing the resolution
    LinkGraph.compact(spark, r)
    assert(storeComponents(r) === fullComponents(edgesDf(e1 ++ e2)))
  }

  test("components: forget rebuilds — splits are served correctly") {
    val r = root()
    // a bridge vertex 3 whose removal splits {1,2,3,4,5}: 1-2-3, 3-4, 4-5
    val bridge = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    LinkGraph.create(edgesDf(bridge), "src", "dst", r, iters = 1)
    LinkGraph.createComponents(spark, r)
    assert(storeComponents(r).forall(_._2 == 1L))
    LinkGraph.forget(spark, r, Seq(3L))
    // remaining edges 1->2 and 4->5: two components, vertex 3 gone
    assert(storeComponents(r) ===
      Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L)))
  }

  test("auto-compact: threshold trigger folds the LSM, reads invariant, replay no-ops") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    graft.sources.AutoCompact.setPolicy(spark, r, 1)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    val expect = fullLevels(edgesDf(e1 ++ e2))
    assert(sortedLevels(LinkGraph.levels(spark, r)) === expect)
    // the MINOR fold ran AUTOMATICALLY: the override tier is resolved
    // to one row per (id, iter) WITHIN itself (base rows superseded by
    // an override survive until a major compact — bounded at one stale
    // version per key) and every per-tag file name is gone
    val raw = spark.read.parquet(r + "/levels")
    assert(raw.count() <= 2L * raw.select("id", "iter").distinct().count())
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(r + "/levels"))
      .exists(n => graft.sources.EpochFiles.isTagged(n.getPath.getName)))
    // a major compact reclaims the stale base versions entirely
    LinkGraph.compact(spark, r)
    val folded = spark.read.parquet(r + "/levels")
    assert(folded.count() === folded.select("id", "iter").distinct().count())
    assert(sortedLevels(LinkGraph.levels(spark, r)) === expect)
    // replaying the folded tag is a clean no-op: the delta check sees
    // every edge already present
    assert(LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1") === 0L)
    assert(sortedLevels(LinkGraph.levels(spark, r)) === expect)
  }

  test("auto-compact: growth trigger — a store legitimately past the threshold does not fold per mutation") {
    val r = root()
    // 1 row/file: even the FOLDED store holds far more files than the
    // threshold, which an absolute-count trigger would answer with a
    // whole-store rewrite on every subsequent mutation (quadratic
    // lifetime I/O) — the growth trigger must not
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3, rowsPerFile = 1L)
    graft.sources.AutoCompact.setPolicy(spark, r, 6)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(conf)
    // the first epoch folded (growth measured from the empty baseline)
    // and recorded the post-fold granule counts
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(r + "/levels"))
      .exists(_.getPath.getName.startsWith("part-e1__")))
    val base = graft.sources.AutoCompact.baseline(spark, r)
    assert(base.nonEmpty)
    val levels = graft.sources.ParquetSource
      .listParquetFiles(r + "/levels", conf).toSet
    assert(levels.size > 6) // granule count alone exceeds the threshold
    // replaying the settled tag appends nothing: growth over the
    // post-fold baseline is 0, so NO fold may run — the file set must
    // come through bit-identical (a total-count trigger rewrote the
    // whole store right here)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    assert(graft.sources.ParquetSource
      .listParquetFiles(r + "/levels", conf).toSet === levels)
    assert(graft.sources.AutoCompact.baseline(spark, r) === base)
    assert(sortedLevels(LinkGraph.levels(spark, r)) ===
      fullLevels(edgesDf(e1 ++ e2)))
  }

  test("interrupted auto-compact: the marker completes the fold before a replay retires") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    val expect = sortedLevels(LinkGraph.levels(spark, r))
    // simulate a crash mid-fold: out/ folded (its per-tag names
    // destroyed), every other table untouched, intent marker present —
    // an UNRECOVERED replay would retire the completed epoch's level
    // rows while the folded edge table keeps its edges (delta = 0, so
    // they would never be recomputed)
    graft.streaming.SwapStore.swapWrite(
      spark.read.parquet(r + "/out")
        .repartitionByRange(col("src")).sortWithinPartitions(col("src")),
      r + "/out")
    spark.catalog.refreshByPath(r + "/out")
    val mp = new org.apache.hadoop.fs.Path(r + "/_compacting.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(mp, true)
    o.write("""{"compacting":1}""".getBytes("UTF-8")); o.close()
    assert(LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1") === 0L)
    assert(sortedLevels(LinkGraph.levels(spark, r)) === expect)
    assert(!fs.exists(mp))
  }

  test("hub forget past the inline cap: distributed orphan fallback ≡ inline path") {
    // hub 0 fans out to 12 leaves reachable ONLY through it (all 12
    // orphan on forget) plus a surviving 2-cycle core
    val hubEdges = (0 until 12).map(i => 0L -> (100L + i))
    val core = Seq(1L -> 2L, 2L -> 1L)
    val all = hubEdges ++ core ++ Seq(0L -> 1L)
    def build(): String = {
      val r = root()
      LinkGraph.create(edgesDf(all), "src", "dst", r, iters = 3)
      r
    }
    val rCapped = build()
    val rInline = build()
    // 12 orphans > cap 3 → the levels cleanup must take the
    // distributed anti-join keyed by the orphan FRAME
    LinkGraph.forget(spark, rCapped, Seq(0L), inlineCap = 3)
    LinkGraph.forget(spark, rInline, Seq(0L))
    assert(sortedLevels(LinkGraph.levels(spark, rCapped)) ===
      sortedLevels(LinkGraph.levels(spark, rInline)))
    assert(sortedLevels(LinkGraph.levels(spark, rCapped)) ===
      fullLevels(edgesDf(core)))
    assert(LinkGraph.edges(spark, rCapped).count() === 2L)
  }

  test("a sealed legacy-separator forget snapshot is resumed, not rederived") {
    val r = root()
    LinkGraph.create(edgesDf(Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L)),
      "src", "dst", r, iters = 3)
    val ids = Seq(9L)
    // the separator the digest used before the NUL upgrade
    val legacyDigest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(ids.map(String.valueOf).sorted.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val snap = r + s"/_forget/forget-$legacyDigest"
    // a sealed snapshot a crashed pre-upgrade forget left behind: it
    // claims edge (1,2) removed with src 1's degree corrected 2 → 1
    Seq((1L, 2L)).toDF("src", "dst").write.parquet(snap + "/removed")
    Seq((1L, 1L, 99L)).toDF("src", "deg", "seq").write.parquet(snap + "/deg")
    val mp = new org.apache.hadoop.fs.Path(snap + "/_SNAP_DONE")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(mp, true); o.write("1".getBytes("UTF-8")); o.close()
    LinkGraph.forget(spark, r, ids)
    // the snapshot's degree correction was applied — proof the sealed
    // legacy snapshot won the tag; a fresh derivation would have found
    // id 9 edgeless and taken the early no-op return, leaving deg = 2
    val deg = spark.read.parquet(r + "/deg")
      .groupBy(col("src")).agg(max_by(col("deg"), col("seq")).as("deg"))
      .filter(col("src") === 1L).collect()
    assert(deg.head.getLong(1) === 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snap)))
  }

  test("maintained TrustRank: register, epoch absorb, replay, compact, forget — all ≡ recompute") {
    val r = root()
    LinkGraph.create(edgesDf(e1), "src", "dst", r, iters = 3)
    // seed 5 is NOT in the graph yet — it arrives with e2, exercising
    // the new-seed-vertex induction (level 0 = scale on first sight)
    val seeds = Seq(1L, 5L).toDF("id")
    val dg = LinkGraph.registerTrustRank(spark, r, seeds)
    def expect(pairs: Seq[(Long, Long)]) =
      graft.operators.Graphs.personalizedPageRank(
          edgesDf(pairs), seeds, "src", "dst", "id", iters = 3)
        .orderBy("id").as[(Long, Long)].collect().toSeq
    def served() = LinkGraph.maintainedTrustRank(spark, r, dg)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(served() === expect(e1))
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    assert(served() === expect(e1 ++ e2))
    // replay is end-state idempotent on the trust table too
    LinkGraph.appendEpoch(edgesDf(e2), "src", "dst", r, "e1")
    assert(served() === expect(e1 ++ e2))
    LinkGraph.compact(spark, r)
    assert(served() === expect(e1 ++ e2))
    // vertex removal repairs the seed-conditional state exactly
    LinkGraph.forget(spark, r, Seq(4L))
    val surviving = (e1 ++ e2).distinct.filterNot(p => p._1 == 4L || p._2 == 4L)
    assert(served() === expect(surviving))
  }

  test("property: random epoch splits — maintained components ≡ closure") {
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val nV = 14 + rng.nextInt(8)
      // sparse edges so multiple components survive and merge
      val all = Seq.fill(8 + rng.nextInt(8))(
        (rng.nextInt(nV).toLong, rng.nextInt(nV).toLong)).distinct
      val (a, b) = all.partition(_ => rng.nextBoolean())
      if (a.nonEmpty && b.nonEmpty) {
        val r = root()
        LinkGraph.create(edgesDf(a), "src", "dst", r, iters = 1)
        LinkGraph.createComponents(spark, r)
        LinkGraph.appendEpoch(edgesDf(b), "src", "dst", r, s"c$trial")
        assert(storeComponents(r) === fullComponents(edgesDf(all)),
          s"trial $trial: a=$a b=$b")
      }
    }
  }
}
