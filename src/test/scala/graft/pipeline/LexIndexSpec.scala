package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Persisted lexical index: creation, epoch append/replay/rollback,
  * compaction invariance, forget + re-admit, and the inline-cap
  * fallback — every path must keep the integer-exact retrieval
  * contract (search ≡ Text.retrievalTopK over the same corpus).
  */
class LexIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("lex-spec").resolve("ix").toString

  private val corpus = Seq(
    (1L, "spark joins data with spark shuffles"),
    (2L, "window functions rank rows"),
    (3L, "spark window spark window"),
    (4L, "nothing relevant here")).toDF("id", "text")

  private val queries = Seq(("qa", "spark"), ("qa", "window")).toDF("qid", "term")

  private def hits(r: String, q: org.apache.spark.sql.DataFrame = queries,
                   k: Int = 10, maxInline: Int = 10000) =
    LexIndex.search(spark, r, q, "qid", "term", k, maxInline)
      .orderBy("qid", "rank")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq

  test("search equals the in-plan retrieval join, hand-checkable ranks") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    val got = hits(r)
    // doc 3 matches both terms (n_matched 2, sum_tf 4); doc 1 matches
    // spark twice (1, 2); doc 2 matches window once (1, 1); doc 4 never
    assert(got === Seq(
      ("qa", 1L, 3L, 2L, 4L, 4L),
      ("qa", 2L, 1L, 1L, 2L, 6L),
      ("qa", 3L, 2L, 1L, 1L, 4L)))
    val direct = Text.retrievalTopK(corpus, "text", "id", queries, "qid", "term", 10)
      .select(col("qid"), col("rank"), col("id"), col("n_matched"),
        col("sum_tf"), col("dl"))
      .orderBy("qid", "rank")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === direct)
  }

  test("semi-join fallback (terms over the inline cap) returns identical hits") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    assert(hits(r, maxInline = 1) === hits(r))
  }

  test("epoch append is delta-only and replay-idempotent; compact changes nothing") {
    val r = root()
    LexIndex.create(corpus.filter(col("id") <= 2), "id", "text", r)
    LexIndex.appendEpoch(corpus, "id", "text", r, "e1") // overlap: 1,2 already in
    LexIndex.appendEpoch(corpus, "id", "text", r, "e1") // replay, same tag
    val whole = root()
    LexIndex.create(corpus, "id", "text", whole)
    assert(hits(r) === hits(whole))
    // postings hold each (doc, term) exactly once
    val n = spark.read.parquet(r + "/postings")
      .groupBy("id", "term").count().filter(col("count") > 1).count()
    assert(n === 0L)
    LexIndex.compact(spark, r)
    assert(hits(r) === hits(whole))
  }

  test("granularity policy: create, epoch, and fold files all respect rowsPerFile; search invariant") {
    val r = root()
    // 2 rows/file: postings (11 distinct (id,term) pairs for this
    // corpus) must shard — and STAY sharded through epoch publish and
    // the whole-table fold, the write that regrew the graph store's
    // probe bytes 4.5× before its policy existed
    LexIndex.create(corpus, "id", "text", r, rowsPerFile = 2L)
    assert(LexIndex.rowsPerFileOf(spark, r) === 2L)
    val before = hits(r)
    def maxFileRows(): Long = graft.sources.ParquetSource
      .listParquetFiles(r + "/postings", spark.sparkContext.hadoopConfiguration)
      .map(f => spark.read.parquet(f).count()).max
    assert(maxFileRows() <= 2L)
    LexIndex.appendEpoch(Seq((9L, "spark ahoy")).toDF("id", "text"),
      "id", "text", r, "g1")
    assert(maxFileRows() <= 2L)
    LexIndex.compact(spark, r)
    assert(maxFileRows() <= 2L)
    // the invariant: search ≡ the in-plan retrieval join over the
    // union corpus, at every granularity-bounded layout
    val after = hits(r)
    assert(after !== before) // the epoch's doc changed the hit list
    val union = corpus.unionByName(Seq((9L, "spark ahoy")).toDF("id", "text"))
    val direct = Text.retrievalTopK(union, "text", "id", queries, "qid", "term", 10)
      .select(col("qid"), col("rank"), col("id"), col("n_matched"),
        col("sum_tf"), col("dl"))
      .orderBy("qid", "rank")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(after === direct)
  }

  test("rollback of a partial epoch restores the pre-epoch hit list") {
    val r = root()
    LexIndex.create(corpus.filter(col("id") <= 2), "id", "text", r)
    val before = hits(r)
    LexIndex.appendEpoch(corpus, "id", "text", r, "e9")
    assert(hits(r) !== before)
    LexIndex.rollbackEpoch(spark, r, "e9")
    assert(hits(r) === before)
  }

  test("forget removes a document from every hit list; it can re-admit later") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    LexIndex.forget(spark, r, Seq(3L))
    assert(!hits(r).exists(_._3 == 3L))
    // a forgotten id passes the append anti-join again
    LexIndex.appendEpoch(corpus.filter(col("id") === 3L), "id", "text", r, "e2")
    assert(hits(r).head === (("qa", 1L, 3L, 2L, 4L, 4L)))
  }

  test("forget pair-deletes through the forward terms: other term ranges stay byte-identical") {
    val r = root()
    // two DISJOINT vocabulary ranges, forced into two term-range files
    val docs = (0L until 10L).map(i =>
        (i, if (i < 5) s"aa${i} ab${i} ac${i}" else s"za${i} zb${i} zc${i}"))
      .toDF("id", "text")
    LexIndex.create(docs, "id", "text", r)
    val census = spark.read.parquet(graft.sources.IdCensus.rowsDir(r))
    assert(census.columns.contains("terms"), "census must carry the forward index")
    graft.streaming.SwapStore.swapWrite(
      spark.read.parquet(r + "/postings")
        .repartitionByRange(2, col("term"))
        .sortWithinPartitions(col("term"), col("id")),
      r + "/postings")
    graft.sources.FileStatsIndex.buildAndSave(spark, r + "/postings", Seq("term"))
    spark.catalog.refreshByPath(r + "/postings")
    def files(): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(r + "/postings")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.sources.ParquetSource.listParquetFiles(r + "/postings",
          spark.sparkContext.hadoopConfiguration)
        .map(f => f -> fs.getFileStatus(
          new org.apache.hadoop.fs.Path(f)).getModificationTime).toMap
    }
    val before = files()
    assert(before.size >= 2)
    // forgetting an a-vocabulary doc must leave the z-range file alone
    val res = LexIndex.forget(spark, r, Seq(2L))
    assert(res.rowsDeleted == 3L)
    val after = files()
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty, "pair-delete rewrote every postings file")
    untouched.foreach(f => assert(before(f) == after(f)))
    assert(spark.read.parquet(r + "/postings")
      .filter(col("id") === 2L).isEmpty)
    assert(spark.read.parquet(r + "/postings").count() == 27L)
  }

  test("auto-compact: epochs past the threshold fold the index; search invariant; replay no-ops") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    graft.sources.AutoCompact.setPolicy(spark, r, 1)
    LexIndex.appendEpoch(Seq((9L, "spark extra")).toDF("id", "text"),
      "id", "text", r, "ac1")
    val got = hits(r)
    assert(got.exists(_._3 == 9L), "epoch rows must be searchable after the fold")
    // the fold ran AUTOMATICALLY: the tag's per-epoch names are gone
    val fs = new org.apache.hadoop.fs.Path(r + "/postings")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(r + "/postings"))
      .exists(_.getPath.getName.startsWith("part-ac1__")))
    // replaying the folded tag is a clean no-op: the census (folded
    // with the postings) still knows the id, so the delta is empty
    LexIndex.appendEpoch(Seq((9L, "spark extra")).toDF("id", "text"),
      "id", "text", r, "ac1")
    assert(hits(r) === got)
    assert(spark.read.parquet(r + "/postings")
      .filter(col("id") === 9L).count() === 2L) // "spark extra": 2 terms, once
  }

  test("minor fold: base files survive by name, overrides fold, stats absorb; replay keeps (N, Σdl)") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    val conf = spark.sparkContext.hadoopConfiguration
    def names(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(conf).listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    val basePost = names(r + "/postings")
    val baseCen = names(graft.sources.IdCensus.rowsDir(r))
    graft.sources.AutoCompact.setPolicy(spark, r, 1)
    LexIndex.appendEpoch(Seq((9L, "spark extra")).toDF("id", "text"),
      "id", "text", r, "mf1")
    // the fold ran (no tagged names anywhere) and it was MINOR: every
    // base file survives untouched BY NAME — fold I/O was the override
    // tier alone, never the store
    val postNow = names(r + "/postings")
    val cenNow = names(graft.sources.IdCensus.rowsDir(r))
    assert(basePost.subsetOf(postNow), "a minor fold rewrote base postings files")
    assert(baseCen.subsetOf(cenNow), "a minor fold rewrote base census files")
    assert(!postNow.exists(_.startsWith("part-mf1__")))
    assert(!cenNow.exists(_.startsWith("part-mf1__")))
    // the per-epoch stats contribution was absorbed into base on the
    // same cadence: one contribution file, and the live (N, Σdl) is
    // exact — so a REPLAY of the folded tag (whose deleteCorpusStats
    // now finds nothing) cannot lose the contribution
    val cdir = new org.apache.hadoop.fs.Path(r + "/_corpus")
    val cfs = cdir.getFileSystem(conf)
    assert(cfs.listStatus(cdir).map(_.getPath.getName).count(_.endsWith(".json")) === 1)
    val stats = LexIndex.readCorpusStats(spark, r)
    assert(stats._1 === 5L, s"expected 5 indexed docs, got $stats")
    LexIndex.appendEpoch(Seq((9L, "spark extra")).toDF("id", "text"),
      "id", "text", r, "mf1")
    assert(LexIndex.readCorpusStats(spark, r) === stats,
      "replaying a folded tag changed the corpus stats")
    assert(hits(r).exists(_._3 == 9L))
  }

  test("corpus-stats fold: a live staging file is the authority mid-fold; promotion idempotent") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    LexIndex.appendEpoch(Seq((9L, "spark extra")).toDF("id", "text"),
      "id", "text", r, "cs1")
    val before = LexIndex.readCorpusStats(spark, r)
    // simulate a stats fold that crashed after writing its staging file
    // and deleting SOME contributions: the remaining .json set
    // undercounts, and only the staging total is exact
    val cdir = new org.apache.hadoop.fs.Path(r + "/_corpus")
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(cdir, "fold.tmp"), true)
    try out.write(s"""{"n":${before._1},"sumdl":${before._2}}""".getBytes("UTF-8"))
    finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(cdir, "epoch-cs1.json"), false)
    assert(LexIndex.readCorpusStats(spark, r) === before,
      "mid-fold reads must come from the staging authority, not the partial file set")
    // recovery re-runs the fold from the crash point: staging promotes
    // to base, the sum survives, and the staging file clears
    LexIndex.foldCorpusStats(spark, r)
    assert(LexIndex.readCorpusStats(spark, r) === before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cdir, "fold.tmp")))
    assert(fs.listStatus(cdir).map(_.getPath.getName).count(_.endsWith(".json")) === 1)
  }

  test("mixed-schema census forget: pre-forward rows route to the scan, nothing survives") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    // strip the forward terms column in place — the pre-forward layout
    // an old store carries into the upgrade
    val rows = graft.sources.IdCensus.rowsDir(r)
    graft.streaming.SwapStore.swapWrite(
      spark.read.parquet(rows).drop("terms")
        .repartitionByRange(col("id")).sortWithinPartitions(col("id")),
      rows)
    graft.sources.FileStatsIndex.buildAndSave(spark, rows, Seq("id"))
    spark.catalog.refreshByPath(rows)
    // a terms-bearing epoch lands on top: the census is now a MIXED
    // directory, and a plain (non-mergeSchema) read's view of it would
    // depend on which footer Spark sampled
    LexIndex.appendEpoch(Seq((9L, "spark window extra")).toDF("id", "text"),
      "id", "text", r, "mx1")
    // forget one PRE-FORWARD id (terms null under the union schema —
    // must route to the id-scan, NOT silently drop out of the pair
    // list) and one terms-bearing id (pair path) in the same batch
    LexIndex.forget(spark, r, Seq(3L, 9L))
    val post = spark.read.parquet(r + "/postings")
    assert(post.filter(col("id").isin(3L, 9L)).count() === 0L,
      "a forgotten document's postings survived the mixed-schema forget")
    assert(post.filter(col("id") === 1L).count() > 0L)
    assert(!hits(r).exists(h => h._3 == 3L || h._3 == 9L))
    // the census forgot them too — both re-admit through the delta check
    assert(spark.read.option("mergeSchema", "true").parquet(rows)
      .filter(col("id").isin(3L, 9L)).count() === 0L)
    LexIndex.appendEpoch(corpus.filter(col("id") === 3L), "id", "text", r, "mx2")
    assert(hits(r).exists(_._3 == 3L))
  }

  test("bm25Search ranks like Text.bm25 over the indexed corpus") {
    val r = root()
    LexIndex.create(corpus, "id", "text", r)
    val got = LexIndex.bm25Search(spark, r, queries, "qid", "term", k = 10)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    val direct = Text.bm25(corpus, "text", "id", Seq("spark", "window"))
      .filter(col("n_matched") > 0)
      .orderBy(col("score").desc, col("id")).select("id").as[Long].collect().toSeq
    assert(got === direct)
  }

  test("searching a missing index fails loudly") {
    val e = intercept[IllegalArgumentException] {
      LexIndex.search(spark, root(), queries, "qid", "term", 5)
    }
    assert(e.getMessage.contains("no lex index"))
  }
}
