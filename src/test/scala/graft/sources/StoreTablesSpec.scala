package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.pipeline.{AnnIndex, Dedup, LexIndex, LinkGraph, Web}

/** The one described fold, driven over every store's own table list:
  * each store is built with at least two tagged epochs, then folded
  * MINOR ([[StoreTables.foldOverrides]]) and MAJOR
  * ([[StoreTables.recluster]]). After each step every table must keep
  * its resolved row multiset, hold no tagged file name, respect its
  * file cap, and (where it keeps one) carry a `_stats` artifact naming
  * exactly its live files.
  *
  * The epoch tier runs over the same table lists: a [[StoreTables
  * .publish]] into every table then a [[StoreTables.rollback]] — and
  * an attempt killed between stage and publish, then a rollback — must
  * restore the exact pre-epoch file listing and row multiset, leave
  * `_stats` naming exactly the live files and remove the tag's stage;
  * [[StoreTables.forget]] must delete the same rows on the pair path
  * and on the scan path (`cap = 0`).
  */
class StoreTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("store").toString

  private def files(dir: String): Seq[String] =
    ParquetSource.listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)

  private def resolved(t: StoreTables.Table): Seq[String] = {
    spark.catalog.refreshByPath(t.dir)
    t.resolve(spark.read.parquet(t.dir)).collect().map(_.toString).sorted.toSeq
  }

  private def names(t: StoreTables.Table): Seq[String] =
    files(t.dir).map(new Path(_).getName).sorted

  private def statted(t: StoreTables.Table): Set[String] = {
    val stats = new Path(t.dir, "_stats").toString
    spark.catalog.refreshByPath(stats)
    spark.read.parquet(stats).select("file").as[String].collect()
      .map(f => new Path(f).getName).toSet
  }

  private def tags(store: StoreTables.Store): Set[String] =
    store.tables.flatMap(t => files(t.dir)).map(new Path(_).getName)
      .filter(EpochFiles.isTagged).map(_.stripPrefix("part-").split("__")(0)).toSet

  private def checkInvariants(store: StoreTables.Store, step: String,
                              before: Seq[Seq[String]]): Unit =
    store.tables.zip(before).foreach { case (t, rows) =>
      val names = files(t.dir).map(new Path(_).getName)
      assert(resolved(t) === rows, s"$step changed the resolved rows of ${t.dir}")
      assert(!names.exists(EpochFiles.isTagged), s"$step left tagged files in ${t.dir}")
      // the cap binds every file, whichever write made it
      if (t.rowsPerFile > 0L) files(t.dir).foreach { f =>
        val n = spark.read.parquet(f).count()
        assert(n <= t.rowsPerFile, s"$step left a $n-row file past the cap: $f")
      }
      if (t.stats)
        assert(statted(t) === names.toSet, s"$step left _stats out of step in ${t.dir}")
    }

  /** Build, then fold minor and major, checking after each step. */
  private def foldBoth(store: () => StoreTables.Store): Unit = {
    val s = store()
    assert(tags(s).size >= 2, s"expected >= 2 tagged epochs, got ${tags(s)}")
    val before = s.tables.map(resolved)
    StoreTables.foldOverrides(spark, s)
    checkInvariants(store(), "minor fold", before)
    StoreTables.recluster(spark, s)
    checkInvariants(store(), "major fold", before)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps"), (2L, "a lazy dog sleeps all day"),
    (3L, "spark reads parquet files"), (4L, "the quick brown cat naps"),
    (5L, "parquet files carry footers"), (6L, "dogs and foxes never rest"))
  private def batch(ids: Long*) = ids.map(i => (i, s"doc $i words of doc ${i % 3}"))
    .toDF("id", "text")

  test("NearDupStore: three bucket/id-clustered tables fold both tiers") {
    val p = tmp("st-ndstore")
    Dedup.NearDupStore.create(docs.toDF("id", "text"), "id", "text", p,
      bands = 4, rowsPerBand = 2, rowsPerFile = 5L)
    Dedup.NearDupStore.advanceStaged(batch(10, 11, 12), "id", "text", p, "e1")
    Dedup.NearDupStore.advanceStaged(batch(13, 14), "id", "text", p, "e2")
    foldBoth(() => Dedup.NearDupStore.tables(spark, p))
  }

  test("AnnIndex: code frame and id census fold both tiers") {
    val p = tmp("st-ann")
    val emb = Tables.load(spark, TestSpark.sf, "embeddings").filter(col("vec_id") < 120)
    val h = AnnIndex.build(emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      p, kIvf = 4, m = 16, ksub = 16, iters = 2, rowsPerFile = 16L)
    AnnIndex.appendEpoch(h, emb.filter(col("vec_id") % 4 === 0 && col("vec_id") < 60),
      "vec_id", "embedding", "e1")
    AnnIndex.appendEpoch(h, emb.filter(col("vec_id") % 4 === 0 && col("vec_id") >= 60),
      "vec_id", "embedding", "e2")
    foldBoth(() => AnnIndex.tables(spark, p))
  }

  test("LexIndex: postings and id census fold both tiers; corpus stats fold along") {
    val p = tmp("st-lex")
    LexIndex.create(docs.toDF("id", "text"), "id", "text", p, rowsPerFile = 2L)
    LexIndex.appendEpoch(batch(10, 11), "id", "text", p, "e1")
    LexIndex.appendEpoch(batch(12, 13), "id", "text", p, "e2")
    val stats = LexIndex.readCorpusStats(spark, p)
    foldBoth(() => LexIndex.tables(spark, p))
    assert(LexIndex.readCorpusStats(spark, p) === stats)
    val corpus = new Path(p, "_corpus")
    assert(corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(corpus).map(_.getPath.getName).filter(_.endsWith(".json"))
      .toSeq === Seq("base.json"))
  }

  test("LinkGraph: edges, LSM overrides, labels and trust levels fold both tiers") {
    val p = tmp("st-graph")
    LinkGraph.create(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L).toDF("src", "dst"),
      "src", "dst", p, iters = 3, rowsPerFile = 2L)
    LinkGraph.createComponents(spark, p)
    LinkGraph.registerTrustRank(spark, p, Seq(1L).toDF("id"))
    LinkGraph.appendEpoch(Seq(2L -> 4L, 5L -> 1L).toDF("src", "dst"), "src", "dst", p, "e1")
    LinkGraph.appendEpoch(Seq(5L -> 6L, 6L -> 2L).toDF("src", "dst"), "src", "dst", p, "e2")
    val s = LinkGraph.tables(spark, p)
    assert(s.tables.size === 7, "out, in, deg, levels, labid, labrep, one trust set")
    foldBoth(() => LinkGraph.tables(spark, p))
  }

  test("IdCensus: rowsPerFile <= 0 and a positive cap both fold") {
    val p = tmp("st-ids")
    IdCensus.create(spark, p, spark.range(20).toDF("id"))
    IdCensus.appendEpoch(spark, p, spark.range(20, 27).toDF("id"), "e1")
    IdCensus.appendEpoch(spark, p, spark.range(27, 30).toDF("id"), "e2")
    foldBoth(() => StoreTables.Store(p, Seq(IdCensus.table(p, 0L))))
    // a capped census is capped by every writer, not only by the folds
    val q = tmp("st-ids-capped")
    IdCensus.create(spark, q, spark.range(20).toDF("id"), rowsPerFile = 3L)
    IdCensus.appendEpoch(spark, q, spark.range(20, 27).toDF("id"), "e1", rowsPerFile = 3L)
    IdCensus.appendEpoch(spark, q, spark.range(27, 30).toDF("id"), "e2", rowsPerFile = 3L)
    foldBoth(() => StoreTables.Store(q, Seq(IdCensus.table(q, 3L))))
  }

  test("IdCensus: the uncapped minor fold merges all overrides into one file") {
    val p = tmp("st-ids-one")
    IdCensus.create(spark, p, spark.range(20).toDF("id"))
    IdCensus.appendEpoch(spark, p, spark.range(20, 27).toDF("id"), "e1")
    IdCensus.appendEpoch(spark, p, spark.range(27, 30).toDF("id"), "e2")
    val base = files(IdCensus.rowsDir(p)).toSet
    StoreTables.foldOverrides(spark, StoreTables.Store(p, Seq(IdCensus.table(p, 0L))))
    val after = files(IdCensus.rowsDir(p)).toSet
    assert(base.filterNot(f => EpochFiles.isTagged(new Path(f).getName)).subsetOf(after))
    assert((after -- base).size === 1, "one shard for 10 override rows, no cap")
  }

  test("Web line census: the non-identity resolve keeps occ sums through both tiers") {
    val p = tmp("st-lines")
    val lines = Seq((1L, "alpha line\nbeta line\ngamma"), (2L, "beta line\ndelta"))
    Web.createLineCensus(lines.toDF("id", "text"), "id", "text", p)
    Web.advanceStagedLineCensus(Seq((3L, "alpha line\nepsilon")).toDF("id", "text"),
      "id", "text", p, "e1")
    Web.advanceStagedLineCensus(Seq((4L, "beta line\nalpha line")).toDF("id", "text"),
      "id", "text", p, "e2")
    val t = Web.lineCensusTables(p).tables.head
    assert(!t.stats && t.rowsPerFile === 0L)
    val occ = t.resolve(spark.read.parquet(t.dir))
      .filter(col("line_hash") === md5(lit("alpha line"))).select("occ").as[Long].head()
    assert(occ === 3L)
    foldBoth(() => Web.lineCensusTables(p))
  }

  // ---- the epoch tier ----

  /** Rows rendered with their columns in name order: a rewrite may
    * reorder a file's columns (the anti-join delete puts the key first).
    */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  private def rawRows(t: StoreTables.Table): Seq[String] = {
    spark.catalog.refreshByPath(t.dir)
    rowSet(spark.read.parquet(t.dir))
  }

  /** `rows` of `t`'s own schema as a driver-local frame (no lazy read
    * of a directory the test is about to mutate).
    */
  private def local(t: StoreTables.Table, rows: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    val df = rows(spark.read.parquet(t.dir))
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  private def stageOf(s: StoreTables.Store, tag: String): Path = new Path(s.root, s"_stage/$tag")

  private def exists(p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  /** Every table's listing, rows and stats are back to `before`, and
    * the tag's stage is gone.
    */
  private def checkRestored(s: StoreTables.Store, step: String, tag: String,
                            before: Seq[(Seq[String], Seq[String])]): Unit = {
    s.tables.zip(before).foreach { case (t, (listed, rows)) =>
      assert(names(t) === listed, s"$step changed the file listing of ${t.dir}")
      assert(rawRows(t) === rows, s"$step changed the rows of ${t.dir}")
      if (t.stats)
        assert(statted(t) === listed.toSet, s"$step left _stats out of step in ${t.dir}")
    }
    assert(!exists(stageOf(s, tag)), s"$step left ${stageOf(s, tag)}")
  }

  /** (a) every table publishes a share of an epoch, then the store
    * rolls it back; (b) an attempt dies between stage and publish —
    * the first table published, the rest (or the only one) staged
    * only — then the store rolls it back.
    */
  private def publishAndRollBack(store: () => StoreTables.Store): Unit = {
    val s = store()
    val before = s.tables.map(t => (names(t), rawRows(t)))
    s.tables.foreach { t =>
      val df = local(t, _.limit(3))
      StoreTables.publish(spark, s, t, df, "x1", Some(df.count()))
    }
    assert(tags(store()).contains("x1"))
    StoreTables.rollback(spark, s, "x1")
    checkRestored(store(), "publish + rollback", "x1", before)

    val staged = if (s.tables.size > 1) s.tables.tail else s.tables
    if (s.tables.size > 1)
      StoreTables.publish(spark, s, s.tables.head, local(s.tables.head, _.limit(2)), "x2")
    staged.foreach { t =>
      t.capped(t.clustered(local(t, _.limit(2)))).mode("overwrite")
        .parquet(StoreTables.stageDir(s, t, "x2"))
    }
    assert(exists(stageOf(s, "x2")))
    StoreTables.rollback(spark, s, "x2")
    checkRestored(store(), "killed attempt + rollback", "x2", before)
  }

  /** (c) on two copies of the store, forget two ids from every table —
    * the pair path (one id as pairs, one bare, where the id is not the
    * cluster key; the keyed delete where it is) and the scan path
    * (`cap = 0`) — and compare both against the rows left by a filter.
    */
  private def forgetBothPaths(root: String, store: String => StoreTables.Store): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    def copy(suffix: String): StoreTables.Store = {
      val dst = new Path(root + suffix)
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root), fs, dst, false, conf))
      store(dst.toString)
    }
    val (viaPairs, viaScan) = (copy("-pairs"), copy("-scan"))
    viaPairs.tables.zip(viaScan.tables).foreach { case (tp, ts) =>
      val cols = spark.read.parquet(tp.dir).columns
      val idCol = Seq("id", "neighbor_id").find(cols.contains).getOrElse(tp.key)
      val ids = spark.read.parquet(tp.dir).select(idCol).distinct().orderBy(idCol)
        .limit(2).collect().map(_.get(0)).toSeq
      assert(ids.size === 2, s"${tp.dir} needs two ids")
      val expected = rowSet(spark.read.parquet(tp.dir).filter(!col(idCol).isin(ids: _*)))
      def run(t: StoreTables.Table, cap: Int): Unit =
        if (idCol == t.key) StoreTables.forget(spark, t, idCol, ids, cap = cap)
        else StoreTables.forget(spark, t, idCol, ids,
          pairs = Some(local(t, _.filter(col(idCol) === ids.head)
            .select(col(t.key), col(idCol)).distinct())),
          bare = Some(local(t, _.filter(col(idCol) === ids(1)).select(col(idCol)).distinct())),
          cap = cap)
      run(tp, TargetedDelete.InlineKeyCap)
      run(ts, 0)
      for ((t, path) <- Seq(tp -> "pair", ts -> "scan")) {
        assert(rawRows(t) === expected, s"the $path path of forget left other rows in ${t.dir}")
        // _stats names no retired file, and every live file but the
        // empty replacements of wholly deleted files (which have no
        // rows for the artifact to stat)
        if (t.stats) {
          val (stats, live) = (statted(t), names(t).toSet)
          assert(stats.subsetOf(live), s"the $path path left stale _stats entries in ${t.dir}")
          assert((live -- stats).forall(f => spark.read.parquet(s"${t.dir}/$f").count() == 0L),
            s"the $path path left rows unstatted in ${t.dir}")
        }
      }
    }
  }

  test("NearDupStore: epoch publish/rollback, a killed attempt, and forget's two paths") {
    val p = tmp("st-ndstore-epoch")
    Dedup.NearDupStore.create(docs.toDF("id", "text"), "id", "text", p,
      bands = 4, rowsPerBand = 2, rowsPerFile = 5L)
    Dedup.NearDupStore.advanceStaged(batch(10, 11, 12), "id", "text", p, "e1")
    publishAndRollBack(() => Dedup.NearDupStore.tables(spark, p))
    forgetBothPaths(p, Dedup.NearDupStore.tables(spark, _))
  }

  test("AnnIndex: epoch publish/rollback, a killed attempt, and forget's two paths") {
    val p = tmp("st-ann-epoch")
    val emb = Tables.load(spark, TestSpark.sf, "embeddings").filter(col("vec_id") < 120)
    val h = AnnIndex.build(emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      p, kIvf = 4, m = 16, ksub = 16, iters = 2, rowsPerFile = 16L)
    AnnIndex.appendEpoch(h, emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", "e1")
    publishAndRollBack(() => AnnIndex.tables(spark, p))
    forgetBothPaths(p, AnnIndex.tables(spark, _))
  }

  test("LexIndex: epoch publish/rollback, a killed attempt, and forget's two paths") {
    val p = tmp("st-lex-epoch")
    LexIndex.create(docs.toDF("id", "text"), "id", "text", p, rowsPerFile = 2L)
    LexIndex.appendEpoch(batch(10, 11), "id", "text", p, "e1")
    publishAndRollBack(() => LexIndex.tables(spark, p))
    forgetBothPaths(p, LexIndex.tables(spark, _))
  }

  test("LinkGraph: epoch publish/rollback, a killed attempt, and forget's two paths") {
    val p = tmp("st-graph-epoch")
    LinkGraph.create(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L).toDF("src", "dst"),
      "src", "dst", p, iters = 3, rowsPerFile = 2L)
    LinkGraph.createComponents(spark, p)
    LinkGraph.registerTrustRank(spark, p, Seq(1L).toDF("id"))
    LinkGraph.appendEpoch(Seq(2L -> 4L, 5L -> 1L).toDF("src", "dst"), "src", "dst", p, "e1")
    publishAndRollBack(() => LinkGraph.tables(spark, p))
    forgetBothPaths(p, LinkGraph.tables(spark, _))
  }

  test("IdCensus: epoch publish/rollback, a killed attempt, and forget's two paths") {
    val p = tmp("st-ids-epoch")
    IdCensus.create(spark, p, spark.range(20).toDF("id"), rowsPerFile = 3L)
    IdCensus.appendEpoch(spark, p, spark.range(20, 27).toDF("id"), "e1", rowsPerFile = 3L)
    publishAndRollBack(() => IdCensus.store(p, 3L))
    forgetBothPaths(p, IdCensus.store(_, 3L))
  }

  test("Web line census: epoch publish/rollback, a killed attempt, and forget's two paths") {
    val p = tmp("st-lines-epoch")
    Web.createLineCensus(Seq((1L, "alpha line\nbeta line\ngamma"), (2L, "beta line\ndelta"))
      .toDF("id", "text"), "id", "text", p)
    Web.advanceStagedLineCensus(Seq((3L, "alpha line\nepsilon")).toDF("id", "text"),
      "id", "text", p, "e1")
    publishAndRollBack(() => Web.lineCensusTables(p))
    forgetBothPaths(p, Web.lineCensusTables)
  }
}
