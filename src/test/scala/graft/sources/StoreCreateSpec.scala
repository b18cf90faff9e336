package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.pipeline.{AnnIndex, Dedup, LexIndex, LinkGraph, Web}

/** A freshly created store has the layout its [[StoreTables.Table]]s
  * describe, table by table: every file sorted on the key, the files'
  * key ranges ordered (no two overlap beyond a shared endpoint — a range
  * shard the file cap splits shares its boundary key), no file past
  * `rowsPerFile`, and a `_stats` artifact exactly when `stats` is set.
  * Caps are tiny so every capped table spans several files, and the
  * builds run with AQE partition coalescing off: at this data size it
  * would fold every shuffle into one sorted partition, where hash and
  * range partitioning write the same files.
  */
class StoreCreateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("store").toString

  private def uncoalesced(build: => Unit): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try build finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def checkLayout(store: StoreTables.Store): Unit =
    store.tables.foreach { t =>
      val conf = spark.sparkContext.hadoopConfiguration
      val files = ParquetSource.listParquetFiles(t.dir, conf)
      assert(files.nonEmpty, s"${t.dir} is empty")
      val keys = files.map(f => f ->
        spark.read.parquet(f).select(t.key).collect().map(_.get(0).asInstanceOf[Comparable[Any]]))
      val ranges = keys.filter(_._2.nonEmpty).map { case (f, ks) =>
        assert(ks.zip(ks.drop(1)).forall { case (a, b) => a.compareTo(b) <= 0 },
          s"$f is not sorted on ${t.key}")
        if (t.rowsPerFile > 0L)
          assert(ks.length <= t.rowsPerFile, s"$f holds ${ks.length} > ${t.rowsPerFile} rows")
        (ks.head, ks.last, f)
      }.sortWith { case ((lo1, hi1, _), (lo2, hi2, _)) =>
        val c = lo1.compareTo(lo2)
        c < 0 || (c == 0 && hi1.compareTo(hi2) < 0)
      }
      ranges.zip(ranges.drop(1)).foreach { case ((_, hi, f), (lo, _, g)) =>
        assert(hi.compareTo(lo) <= 0, s"${t.key} ranges of $f and $g overlap")
      }
      assert(keys.forall(_._2.nonEmpty), s"${t.dir} holds an empty file")
      val stats = new Path(t.dir, "_stats")
      assert(stats.getFileSystem(conf).exists(stats) === t.stats,
        s"${t.dir}: _stats present must equal stats = ${t.stats}")
    }

  private val docs = Seq(
    (1L, "the quick brown fox jumps"), (2L, "a lazy dog sleeps all day"),
    (3L, "spark reads parquet files"), (4L, "the quick brown cat naps"),
    (5L, "parquet files carry footers"), (6L, "dogs and foxes never rest"),
    (7L, "a quick dog reads all day"), (8L, "brown footers never sleep")).toDF("id", "text")

  test("NearDupStore: band rows, sigs and shingles are created as described") {
    val p = tmp("sc-ndstore")
    uncoalesced(Dedup.NearDupStore.create(docs, "id", "text", p, bands = 4, rowsPerBand = 2,
      rowsPerFile = 3L))
    val s = Dedup.NearDupStore.tables(spark, p)
    assert(s.tables.map(_.rowsPerFile).toSet === Set(3L))
    checkLayout(s)
  }

  test("AnnIndex: the code frame is range-clustered on bucket, the census on id") {
    val p = tmp("sc-ann")
    val emb = Tables.load(spark, TestSpark.sf, "embeddings").filter(col("vec_id") < 120)
    uncoalesced(AnnIndex.build(emb, "vec_id", "embedding", p, kIvf = 8, m = 16, ksub = 16,
      iters = 2, rowsPerFile = 16L))
    checkLayout(AnnIndex.tables(spark, p))
  }

  test("LexIndex: postings and the id census are created as described") {
    val p = tmp("sc-lex")
    uncoalesced(LexIndex.create(docs, "id", "text", p, rowsPerFile = 4L))
    checkLayout(LexIndex.tables(spark, p))
  }

  test("LinkGraph: edges, degrees, levels, component labels and a trust set") {
    val p = tmp("sc-graph")
    val edges = (1L to 12L).flatMap(i => Seq(i -> (i % 12 + 1), i -> ((i * 5) % 12 + 1)))
    uncoalesced {
      LinkGraph.create(edges.toDF("src", "dst"), "src", "dst", p, iters = 2, rowsPerFile = 5L)
      LinkGraph.createComponents(spark, p)
      LinkGraph.registerTrustRank(spark, p, Seq(1L, 2L).toDF("id"))
    }
    val s = LinkGraph.tables(spark, p)
    assert(s.tables.size === 7, "out, in, deg, levels, labid, labrep, one trust set")
    checkLayout(s)
  }

  test("IdCensus: a capped census is created as described") {
    val p = tmp("sc-ids")
    uncoalesced(IdCensus.create(spark, p, spark.range(40).toDF("id"), rowsPerFile = 7L))
    checkLayout(IdCensus.store(p, 7L))
  }

  test("Web line census: clustered on line_hash, uncapped, no _stats") {
    val p = tmp("sc-lines")
    uncoalesced(Web.createLineCensus(
      docs.select($"id", regexp_replace($"text", " ", "\n").as("text")), "id", "text", p))
    val s = Web.lineCensusTables(p)
    assert(!s.tables.head.stats)
    checkLayout(s)
  }
}
