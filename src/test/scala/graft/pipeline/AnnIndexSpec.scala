package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb = Tables.load(spark, TestSpark.sf, "embeddings").cache()

  test("Ivf/Pq model round-trip is bit-exact: identical assignments, codes, ADC ranks") {
    val dir = Files.createTempDirectory("graft-ann-models").toString
    val ivf = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val pq = Pq.train(emb, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
    Ivf.save(ivf, spark, s"$dir/ivf")
    Pq.save(pq, spark, s"$dir/pq")
    val ivf2 = Ivf.load(spark, s"$dir/ivf")
    val pq2 = Pq.load(spark, s"$dir/pq")
    // models compare exactly (parquet doubles are lossless)
    assert(ivf.centroids.map(_.toSeq).toSeq == ivf2.centroids.map(_.toSeq).toSeq)
    assert(pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // every downstream artifact matches bit-for-bit
    def assignments(m: Ivf.Model) = emb
      .select(col("vec_id"), Ivf.assignment(col("embedding"), m).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assignments(ivf) == assignments(ivf2))
    def codes(m: Pq.Model) = emb
      .select(col("vec_id"), Pq.encode(col("embedding"), m).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(pq) == codes(pq2))
    val corpusCodes = emb.select(col("vec_id"),
      Pq.encode(col("embedding"), pq).as("codes"))
    def ranks(m: Pq.Model) = Pq.adcTopK(
        emb.filter(col("vec_id") < 5), corpusCodes,
        "vec_id", "embedding", "codes", m, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ranks(pq) == ranks(pq2))
  }

  test("load rejects torn model directories") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ann-torn").toString
    // non-contiguous centroid ids
    Seq((0, Seq(1.0, 2.0)), (2, Seq(3.0, 4.0)))
      .toDF("centroid_id", "centroid").write.parquet(s"$dir/ivf")
    assert(intercept[IllegalArgumentException](
      Ivf.load(spark, s"$dir/ivf")).getMessage.contains("contiguous"))
    // a hole in the (subspace, centroid) grid
    Seq((0, 0, Seq(1.0)), (0, 1, Seq(2.0)), (1, 0, Seq(3.0)))
      .toDF("subspace", "centroid_id", "centroid").write.parquet(s"$dir/pq")
    assert(intercept[IllegalArgumentException](
      Pq.load(spark, s"$dir/pq")).getMessage.contains("grid"))
  }

  test("persisted index: build, reopen in a 'new session', search — and append incrementally") {
    val root = Files.createTempDirectory("graft-ann-index").toString + "/idx"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val rest = emb.filter(col("vec_id") % 10 === 0)
    val built = AnnIndex.build(base, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    // reopen from disk only — nothing shared with `built` but the path
    val reopened = AnnIndex.open(spark, root)
    assert(reopened.ivf.centroids.map(_.toSeq).toSeq ==
      built.ivf.centroids.map(_.toSeq).toSeq)
    val queries = emb.filter(col("vec_id") < 5)
    def run(h: AnnIndex.Handle) =
      AnnIndex.search(h, queries, "vec_id", "embedding", k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(built) == run(reopened))
    // the index frame carries codes, not vectors
    val idxSchema = spark.read.parquet(s"$root/index").schema
    assert(idxSchema.fieldNames.sorted.toSeq == Seq("bucket", "codes", "neighbor_id"))
    // incremental append: new rows become searchable without retraining
    val before = spark.read.parquet(s"$root/index").count()
    AnnIndex.append(reopened, rest, "vec_id", "embedding")
    val after = spark.read.parquet(s"$root/index").count()
    assert(after == before + rest.count())
    // the appended rows are genuinely searchable: querying BY the
    // appended vectors returns a best neighbor for each (self excluded)
    val probeQs = rest.limit(3)
    val hits = AnnIndex.search(reopened, probeQs, "vec_id", "embedding",
        k = 1, nProbe = 8)
      .collect()
    val qIds = probeQs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.map(_.getLong(0)).toSet == qIds, "every appended query answered")
    assert(hits.forall(r => r.getInt(1) == 1 && r.getLong(0) != r.getLong(2)))
  }

  test("searchPruned ≡ search at every cap; granularity bounds build/append/fold file sizes") {
    val root = Files.createTempDirectory("graft-ann-pruned").toString + "/idx"
    // 64 rows/file: the index must shard — and stay sharded through
    // append and the recluster fold (the write that regrew the graph
    // store's probe bytes before its granularity policy)
    val h = AnnIndex.build(emb.filter(col("vec_id") % 7 =!= 0), "vec_id",
      "embedding", root, kIvf = 8, m = 16, ksub = 16, iters = 2,
      rowsPerFile = 64L)
    assert(AnnIndex.rowsPerFileOf(spark, root) === 64L)
    def maxFileRows(): Long = graft.sources.ParquetSource
      .listParquetFiles(s"$root/index", spark.sparkContext.hadoopConfiguration)
      .map(f => spark.read.parquet(f).count()).max
    assert(maxFileRows() <= 64L)
    val queries = emb.filter(col("vec_id") < 7)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = norm(AnnIndex.search(h, queries, "vec_id", "embedding",
      k = 5, nProbe = 3))
    // pruned point-read path: identical hits
    assert(norm(AnnIndex.searchPruned(h, queries, "vec_id", "embedding",
      k = 5, nProbe = 3)) === full)
    // over-cap batches fall back to the full-scan join — still identical
    assert(norm(AnnIndex.searchPruned(h, queries, "vec_id", "embedding",
      k = 5, nProbe = 3, cap = 1)) === full)
    // append and fold both preserve the pinned granularity, and the
    // pruned search still matches the full scan over the grown index
    AnnIndex.append(h, emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
    assert(maxFileRows() <= 64L)
    AnnIndex.recluster(spark, root)
    assert(maxFileRows() <= 64L)
    val grown = norm(AnnIndex.search(h, queries, "vec_id", "embedding",
      k = 5, nProbe = 3))
    assert(norm(AnnIndex.searchPruned(h, queries, "vec_id", "embedding",
      k = 5, nProbe = 3)) === grown)
  }

  test("searchRerank: exact squared-L2 order over the candidate set; total admission is brute force") {
    val root = Files.createTempDirectory("graft-ann-rerank").toString + "/idx"
    val h = AnnIndex.build(emb, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 8)
    val vecs: Map[Long, Array[Double]] = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    // all buckets probed + total kCand: output is exact brute-force L2
    val full = AnnIndex.searchRerank(h, queries, emb, "vec_id", "embedding",
        k = 5, nProbe = 8, kCand = vecs.size)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val exact = (0L until 8L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .map(n => (sq(vecs(q), vecs(n)), n)).sorted.take(5).map(_._2)
    }.toMap
    assert(full == exact)
    // pruned two-stage: every returned neighbor must be one of the ADC
    // stage's candidates, at its EXACT distance, in exact-ascending order
    val cands = AnnIndex.search(h, queries, "vec_id", "embedding", k = 20, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pruned = AnnIndex.searchRerank(h, queries, emb, "vec_id", "embedding",
      k = 5, nProbe = 2, kCand = 20).collect()
    pruned.foreach { r =>
      assert(cands.contains((r.getLong(0), r.getLong(2))), "hit outside candidate set")
      assert(math.abs(r.getDouble(3) - sq(vecs(r.getLong(0)), vecs(r.getLong(2)))) < 1e-9)
    }
    pruned.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.sameElements(byRank.sorted), "rerank order not exact-ascending")
    }
  }

  test("appendNew detects the delta; appended index searches identically to a same-model full encode") {
    val root = Files.createTempDirectory("graft-ann-delta").toString + "/idx"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    AnnIndex.build(base, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val h = AnnIndex.open(spark, root)
    // overlapping snapshot: base rows already indexed must NOT re-append
    val overlapping = emb // = base ∪ delta
    assert(AnnIndex.appendNew(h, overlapping, "vec_id", "embedding") == delta.count())
    assert(spark.read.parquet(s"$root/index").count() == emb.count())
    // idempotent: a second feed of the same snapshot appends nothing
    assert(AnnIndex.appendNew(h, overlapping, "vec_id", "embedding") == 0L)
    // rebuild equivalence: the appended index answers every query
    // exactly like encoding the FULL corpus with the same frozen models
    val queries = emb.filter(col("vec_id") < 5)
    val got = AnnIndex.search(h, queries, "vec_id", "embedding", k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fullIdx = emb.select(col("vec_id"),
      Ivf.assignment(col("embedding"), h.ivf).as("bucket"),
      Pq.encode(col("embedding"), h.pq).as("codes"))
    val expect = Pq.ivfAdcTopK(queries, fullIdx, "vec_id", "embedding",
        "codes", "bucket", h.ivf, h.pq, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("appendEpoch is replay-safe: half-published attempts retire, committed tags redo identically") {
    val root = Files.createTempDirectory("graft-ann-epoch").toString + "/idx"
    val base = emb.filter(col("vec_id") < 350)
    val delta = emb.filter(col("vec_id") >= 350)
    AnnIndex.build(base, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val h = AnnIndex.open(spark, root)
    def idCounts: Map[Long, Long] = {
      spark.catalog.refreshByPath(h.indexPath)
      spark.read.parquet(h.indexPath).groupBy("neighbor_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // crashed attempt: the tag half-published a WRONG subset (encoded
    // with the right models but only 3 rows) and died before commit
    val stage = s"$root/_stage/e7"
    delta.limit(3)
      .select(col("vec_id").as("neighbor_id"),
        Ivf.assignment(col("embedding"), h.ivf).as("bucket"),
        Pq.encode(col("embedding"), h.pq).as("codes"))
      .write.mode("overwrite").parquet(stage)
    graft.sources.EpochFiles.publish(spark, stage, h.indexPath, "e7")
    assert(idCounts.size > base.count().toInt) // polluted, as a crash leaves it
    // the replay retires the partial files and lands the FULL delta
    assert(AnnIndex.appendEpoch(h, delta, "vec_id", "embedding", "e7") == delta.count())
    val committed = idCounts
    assert(committed.size.toLong == emb.count() && committed.values.forall(_ == 1L),
      "every vector indexed exactly once after the retried epoch")
    // replaying the committed tag retires-and-redoes: the call reports
    // the full delta again, but the END STATE is identical — the no-op
    // short-circuit is the marker layer's job (StreamingAnn)
    assert(AnnIndex.appendEpoch(h, delta, "vec_id", "embedding", "e7") == delta.count())
    assert(idCounts == committed)
  }

  test("filtered search ranks among SURVIVORS; post-filtering under-fills k") {
    val root = Files.createTempDirectory("graft-ann-flt").toString + "/idx"
    AnnIndex.build(emb, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val h = AnnIndex.open(spark, root)
    val queries = emb.filter(col("vec_id") < 5)
    val evens = emb.select(col("vec_id").as("id")).filter(col("id") % 2 === 0)
    val got = AnnIndex.searchWhere(h, queries, "vec_id", "embedding",
        k = 10, nProbe = 8, allowed = evens, allowedIdCol = "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got.forall(_._3 % 2 == 0), "a filtered-out neighbor leaked")
    // identity: equals ranking over an index frame holding ONLY the
    // allowed rows, with the SAME models
    val prunedIdx = spark.read.parquet(h.indexPath)
      .filter(col("neighbor_id") % 2 === 0).withColumnRenamed("neighbor_id", "vec_id")
    val want = Pq.ivfAdcTopK(queries, prunedIdx, "vec_id", "embedding",
        "codes", "bucket", h.ivf, h.pq, k = 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
    // post-filter is the WRONG program: restrict to a 3-id universe —
    // filtered search fills 3 hits per query, while filtering an
    // unrestricted top-10 keeps whatever evens happened to rank
    val tiny = emb.select(col("vec_id").as("id")).filter(col("id").isin(100L, 200L, 300L))
    val filled = AnnIndex.searchWhere(h, queries, "vec_id", "embedding",
        k = 10, nProbe = 8, allowed = tiny, allowedIdCol = "id")
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(filled.nonEmpty && filled.forall(_ == 3L),
      "every query must rank all 3 survivors")
    val postFiltered = AnnIndex.search(h, queries, "vec_id", "embedding",
        k = 10, nProbe = 8)
      .filter(col("neighbor_id").isin(100L, 200L, 300L)).count()
    assert(postFiltered < 3L * queries.count(),
      "if post-filtering filled k the comparison would prove nothing")
  }

  test("filtered search ≡ pre-filtered index for random allowed sets (property sweep)") {
    val root = Files.createTempDirectory("graft-ann-fltp").toString + "/idx"
    AnnIndex.build(emb, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val h = AnnIndex.open(spark, root)
    val queries = emb.filter(col("vec_id") < 4)
    // deterministic pseudo-random allowed sets of varying selectivity
    for ((mod, res) <- Seq((3L, 0L), (7L, 2L), (2L, 1L), (13L, 5L))) {
      val allowed = emb.select(col("vec_id").as("id"))
        .filter(pmod(col("id"), lit(mod)) === res)
      val got = AnnIndex.searchWhere(h, queries, "vec_id", "embedding",
          k = 8, nProbe = 8, allowed = allowed, allowedIdCol = "id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val prunedIdx = spark.read.parquet(h.indexPath)
        .filter(pmod(col("neighbor_id"), lit(mod)) === res)
        .withColumnRenamed("neighbor_id", "vec_id")
      val want = Pq.ivfAdcTopK(queries, prunedIdx, "vec_id", "embedding",
          "codes", "bucket", h.ivf, h.pq, k = 8, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == want, s"mismatch for allowed = ids ≡ $res (mod $mod)")
      assert(got.forall(t => t._3 % mod == res), s"leak for mod $mod")
    }
  }

  test("versioned retrain: pinned handles survive a republish; vacuum retires old versions") {
    val root = Files.createTempDirectory("graft-ann-ver").toString + "/idx"
    val (v1, h1) = AnnIndex.buildVersioned(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", root, kIvf = 8, m = 16, ksub = 16, iters = 2)
    assert(v1 == 1L)
    val queries = emb.filter(col("vec_id") < 5)
    def hits(h: AnnIndex.Handle) =
      AnnIndex.search(h, queries, "vec_id", "embedding", k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pre = hits(h1)
    // retrain over the grown corpus publishes v2; h1 is PINNED to v1
    val (v2, h2) = AnnIndex.buildVersioned(emb, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    assert(v2 == 2L)
    assert(hits(h1) == pre, "a pinned handle must not see the retrain")
    // latest serves the full corpus; v1 time-travels to the old one
    def ids(h: AnnIndex.Handle) = {
      spark.catalog.refreshByPath(h.indexPath)
      spark.read.parquet(h.indexPath).count()
    }
    assert(ids(AnnIndex.openLatest(spark, root)) == emb.count())
    assert(ids(AnnIndex.openVersion(spark, root, 1L)) == 400L)
    assert(hits(h2) == hits(AnnIndex.openLatest(spark, root)))
    // vacuum retires v1; the pointer still serves v2
    assert(graft.sources.Versioned.vacuum(spark, root, keep = 1) == Seq(1L))
    assert(ids(AnnIndex.openLatest(spark, root)) == emb.count())
    intercept[Exception](ids(AnnIndex.openVersion(spark, root, 1L)))
  }

  test("forget removes vectors from every search; a reappearing id re-admits") {
    val root = Files.createTempDirectory("graft-ann-forget").toString + "/idx"
    AnnIndex.build(emb, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val h = AnnIndex.open(spark, root)
    val gone = (450L until 500L).map(x => x: Any)
    val r = AnnIndex.forget(spark, root, gone)
    assert(r.rowsDeleted == 50L)
    spark.catalog.refreshByPath(h.indexPath)
    val left = spark.read.parquet(h.indexPath).select("neighbor_id")
      .collect().map(_.getLong(0)).sorted
    assert(left.toSeq == (0L until 450L), "exactly the forgotten ids gone")
    // no search can ever return a forgotten neighbor — saturate with
    // every vector as a query, all buckets probed
    val hits = AnnIndex.search(h, emb, "vec_id", "embedding", k = 10, nProbe = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits.forall(_ < 450L), "forgotten ids leaked into search results")
    // the id legitimately reappears: the delta anti-join re-admits it
    assert(AnnIndex.appendNew(h, emb.filter(col("vec_id") >= 450),
      "vec_id", "embedding") == 50L)
    spark.catalog.refreshByPath(h.indexPath)
    assert(spark.read.parquet(h.indexPath).count() == emb.count())
  }

  test("forget pair-deletes through the census: other buckets' files stay byte-identical") {
    val root = Files.createTempDirectory("graft-ann-fpair").toString + "/idx"
    AnnIndex.build(emb, "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    // the census carries each indexed id's bucket
    val census = spark.read.parquet(
      graft.sources.IdCensus.rowsDir(root))
    assert(census.columns.toSet == Set("id", "bucket"))
    assert(census.count() == emb.count())
    // test-scale builds AQE-coalesce into one file, which would make
    // the untouched-files assertion vacuous — force the many-file
    // layout a real index has (explicit partition count pins the
    // shuffle) and rebuild the bucket stats the pair-delete prunes by
    graft.streaming.SwapStore.swapWrite(
      spark.read.parquet(s"$root/index")
        .repartitionByRange(8, col("bucket")).sortWithinPartitions("bucket"),
      s"$root/index")
    graft.sources.FileStatsIndex.buildAndSave(spark, s"$root/index", Seq("bucket"))
    spark.catalog.refreshByPath(s"$root/index")
    // victims: every id of ONE bucket — only files holding that bucket
    // may be rewritten, the rest must keep their exact paths and mtimes
    val victimBucket = census.groupBy("bucket").count()
      .orderBy(col("count"), col("bucket")).first().getInt(0)
    val victims = census.filter(col("bucket") === victimBucket)
      .select("id").collect().map(_.getLong(0): Any).toSeq
    def files(): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(s"$root/index")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.sources.ParquetSource.listParquetFiles(s"$root/index",
          spark.sparkContext.hadoopConfiguration)
        .map(f => f -> fs.getFileStatus(
          new org.apache.hadoop.fs.Path(f)).getModificationTime).toMap
    }
    val before = files()
    val r = AnnIndex.forget(spark, root, victims)
    assert(r.rowsDeleted == victims.size.toLong)
    val after = files()
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty, "pair-delete rewrote every file — no pruning")
    untouched.foreach(f => assert(before(f) == after(f)))
    assert(r.filesUntouched == untouched.size)
    // exactly the victims gone; the census agrees
    val left = spark.read.parquet(s"$root/index").select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !left.contains(v.asInstanceOf[Long])))
    assert(left.size.toLong == emb.count() - victims.size)
    val censusAfter = spark.read.parquet(graft.sources.IdCensus.rowsDir(root))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(censusAfter == left)
  }

  test("compact + recluster: row-identical, searches unchanged, bucket ranges disjoint") {
    val root = Files.createTempDirectory("graft-ann-rc").toString + "/idx"
    AnnIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding", root,
      kIvf = 8, m = 16, ksub = 16, iters = 2)
    val h = AnnIndex.open(spark, root)
    // several small epochs: each clustered within itself, so the
    // TABLE's bucket ranges overlap across files
    (0 until 4).foreach { i =>
      AnnIndex.appendEpoch(h,
        emb.filter(col("vec_id") >= 300 + i * 50 && col("vec_id") < 350 + i * 50),
        "vec_id", "embedding", s"e$i")
    }
    val queries = emb.filter(col("vec_id") < 5)
    def results = AnnIndex.search(h, queries, "vec_id", "embedding", k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pre = results
    AnnIndex.compact(spark, root, targetBytes = 1L << 30)
    spark.catalog.refreshByPath(h.indexPath)
    AnnIndex.recluster(spark, root)
    spark.catalog.refreshByPath(h.indexPath)
    assert(spark.read.parquet(h.indexPath).count() == emb.count())
    // per-file bucket ranges disjoint — the property the search's
    // row-group/file skipping needs
    val ranges = graft.sources.ParquetSource.listParquetFiles(
        h.indexPath, spark.sparkContext.hadoopConfiguration)
      .flatMap { f =>
        val bs = spark.read.parquet(f).select("bucket")
          .collect().map(_.getInt(0))
        if (bs.isEmpty) None else Some((bs.min, bs.max))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA <= loB, s"overlapping bucket ranges after recluster: $ranges")
      case _ => ()
    }
    assert(results == pre, "maintenance must not change any search result")
  }

  test("auto-compact: epochs past the threshold fold the frame; search invariant; replay no-ops") {
    val root = Files.createTempDirectory("graft-ann-ac").toString + "/idx"
    val h = AnnIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      root, kIvf = 8, m = 16, ksub = 16, iters = 2)
    graft.sources.AutoCompact.setPolicy(spark, root, 2)
    assert(AnnIndex.appendEpoch(h,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 350),
      "vec_id", "embedding", "ac1") === 50L)
    assert(AnnIndex.appendEpoch(h,
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 400),
      "vec_id", "embedding", "ac2") === 50L)
    val queries = emb.filter(col("vec_id") < 5)
    def results = AnnIndex.search(h, queries, "vec_id", "embedding", k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = results
    // the folds ran automatically: no per-tag names remain
    val fs = new org.apache.hadoop.fs.Path(h.indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(h.indexPath))
      .exists(st => st.getPath.getName.startsWith("part-ac1__") ||
        st.getPath.getName.startsWith("part-ac2__")))
    // replaying a folded tag is a clean no-op (the folded census still
    // knows every id), and searches are untouched
    assert(AnnIndex.appendEpoch(h,
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 400),
      "vec_id", "embedding", "ac2") === 0L)
    assert(spark.read.parquet(h.indexPath).count() === 400L)
    assert(results == got)
  }

  test("minor fold: base files survive by name; only the override tier folds; census follows") {
    val root = Files.createTempDirectory("graft-ann-minor").toString + "/idx"
    val h = AnnIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      root, kIvf = 8, m = 16, ksub = 16, iters = 2)
    val conf = spark.sparkContext.hadoopConfiguration
    def names(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(conf).listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    val baseIdx = names(h.indexPath)
    val baseCen = names(graft.sources.IdCensus.rowsDir(root))
    graft.sources.AutoCompact.setPolicy(spark, root, 1)
    assert(AnnIndex.appendEpoch(h,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 350),
      "vec_id", "embedding", "mf1") === 50L)
    // the fold ran (no tagged names anywhere) and it was MINOR: every
    // base file survives untouched BY NAME — fold I/O was the override
    // tier alone, never the store
    val idxNow = names(h.indexPath)
    val cenNow = names(graft.sources.IdCensus.rowsDir(root))
    assert(baseIdx.subsetOf(idxNow), "a minor fold rewrote base index files")
    assert(baseCen.subsetOf(cenNow), "a minor fold rewrote base census files")
    assert(!idxNow.exists(_.startsWith("part-mf1__")))
    assert(!cenNow.exists(_.startsWith("part-mf1__")))
    assert(spark.read.parquet(h.indexPath).count() === 350L)
    // replaying the folded tag is still a clean no-op
    assert(AnnIndex.appendEpoch(h,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 350),
      "vec_id", "embedding", "mf1") === 0L)
    assert(spark.read.parquet(h.indexPath).count() === 350L)
  }

  test("mixed-schema census forget: pre-bucket rows route to the scan, nothing survives") {
    val root = Files.createTempDirectory("graft-ann-mixed").toString + "/idx"
    val h = AnnIndex.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      root, kIvf = 4, m = 16, ksub = 16, iters = 2)
    // strip the bucket payload in place — the pre-bucket census layout
    // an old store carries into the upgrade
    val rows = graft.sources.IdCensus.rowsDir(root)
    graft.streaming.SwapStore.swapWrite(
      spark.read.parquet(rows).drop("bucket")
        .repartitionByRange(col("id")).sortWithinPartitions(col("id")),
      rows)
    graft.sources.FileStatsIndex.buildAndSave(spark, rows, Seq("id"))
    spark.catalog.refreshByPath(rows)
    // a bucket-bearing epoch lands on top: MIXED census directory
    AnnIndex.appendEpoch(h,
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 420),
      "vec_id", "embedding", "mx1")
    // one PRE-BUCKET id (bucket null under the union schema — must
    // route to the id-scan, not trip deletePairs' null require or
    // silently drop) and one bucket-bearing id (pair path) together
    AnnIndex.forget(spark, root, Seq(1L, 401L))
    val idx = spark.read.parquet(s"$root/index")
    assert(idx.filter(col("neighbor_id").isin(1L, 401L)).count() === 0L,
      "a forgotten vector survived the mixed-schema forget")
    assert(idx.filter(col("neighbor_id") === 2L).count() === 1L)
    assert(spark.read.option("mergeSchema", "true").parquet(rows)
      .filter(col("id").isin(1L, 401L)).count() === 0L)
    // the forgotten ids re-admit through the delta check
    assert(AnnIndex.appendEpoch(h, emb.filter(col("vec_id") === 1L),
      "vec_id", "embedding", "mx2") === 1L)
  }

  test("tuneNProbe: measured recall curve and candidate-row costs on a crafted corpus") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-tune").toString + "/idx"
    // two DIRECTION-separated clusters (IVF trains on cosine): A along
    // +x — (8,0) (8,1) (9,0) (9,1) — and B along +y at staggered radii
    // (0,8) (0,16) (0,24) (0,32). Query (8,0): true squared-L2 top-4 is
    // the other three A points (d = 1, 1, 2) plus (0,8) (d = 128, the
    // next B is 320 — gaps far beyond any quantization error). One
    // probe reaches only A → recall 3/4; both probes → 4/4. Costs are
    // the probed buckets' row counts: 4, then 8.
    val pts = Seq(
      0L -> Array(8f, 0f), 1L -> Array(8f, 1f), 2L -> Array(9f, 0f),
      3L -> Array(9f, 1f), 4L -> Array(0f, 8f), 5L -> Array(0f, 16f),
      6L -> Array(0f, 24f), 7L -> Array(0f, 32f))
    val corpus = pts.toDF("id", "vec")
    val h = AnnIndex.build(corpus, "id", "vec", root,
      kIvf = 2, m = 2, ksub = 4, iters = 4)
    // precondition: training separated the clusters 4/4 (else the
    // recall arithmetic below would pin the wrong thing)
    val buckets = spark.read.parquet(s"$root/index")
      .groupBy("bucket").count().collect().map(_.getLong(1)).sorted.toSeq
    assert(buckets === Seq(4L, 4L), s"expected a 4/4 split, got $buckets")
    val table = AnnIndex.tuneNProbe(h, corpus.filter(col("id") === 0L), corpus,
        "id", "vec", k = 4, nProbes = Seq(2, 1))
      .orderBy("n_probe").collect()
    assert(table.length === 2)
    assert(table(0).getInt(0) === 1 && table(0).getDouble(1) === 0.75 &&
      table(0).getLong(2) === 1L && table(0).getLong(3) === 4L)
    assert(table(1).getInt(0) === 2 && table(1).getDouble(1) === 1.0 &&
      table(1).getLong(3) === 8L)
  }

  test("applyTuning pins the operating point: no-nProbe search serves it, untuned fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ann-apply").toString + "/idx"
    val pts = Seq(
      0L -> Array(8f, 0f), 1L -> Array(8f, 1f), 2L -> Array(9f, 0f),
      3L -> Array(9f, 1f), 4L -> Array(0f, 8f), 5L -> Array(0f, 16f),
      6L -> Array(0f, 24f), 7L -> Array(0f, 32f))
    val corpus = pts.toDF("id", "vec")
    val h = AnnIndex.build(corpus, "id", "vec", root,
      kIvf = 2, m = 2, ksub = 4, iters = 4)
    val q = corpus.filter(col("id") === 0L)
    // untuned index: the serve-default overload must fail loudly, not
    // invent a probe width
    assert(intercept[IllegalArgumentException](
      AnnIndex.search(h, q, "id", "vec", k = 4)).getMessage
      .contains("no tuned operating point"))
    // pin the tuner's full-recall point; the pinned default must serve
    // exactly what the explicit nProbe serves, on a REOPENED handle
    // (the point travels with the index, not the session)
    AnnIndex.applyTuning(spark, root, nProbe = 2, kCand = Some(8))
    assert(AnnIndex.tunedNProbe(spark, root) === Some(2))
    assert(AnnIndex.tunedKCand(spark, root) === Some(8))
    // re-pinning preserves the granularity policy alongside
    assert(AnnIndex.rowsPerFileOf(spark, root) === AnnIndex.DefaultRowsPerFile)
    val reopened = AnnIndex.open(spark, root)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val explicit = norm(AnnIndex.search(h, q, "id", "vec", k = 4, nProbe = 2))
    assert(norm(AnnIndex.search(reopened, q, "id", "vec", k = 4)) === explicit)
    assert(norm(AnnIndex.searchPruned(reopened, q, "id", "vec", k = 4)) === explicit)
  }
}
