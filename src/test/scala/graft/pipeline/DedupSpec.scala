package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Oracle coverage for the hash-based dedup operators the DuckDB gate
  * can't check (engine-specific hashing): brute-force Jaccard is the
  * ground truth on the sf0.001 documents table.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs = Tables.load(spark, TestSpark.sf, "documents")
  private lazy val shingled = docs
    .select(col("doc_id"), Dedup.shingles("text", 1).as("sh"))
    .cache()

  /** Ground truth: exact unigram Jaccard >= 1/2 via local computation. */
  private lazy val truePairs: Set[(Long, Long)] = {
    val sets = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty).toSet)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size; union = (sa | sb).size
      if union > 0 && inter * 2 >= union
    } yield (ia, ib)).toSet
  }

  test("minhash LSH finds high-Jaccard pairs with good recall and exact verification") {
    val sig = shingled.withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
    val candidates = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
    val verified = Dedup.verifyJaccard(candidates, shingled, "doc_id", "sh", 1, 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification is exact => no false positives
    assert(verified.subsetOf(truePairs))
    // banded 16x4 at J=0.5: P(candidate) = 1-(1-0.5^4)^16 ≈ 0.65 per pair,
    // and most matching pairs here have J well above the threshold
    assert(truePairs.nonEmpty)
    val recall = verified.size.toDouble / truePairs.size
    assert(recall >= 0.6, s"recall $recall (${verified.size}/${truePairs.size})")
  }

  test("newAgainst: reference copies drop, in-batch dups keep min id, schema survives") {
    import spark.implicits._
    val reference = Seq((100L, "alpha text"), (101L, "beta text"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha text", "a"),   // exact copy of a reference doc -> dropped
      (2L, "gamma text", "b"),   // new
      (3L, "gamma text", "c"),   // in-batch duplicate -> dropped (id 2 kept)
      (4L, "delta text", "d"))   // new
      .toDF("doc_id", "text", "tag")
    val out = Dedup.newAgainst(batch, "text", "doc_id", reference, "text")
    assert(out.columns.toSeq == Seq("doc_id", "text", "tag"))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
    // empty reference: pure in-batch exact dedup
    val noRef = Dedup.newAgainst(batch, "text", "doc_id",
      reference.filter(col("doc_id") < 0), "text")
    assert(noRef.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // idempotent: running again over its own output changes nothing
    val again = Dedup.newAgainst(out, "text", "doc_id", reference, "text")
    assert(again.select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
  }

  test("exact groups: one representative per distinct text") {
    val groups = Dedup.exactGroups(docs, col("text"), "doc_id").collect()
    assert(groups.length == docs.select("text").distinct().count())
    assert(groups.forall(_.getLong(2) >= 1))
  }

  test("simhash is deterministic and close texts have small hamming distance") {
    val sigs = docs.limit(50).select(col("doc_id"), Dedup.simHashExpr("text").as("s"))
    val a = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    // identical text => identical simhash => hamming 0 pair detection works
    val dup = spark.createDataFrame(Seq((1L, "spark row table scan"), (2L, "spark row table scan"),
      (3L, "completely different words entirely"))).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simHashExpr("text").as("simhash"))
    // radii past the classic 4-chunk bound delegate to the shared
    // multi-index machinery with the same column contract
    val wide = Dedup.simHashPairs(dup, "doc_id", "simhash", maxHamming = 8)
    assert(wide.columns.toSeq == Seq("id_a", "id_b", "hamming"))
    val narrow3 = Dedup.simHashPairs(dup, "doc_id", "simhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide3 = wide.filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrow3 == wide3, "wide-radius arm disagrees with the classic arm at <= 3")
    val pairs = Dedup.simHashPairs(dup, "doc_id", "simhash", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("hammingTopK ranks by exact bit distance, local replica agrees") {
    val sigs = docs.limit(60)
      .select(col("doc_id"), Dedup.simHashExpr("text").as("sig")).cache()
    val local = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val queries = local.keys.filter(_ % 20 == 0).toSeq.sorted
    val expected = queries.map { q =>
      q -> local.keys.filter(_ != q).toSeq
        .map(n => (n, java.lang.Long.bitCount(local(q) ^ local(n)).toLong))
        .sortBy { case (n, h) => (h, n) }.take(3)
    }.toMap
    val got = Dedup.hammingTopK(
      sigs.filter(pmod(col("doc_id"), lit(20)) === 0), sigs, "doc_id", "sig", k = 3)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq).toMap
    queries.foreach(q => assert(got(q) == expected(q), s"query $q"))
    // a verbatim duplicate is always the rank-1 neighbor at distance 0
    val withDup = sigs.union(sigs.filter(col("doc_id") === local.keys.min)
      .select(lit(7777L).as("doc_id"), col("sig")))
    val top = Dedup.hammingTopK(withDup.filter(col("doc_id") === 7777L),
      withDup, "doc_id", "sig", k = 1).collect().head
    assert(top.getLong(2) == 0L && top.getLong(3) == 0L)
  }

  test("hammingTopKAuto flips route on query cardinality; both routes return identical rows") {
    val sigs = docs.limit(80)
      .select(col("doc_id"), Dedup.simHashExpr("text").as("sig")).cache()
    val fewQs = sigs.filter(pmod(col("doc_id"), lit(20)) === 0)
    // small query set → broadcast route: no banding explode in the plan,
    // a broadcast hint on the query side
    val small = Dedup.hammingTopKAuto(fewQs, sigs, "doc_id", "sig", k = 3)
    val smallPlan = small.queryExecution.analyzed.toString
    assert(!smallPlan.contains("posexplode"), "broadcast route must not band")
    assert(smallPlan.toLowerCase.contains("broadcast"))
    // corpus-sized query set → banded route: chunk explode present and
    // NO broadcast hint anywhere (nothing corpus-sized may broadcast)
    val big = Dedup.hammingTopKAuto(sigs, sigs, "doc_id", "sig", k = 3,
      broadcastMaxQueries = 10)
    val bigPlan = big.queryExecution.analyzed.toString
    assert(bigPlan.contains("posexplode"), "banded route must band")
    assert(!bigPlan.toLowerCase.contains("broadcast"),
      "banded route must not broadcast a corpus-sized frame")
    // the two routes agree exactly at the same radius: force both over
    // the SAME corpus-sized query set
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val viaBroadcast = Dedup.hammingTopKAuto(sigs, sigs, "doc_id", "sig", k = 3,
      broadcastMaxQueries = Long.MaxValue)
    assert(rows(big) == rows(viaBroadcast))
    // and the numQueries hint skips the counting job without changing the route
    val hinted = Dedup.hammingTopKAuto(sigs, sigs, "doc_id", "sig", k = 3,
      broadcastMaxQueries = 10, numQueries = Some(80L))
    assert(rows(hinted) == rows(big))
    // radius > 3 now routes through the shared multi-index probing
    // (5-band radius-1 layout at 8): both routes still row-identical,
    // and the only broadcast in the banded plan is the tiny mask frame
    val bigWide = Dedup.hammingTopKAuto(sigs, sigs, "doc_id", "sig", k = 5,
      maxHamming = 8, broadcastMaxQueries = 10, numQueries = Some(80L))
    val viaBroadcastWide = Dedup.hammingTopKAuto(sigs, sigs, "doc_id", "sig",
      k = 5, maxHamming = 8, broadcastMaxQueries = Long.MaxValue,
      numQueries = Some(80L))
    assert(rows(bigWide) == rows(viaBroadcastWide))
    assert(rows(bigWide).nonEmpty)
    intercept[IllegalArgumentException](
      Dedup.hammingTopKAuto(sigs, sigs, "doc_id", "sig", k = 3, maxHamming = 16))
  }

  test("lsh bucket clamp drops degenerate buckets") {
    // every doc identical => one giant bucket per band; cap of 3 kills them all
    val same = spark.createDataFrame((1L to 10L).map(i => (i, "same text here")))
      .toDF("doc_id", "text")
    val sig = same.select(col("doc_id"), Dedup.shingles("text", 1).as("sh"))
      .withColumn("sig", Dedup.minHashSignature(col("sh"), 16))
    val capped = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 4, rowsPerBand = 4,
      maxBucketSize = 3)
    assert(capped.count() == 0)
    val uncapped = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 4, rowsPerBand = 4)
    assert(uncapped.count() == 45) // all 10-choose-2 pairs
  }

  test("signature estimate tracks exact Jaccard within sampling error") {
    val sig = shingled.withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
    val candidates = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
    val est = Dedup.estimateJaccard(candidates.limit(200), sig, "doc_id", "sig")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2) / 64.0)).toMap
    val exact = Dedup.verifyJaccard(
      spark.createDataFrame(est.keys.toSeq).toDF("id_a", "id_b"),
      shingled, "doc_id", "sh", 0, 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getLong(2).toDouble / r.getLong(3))).toMap
    est.foreach { case (pair, e) =>
      assert(math.abs(e - exact(pair)) < 0.35, s"$pair est $e vs ${exact(pair)}")
    }
  }

  test("cluster representatives: every doc labelled with min reachable id") {
    // tiny graph with two components: {1,2,3} (chain) and {10, 11}
    val nodes = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L),
      Tuple1(10L), Tuple1(11L), Tuple1(99L))).toDF("doc_id")
    val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterRepresentatives(nodes, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("cluster representatives: chain far wider than the round budget converges (pointer jumping)") {
    // a 60-hop path needs 59 rounds of plain propagation; shortcutting
    // doubles reach per round, so 10 rounds (2^10 hops) must suffice
    val n = 60L
    val nodes = spark.createDataFrame((1L to n).map(Tuple1(_))).toDF("doc_id")
    val pairs = spark.createDataFrame((1L until n).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val got = Dedup.clusterRepresentatives(nodes, pairs, "doc_id", maxIters = 10,
        smallGraphThreshold = 0) // force the distributed path under test
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("cluster representatives: non-convergence throws instead of returning wrong labels") {
    // reach after 2 rounds is ~4 hops; a 40-hop chain cannot converge
    val nodes = spark.createDataFrame((1L to 40L).map(Tuple1(_))).toDF("doc_id")
    val pairs = spark.createDataFrame((1L until 40L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.clusterRepresentatives(nodes, pairs, "doc_id", maxIters = 2,
        smallGraphThreshold = 0).collect() // driver tier is exact; test the iterative path
    }
    assert(e.getMessage.contains("did NOT converge"))
  }

  test("cluster representatives: empty pair set short-circuits to identity labels") {
    val nodes = spark.createDataFrame(Seq(Tuple1(7L), Tuple1(8L))).toDF("doc_id")
    val pairs = spark.emptyDataFrame
      .select(lit(0L).as("id_a"), lit(0L).as("id_b")).filter(lit(false))
    val got = Dedup.clusterRepresentatives(nodes, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 8L -> 8L))
  }

  test("cluster representatives: driver union-find tier equals the distributed path (seeded sweep)") {
    import spark.implicits._
    val genGraph = for {
      nNodes <- org.scalacheck.Gen.choose(1, 25)
      nEdges <- org.scalacheck.Gen.choose(0, 30)
      edges <- org.scalacheck.Gen.listOfN(nEdges, for {
        a <- org.scalacheck.Gen.choose(0L, nNodes - 1L)
        b <- org.scalacheck.Gen.choose(0L, nNodes - 1L)
      } yield (a, b))
    } yield (nNodes, edges.filter(e => e._1 != e._2))
    val prop = org.scalacheck.Prop.forAll(genGraph) { case (nNodes, edges) =>
      val nodes = (0L until nNodes.toLong).map(Tuple1(_)).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      def run(threshold: Long) =
        Dedup.clusterRepresentatives(nodes, pairs, "doc_id", maxIters = 10,
            smallGraphThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      run(threshold = 1000000L) == run(threshold = 0L)
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status.toString)
  }

  test("cluster representatives: replayed 11- and 12-round graphs converge within 10 rounds") {
    import spark.implicits._
    // graphs of the seeded sweep's shape on which neighbour-only
    // propagation needed 11 (21 nodes) and 12 (24 nodes) rounds
    val graphs = Seq(
      21 -> Seq((16, 14), (1, 18), (3, 7), (6, 19), (1, 8), (14, 3), (6, 19), (13, 20),
        (4, 8), (5, 13), (19, 7), (18, 15), (13, 4), (0, 6), (14, 5), (13, 10), (6, 17)),
      24 -> Seq((7, 22), (12, 9), (4, 3), (11, 8), (23, 22), (15, 3), (20, 21), (0, 6),
        (3, 11), (16, 12), (10, 15), (21, 16), (18, 7), (11, 17), (6, 20), (18, 14),
        (18, 10), (9, 7), (17, 2), (0, 5), (10, 15), (7, 4), (18, 14), (8, 4), (19, 18),
        (8, 23)))
    graphs.foreach { case (nNodes, edges) =>
      val nodes = (0L until nNodes.toLong).map(Tuple1(_)).toDF("doc_id")
      val pairs = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("id_a", "id_b")
      def run(threshold: Long) =
        Dedup.clusterRepresentatives(nodes, pairs, "doc_id", maxIters = 10,
            smallGraphThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(run(threshold = 0L) == run(threshold = 1000000L), s"$nNodes nodes")
    }
  }

  test("reliable-checkpoint mode yields identical labels on the distributed path") {
    // spark.graft.checkpoint.dir flips every iterative-tier checkpoint
    // from executor-local to reliable checkpoint(dir) — the 100-TB
    // executor-loss escape hatch. Same plans, same labels.
    val nodes = spark.createDataFrame((1L to 30L).map(Tuple1(_))).toDF("doc_id")
    val pairs = spark.createDataFrame(
      (1L until 20L).map(i => (i, i + 1)) ++ Seq((25L, 26L))).toDF("id_a", "id_b")
    def run() = Dedup.clusterRepresentatives(nodes, pairs, "doc_id",
        maxIters = 10, smallGraphThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString
    spark.conf.set(graft.Checkpoints.DirKey, dir)
    try {
      val reliable = run()
      assert(reliable == local)
      // the checkpoints really went to the reliable dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no reliable checkpoint files under $dir")
    } finally spark.conf.unset(graft.Checkpoints.DirKey)
    // and back to local mode after unset
    assert(run() == local)
  }

  test("weighted candidates: matching_bands is a usable coarse estimate") {
    val sig = shingled.withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
    val weighted = Dedup.lshCandidatesWeighted(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // same pair set as the distinct() form
    val plain = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(weighted.keySet == plain)
    // high-J pairs (J >= 0.9 exact) almost all pass matching_bands >= 6
    val exact09 = {
      val sets = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty).toSet)
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size; union = (sa | sb).size
        if union > 0 && inter * 10 >= union * 9
      } yield (ia, ib)).toSet
    }
    if (exact09.nonEmpty) {
      val recalled = exact09.count(p => weighted.get(p).exists(_ >= 6))
      assert(recalled.toDouble / exact09.size >= 0.9,
        s"band-count prefilter recall $recalled/${exact09.size}")
    }
  }

  test("star edges connect every bucket member to its bucket minimum") {
    val sig = shingled.withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
    val stars = Dedup.lshStarEdges(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stars.nonEmpty)
    assert(stars.forall { case (a, b) => a < b }) // center is the bucket min
    // star-edge count is linear-ish: bounded by docs x bands
    assert(stars.length <= 500 * 16)
    // connectivity sanity: full pair candidates and star edges produce the
    // same connected components over the same buckets
    val pairCands = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val cStar = components(stars.toSeq)
    val cPair = components(pairCands.toSeq)
    val starGroups = cStar.groupBy(_._2).values.map(_.keys.toSet).toSet
    val pairGroups = cPair.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(starGroups == pairGroups)
  }

  test("decontaminate flags only corpus docs sharing an n-gram with the reference") {
    val corpus = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox" trigram
      (2L, "totally unrelated text here"),
      (3L, "a quick brown fox appears"))). // shares the same trigram
      toDF("doc_id", "text")
    val reference = spark.createDataFrame(Seq(
      (100L, "benchmark says quick brown fox answer"))).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, reference, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L) == 1L && got(3L) == 1L) // exactly the one shared trigram
  }

  test("word shingles: n=2 produces bigrams") {
    val df = spark.createDataFrame(Seq((1L, "a b c"))).toDF("doc_id", "text")
    val sh = df.select(Dedup.shingles("text", 2).as("sh"))
      .collect().head.getSeq[String](0).toSet
    assert(sh == Set("a b", "b c"))
  }

  test("star edges by slice: identical docs connect to the min id, one edge each") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (5L, "alpha beta gamma delta epsilon"),   // dup of 1
      (9L, "alpha beta gamma delta epsilon"),   // dup of 1
      (3L, "totally different words entirely here"))).toDF("doc_id", "text")
    val signed = df.select(col("doc_id"),
      Dedup.minHashSignaturePortable(Dedup.shingles("text", 1), 16).as("sig"))
    val edges = Dedup.starEdgesBySlice(signed, "doc_id", "sig", 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical signatures share every band slice: 5 and 9 each edge to 1
    assert(edges.contains((1L, 5L)) && edges.contains((1L, 9L)))
    assert(!edges.exists { case (a, b) => a == 3L || b == 3L })
    // O(n) shape: per bucket it is (member -> min), never all pairs
    assert(!edges.contains((5L, 9L)))
  }

  test("bloom-prefiltered decontamination equals the exact form") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, graft.TestSpark.sf, "documents")
    val (corpus, ref) =
      (docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(Dedup.decontaminate(corpus, ref, "doc_id", "text", 5))
    // generously sized filter
    assert(asMap(Dedup.decontaminateBloom(
      corpus, ref, "doc_id", "text", 5, expectedGrams = 1000000L)) == exact)
    // pathologically undersized filter (high fpp): MORE candidates reach
    // the verify join, result must be unchanged — fpp costs throughput,
    // never correctness
    assert(asMap(Dedup.decontaminateBloom(
      corpus, ref, "doc_id", "text", 5, expectedGrams = 10L, fpp = 0.5)) == exact)
  }

  test("bloom decontamination with an empty reference flags nothing") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, graft.TestSpark.sf, "documents")
    val out = Dedup.decontaminateBloom(
      docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") < 0),
      "doc_id", "text", 5, expectedGrams = 100L)
    assert(out.count() == 0)
  }

  test("spanDedup removes cross-document boilerplate, preserves order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "the same footer" appears in 3 documents; minDocs=3 drops it.
    // doc 4 repeats a span of its OWN 3 times — count(DISTINCT doc)
    // must not self-censor it. doc 5 is nothing but boilerplate.
    val docs = Seq(
      (1L, "alpha beta gamma the same footer"),
      (2L, "delta echo foxtrot the same footer"),
      (3L, "golf hotel india the same footer juliet kilo lima"),
      (4L, "my own phrase my own phrase my own phrase"),
      (5L, "the same footer")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text", spanTokens = 3, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("alpha beta gamma", 2L, 1L)))
    assert(got(2L) == (("delta echo foxtrot", 2L, 1L)))
    // surviving spans reassemble in original order around the hole
    assert(got(3L) == (("golf hotel india juliet kilo lima", 3L, 1L)))
    assert(got(4L) == (("my own phrase my own phrase my own phrase", 3L, 0L)))
    assert(got(5L) == (("", 1L, 1L)), "fully-boilerplate doc keeps a row")
    assert(got.size == 5)
  }

  test("spanDedup keepFirst keeps exactly the smallest (doc, position) copy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma the same footer"),
      (2L, "delta echo foxtrot the same footer"),
      (3L, "golf hotel india the same footer juliet kilo lima"),
      (5L, "the same footer"),
      (4L, "unrelated words here")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text",
        spanTokens = 3, minDocs = 3, keepFirst = true)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    // doc 1 holds the first occurrence (span_idx 1) and keeps it whole
    assert(got(1L) == (("alpha beta gamma the same footer", 0L)))
    assert(got(2L) == (("delta echo foxtrot", 1L)))
    assert(got(3L) == (("golf hotel india juliet kilo lima", 1L)))
    assert(got(5L) == (("", 1L)))
    assert(got(4L) == (("unrelated words here", 0L)))
  }

  test("spanDedup reassembly invariants hold under a generated corpus (seeded sweep)") {
    import spark.implicits._
    // small vocabulary + short docs force heavy span collisions
    val genDoc = for {
      n <- org.scalacheck.Gen.choose(0, 12)
      ws <- org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.oneOf("a", "b", "c"))
    } yield ws.mkString(" ")
    val genCorpus = org.scalacheck.Gen.listOfN(8, genDoc)
    val prop = org.scalacheck.Prop.forAll(genCorpus) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val spanTokens = 2
      Seq(false, true).forall { kf =>
        val rows = Dedup.spanDedup(df, "doc_id", "text", spanTokens,
            minDocs = 2, keepFirst = kf)
          .collect().map(r => r.getLong(0) ->
            (r.getString(1), r.getLong(2), r.getLong(3))).toMap
        // local replay of the same rule
        def spansOf(t: String): Vector[String] = {
          val toks = t.trim.split("\\s+").filter(_.nonEmpty).toVector
          val n = math.max(1, (toks.size + spanTokens - 1) / spanTokens)
          (0 until n).toVector.map(i =>
            toks.slice(i * spanTokens, i * spanTokens + spanTokens).mkString(" "))
        }
        val all = texts.zipWithIndex.flatMap { case (t, d) =>
          spansOf(t).zipWithIndex.map { case (s, i) => (d.toLong, i, s) }
        }
        val boiler = all.groupBy(_._3)
          .filter(_._2.map(_._1).distinct.size >= 2).keySet
        rows.size == texts.size && texts.zipWithIndex.forall { case (t, d) =>
          val sp = spansOf(t)
          val keptLocal = sp.zipWithIndex.filter { case (s, i) =>
            !boiler(s) || (kf && all.filter(_._3 == s)
              .minBy(x => (x._1, x._2)) == ((d.toLong, i, s)))
          }.map(_._1)
          val (clean, nSpans, nRemoved) = rows(d.toLong)
          clean == keptLocal.mkString(" ") &&
            nSpans == sp.size.toLong &&
            nRemoved == (sp.size - keptLocal.size).toLong
        }
      }
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, result.status.toString)
  }

  test("spanDedup rejects input columns colliding with reserved names") {
    import spark.implicits._
    val bad = Seq((1L, "a b", "x")).toDF("doc_id", "text", "span")
    val e = intercept[IllegalArgumentException](
      Dedup.spanDedup(bad, "doc_id", "text", 2, 2))
    assert(e.getMessage.contains("span"))
  }

  test("spanDedup is a no-op below the document threshold") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text", spanTokens = 2, minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(got(1L) == (("a b c d", 0L)) && got(2L) == (("a b c d", 0L)))
    intercept[IllegalArgumentException](
      Dedup.spanDedup(docs, "doc_id", "text", 0, 3))
    intercept[IllegalArgumentException](
      Dedup.spanDedup(docs, "doc_id", "text", 3, 1))
  }

  test("portable minhash signature is a deterministic length-H array") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq((1L, "x y z"))).toDF("doc_id", "text")
    val sig1 = df.select(Dedup.minHashSignaturePortable(
      Dedup.shingles("text", 1), 16).as("s")).collect().head.getSeq[Long](0)
    val sig2 = df.select(Dedup.minHashSignaturePortable(
      Dedup.shingles("text", 1), 16).as("s")).collect().head.getSeq[Long](0)
    assert(sig1 == sig2 && sig1.length == 16)
    assert(sig1.forall(v => v >= 0 && v < 2147483647L))
  }

  test("gramCandidates + editVerify: crafted overlap and distances") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 x8"), // shares 5 of 6 3-grams with doc 1
      (3L, "a b c")                    // disjoint
    ).toDF("doc_id", "text")
    val cands = Dedup.gramCandidates(df, "doc_id", "text", k = 3,
        minShared = 5L, hashGrams = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cands.toSeq == Seq((1L, 2L, 5L)))
    assert(Dedup.gramCandidates(df, "doc_id", "text", k = 3, minShared = 6L,
      hashGrams = false).count() == 0L)
    // verify tier: "w8" -> "x8" is one substitution
    val pairs = cands.map(c => (c._1, c._2)).toSeq.toDF("id_a", "id_b")
    val v1 = Dedup.editVerify(pairs, df, "doc_id", "text", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(v1.toSeq == Seq((1L, 2L, 1L)))
    // below the bound the threshold form drops the pair entirely
    assert(Dedup.editVerify(pairs, df, "doc_id", "text", maxDist = 0)
      .count() == 0L)
    // a far-apart pair fed directly is filtered, not mis-scored
    val far = Seq((1L, 3L)).toDF("id_a", "id_b")
    assert(Dedup.editVerify(far, df, "doc_id", "text", maxDist = 6)
      .count() == 0L)
  }

  test("BandIndex: persisted probe equals whole-corpus candidates; append advances") {
    val sig = shingled.withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
      .localCheckpoint()
    val ids = sig.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    val corpus = sig.filter(col("doc_id") < cut)
    val batch = sig.filter(col("doc_id") >= cut)
    val ix = java.nio.file.Files.createTempDirectory("graft-bandix")
      .resolve("ix").toString
    Dedup.BandIndex.write(corpus, "doc_id", "sig", bands = 16, rowsPerBand = 4, path = ix)
    assert(Dedup.BandIndex.layout(spark, ix) == ((16, 4)))
    // probe pairs == the cross subset of whole-corpus LSH candidates
    val probed = Dedup.BandIndex.probe(batch, "doc_id", "sig", ix)
      .select("id_corpus", "id_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 < cut && p._2 >= cut).toSet
    assert(probed == whole && probed.nonEmpty)
    // append the batch: a re-probe of the batch now also collides with
    // ITS OWN rows admitted to the index (minus self-matches)
    Dedup.BandIndex.append(batch, "doc_id", "sig", ix)
    val after = Dedup.BandIndex.probe(batch, "doc_id", "sig", ix)
      .select("id_corpus", "id_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wholeBoth = Dedup.lshCandidates(sig, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .collect().flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .filter(p => p._2 >= cut).toSet
    assert(after == wholeBoth)
    // a directory without the sidecar is refused, not mis-probed
    intercept[IllegalArgumentException](
      Dedup.BandIndex.probe(batch, "doc_id", "sig",
        java.nio.file.Files.createTempDirectory("graft-notix").toString))
  }

  test("NearDupStore: exact-threshold drops, advance rolls the corpus forward") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // batch 1: 11 is a 9/10-token near-dup of 1 (J=9/11 < 0.9? tokens:
    // shares 9 of union 11 -> 0.818, below) — use an exact-set dup plus
    // a disjoint doc to pin the threshold boundary both ways
    val b1 = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // J=1 vs 1
      (12L, "red orange yellow green blue indigo violet pink brown black"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-nds")
      .resolve("s").toString
    Dedup.NearDupStore.create(corpus, "doc_id", "text", store)
    val out1 = Dedup.NearDupStore.dropNearDups(b1, "doc_id", "text", store,
      advance = true)
    assert(out1.columns.toSeq == b1.columns.toSeq)
    assert(out1.select("doc_id").as[Long].collect().toSet == Set(12L))
    // batch 2: 21 duplicates the ADVANCED survivor 12 (must drop even
    // though 12 was never in the original corpus); 22 is new
    val b2 = Seq(
      (21L, "red orange yellow green blue indigo violet pink brown black"),
      (22L, "solo fresh words nothing shared with anything else here now"))
      .toDF("doc_id", "text")
    val out2 = Dedup.NearDupStore.dropNearDups(b2, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(22L))
    // a sub-threshold overlap survives: J = 9/11 ≈ 0.82 < 0.9
    val b3 = Seq(
      (31L, "alpha beta gamma delta epsilon zeta eta theta iota NOVEL"))
      .toDF("doc_id", "text")
    assert(Dedup.NearDupStore.dropNearDups(b3, "doc_id", "text", store,
      minMatchingHashes = 1, minBands = 1)
      .select("doc_id").as[Long].collect().toSet == Set(31L))
  }

  test("NearDupStore: cheap-tier gates are validated against the persisted layout") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-nds-layout")
      .resolve("s").toString
    // 8×4 = 32 signature hashes — the DEFAULT estimate gate (>=46)
    // could never pass against this store: every batch would silently
    // survive. The probe must fail fast instead of dropping nothing.
    Dedup.NearDupStore.create(corpus, "doc_id", "text", store,
      bands = 8, rowsPerBand = 4)
    val batch = Seq((11L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](
      Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store).collect())
    assert(e1.getMessage.contains("minMatchingHashes"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store,
        minBands = 9, minMatchingHashes = 20).collect())
    assert(e2.getMessage.contains("minBands"))
    // gates sized to the layout work — and the exact dup still drops
    assert(Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store,
      minBands = 4, minMatchingHashes = 23)
      .select("doc_id").as[Long].collect().isEmpty)
  }

  test("NearDupStore.forget: a forgotten doc stops suppressing; store equals fresh-create without it") {
    import spark.implicits._
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten"
    val corpus = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-nds-f")
      .resolve("s").toString
    Dedup.NearDupStore.create(corpus, "doc_id", "text", store)
    val batch = Seq((11L, textA), (12L, textB)).toDF("doc_id", "text")
    assert(Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().isEmpty, "both suppressed pre-forget")
    val rs = Dedup.NearDupStore.forget(spark, store, Seq(1L))
    assert(rs.map(_.rowsDeleted).sum > 0)
    // 11's suppressor is gone; 12's is still there
    assert(Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    // the forgotten store is ROW-IDENTICAL to one created without the
    // doc — forgetting leaves zero residue in any table
    val fresh = java.nio.file.Files.createTempDirectory("graft-nds-f2")
      .resolve("s").toString
    Dedup.NearDupStore.create(Seq((2L, textB)).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    def rows(root: String, table: String): Set[String] =
      spark.read.parquet(s"$root/$table").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    Seq("bands/rows", "sigs", "shingles").foreach { tbl =>
      assert(rows(store, tbl) == rows(fresh, tbl), s"residue in $tbl")
    }
  }

  test("NearDupStore.compact defragments all three tables, decisions unchanged") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-nds-c")
      .resolve("s").toString
    Dedup.NearDupStore.create(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), "doc_id", "text", store)
    // several advances fragment the store (each appends small files)
    (0 until 4).foreach { i =>
      Dedup.NearDupStore.dropNearDups(
        Seq((10L + i, s"unique words for batch number $i nothing shared at all"))
          .toDF("doc_id", "text"),
        "doc_id", "text", store, advance = true)
    }
    def files(d: String) = graft.sources.ParquetSource.listParquetFiles(
      d, spark.sparkContext.hadoopConfiguration).size
    val before = files(s"$store/sigs")
    assert(before >= 5, s"expected fragmentation, got $before files")
    val probe = Seq(
      (99L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 1
      (98L, "unique words for batch number 2 nothing shared at all"),    // dup of 12
      (97L, "never seen anywhere previously by anyone in any corpus yet"))
      .toDF("doc_id", "text")
    val pre = Dedup.NearDupStore.dropNearDups(probe, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    val rs = Dedup.NearDupStore.compact(spark, store, targetBytes = 64 * 1024 * 1024)
    assert(rs.exists(_.filesRemoved > 0), "compaction merged nothing")
    assert(files(s"$store/sigs") < before)
    val post = Dedup.NearDupStore.dropNearDups(probe, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(pre == post && post == Set(97L))
  }

  test("NearDupStore.recluster restores the key-sorted layout, decisions unchanged") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-nds-rc")
      .resolve("s").toString
    Dedup.NearDupStore.create(
      Seq((5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), "doc_id", "text", store)
    // advances append per-batch files — clustered within themselves,
    // but the TABLE's key ranges now overlap across files
    (0 until 4).foreach { i =>
      Dedup.NearDupStore.dropNearDups(
        Seq((10L + i, s"unique words for batch number $i nothing shared at all"))
          .toDF("doc_id", "text"),
        "doc_id", "text", store, advance = true)
    }
    val probe = Seq(
      (99L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (98L, "never seen anywhere previously by anyone in any corpus yet"))
      .toDF("doc_id", "text")
    val pre = Dedup.NearDupStore.dropNearDups(probe, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    Dedup.NearDupStore.recluster(spark, store)
    // row-identical tables, globally re-clustered: per-file id ranges
    // are now DISJOINT (the property prunedRead's skipping needs)
    val ranges = graft.sources.ParquetSource.listParquetFiles(
        s"$store/sigs", spark.sparkContext.hadoopConfiguration)
      .flatMap { f =>
        val ids = spark.read.parquet(f).select("id").as[Long].collect()
        if (ids.isEmpty) None else Some((ids.min, ids.max))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA <= loB, s"overlapping file ranges after recluster: $ranges")
      case _ => ()
    }
    assert(spark.read.parquet(s"$store/sigs").select("id").as[Long]
      .collect().sorted.toSeq == Seq(5L, 10L, 11L, 12L, 13L))
    val post = Dedup.NearDupStore.dropNearDups(probe, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(pre == post && post == Set(98L))
  }

  test("NearDupStore.compactOverrides: base survives by name, staged overrides fold, decisions unchanged") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-nds-mf")
      .resolve("s").toString
    Dedup.NearDupStore.create(
      Seq((5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), "doc_id", "text", store)
    val conf = spark.sparkContext.hadoopConfiguration
    def names(t: String) = graft.sources.ParquetSource
      .listParquetFiles(s"$store/$t", conf)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val tables = Seq("bands/rows", "sigs", "shingles")
    val base = tables.map(t => t -> names(t)).toMap
    // two staged advances form the tagged override tier
    Dedup.NearDupStore.advanceStaged(
      Seq((10L, "unique words for the first staged epoch nothing shared"))
        .toDF("doc_id", "text"), "doc_id", "text", store, "t1")
    Dedup.NearDupStore.advanceStaged(
      Seq((11L, "entirely different vocabulary in the second staged epoch here"))
        .toDF("doc_id", "text"), "doc_id", "text", store, "t2")
    val probe = Seq(
      (99L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 5
      (97L, "unique words for the first staged epoch nothing shared"),   // dup of 10
      (98L, "never seen anywhere previously by anyone in any corpus yet"))
      .toDF("doc_id", "text")
    val pre = Dedup.NearDupStore.dropNearDups(probe, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    Dedup.NearDupStore.compactOverrides(spark, store)
    for (t <- tables) {
      val now = names(t)
      assert(base(t).subsetOf(now), s"a minor fold rewrote base files in $t")
      assert(!now.exists(n => n.startsWith("part-t1__") || n.startsWith("part-t2__")),
        s"$t still carries staged override names after the minor fold")
    }
    // the folded overrides still suppress their near-dups exactly
    val post = Dedup.NearDupStore.dropNearDups(probe, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(pre == post && post == Set(98L))
  }

  test("NearDupStore: every write path keeps a complete _stats artifact; file-level prune engages") {
    import spark.implicits._
    def pathOf(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    // invariant behind batch-proportional probe FILE OPENS: after any
    // maintenance op, every on-disk data file is statted, so
    // KeyedReads' planning-time prune never degenerates to "unknown →
    // keep all" (unknown files are kept for safety, but a healthy
    // store should have none)
    def assertCovered(root: String, label: String): Unit =
      Seq("bands/rows", "sigs", "shingles").foreach { tbl =>
        val dir = s"$root/$tbl"
        val stats = spark.read.parquet(s"$dir/_stats")
        val known = stats.select("file").collect()
          .map(r => pathOf(r.getString(0))).toSet
        val disk = graft.sources.ParquetSource.listParquetFiles(
          dir, spark.sparkContext.hadoopConfiguration).map(pathOf).toSet
        assert(disk.subsetOf(known),
          s"$label/$tbl: unstatted files ${disk -- known}")
      }
    val store = java.nio.file.Files.createTempDirectory("graft-nds-stats")
      .resolve("s").toString
    Dedup.NearDupStore.create(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text"), "doc_id", "text", store)
    assertCovered(store, "create")
    Dedup.NearDupStore.dropNearDups(
      Seq((11L, "totally novel content shared with nothing else anywhere at all"))
        .toDF("doc_id", "text"), "doc_id", "text", store, advance = true)
    assertCovered(store, "advance")
    Dedup.NearDupStore.advanceStaged(
      Seq((12L, "still more novel content never before seen by any store here"))
        .toDF("doc_id", "text"), "doc_id", "text", store, tag = "e1")
    assertCovered(store, "advanceStaged")
    Dedup.NearDupStore.rollbackAdvance(spark, store, "e1")
    assertCovered(store, "rollback")
    Dedup.NearDupStore.forget(spark, store, Seq(2L))
    assertCovered(store, "forget")
    Dedup.NearDupStore.compact(spark, store, targetBytes = 64 * 1024 * 1024)
    assertCovered(store, "compact")
    Dedup.NearDupStore.recluster(spark, store)
    assertCovered(store, "recluster")
    // effectiveness: the reclustered sigs table has disjoint per-file
    // id ranges, so a single-id lookup must plan STRICTLY fewer files
    // than the table holds whenever it holds more than one
    val sigsDir = s"$store/sigs"
    val all = graft.sources.ParquetSource.listParquetFiles(
      sigsDir, spark.sparkContext.hadoopConfiguration)
    val surviving = graft.sources.FileStatsIndex.survivingFiles(
      spark, sigsDir, spark.read.parquet(s"$sigsDir/_stats"),
      Seq(graft.sources.FileStatsIndex.Eq("id", 1L)))
    assert(surviving.nonEmpty, "the file holding id=1 must survive")
    if (all.size > 1)
      assert(surviving.size < all.size,
        s"no file-level pruning: ${surviving.size} of ${all.size} files kept")
    // decisions unchanged end-to-end: 1 still suppresses, 2 forgotten
    val out = Dedup.NearDupStore.dropNearDups(Seq(
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (22L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text"), "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(22L))
  }

  test("NearDupStore: minPruneBytes floor skips pruning, decisions unchanged") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-nds-floor")
      .resolve("s").toString
    Dedup.NearDupStore.create(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text"), "doc_id", "text", store)
    val batch = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 1
      (12L, "red orange yellow green blue indigo violet pink brown black"))
      .toDF("doc_id", "text")
    // floor above the toy store's size -> full-scan path; floor 0 ->
    // pruned path. Same drop set either way: the floor is a COST knob,
    // never a semantics knob.
    val full = Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store,
      minPruneBytes = Long.MaxValue).select("doc_id").as[Long].collect().toSet
    val pruned = Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store,
      minPruneBytes = 0L).select("doc_id").as[Long].collect().toSet
    assert(full == pruned && full == Set(12L))
  }

  test("gramCandidates stop-gram cap drops boilerplate-only pairs") {
    val spark2 = spark
    import spark2.implicits._
    // every doc shares the boilerplate gram "p q r"; only 1&2 share a
    // real gram too ("u v w")
    val df = Seq(
      (1L, "p q r u v w"),
      (2L, "p q r u v w"),
      (3L, "p q r x y z"),
      (4L, "p q r m n o")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.gramCandidates(df, "doc_id", "text", k = 3,
      minShared = 1L, hashGrams = false)
    assert(uncapped.count() == 6L) // all pairs collide on the stop-gram
    // cap at 3: the freq-4 boilerplate grams drop; only genuine overlap
    // ("u v w" etc., freq 2) generates candidates
    val capped = Dedup.gramCandidates(df, "doc_id", "text", k = 3,
        minShared = 1L, hashGrams = false, maxGramFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
    intercept[IllegalArgumentException](
      Dedup.gramCandidates(df, "doc_id", "text", k = 3, minShared = 1L,
        maxGramFreq = 1))
  }

  test("gramCandidates hashed arm is row-equal to the raw-gram arm") {
    val a = Dedup.gramCandidates(docs, "doc_id", "text", k = 6, minShared = 2L,
        hashGrams = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Dedup.gramCandidates(docs, "doc_id", "text", k = 6, minShared = 2L,
        hashGrams = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("crossOverlapMatrix: crafted ground truth + diagonal self-counts") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("g1", "x y z w q r"),     // 3-grams: xyz yzw zwq wqr
      ("g2", "x y z w a b"),     // 3-grams: xyz yzw zwa wab -> shares 2
      ("g2", "x y z w a b"),     // duplicate doc: distinct grams count once
      ("g3", "p q")              // too short for any 3-gram
    ).toDF("src", "text")
    val got = Dedup.crossOverlapMatrix(df, "text", "src", k = 3,
        hashGrams = false)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("g1", "g1", 4L), ("g2", "g2", 4L), ("g1", "g2", 2L)))
  }

  test("crossOverlapMatrix hashed arm is row-equal to the raw-gram arm") {
    val raw = Dedup.crossOverlapMatrix(docs, "text", "source", k = 6,
        hashGrams = false)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val hashed = Dedup.crossOverlapMatrix(docs, "text", "source", k = 6,
        hashGrams = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(raw == hashed && raw.nonEmpty)
    // diagonal present for every source that has at least one 6-gram
    val diag = raw.filter(t => t._1 == t._2)
    assert(diag.nonEmpty && diag.forall(_._3 > 0))
  }
}
