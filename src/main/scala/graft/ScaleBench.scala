package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Synthetic scale sweep: amplify the largest fixture (sf0.1) by an
  * integer factor and time the heaviest workloads at BOTH sizes, so the
  * "plans survive 100×" argument is a measured growth ratio instead of
  * plan-shape reasoning. Prints one JSON line
  * `{"factor":F,"workloads":{name:{"base_sec":b,"scaled_sec":s,"ratio":r}},…}`.
  *
  * Amplification model (union-with-id-offset ×F):
  *  - fact tables (lineitem, orders, events, documents, embeddings) get
  *    F copies with key columns offset by copy·10⁹ — copy 0 is the
  *    original, so fixed query sets pin to `key < 10⁹`;
  *  - dimension tables stay single-copy (facts grow, dims don't — the
  *    realistic 100-TB shape);
  *  - document TEXT is salted per copy (every token suffixed `_c<k>`),
  *    giving each copy a disjoint shingle universe: near-dup density
  *    per document stays CONSTANT as the corpus grows (F independent
  *    corpora side by side — sharded crawl snapshots), so a dedup
  *    workload growing superlinearly indicts the PLAN, not a workload
  *    that is inherently quadratic in the duplication factor.
  *
  * Top-k / refinement workloads follow the "corpus grows, query batch
  * fixed" model — their cost model at 100 TB (a bounded query batch
  * against an ever-growing corpus), and the shape under which linear
  * growth is the correct expectation.
  */
object ScaleBench {

  private val Off = 1000000000L

  // per-dir NearDupStore cache for the nd_store_probe workload: create
  // once, let min-of-N time the probe alone
  private val ndStores = scala.collection.concurrent.TrieMap[String, String]()

  // per-dir file bytes READ by the probe (task InputMetrics, min across
  // runs): the store-layout claim under test is that probe I/O grows
  // with the BATCH, not the corpus — wall time alone can't show it at
  // toy scale where fixed overheads dominate
  private val ndProbeBytes = scala.collection.concurrent.TrieMap[String, Long]()

  // per-dir (fragmented, reclustered) probe bytes for nd_store_maint:
  // the recluster claim is that advance-fragmented stores re-approach
  // their freshly-created probe I/O after the rewrite
  private val ndMaintBytes = scala.collection.concurrent.TrieMap[String, (Long, Long)]()

  // per-dir persisted ANN index roots (ann_search / ann_ingest build
  // once; min-of-2 then times the read/ingest op alone) and the ops'
  // file bytes read — the scale claims are (a) search scans CODES in
  // probed buckets, never vectors: bytes/corpus-row stays tiny and
  // constant; (b) a fixed-size epoch's ingest reads the column-pruned
  // id frame + the delta, nothing corpus-vector-sized
  private val annRoots = scala.collection.concurrent.TrieMap[String, String]()
  private val annSearchBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val annIngestBytes = scala.collection.concurrent.TrieMap[String, Long]()

  // line-census probe: per-dir census roots (built once), the probe's
  // file bytes read (min across runs) and the census's on-disk size —
  // same claim shape as the near-dup store: probe I/O ∝ batch + a
  // census summary read, never the corpus text
  private val lineCensuses = scala.collection.concurrent.TrieMap[String, String]()
  private val graphRoots = scala.collection.concurrent.TrieMap[String, String]()
  private val graphEpochBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val graphTrustBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val graphFoldBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val graphFoldRuns = scala.collection.concurrent.TrieMap[String, Int]()
  private val graphForgetBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val graphForgetRuns = scala.collection.concurrent.TrieMap[String, Int]()
  private val lexRoots = scala.collection.concurrent.TrieMap[String, String]()
  private val lexAppendBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val lexSearchBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val lexFoldBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val lexFoldRuns = scala.collection.concurrent.TrieMap[String, Int]()
  private val annCodesBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val lineCensusBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val lineCensusSize = scala.collection.concurrent.TrieMap[String, Long]()

  // probed store's TOTAL on-disk size, so the bytes-read numbers carry
  // their denominator: "the probe read 1.4 MB" only means pruning if
  // the store it pruned against is reported alongside
  private val ndStoreBytes = scala.collection.concurrent.TrieMap[String, Long]()

  // band-sweep stores/bytes, keyed "<bands>x<rowsPerBand>@<dir>" — the
  // nd_store_probe byte claim swept across LSH layouts at the same
  // exact-decision recall floor (see the workload comment)
  private val ndBandStores = scala.collection.concurrent.TrieMap[String, String]()
  private val ndBandProbeBytes = scala.collection.concurrent.TrieMap[String, Long]()
  private val ndBandStoreBytes = scala.collection.concurrent.TrieMap[String, Long]()

  private def ndBandProbe(bands: Int, rowsPerBand: Int,
                          minBands: Int): (SparkSession, String) => Long = {
    (s, dir) =>
      val key = s"${bands}x$rowsPerBand"
      val store = ndBandStores.getOrElseUpdate(s"$key@$dir", {
        val p = java.nio.file.Files.createTempDirectory(s"graft-scale-ndb$key")
          .resolve("s").toString
        graft.pipeline.Dedup.NearDupStore.create(
          Tables.load(s, dir, "documents"), "doc_id", "text", p,
          bands = bands, rowsPerBand = rowsPerBand) // default granularity
        p                                           // (see nd_store_probe)
      })
      val batch = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 500))
      val (n, bytes) = withBytesRead(s) {
        graft.pipeline.Dedup.NearDupStore.dropNearDups(
          batch, "doc_id", "text", store, minBands = minBands).count()
      }
      ndBandProbeBytes(s"$key@$dir") = ndBandProbeBytes.get(s"$key@$dir")
        .fold(bytes)(math.min(_, bytes))
      ndBandStoreBytes(s"$key@$dir") = dirSize(store)
      n
  }

  private def dirSize(path: String): Long = {
    def du(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    du(new java.io.File(path))
  }

  /** Run `body`, returning (its result, Hadoop-FS-visible bytes read
    * while it ran — a file-open/METADATA proxy, NOT data bytes).
    * Measured from Hadoop's global `file`-scheme storage statistics,
    * not task `inputMetrics.bytesRead`: the latter also counts BLOCK
    * MANAGER reads (every stage re-reading a localCheckpointed frame),
    * which dominate and are batch-proportional — they drowned the
    * store-layout signal this metric exists to expose.
    *
    * IMPORTANT CALIBRATION (round 12, measured): in this Spark build
    * the vectorized parquet reader's DATA-page reads bypass the Hadoop
    * FS statistics — a full scan of a 10.8 MB table registers ~24 KB.
    * What the counter sees is per-file-open metadata (footers, page
    * indexes), so these numbers are a FILES-AND-ROW-GROUPS-TOUCHED
    * proxy: they grow with how many store files a probe opens, which
    * is the pruning signal the layout claims are about, but they must
    * NOT be read as "fraction of the store's bytes scanned" (see
    * docs/BENCH_LOCAL.md, round-12 correction).
    */
  private def withBytesRead[A](s: SparkSession)(body: => A): (A, Long) = {
    def fsBytes: Long = {
      val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
      if (st == null) 0L else st.getLong("bytesRead").longValue()
    }
    val before = fsBytes
    val r = body
    (r, fsBytes - before)
  }

  def amplify(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, baseDir, name)
      write((0 until factor).map(k => f(base, k)).reduce(_.unionByName(_)), name)
    }
    for (dim <- Seq("region", "nation", "customer", "supplier", "part"))
      write(Tables.load(spark, baseDir, dim), dim)
    def shift(c: String, k: Int) = col(c) + lit(k * Off)
    copies("lineitem")((df, k) => df.withColumn("l_orderkey", shift("l_orderkey", k)))
    copies("orders")((df, k) => df.withColumn("o_orderkey", shift("o_orderkey", k)))
    copies("events")((df, k) => df
      .withColumn("event_id", shift("event_id", k))
      .withColumn("user_id", shift("user_id", k)))
    copies("embeddings")((df, k) => df.withColumn("vec_id", shift("vec_id", k)))
    copies("documents")((df, k) => df
      .withColumn("doc_id", shift("doc_id", k))
      .withColumn("text",
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1_c" + k)))
  }

  /** The sweep workloads: whole-corpus scans/joins uncapped; top-k and
    * decontamination query sets pinned to copy 0 (`< 10⁹`).
    */
  def workloads: Seq[(String, (SparkSession, String) => Long)] = Seq(
    "full_neardup" -> (Bench.fullNeardup _),
    "corpus_pipeline" -> (Bench.corpusPipeline _),
    "hamming_topk" -> { (s, dir) =>
      val sigs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), pipeline.Dedup.simHashPortableExpr("text").as("sig"))
      pipeline.Dedup.hammingTopK(
        sigs.filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < Off),
        sigs, "doc_id", "sig", k = 5).count()
    },
    "edit_verify" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cands = pipeline.Dedup.gramCandidates(docs, "doc_id", "text", k = 6,
        minShared = 10L, hashGrams = false).select("id_a", "id_b").localCheckpoint()
      pipeline.Dedup.editVerify(cands, docs, "doc_id", "text", maxDist = 6).count()
      // normalize by the CANDIDATE count: verify cost is proportional to
      // candidates, and the per-copy token salting inflates edit
      // distances (insertions grow by the suffix), so the SURVIVOR
      // count under-grows by the amplification model, not the engine
      cands.count()
    },
    "bloom_decontaminate" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      pipeline.Dedup.decontaminateBloom(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", 5, expectedGrams = 1000000L, fpp = 0.01).count()
    },
    "knn_eval" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      pipeline.Similarity.knnEval(
        emb.filter(pmod(col("vec_id"), lit(20)) === 0 && col("vec_id") < Off),
        emb, "vec_id", "embedding", "label", k = 5).count()
    },
    "sim_ivf" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val model = pipeline.Ivf.train(emb, "vec_id", "embedding", k = 10, iters = 3)
      val indexed = pipeline.Ivf.index(emb, "vec_id", "embedding", model)
      pipeline.Ivf.topK(emb.filter(col("vec_id") < 10), indexed, "vec_id",
        "embedding", model, k = 5, nProbe = 4).count()
    },
    "quality_filter" -> { (s, dir) =>
      pipeline.Text.qualityFilter(Tables.load(s, dir, "documents"), "text",
        minScore = 4750L).count()
    },
    // corpus-wide line dedup: per-copy token salting keeps each copy's
    // duplicated-line census identical to base, so docs (and dropped
    // lines) grow exactly ×F — the census aggregate and the broadcast
    // join-back are what's under test
    "line_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .withColumn("text8", pipeline.Web.segmentLines(col("text"), 8))
        .select(col("doc_id"), col("text8"))
      pipeline.Web.lineDedup(docs, "doc_id", "text8").count()
    },
    "kll_artifacts" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.KllSketches.mergeQuantiles(
        graft.functions.KllSketches.partials(
          ev.withColumn("day", to_date(col("ts"))), Seq("event_type", "day"), "value"),
        Seq("event_type"), Seq(0.5, 0.9)).count()
    },
    "theta_artifacts" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.ThetaSketches.mergeSketch(
        graft.functions.ThetaSketches.partials(
          ev.withColumn("day", to_date(col("ts"))), Seq("event_type", "day"), "user_id"),
        Seq("event_type")).count()
    },
    "stats_prune" -> { (s, dir) =>
      // write-clustered copy + index build + pruned range read: the
      // whole write-time-stats lifecycle under amplification
      val tmp = java.nio.file.Files.createTempDirectory("graft-scale-stats")
        .resolve("li").toString
      val li = Tables.load(s, dir, "lineitem")
      li.repartitionByRange(32, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey").write.parquet(tmp)
      val stats = s.read.parquet(
        sources.FileStatsIndex.buildAndSave(s, tmp, Seq("l_orderkey")))
      sources.FileStatsIndex.readPruned(s, tmp, stats,
        Seq(sources.FileStatsIndex.Between("l_orderkey", 100L, 1200L)),
        col("l_orderkey").between(100L, 1200L)).count()
    },
    "blocklist" -> { (s, dir) =>
      pipeline.Text.blocklistFilter(Tables.load(s, dir, "documents"), "text",
        Seq("slow", "merge batch", "nonexistentterm")).count()
    },
    // per-copy key spaces kept disjoint (suppkey/custkey + copy·Off) so
    // intervals-per-key and graph density stay CONSTANT under
    // amplification — the "more entities at bigger scale" model under
    // which linear growth is the correct expectation; leaving the keys
    // shared would grow per-key pair counts quadratically in F, an
    // inherent-workload effect that says nothing about the plan
    "interval_join" -> { (s, dir) =>
      def iv(p: String) = Tables.load(s, dir, "lineitem").select(
          (col("l_suppkey") + floor(col("l_orderkey") / Off).cast("long") * Off)
            .as(s"${p}_k"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as(s"${p}_id"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long")
            .as(s"${p}_lo"),
          (datediff(to_date(col("l_shipdate")), lit("1970-01-01")) +
            col("l_quantity").cast("long") + 1).as(s"${p}_hi"))
        .groupBy(s"${p}_k", s"${p}_id")
        .agg(min(col(s"${p}_lo")).as(s"${p}_lo"), min(col(s"${p}_hi")).as(s"${p}_hi"))
      operators.IntervalJoin.overlapJoin(iv("a"), iv("b"),
          "a_lo", "a_hi", "b_lo", "b_hi", bandWidth = 32.0, keys = Seq(("a_k", "b_k")))
        .filter(col("a_id") < col("b_id")).count()
    },
    "triangles" -> { (s, dir) =>
      val orders = Tables.load(s, dir, "orders").select(
        concat_ws("#", to_date(col("o_orderdate")).cast("string"),
          floor(col("o_orderkey") / Off).cast("long").cast("string")).as("day"),
        (col("o_custkey") + floor(col("o_orderkey") / Off).cast("long") * Off)
          .as("o_custkey"))
      operators.Graphs.triangleCounts(
        operators.Graphs.coOccurrenceEdges(orders, "day", "o_custkey",
          maxGroupSize = 12)).count()
    },
    "bloom_join" -> { (s, dir) =>
      val probe = Tables.load(s, dir, "lineitem").select(col("l_orderkey"))
      val build = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      operators.BloomJoin.prunedJoin(probe, build, "l_orderkey", "o_orderkey",
        expectedKeys = 500000L).count()
    },
    "explode_cells" -> ((s, dir) => SparkEntry.queries("q_explode_cells")(s, dir).count()),
    "hash_refine" -> ((s, dir) => SparkEntry.queries("q_hash_refine")(s, dir).count()),
    "asof_native" -> ((s, dir) => SparkEntry.queries("q_asof_native")(s, dir).count()),
    "sessionize" -> ((s, dir) => SparkEntry.queries("q_sessionize")(s, dir).count()),
    // auto-width interval join: the probe aggregate must stay cheap and
    // the picked width must keep the banding sub-linear under amplification
    "interval_join_auto" -> { (s, dir) =>
      def iv(p: String) = Tables.load(s, dir, "lineitem").select(
          (col("l_suppkey") + floor(col("l_orderkey") / Off).cast("long") * Off)
            .as(s"${p}_k"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as(s"${p}_id"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long")
            .as(s"${p}_lo"),
          (datediff(to_date(col("l_shipdate")), lit("1970-01-01")) +
            col("l_quantity").cast("long") + 1).as(s"${p}_hi"))
        .groupBy(s"${p}_k", s"${p}_id")
        .agg(min(col(s"${p}_lo")).as(s"${p}_lo"), min(col(s"${p}_hi")).as(s"${p}_hi"))
      operators.IntervalJoin.overlapJoinAuto(iv("a"), iv("b"),
          "a_lo", "a_hi", "b_lo", "b_hi", keys = Seq(("a_k", "b_k")))
        .filter(col("a_id") < col("b_id")).count()
    },
    // contraction-based incremental components: the delta cost must track
    // the DELTA size, not the amplified corpus
    "components_incr" -> { (s, dir) =>
      SparkEntry.queries("q_components_incr")(s, dir).count()
    },
    // persisted-store incremental near-dup: the store holds the WHOLE
    // (amplified) corpus, the probe batch stays fixed at copy 0's first
    // 500 docs — the claim under test is per-batch cost ∝ batch, not
    // corpus. The store is created once per dir OUTSIDE the min-of-2's
    // floor (first timed run pays create+probe, second probe-only; the
    // min isolates the probe), so the reported ratio is the PROBE's.
    "nd_store_probe" -> { (s, dir) =>
      val store = ndStores.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-nds")
          .resolve("s").toString
        // DEFAULT granularity, deliberately: LSH probes are
        // hash-SCATTERED (a batch's buckets and candidate ids spread
        // over the whole key space), so they touch ~every file and the
        // metadata proxy grows with FILE COUNT — measured 5.5x at
        // 4096-row granularity vs 3.7x at the default's fixed shard
        // width. Fewer, bigger files are the right layout for
        // scattered probes; the granularity policy is for RANGE-LOCAL
        // probes (see graph_rank_epoch, flat at 1.03x under it).
        pipeline.Dedup.NearDupStore.create(
          Tables.load(s, dir, "documents"), "doc_id", "text", p)
        p
      })
      // sum file bytes read across the probe's tasks (store create is
      // outside the listener's lifetime); keep the min across runs to
      // match the min-of-2 timing semantics. The batch is materialized
      // OUTSIDE the measured region so the bytes isolate STORE I/O —
      // the claim under test — not the batch's own text scan
      val batch = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 500))
      val (n, bytes) = withBytesRead(s) {
        pipeline.Dedup.NearDupStore.dropNearDups(
          batch, "doc_id", "text", store).count()
      }
      ndProbeBytes(dir) = ndProbeBytes.get(dir)
        .fold(bytes)(math.min(_, bytes))
      ndStoreBytes(dir) = dirSize(store)
      n
    },
    // the banding sweep behind nd_store_probe's byte ratio: same store
    // corpus, same estimate/verify gates (46/64 hashes, exact J ≥ 0.9 —
    // drop decisions identical across bandings up to candidate-tier
    // recall), only the LSH layout varies. minBands holds the J=0.9
    // candidate recall floor per layout: (8,8) p=0.9⁸=.43 → ≥1 of 8
    // (recall .989); (16,4) p=.656 → ≥4 of 16 (≈1); (32,2) p=.81 → ≥8
    // of 32 (≈1). If NO banding reaches the ≤2× byte target, the
    // residual growth is bucket-neighborhood density — a property of
    // the corpus' collision structure, not of the chosen layout — and
    // the sweep table IS the closing evidence.
    "nd_probe_bands_8x8" -> ndBandProbe(8, 8, 1),
    "nd_probe_bands_32x2" -> ndBandProbe(32, 2, 8),
    // line-census incremental dedup, same discipline as nd_store_probe:
    // the census summarizes the WHOLE amplified corpus, the probe batch
    // stays fixed at copy 0's first 500 docs; census built once per dir
    // outside the min-of-2's floor, batch materialized outside the
    // measured region so the bytes isolate CENSUS I/O
    "line_census_probe" -> { (s, dir) =>
      val census = lineCensuses.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lc")
          .resolve("c").toString
        pipeline.Web.createLineCensus(
          Tables.load(s, dir, "documents")
            .withColumn("text8", pipeline.Web.segmentLines(col("text"), 8))
            .select(col("doc_id"), col("text8")),
          "doc_id", "text8", p)
        p
      })
      val batch = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 500)
          .withColumn("text8", pipeline.Web.segmentLines(col("text"), 8))
          .select(col("doc_id"), col("text8")))
      val (n, bytes) = withBytesRead(s) {
        pipeline.Web.lineDedupAgainst(census, batch, "doc_id", "text8").count()
      }
      lineCensusBytes(dir) = lineCensusBytes.get(dir)
        .fold(bytes)(math.min(_, bytes))
      lineCensusSize(dir) = dirSize(census)
      n
    },
    // persisted lexical index, fixed 3-query batch against an index of
    // the whole amplified corpus (built once per dir outside the
    // min-of-2 floor): the cost claim is ∝ the queried terms' posting
    // lists — and the per-copy token salting means copy k's terms
    // never match the copy-0 query terms, so the MATCHING posting
    // lists stay constant-size as the corpus grows
    "lex_search" -> { (s, dir) =>
      import s.implicits._
      val ix = lexRoots.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lex")
          .resolve("ix").toString
        // bench-scale granularity (same reason as graph_rank_epoch:
        // the 4M default puts both corpus sizes in one file per term
        // range and would measure nothing) — the byte claim under
        // test is that an artifact-planned term probe sweeps at most
        // rowsPerFile rows per matched range, not the fold's
        // corpus-grown shard. The granularity must be small enough
        // that the bound BINDS at the base size too: at 65536 the
        // base table (116k rows) was 1-2 files, so the base probe
        // degenerated to a full-table read and the ratio measured
        // base-regime truncation (3×), not growth; at 8192 both
        // sizes sit in the bound-limited regime (6 terms × ≤8192
        // rows each) and flat bytes measure the actual claim.
        pipeline.LexIndex.create(Tables.load(s, dir, "documents"),
          "doc_id", "text", p, rowsPerFile = 8192L)
        p
      })
      val queries = Seq(("q0", "spark"), ("q0", "window"),
        ("q1", "hash"), ("q1", "join"), ("q1", "merge"),
        ("q2", "vector")).toDF("query_id", "term")
      val (n, bytes) = withBytesRead(s) {
        pipeline.LexIndex.search(s, ix, queries, "query_id", "term", k = 10).count()
      }
      lexSearchBytes(dir) = lexSearchBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // fixed 500-doc ingest epoch against a lex index over the whole
    // amplified corpus (own root — appended copy-0 twins would inflate
    // the queried terms' posting lists and perturb lex_search):
    // membership runs through the IdCensus sidecar's stats-pruned point
    // lookups, so per-epoch bytes follow the BATCH, never the postings
    // table's full id column. Re-running the same tag is
    // retire-and-redo (end-state idempotent), which min-of-2 needs.
    "lex_append" -> { (s, dir) =>
      val root = lexRoots.getOrElseUpdate(s"$dir#ingest", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lexi")
          .resolve("ix").toString
        pipeline.LexIndex.create(Tables.load(s, dir, "documents"),
          "doc_id", "text", p)
        p
      })
      val delta = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 500)
          .withColumn("doc_id", col("doc_id") + lit(21L * Off)))
      val (_, bytes) = withBytesRead(s) {
        pipeline.LexIndex.appendEpoch(delta, "doc_id", "text", root, "scalebench")
      }
      lexAppendBytes(dir) = lexAppendBytes.get(dir).fold(bytes)(math.min(_, bytes))
      delta.count()
    },
    // the lex twin of graph_fold_io: each run appends a fresh
    // fixed-size epoch (auto-compact disabled so the fold is invoked —
    // and metered — explicitly), then meters the minor fold. A
    // full-rewrite fold would read the whole postings table (≈10×
    // bytes at 10×); the minor fold must read only the override tier,
    // so bytes stay ~flat — fold I/O ∝ override bytes on the lexical
    // store too.
    "lex_fold_io" -> { (s, dir) =>
      val root = lexRoots.getOrElseUpdate(s"$dir#fold", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lexf")
          .resolve("ix").toString
        pipeline.LexIndex.create(Tables.load(s, dir, "documents"),
          "doc_id", "text", p, rowsPerFile = 65536L)
        sources.AutoCompact.setPolicy(s, p, 0)
        p
      })
      val k = lexFoldRuns.updateWith(dir)(n => Some(n.getOrElse(0) + 1)).get
      // a FRESH 500-doc epoch per run (ids at (30+k)·Off — disjoint
      // from every amplification copy and every other workload's
      // offset), so each measured fold has a real override tier
      val delta = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 500)
          .withColumn("doc_id", col("doc_id") + lit((30L + k) * Off)))
      pipeline.LexIndex.appendEpoch(delta, "doc_id", "text", root, s"fold$k")
      val (n, bytes) = withBytesRead(s) {
        sources.StoreTables.foldOverrides(s, pipeline.LexIndex.tables(s, root)); 1L
      }
      lexFoldBytes(dir) = lexFoldBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // maintenance payoff, measured: a store fragmented by 8 incremental
    // advances (each appends files clustered only within themselves)
    // pays more probe I/O than its data size warrants; recluster
    // rewrites the tables globally key-clustered and the SAME probe's
    // bytes-read must drop back toward the freshly-created shape. The
    // expensive build+measure runs once per dir; repeat runs re-probe
    // the reclustered store for the count and reuse the recorded pair.
    "nd_store_maint" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // a probe batch of 500 UNSEEN ids carrying copy-0 text: near-dup
      // saturated against the store, disjoint from every advance AND
      // from every amplification copy's id range (copies sit at k·Off
      // for k < factor; 20·Off is beyond any sweep factor used here).
      // Materialized so the measured bytes isolate store I/O.
      val batch = Checkpoints.materialize(docs.filter(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + lit(20L * Off)))
      val store = ndStores.getOrElseUpdate(s"$dir#maint", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-ndm")
          .resolve("s").toString
        pipeline.Dedup.NearDupStore.create(
          docs.filter(col("doc_id") >= 800), "doc_id", "text", p)
        // INTERLEAVED advance batches (id mod 8): each appended file
        // spans the whole 0-799 id range, so every advance's sigs/
        // shingles file defeats pushed-IN row-group skipping — the
        // real fragmentation shape (crawl batches are never id-sorted
        // slices). Contiguous slices would self-cluster and show no
        // recluster payoff by construction.
        (0 until 8).foreach { i =>
          pipeline.Dedup.NearDupStore.dropNearDups(
            docs.filter(col("doc_id") < 800 && pmod(col("doc_id"), lit(8)) === i),
            "doc_id", "text", p, advance = true); ()
        }
        val (_, frag) = withBytesRead(s) {
          pipeline.Dedup.NearDupStore.dropNearDups(
            batch, "doc_id", "text", p).count()
        }
        pipeline.Dedup.NearDupStore.recluster(s, p)
        val (_, rec) = withBytesRead(s) {
          pipeline.Dedup.NearDupStore.dropNearDups(
            batch, "doc_id", "text", p).count()
        }
        ndMaintBytes(dir) = (frag, rec)
        p
      })
      pipeline.Dedup.NearDupStore.dropNearDups(batch, "doc_id", "text", store)
        .count()
    },
    // fixed 50-query ANN search against an index over the WHOLE
    // (amplified) corpus: IVF probing scans nProbe/kIvf of the corpus'
    // CODES (m bytes/row, not the 8m-byte vectors), so wall and bytes
    // may grow ~linearly but with a constant ~64-bytes/row coefficient
    // — the honest 100-TB claim is cheap-per-row, not sublinear
    "ann_search" -> { (s, dir) =>
      val root = annRoots.getOrElseUpdate(s"$dir#search", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-ann")
          .resolve("ix").toString
        pipeline.AnnIndex.build(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", p, kIvf = 16, m = 16, ksub = 16, iters = 2,
          trainSample = Some(2000L))
        p
      })
      val h = pipeline.AnnIndex.open(s, root)
      // queries materialized OUTSIDE the measured region so the bytes
      // metric isolates the INDEX's I/O, not the query batch's scan
      val queries = Checkpoints.materialize(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 50))
      val (n, bytes) = withBytesRead(s) {
        pipeline.AnnIndex.search(h, queries, "vec_id", "embedding",
          k = 10, nProbe = 4).count()
      }
      annSearchBytes(dir) = annSearchBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // the RANGE-LOCAL codes-table byte probe ann_search can't be
    // (its broadcast join scans the whole codes frame by design, the
    // documented cheap-per-row linear claim): an index whose BUCKET
    // COUNT scales with the corpus at CONSTANT rows/bucket (~128 at
    // bench scale — the production discipline: recall tracks bucket
    // size, so you grow buckets in number, not size, which is what
    // AnnIndex.retrain exists for) served through searchPruned's
    // stats-pruned point reads. A fixed 50-query batch then probes a
    // constant number of constant-size buckets, and with the
    // granularity policy each touched file holds at most rowsPerFile
    // rows — bytes must stay ~flat at 10×, exactly the
    // graph_rank_epoch claim on the ANN store's layout. Bench-scale
    // knobs, all for the same reason as graph_rank_epoch's 4096
    // granularity: the probe's byte BOUND (probed buckets × bucket
    // rows, file-rounded) must bind at BOTH corpus sizes or the base
    // side degenerates to a full read of its tiny table and the ratio
    // measures base-regime truncation instead of growth. The base
    // embeddings table is only 2000 rows, so: cell size ~32 rows
    // (kIvf = corpus/32 — both sizes past the 16-cell floor; a
    // floor-pinned cell count, as this probe's first cut had, silently
    // grows cell SIZE 10× and measures the un-retrained layout), file
    // granularity 128 rows, and a 5-query × nProbe-2 batch probing
    // ≤10 buckets ⇒ ≤10 matched files × 128 rows at either size.
    // The WALL ratio here is dominated by coarse-quantizer centroid
    // assignment (∝ kIvf, 10× more centroids at 10× by construction,
    // sub-second absolute) — the claim under test is the BYTES line;
    // production serves batches where the per-query centroid math
    // amortizes and nProbe/kCand come from the tuner.
    "ann_codes_probe" -> { (s, dir) =>
      val root = annRoots.getOrElseUpdate(s"$dir#codes", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-annc")
          .resolve("ix").toString
        val corpus = Tables.load(s, dir, "embeddings")
        val kIvf = math.max(16L, corpus.count() / 32L).toInt
        pipeline.AnnIndex.build(corpus, "vec_id", "embedding", p,
          kIvf = kIvf, m = 16, ksub = 16, iters = 2,
          trainSample = Some(4000L), rowsPerFile = 128L)
        p
      })
      val h = pipeline.AnnIndex.open(s, root)
      val queries = Checkpoints.materialize(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 5))
      val (n, bytes) = withBytesRead(s) {
        pipeline.AnnIndex.searchPruned(h, queries, "vec_id", "embedding",
          k = 10, nProbe = 2).count()
      }
      annCodesBytes(dir) = annCodesBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // fixed 500-vector ingest epoch against the amplified index (own
    // index — the appended copy-0 twins must not perturb ann_search's
    // hits): appendEpoch's membership check runs through the IdCensus
    // sidecar's stats-pruned point lookups, so per-epoch bytes follow
    // the BATCH, never the index's full id column; encode cost is the
    // delta's alone. Re-running the SAME tag is retire-and-redo
    // (end-state idempotent), which is exactly what min-of-2 timing
    // needs.
    "ann_ingest" -> { (s, dir) =>
      val root = annRoots.getOrElseUpdate(s"$dir#ingest", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-anni")
          .resolve("ix").toString
        pipeline.AnnIndex.build(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", p, kIvf = 16, m = 16, ksub = 16, iters = 2,
          trainSample = Some(2000L))
        p
      })
      val h = pipeline.AnnIndex.open(s, root)
      // delta materialized outside the measured region (same reason as
      // ann_search): bytes then cover the anti-join's id-column scan
      val delta = Checkpoints.materialize(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 500)
          .withColumn("vec_id", col("vec_id") + lit(21L * Off)))
      val (n, bytes) = withBytesRead(s) {
        pipeline.AnnIndex.appendEpoch(h, delta, "vec_id", "embedding", "scalebench")
      }
      annIngestBytes(dir) = annIngestBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // fixed 200-edge crawl epoch against a persisted link-graph store
    // over the WHOLE amplified corpus: each 500-id block is its own
    // subgraph (dst stays in src's block), so the graph's vertex and
    // edge sets grow ~linearly while the epoch's k-hop reach stays
    // constant — exact incremental PageRank maintenance must pay
    // frontier-bounded keyed reads, never a whole-graph re-iteration.
    // Store built once per dir outside the min-of-2 floor; re-running
    // the same tag is retire-and-redo (end-state idempotent).
    "graph_rank_epoch" -> { (s, dir) =>
      def blockDst(mul: Long, add: Long) =
        col("doc_id") - pmod(col("doc_id"), lit(500L)) +
          pmod(col("doc_id") * mul + add, lit(500L))
      val root = graphRoots.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lg")
          .resolve("g").toString
        val docs = Tables.load(s, dir, "documents")
        val edges = docs.select(col("doc_id").as("src"), blockDst(7, 3).as("dst"))
          .unionAll(docs.select(col("doc_id").as("src"), blockDst(13, 11).as("dst")))
        // bench-scale file granularity (the production default of 4M
        // rows/file puts BOTH corpus sizes in one file per key range,
        // which would measure nothing): with ANY fixed granularity the
        // epoch's point reads sweep in at most rowsPerFile rows per
        // touched range — the property under test
        pipeline.LinkGraph.create(edges, "src", "dst", p, iters = 3,
          rowsPerFile = 4096L)
        p
      })
      // the SAME copy-0 epoch at both corpus sizes: new edges among
      // block-0 vertices, materialized outside the measured region so
      // the bytes isolate STORE I/O
      val epoch = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id").as("src"), blockDst(11, 5).as("dst")))
      val (n, bytes) = withBytesRead(s) {
        pipeline.LinkGraph.appendEpoch(epoch, "src", "dst", root, "scalebench")
      }
      graphEpochBytes(dir) = graphEpochBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // the MINOR-fold I/O claim, measured directly: each run appends a
    // fresh fixed-size epoch (auto-compact disabled on this store so
    // the fold is invoked — and measured — explicitly), then times and
    // meters the minor fold. A full-rewrite fold would read the
    // whole store (≈10× bytes at 10×); the minor fold must read only
    // the override tier, so bytes stay ~flat — this is the probe that
    // pins fold I/O ∝ override bytes, the LSM discipline the
    // auto-compact cadence relies on at web-graph scale.
    "graph_fold_io" -> { (s, dir) =>
      def blockDst(mul: Long, add: Long) =
        col("doc_id") - pmod(col("doc_id"), lit(500L)) +
          pmod(col("doc_id") * mul + add, lit(500L))
      val root = graphRoots.getOrElseUpdate(s"$dir#fold", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lgc")
          .resolve("g").toString
        val docs = Tables.load(s, dir, "documents")
        val edges = docs.select(col("doc_id").as("src"), blockDst(7, 3).as("dst"))
          .unionAll(docs.select(col("doc_id").as("src"), blockDst(13, 11).as("dst")))
        pipeline.LinkGraph.create(edges, "src", "dst", p, iters = 3,
          rowsPerFile = 4096L)
        sources.AutoCompact.setPolicy(s, p, 0)
        p
      })
      val k = graphFoldRuns.updateWith(dir)(n => Some(n.getOrElse(0) + 1)).get
      val epoch = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id").as("src"), blockDst(17, 5L + k).as("dst")))
      pipeline.LinkGraph.appendEpoch(epoch, "src", "dst", root, s"fold$k")
      val (n, bytes) = withBytesRead(s) {
        sources.StoreTables.foldOverrides(s, pipeline.LinkGraph.tables(s, root)); 1L
      }
      graphFoldBytes(dir) = graphFoldBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // the maintained-TrustRank twin of graph_rank_epoch: same
    // block-local build, but with a REGISTERED trust set (copy-0 seed
    // ids — identical at both corpus sizes), so each epoch also
    // absorbs the seed-conditional level table through the same
    // frontier rounds. The claim: maintained TrustRank's epoch cost is
    // the uniform path's shape (reach-bounded keyed reads), so wall
    // and bytes stay flat at 10× — the refresh a crawl pays for its
    // source-selection prior follows the EPOCH, never the graph.
    "graph_trust_epoch" -> { (s, dir) =>
      def blockDst(mul: Long, add: Long) =
        col("doc_id") - pmod(col("doc_id"), lit(500L)) +
          pmod(col("doc_id") * mul + add, lit(500L))
      val root = graphRoots.getOrElseUpdate(s"$dir#trust", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lgt")
          .resolve("g").toString
        val docs = Tables.load(s, dir, "documents")
        val edges = docs.select(col("doc_id").as("src"), blockDst(7, 3).as("dst"))
          .unionAll(docs.select(col("doc_id").as("src"), blockDst(13, 11).as("dst")))
        pipeline.LinkGraph.create(edges, "src", "dst", p, iters = 3,
          rowsPerFile = 4096L) // bench-scale granularity, see graph_rank_epoch
        pipeline.LinkGraph.registerTrustRank(s, p,
          docs.filter(col("doc_id") < 50).select(col("doc_id").as("id")))
        p
      })
      val epoch = Checkpoints.materialize(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id").as("src"), blockDst(11, 5).as("dst")))
      val (n, bytes) = withBytesRead(s) {
        pipeline.LinkGraph.appendEpoch(epoch, "src", "dst", root, "scalebench")
      }
      graphTrustBytes(dir) = graphTrustBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // fixed 5-vertex RTBF batch against its own persisted link-graph
    // store over the whole amplified corpus (same block-local build as
    // graph_rank_epoch): EVERY run forgets a FRESH victim set — a
    // completed forget re-invoked is a no-op, which would turn
    // min-of-2 into timing nothing — each set the same shape (block-0
    // vertices, block-local reach). The claim under test: the
    // snapshot-driven pair-deletes pay the victims' edge reach on ALL
    // FOUR tables (no cross-column table scan), so wall and bytes stay
    // flat under a 10x graph.
    "graph_forget" -> { (s, dir) =>
      def blockDst(mul: Long, add: Long) =
        col("doc_id") - pmod(col("doc_id"), lit(500L)) +
          pmod(col("doc_id") * mul + add, lit(500L))
      val root = graphRoots.getOrElseUpdate(s"$dir#forget", {
        val p = java.nio.file.Files.createTempDirectory("graft-scale-lgf")
          .resolve("g").toString
        val docs = Tables.load(s, dir, "documents")
        val edges = docs.select(col("doc_id").as("src"), blockDst(7, 3).as("dst"))
          .unionAll(docs.select(col("doc_id").as("src"), blockDst(13, 11).as("dst")))
        pipeline.LinkGraph.create(edges, "src", "dst", p, iters = 3,
          rowsPerFile = 4096L) // bench-scale granularity, see graph_rank_epoch
        p
      })
      val k = graphForgetRuns.updateWith(dir)(n => Some(n.getOrElse(0) + 1)).get
      val ids: Seq[Any] = Seq(0, 1, 2, 3, 4).map(i => 7L + 100L * i + 10L * k)
      val (n, bytes) = withBytesRead(s) {
        pipeline.LinkGraph.forget(s, root, ids)
        ids.size.toLong
      }
      graphForgetBytes(dir) = graphForgetBytes.get(dir).fold(bytes)(math.min(_, bytes))
      n
    },
    // radius-probing banded phash near-dup over the WHOLE corpus (the
    // gate query caps ids; amplification must grow real collisions
    // linearly, with the fixed 72-key probe fan-out per row)
    "phash_neardup" -> { (s, dir) =>
      val g = floor(col("doc_id") / 8).cast("long")
      val m = pmod(col("doc_id"), lit(8L))
      val baseHash = graft.functions.md5Prefix60(g.cast("string"))
      val mask = when(m === 7, lit(0x0101010101010101L))
        .otherwise(pmod(m, lit(2L)) * 1 +
          pmod(floor(m / 2).cast("long"), lit(2L)) * 256 +
          pmod(floor(m / 4).cast("long"), lit(2L)) * 65536)
      val hashes = Tables.load(s, dir, "documents")
        .select(col("doc_id"), baseHash.bitwiseXOR(mask).as("phash"))
      pipeline.Multimodal.phashNearDup(hashes, "doc_id", "phash", maxDist = 8).count()
    })

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session("graft-scale", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val marker = new java.io.File(s"$workDir/_AMPLIFIED_$factor")
    if (!marker.exists()) {
      System.err.println(s"[scale] amplifying $baseDir x$factor -> $workDir")
      amplify(spark, baseDir, workDir, factor)
      marker.getParentFile.mkdirs(); marker.createNewFile(); ()
    }

    def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // capture the workload's OUTPUT SIZE (its returned count) with the
    // timing: output-proportional tiers (near-dup pairs, verified
    // candidates) legitimately grow with corpus size, so the honest
    // scale metric is seconds per unit of output, not raw wall ratio
    def time(fn: (SparkSession, String) => Long, dir: String): Option[(Double, Long)] = {
      val t0 = System.nanoTime()
      try { val n = fn(spark, dir); Some(((System.nanoTime() - t0) / 1e9, n)) }
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] failed on $dir: $e"); None
      } finally release()
    }

    val rows = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    for (tbl <- Seq("lineitem", "events", "documents", "embeddings"))
      rows(tbl) = (Tables.load(spark, baseDir, tbl).count(),
        Tables.load(spark, workDir, tbl).count())

    // min-of-2 at each size (first run eats codegen compilation; the
    // min reflects the plan), base and scaled back-to-back per workload
    // so co-tenant drift hits both sides of a ratio equally
    // optional args: workload-name filter (local iteration on a subset)
    val only = args.toSet
    val results = workloads
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      System.err.println(s"[scale] $name")
      val base = Seq(time(fn, baseDir), time(fn, baseDir)).flatten
      val scaled = Seq(time(fn, workDir), time(fn, workDir)).flatten
      if (base.isEmpty || scaled.isEmpty) None
      else Some(name -> (base.minBy(_._1), scaled.minBy(_._1)))
    }

    def fmt(v: Double) = f"$v%.3f"
    val wl = results.map { case (name, ((b, bn), (sc, sn))) =>
      // per_out_ratio: wall growth normalized by output growth — ≈1 means
      // the engine's cost per emitted row is flat under amplification
      // (output-proportional tier scaling correctly); only meaningful
      // when the output actually grew
      val perOut =
        if (bn > 0 && sn > bn) s""","per_out_ratio":${fmt((sc / sn) / (b / bn))}"""
        else ""
      s""""$name":{"base_sec":${fmt(b)},"scaled_sec":${fmt(sc)},"ratio":${fmt(sc / b)},"base_n":$bn,"scaled_n":$sn$perOut}"""
    }.mkString("{", ",", "}")
    val rj = rows.map { case (tb, (b, sc)) => s""""$tb":[$b,$sc]""" }.mkString("{", ",", "}")
    // probe I/O under amplification: bytes the fixed-batch probe read
    // from the store at each corpus size — flat-ish means the pruned
    // layout holds (I/O ∝ batch), ~factor× means it re-reads the corpus
    val probeIo = (ndProbeBytes.get(baseDir), ndProbeBytes.get(workDir)) match {
      case (Some(b), Some(sc)) if b > 0 =>
        s""","nd_store_probe_bytes":{"base_mb":${fmt(b / 1e6)},"scaled_mb":${fmt(sc / 1e6)},"ratio":${fmt(sc.toDouble / b)},"store_mb":[${fmt(ndStoreBytes.getOrElse(baseDir, 0L) / 1e6)},${fmt(ndStoreBytes.getOrElse(workDir, 0L) / 1e6)}]}"""
      case _ => ""
    }
    // fragmented-vs-reclustered probe I/O at each corpus size: the
    // recluster payoff is the fraction of fragmented bytes it removes
    def maintAt(dir: String, key: String) = ndMaintBytes.get(dir).collect {
      case (frag, rec) if frag > 0 =>
        s""""$key":{"frag_mb":${fmt(frag / 1e6)},"reclustered_mb":${fmt(rec / 1e6)},"ratio":${fmt(rec.toDouble / frag)}}"""
    }
    val maintIo = (maintAt(baseDir, "base") ++ maintAt(workDir, "scaled")).toSeq match {
      case Nil => ""
      case ms  => ms.mkString(""","nd_store_recluster_bytes":{""", ",", "}")
    }
    // ANN op I/O under amplification: search must stay codes-sized
    // (≈ m bytes × probed rows), ingest id-column-sized — either one
    // ballooning toward the corpus' VECTOR bytes indicts the layout
    def annIo(m: scala.collection.concurrent.TrieMap[String, Long], key: String) =
      (m.get(baseDir), m.get(workDir)) match {
        case (Some(b), Some(sc)) if b > 0 =>
          s""","$key":{"base_mb":${fmt(b / 1e6)},"scaled_mb":${fmt(sc / 1e6)},"ratio":${fmt(sc.toDouble / b)}}"""
        case _ => ""
      }
    // the banding sweep's byte table: per layout, probe bytes at both
    // sizes + the ratio — read next to nd_store_probe_bytes (the 16x4
    // production layout) to see whether ANY layout beats the density
    // floor or the growth is structural
    val bandSweep = Seq("8x8", "32x2").flatMap { key =>
      (ndBandProbeBytes.get(s"$key@$baseDir"), ndBandProbeBytes.get(s"$key@$workDir")) match {
        case (Some(b), Some(sc)) if b > 0 =>
          Some(s""""$key":{"base_mb":${fmt(b / 1e6)},"scaled_mb":${fmt(sc / 1e6)},"ratio":${fmt(sc.toDouble / b)},"store_mb":[${fmt(ndBandStoreBytes.getOrElse(s"$key@$baseDir", 0L) / 1e6)},${fmt(ndBandStoreBytes.getOrElse(s"$key@$workDir", 0L) / 1e6)}]}""")
        case _ => None
      }
    } match {
      case Nil => ""
      case ms  => ms.mkString(""","nd_probe_band_sweep":{""", ",", "}")
    }
    val annIoJson = bandSweep + annIo(annSearchBytes, "ann_search_bytes") +
      annIo(annCodesBytes, "ann_codes_probe_bytes") +
      annIo(annIngestBytes, "ann_ingest_bytes") +
      annIo(lexAppendBytes, "lex_append_bytes") +
      annIo(lexSearchBytes, "lex_search_bytes") +
      annIo(lexFoldBytes, "lex_fold_io_bytes") +
      annIo(graphEpochBytes, "graph_rank_epoch_bytes") +
      annIo(graphTrustBytes, "graph_trust_epoch_bytes") +
      annIo(graphFoldBytes, "graph_fold_io_bytes") +
      annIo(graphForgetBytes, "graph_forget_bytes")
    val censusIo = (lineCensusBytes.get(baseDir), lineCensusBytes.get(workDir)) match {
      case (Some(b), Some(sc)) if b > 0 =>
        s""","line_census_probe_bytes":{"base_mb":${fmt(b / 1e6)},"scaled_mb":${fmt(sc / 1e6)},"ratio":${fmt(sc.toDouble / b)},"census_mb":[${fmt(lineCensusSize.getOrElse(baseDir, 0L) / 1e6)},${fmt(lineCensusSize.getOrElse(workDir, 0L) / 1e6)}]}"""
      case _ => ""
    }
    println(s"""{"factor":$factor,"base":"$baseDir","rows":$rj,"workloads":$wl$probeIo$maintIo$annIoJson$censusIo}""")
    spark.stop()
  }
}
