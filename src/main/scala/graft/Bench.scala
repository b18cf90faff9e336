package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Driver benchmark main: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout (the driver
  * contract). Additionally reports reference-style throughput lines
  * (`BENCHMARK_RESULT | scenario=… rows=… durationMs=… rowsPerSec=…`,
  * BASELINE.md "Reporting format") on stderr for the e2e copy scenario,
  * mirroring tests/.../ThroughputReporter.scala:5-13.
  */
object Bench {
  /** Per-query timings from the newest `BENCH_r*.json` in `dir`, feeding
    * the >30% regression-retime net. Driver-written round files wrap the
    * bench's stdout JSON line under a `parsed` key (top-level keys are
    * `{n, rc, cpus, sf, tail, parsed}`), so look there first and fall
    * back to a top-level `queries` for raw bench output saved directly.
    */
  private def priorRoot(dir: java.io.File): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
    files.sortBy(_.getName.replaceAll("\\D", "").toInt).lastOption.flatMap { f =>
      try Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
      catch { case NonFatal(_) => None }
    }
  }

  private def benchNode(root: com.fasterxml.jackson.databind.JsonNode,
                        key: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    Option(root.get("parsed")).map(_.get(key)).filter(_ != null)
      .orElse(Option(root.get(key)))

  private[graft] def priorQueries(dir: java.io.File): Map[String, Double] =
    priorRoot(dir).flatMap(benchNode(_, "queries")).map { qs =>
      val m = scala.collection.mutable.Map.empty[String, Double]
      val it = qs.fields()
      while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asDouble() }
      m.toMap
    }.getOrElse(Map.empty)

  /** Prior round's pre-sweep CPU-spin sentinel (min of the [pre, post]
    * pair) — the machine-wide-slowdown reference for the retime net: if
    * THIS run's sentinel is far above the prior's, every query is
    * nominally "regressed" and retiming the sweep would triple-run it
    * for no information.
    */
  private[graft] def priorSpin(dir: java.io.File): Option[Double] =
    priorCal(dir, "spin_sec")

  /** Prior round's parallel-spin sentinel (present from round 15 on):
    * the full-width-contention reference the single-core spin is blind
    * to — host overcommit inflates every 32-thread query while
    * `spin_sec` stays flat (measured: 1.51× at flat spin).
    */
  private[graft] def priorSpinPar(dir: java.io.File): Option[Double] =
    priorCal(dir, "spin_par_sec")

  private def priorCal(dir: java.io.File, key: String): Option[Double] =
    priorRoot(dir).flatMap(benchNode(_, "calibration"))
      .flatMap(c => Option(c.get(key)))
      .filter(a => a.isArray && a.size() > 0)
      .map(a => (0 until a.size()).map(a.get(_).asDouble()).min)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-bench", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // reference-style e2e throughput scenarios (stderr lines)
    benchCopy(spark, sfDir)
    benchScenario("dedup_cluster", spark, sfDir, "documents") { (s, dir) =>
      SparkEntry.queries("q_dedup_clusters")(s, dir).count()
    }
    benchScenario("similarity_topk", spark, sfDir, "embeddings") { (s, dir) =>
      SparkEntry.queries("q_sim_topk")(s, dir).count()
    }
    // reference scenarios dynamodb→s3export / s3export→… : encode items,
    // write the export layout, read it back through the DSv2 connector
    benchScenario("s3export_roundtrip", spark, sfDir, "documents") { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench-export").toString
      val items = Tables.load(s, dir, "documents").selectExpr(
        """format_string('{"Item":{"pk":{"N":"%s"},"src":{"S":"%s"}}}', doc_id, source) as item_json""")
      sources.DdbTables.writeS3Export(items, tmp)
      s.read.format(sources.v2.DdbExportSource.Name).option("path", tmp).load().count()
    }
    // PQ ANN layout end to end: train codebooks, persist the compressed
    // (id, codes) index, ADC-search it — the memory-bound scan format
    benchScenario("pq_index_search", spark, sfDir, "embeddings") { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val emb = Tables.load(s, dir, "embeddings")
      val model = pipeline.Pq.train(emb, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench-pq")
        .resolve("codes").toString
      emb.select(col("vec_id"),
        pipeline.Pq.encode(col("embedding"), model).as("codes")).write.parquet(tmp)
      pipeline.Pq.adcTopK(emb.filter(col("vec_id") < 20), s.read.parquet(tmp),
        "vec_id", "embedding", "codes", model, k = 10).count()
    }
    benchScenario("asof_join", spark, sfDir, "events") { (s, dir) =>
      SparkEntry.queries("q_asof_join")(s, dir).count()
    }
    benchScenario("asof_native", spark, sfDir, "events") { (s, dir) =>
      SparkEntry.queries("q_asof_native")(s, dir).count()
    }
    // FULL-corpus near-dup tier (no doc_id bound): the oracle-gated
    // variants cap the corpus so DuckDB can compute exact Jaccard; this
    // scenario pushes LSH -> estimate -> exact verify -> clustering
    // through every document and asserts the two self-consistency
    // invariants an oracle can't reach at this size: (a) both endpoints
    // of every verified pair land in the same cluster, (b) the labels
    // are idempotent (rep(rep(v)) = rep(v)).
    //
    // Wall-clock note: the synthetic corpus is near-dup SATURATED — at
    // sf0.1, 5k docs produce ~5.4M LSH candidates of which ~965k are
    // TRUE pairs at J>=0.9, so the pair tier's output (and its cost) is
    // inherently ~10⁶ rows; this scenario's seconds measure that real
    // workload, not plan overhead. Real crawl corpora are far sparser;
    // on saturation like this, switch the pipeline to lshStarEdges
    // (O(members) edges per bucket) when all-pairs output isn't needed.
    benchScenario("full_neardup", spark, sfDir, "documents")(fullNeardup _)
    // full curation pipeline as ONE chained plan: quality filter ->
    // language filter -> exact dedup -> per-source cap -> token packing
    // -> split labelling. The shape a training-data run actually
    // executes: each stage consumes the previous DataFrame lazily, so
    // Catalyst fuses the scan+filter stages and the only shuffles are
    // the dedup groupBy, the cap windows, and the packing repartition.
    benchScenario("corpus_pipeline", spark, sfDir, "documents")(corpusPipeline _)
    // data-layout scenario: z-cluster lineitem on (partkey, suppkey),
    // write, then run a second-dimension point-predicate read over the
    // clustered files (the scan the layout exists to accelerate)
    benchScenario("zorder_layout", spark, sfDir, "lineitem") { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench-zorder")
        .resolve("out").toString
      val li = Tables.load(s, dir, "lineitem")
      val Array(pkMax, skMax) = li
        .selectExpr("max(l_partkey)", "max(l_suppkey)")
        .head().toSeq.map(v => v.toString.toLong).toArray
      val z = operators.ZOrder.zValue(Seq(
        operators.ZOrder.scaleTo(col("l_partkey"), 1L, pkMax, 16),
        operators.ZOrder.scaleTo(col("l_suppkey"), 1L, skMax, 16)), 16)
      operators.ZOrder.clusterBy(li, z, 16).write.parquet(tmp)
      s.read.parquet(tmp).filter(col("l_suppkey") === skMax).count()
    }

    // Noise calibration: this host is co-tenant (documented 37.8-160.7 s
    // swings across identical binaries in docs/BENCH_LOCAL.md), so the
    // JSON carries two fixed-work sentinels timed exactly like the
    // queries, before and after the sweep. A reader normalizes a
    // polluted run by the sentinel ratio: if the spin/job sentinels read
    // k× their quiet-period cost, query times inflated by ~k× are CPU
    // steal, not regressions.
    val calSpinPre = minOf3(cpuSpin _)
    val calParPre = minOf3(() => parallelSpin(cpus.toInt))
    val calSparkPre = minOf3(() => sparkCalibration(spark))

    // min of up to three runs per query: single-shot timings carry
    // whichever codegen-compile / co-tenant noise lands on them; the min
    // reflects the plan's real cost. The third run fires only when the
    // first two disagree by >15% — agreement means the min is already
    // trustworthy, disagreement means something polluted one of them.
    // Only NonFatal failures are recorded per-query (OOM/VM errors must
    // crash the run, not print a plausible JSON line); a failed query is
    // listed under "errors" so its timing is never mistaken for a result.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // A run that threw contributes no timing (its fast-fail duration is
    // not the plan's cost): failed runs are excluded from the min, and a
    // query whose every run failed is omitted from the timed map/total —
    // it exists only under "errors".
    //
    // Sweep-state hygiene: several queries materialize frames via
    // localCheckpoint (Dedup.keptFrame etc.) whose storage blocks live
    // until the session ends; across a 138-query × 2-3-run sweep those
    // orphaned blocks accumulate and inflate later queries' in-sweep
    // timings well past their isolated cost (round 8: q_dedup_clusters
    // 8.23 s in-sweep vs 2.39 s isolated). Every run therefore releases
    // ALL persistent RDDs afterwards — safe because queries are
    // self-contained (each fn call rebuilds its frames; nothing is
    // shared across runs) — outside the timed section, so each timing
    // measures a run against a clean block store.
    // Beyond unpersist: dead shuffle files and broadcast blocks are
    // reclaimed by the ContextCleaner only after their driver-side refs
    // are GARBAGE COLLECTED (weak-ref tracking) — and a sweep's tight
    // query loop generates almost no driver-heap pressure, so hundreds
    // of runs' shuffles/broadcasts linger in the block manager and on
    // disk, squeezing the unified memory pool until join/agg-heavy
    // queries spill (round 11: raw in-sweep timings up to 50× their
    // same-session retimes — the retime phase ran fast because a major
    // GC had fired by then). An explicit GC per run keeps the cleaner
    // fed continuously; it runs OUTSIDE the timed section.
    // Release BLOCKING and drain before the next timed section: the
    // old non-blocking unpersist queued block removals that then ran
    // CONCURRENTLY with the next query's timed run — checkpoint-heavy
    // gates (q_pagerank_incr's per-epoch localCheckpoints, q_cfg_mmr)
    // carried 1.7-1.8× raw-vs-retime gaps from exactly that overlap.
    // The double GC + pause feeds the weak-ref ContextCleaner twice
    // (refs discovered by the first pass are enqueued, the second pass
    // collects their cleanup garbage) and gives its async thread a
    // beat to finish shuffle/broadcast removals — all OUTSIDE the
    // timed section, so each timing starts from a settled block store.
    def releaseSweepState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      Thread.sleep(50)
      System.gc()
      Thread.sleep(50)
    }
    def timedRun(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val r =
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case NonFatal(e) =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("")).replaceAll("[\"\\\\\n\r\t]", " ").take(80)
          None
        }
      releaseSweepState()
      r
    }
    // optional args: query-name filter (local iteration on a subset —
    // the ScaleBench `only` discipline); the full sweep remains the
    // no-arg default the driver runs
    val only = args.toSet
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      def once(): Option[Double] = timedRun(name, fn)
      val firstTwo = Seq(once(), once()).flatten
      val timings =
        if (firstTwo.size == 2 && firstTwo.max > firstTwo.min * 1.15)
          firstTwo ++ once()
        else firstTwo
      if (timings.isEmpty) None else Some(name -> timings.min)
    }
    // Fresh-state evidence for the slowest K AND for every round-over-
    // round regression: re-time them at sweep end (block store clean,
    // min-of-3) under a separate "retimed" key. With per-run release
    // these should match the in-sweep numbers — a retimed value well
    // below its sweep twin flags residual session state a reader should
    // trust the retimed number over. The regression arm compares against
    // the latest committed BENCH_r*.json in the working directory: any
    // query >30% over its prior-round value gets fresh counter-evidence
    // too (sub-second regressions used to escape the slowest-5 net).
    val prior: Map[String, Double] = priorQueries(new java.io.File("."))
    // the retime net, widened twice by round-over-round evidence: the
    // slowest TEN (round 13's committed record carried 20-70% in-sweep
    // inflation on entries just past the old slowest-5 cut) plus EVERY
    // common-query mover >1.3× with NO absolute floor (the old +0.2s
    // floor let eleven 1.2-1.7× sub-2s movers escape unretimed in the
    // same record — sub-second noise is exactly what a cheap retime
    // refutes). The machine-wide-slowdown guard is the SENTINEL, not a
    // cap: if this run's CPU-spin reads far above the prior round's,
    // everything is nominally "regressed" and retiming the sweep is
    // pure noise — skip the net and flag it.
    // full-width contention (spin_par vs the prior round's) counts as
    // machine-slow too: host overcommit inflates every 32-thread query
    // while the single-core spin reads flat — retiming under it is
    // noise, same as a single-core slowdown
    val machineSlow =
      priorSpin(new java.io.File(".")).exists(ps =>
        ps > 0 && calSpinPre > ps * 1.5) ||
      priorSpinPar(new java.io.File(".")).exists(pp =>
        pp > 0 && calParPre > pp * 1.5)
    val slowest = results.toSeq.sortBy(-_._2).take(10).map(_._1)
    val regressed =
      if (machineSlow) Seq.empty
      else results.toSeq
        .flatMap { case (name, v) =>
          prior.get(name).filter(p => v > p * 1.3)
            .map(p => (name, v - p)) }
        .sortBy(-_._2).map(_._1)
    val retimed = (slowest ++ regressed).distinct.flatMap { name =>
      val ts = Seq.fill(3)(timedRun(name, SparkEntry.queries(name))).flatten
      if (ts.isEmpty) None else Some(name -> ts.min)
    }
    val calSpinPost = minOf3(cpuSpin _)
    val calParPost = minOf3(() => parallelSpin(cpus.toInt))
    val calSparkPost = minOf3(() => sparkCalibration(spark))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The driver reads this line from a 2000-char stdout tail and parses
    // it as JSON: keep it short and, if the per-query map would overflow
    // the buffer, keep only the slowest entries — "value" always covers
    // every query. Per-query values print at 2 decimals with trailing
    // zeros trimmed (10 ms granularity — far under this host's co-tenant
    // noise floor) so the line carries ~60+ entries instead of ~50 and
    // round-over-round comparisons keep their common-query coverage.
    def fmt(v: Double) = f"$v%.3f"
    def fmtQ(v: Double) = {
      val s = f"$v%.2f".reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      if (s.isEmpty) "0" else s
    }
    val ranked = results.toSeq.sortBy(-_._2)
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    // calibration sentinels ([pre-sweep, post-sweep] mins): fixed CPU
    // work and a fixed tiny Spark job — constants a reader divides a
    // quiet-period record by to normalize co-tenant load out of this run
    val calJson = "\"calibration\":{" +
      s""""spin_sec":[${fmt(calSpinPre)},${fmt(calSpinPost)}],""" +
      s""""spin_par_sec":[${fmt(calParPre)},${fmt(calParPost)}],""" +
      s""""spark_job_sec":[${fmt(calSparkPre)},${fmt(calSparkPost)}]}""" +
      (if (machineSlow) ""","machine_slow":true""" else "")
    // "retimed_total": the sweep total with every retimed value
    // substituted — the one number a reader compares across rounds
    // without re-deriving which in-sweep entries carried context
    // inflation (raw "value" stays the honest sweep record)
    val retimedMap = retimed.toMap
    val retimedTotal = results.map { case (k, v) =>
      math.min(v, retimedMap.getOrElse(k, v)) }.sum
    val retimedJson = retimed.map { case (k, v) => "\"" + k + "\":" + fmtQ(v) }
      .mkString("\"retimed\":{", ",", s"},\"retimed_total\":${fmt(retimedTotal)},")
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmtQ(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$errJson,$retimedJson$calJson,"sf":"$sfDir"}"""
    }
    // 1950: the driver's tail is 2000 chars and the line is stdout's
    // last — leave slack for the trailing newline only (1800 dropped 13
    // material queries from the r15 record)
    val out = (ranked.size to 1 by -1).iterator
      .map(k => line(ranked.take(k))).find(_.length <= 1950)
      .getOrElse(line(Seq.empty))
    try spark.stop() catch { case NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed: $e")
    }
    println(out)
  }

  /** FULL-corpus near-dup tier (no doc_id bound) + the two
    * self-consistency invariants an oracle can't reach at this size:
    * (a) both endpoints of every verified pair land in the same
    * cluster, (b) labels are idempotent. Shared with ScaleBench.
    */
  def fullNeardup(s: SparkSession, dir: String): Long = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(s, dir, "documents")
    val sh = docs.select(col("doc_id"), pipeline.Dedup.shingles("text", 1).as("sh"))
      .withColumn("sig", pipeline.Dedup.minHashSignature(col("sh"), numHashes = 64))
      .localCheckpoint()
    val candidates = pipeline.Dedup
      .lshCandidatesWeighted(sh, "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .filter(col("matching_bands") >= 4).select("id_a", "id_b")
    val estimated = pipeline.Dedup.estimateJaccard(candidates, sh, "doc_id", "sig")
      .filter(col("matching_hashes") >= 46).select("id_a", "id_b")
    val verified = pipeline.Dedup.verifyJaccard(estimated, sh, "doc_id", "sh", 9, 10)
      .select("id_a", "id_b").localCheckpoint()
    val labels = pipeline.Dedup
      .clusterRepresentatives(docs, verified, "doc_id").localCheckpoint()
    val la = labels.withColumnRenamed("id", "id_a").withColumnRenamed("rep", "rep_a")
    val lb = labels.withColumnRenamed("id", "id_b").withColumnRenamed("rep", "rep_b")
    val crossCluster = verified.join(la, "id_a").join(lb, "id_b")
      .filter(col("rep_a") =!= col("rep_b")).count()
    require(crossCluster == 0,
      s"$crossCluster verified pairs span two clusters — labels are not a closure")
    val nonRoot = labels.as("a")
      .join(labels.as("b"), col("a.rep") === col("b.id"))
      .filter(col("b.rep") =!= col("b.id")).count()
    require(nonRoot == 0, s"$nonRoot labels point at a non-root — not idempotent")
    // return the VERIFIED PAIR count, not the labels count: pair volume
    // is the output that legitimately grows with corpus size (dup
    // density × docs), so ScaleBench's per-output normalization reads
    // the pair tier's cost, not the trivially-linear labeling table
    verified.count()
  }

  /** Full curation pipeline as ONE chained plan: quality filter ->
    * language filter -> exact dedup -> per-source cap -> token packing
    * -> split labelling. Shared with ScaleBench.
    */
  def corpusPipeline(s: SparkSession, dir: String): Long = {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(s, dir, "documents")
    val kept = docs
      .filter(col("n_chars") >= 200 && col("lang").isin("en", "fr", "de"))
    val deduped = pipeline.Dedup.exactGroups(kept, col("text"), "doc_id")
      .select(col("keep_id").as("doc_id")).join(kept, "doc_id")
    val capped = operators.Sampling.capPerGroup(
      deduped, Seq("source"),
      Seq(md5(col("text").cast("binary")), col("doc_id")), k = 1000)
    val packed = pipeline.Packing.packGreedy(
      capped.select(col("doc_id"),
        pipeline.Text.tokenCount(col("text")).cast("long").as("n_tok")),
      "doc_id", "n_tok", budget = 2048, shardWidth = 1000)
    val split = operators.Sampling.split(
      packed, "seq_id", Seq("train" -> 98, "val" -> 1, "test" -> 1), 100)
    split.count()
  }

  private def minOf3(work: () => Double): Double =
    Seq(work(), work(), work()).min

  /** Fixed single-core CPU work (2^26 xorshift64 steps), timed. Pure
    * compute, no allocation, no Spark — isolates raw CPU availability
    * from scheduler/JVM effects. ~0.1 s on an idle core.
    */
  private def cpuSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 26)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    // the value escapes so the loop cannot be dead-code-eliminated
    if (x == 42L) System.err.println("calibration sentinel collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** The [[cpuSpin]] work on `n` threads at once (one per configured
    * core); returns the SLOWEST thread's seconds. This is the sentinel
    * for FULL-WIDTH contention — host CPU overcommit, a co-tenant
    * burst — which the single-core spin cannot see: measured on this
    * host (round 15), a 32-way spin ran 1.51× the single spin while
    * `spin_sec` read dead flat and every 32-thread query inflated by
    * the same ~1.5×. A reader normalizes a polluted run by
    * spin_par/spin relative to the quiet-period ratio.
    */
  private def parallelSpin(n: Int): Double = {
    val times = new Array[Double](n)
    val ths = (0 until n).map { i =>
      new Thread(() => { times(i) = cpuSpin() })
    }
    ths.foreach(_.start())
    ths.foreach(_.join())
    times.max
  }

  /** Fixed tiny Spark job (8M-row range -> hash -> sum), timed like a
    * query. Exercises scheduling + whole-stage codegen + the executor
    * pool, so it inflates under the same co-tenant pressure the real
    * queries feel.
    */
  private def sparkCalibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // pmod keeps the sum within 8M × 2^31 ≈ 2^54 — ANSI mode throws on
    // Long overflow, and raw xxhash64 values sum past 2^63 immediately
    spark.range(0, 1L << 23, 1, 8).selectExpr("pmod(xxhash64(id), 2147483647) AS h")
      .agg(org.apache.spark.sql.functions.sum("h")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Time one scenario and report reference-style rows/sec over the
    * scenario's input table size.
    */
  private def benchScenario(name: String, spark: SparkSession, sfDir: String,
                            inputTable: String)(run: (SparkSession, String) => Long): Unit = {
    try {
      val inputRows = Tables.load(spark, sfDir, inputTable).count()
      val t0 = System.nanoTime()
      run(spark, sfDir)
      val ms = (System.nanoTime() - t0) / 1e6
      val rps = (inputRows * 1000 / ms).toLong
      System.err.println(
        s"BENCHMARK_RESULT | scenario=$name rows=$inputRows durationMs=${ms.toLong} rowsPerSec=$rps")
    } catch {
      case NonFatal(e) => System.err.println(s"[bench] $name failed: ${e.getMessage}")
    } finally {
      // scenarios run before the query sweep and several checkpoint
      // frames — release their blocks so the sweep starts clean
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  private def benchCopy(spark: SparkSession, sfDir: String): Unit = {
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-bench-copy").toString
      val cfg = config.PipelineConfig.parse(
        s"""source.type: parquet
           |source.path: $sfDir/lineitem.parquet
           |target.type: parquet
           |target.path: $out/lineitem
           |target.mode: overwrite
           |""".stripMargin).toOption.get
      val t0 = System.nanoTime()
      val result = Pipeline.run(spark, cfg)
      val written = spark.read.parquet(s"$out/lineitem").count()
      val ms = (System.nanoTime() - t0) / 1e6
      require(written == result.rowsCopied, s"copy verification failed: $written")
      val rps = (result.rowsCopied * 1000 / ms).toLong
      System.err.println(
        s"BENCHMARK_RESULT | scenario=parquet_copy rows=${result.rowsCopied} " +
          s"durationMs=${ms.toLong} rowsPerSec=$rps")
    } catch {
      case NonFatal(e) => System.err.println(s"[bench] copy scenario failed: ${e.getMessage}")
    }
  }
}
