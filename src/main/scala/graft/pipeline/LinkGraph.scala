package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted link-graph store with batch-proportional epoch appends
  * and EXACT incremental PageRank maintenance — the crawl-refresh
  * path [[graft.operators.Graphs.appendToPageRank]] proves the math
  * for, made operational: that API takes the old and union edge sets
  * as FRAMES, so every epoch still pays a whole-graph `distinct` +
  * degree aggregate before the frontier rounds even start. This store
  * persists what those scans recompute — edges clustered both ways,
  * a degree sidecar, the per-level rank state — so absorbing a crawl
  * epoch touches only what the epoch can reach:
  *
  *  - `out/`  (src, dst) src-clustered  — delta detection, frontier
  *    expansion (out-neighbors of a bounded id set);
  *  - `in/`   (src, dst) dst-clustered  — candidate rank recompute
  *    needs candidates' FULL in-edge sets (same edges, second sort
  *    order: the classic out+in adjacency pair of graph warehouses);
  *  - `deg/`  (src, deg, seq)           — current out-degree without
  *    re-aggregating the edge table (latest seq per src wins);
  *  - `levels/` (id, iter, rank, seq)   — every intermediate rank
  *    vector of the finite recurrence (latest seq per (id, iter)
  *    wins), because level-wise maintenance must know what each level
  *    WAS, not just the last;
  *  - `labid/` + `labrep/` (id, rep, seq), OPTIONAL (built by
  *    [[createComponents]]) — maintained connected-component labels,
  *    dual-clustered like the edges: by id for endpoint lookups, by
  *    rep for changed-component member relabels.
  *
  * All four tables carry [[graft.sources.FileStatsIndex]] artifacts,
  * so the epoch path's point lookups go through
  * [[graft.sources.KeyedReads]] (planning-time file prune + pushed
  * sorted-chunk IN predicates): epoch cost follows the delta's k-hop
  * reach × iters — never the graph. Rank semantics are
  * [[graft.operators.Graphs.pageRank]]'s integer-exact leak
  * formulation (dangling mass couples every vertex to every other,
  * defeating frontier-bounded maintenance), and the maintained state
  * is row-identical to `pageRankLevels(all edges)` — the gate pins
  * the store against the whole-graph DuckDB recurrence.
  *
  * Epoch protocol (the [[graft.sources.EpochFiles]] discipline shared
  * with AnnIndex/LexIndex): a tag's seq number is recorded first
  * (reused verbatim on replay), then out/in/deg publish, then levels —
  * a crash anywhere is repaired by replaying the SAME tag, which
  * retires every file the tag ever published before recomputing.
  * Updates are append-only overrides (LSM shape): reads resolve the
  * latest seq per key, [[compact]] folds accumulated overrides back
  * into one clustered table per dir (crash-safe swap; destroys
  * per-tag file names, so compact only between settled epochs).
  */
object LinkGraph {

  private def outDir(root: String) = root + "/out"
  private def inDir(root: String) = root + "/in"
  private def degDir(root: String) = root + "/deg"
  private def levelsDir(root: String) = root + "/levels"
  private def labIdDir(root: String) = root + "/labid"
  private def labRepDir(root: String) = root + "/labrep"
  private def metaPath(root: String) = root + "/_graph.json"
  private def epochsDir(root: String) = root + "/_epochs"

  /** `rowsPerFile` is the store's FILE-GRANULARITY policy: every table
    * write splits output at this many rows per file (Spark's
    * maxRecordsPerFile under the range-sort, so split files stay
    * key-contiguous and the stats artifact keeps tight per-file
    * ranges). This is what makes point-read I/O follow the PROBE, not
    * the table: sharding by session shuffle width alone means the one
    * file covering a probe's key range grows linearly with the corpus
    * and every keyed read sweeps the growth in — measured 4.5× probe
    * bytes under a 10× graph before the policy existed. With any FIXED
    * granularity the swept-in rows are bounded by the granularity, so
    * probe bytes stay flat. Default 4M rows ≈ 100-200 MB files at this
    * schema's row width — the production shard size; benches pin a
    * scale-appropriate value at create time.
    */
  final case class Meta(iters: Int, dampingPct: Int, scale: Long,
                        rowsPerFile: Long = 4000000L)

  private def hadoopFs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readMeta(spark: SparkSession, root: String): Meta = {
    val pat = """\{"iters":(\d+),"dampingPct":(\d+),"scale":(\d+)\}""".r
    // pre-policy stores carry the three-field meta: they keep the
    // default granularity (their files were written before the knob)
    val patG =
      """\{"iters":(\d+),"dampingPct":(\d+),"scale":(\d+),"rowsPerFile":(\d+)\}""".r
    graft.sources.StoreTables.readSmall(spark, metaPath(root)).map(_.trim) match {
      case Some(patG(i, d, s, g)) => Meta(i.toInt, d.toInt, s.toLong, g.toLong)
      case Some(pat(i, d, s)) => Meta(i.toInt, d.toInt, s.toLong)
      case Some(other) =>
        throw new IllegalStateException(s"malformed ${metaPath(root)}: $other")
      case None =>
        throw new IllegalStateException(
          s"no link-graph store at $root (missing ${metaPath(root)})")
    }
  }

  /** The tag's monotonic sequence number — recorded ATOMICALLY before
    * anything else the epoch does, and reused verbatim when the tag is
    * replayed, so a replay's override rows land at the same LSM
    * position no matter how many later epochs were recorded in
    * between. (Running a DIFFERENT tag past an unrepaired crash is
    * outside the protocol, same as every store here.)
    */
  private def seqFor(spark: SparkSession, root: String, tag: String): Long = {
    val pat = """\{"seq":(\d+)\}""".r
    graft.sources.StoreTables.readSmall(spark, s"${epochsDir(root)}/$tag.json")
        .map(_.trim) match {
      case Some(pat(n)) => n.toLong
      case Some(other) => throw new IllegalStateException(
        s"malformed epoch record for $tag: $other")
      case None =>
        val dir = new org.apache.hadoop.fs.Path(epochsDir(root))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val max =
          if (!fs.exists(dir)) 0L
          else fs.listStatus(dir).map(_.getPath.getName)
            .filter(_.endsWith(".json"))
            .flatMap { n =>
              graft.sources.StoreTables.readSmall(spark, s"${epochsDir(root)}/$n")
                .map(_.trim).collect { case pat(v) => v.toLong }
            }.foldLeft(0L)(math.max)
        val seq = max + 1
        graft.sources.StoreTables.writeSmall(spark, s"${epochsDir(root)}/$tag.json",
          s"""{"seq":$seq}""")
        seq
    }
  }

  private def canon(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .transform(graft.Checkpoints.materialize)

  private val ShardRows = 2000000L

  /** Publish `df` as the table at `dir`'s share of epoch `tag`
    * ([[graft.sources.StoreTables.publish]]): override volume follows
    * the epoch, so shards follow its `rows` — one file per ~2M override
    * rows, small epochs land ONE file per table.
    */
  private def publish(spark: SparkSession, store: graft.sources.StoreTables.Store,
                      dir: String, df: DataFrame, tag: String, rows: Long): Unit = {
    graft.sources.StoreTables.publish(spark, store, store.table(dir), df, tag, Some(rows))
    ()
  }

  /** Create the table at `dir` of `store` from `rows` (every base write
    * of the store overwrites).
    */
  private def createTable(store: graft.sources.StoreTables.Store, dir: String,
                          rows: DataFrame): Unit =
    graft.sources.StoreTables.create(rows.sparkSession, store.table(dir), rows, "overwrite")

  /** Rows of `dir` whose `keyCol` matches a `probe.probeCol` value —
    * the two-layer pruned point lookup while the probe is bounded, a
    * semi-join fallback past `maxInline` (same rows, no scan prune).
    */
  /** Inline-key cap shared by [[readByKeys]] and the fused frontier
    * reads: past it, point reads fall back to semi-join scans.
    */
  private val MaxInlineKeys = 2000000

  /** Whole-table read with the signature-cached schema
    * ([[graft.sources.KeyedReads.schemaFor]]) — serve paths re-read the
    * same store dirs every call, and a schema-less parquet read pays a
    * footer-inference JOB each time.
    */
  private def readTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.sources.KeyedReads.schemaFor(spark, dir)).parquet(dir)

  private def readByKeys(spark: SparkSession, dir: String, keyCol: String,
                         probe: DataFrame, probeCol: String,
                         maxInline: Int = MaxInlineKeys,
                         materialize: Boolean = true): DataFrame =
    graft.sources.KeyedReads.collectKeys(probe, probeCol, maxInline) match {
      case Some(ks) => graft.sources.KeyedReads.prunedRead(spark, dir, keyCol, ks,
        materialize = materialize)
      case None => readTable(spark,dir).join(
        probe.select(col(probeCol).as(keyCol)).distinct(), Seq(keyCol), "left_semi")
    }

  /** Latest (key, value) per key of an LSM read: max seq wins. */
  private def resolveDeg(df: DataFrame): DataFrame =
    df.groupBy(col("src")).agg(max_by(col("deg"), col("seq")).as("deg"))

  private def resolveLabels(df: DataFrame): DataFrame =
    df.groupBy(col("id")).agg(max_by(col("rep"), col("seq")).as("rep"))

  private def labelsExist(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(labIdDir(root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def resolveLevels(df: DataFrame): DataFrame =
    df.groupBy(col("id"), col("iter"))
      .agg(max_by(col("rank"), col("seq")).as("rank"))

  /** Build the store: canonical edges clustered both ways, the degree
    * sidecar, and the full [[graft.operators.Graphs.pageRankLevels]]
    * state at seq 0.
    */
  def create(edges: DataFrame, srcCol: String, dstCol: String, root: String,
             iters: Int = 3, dampingPct: Int = 85,
             scale: Long = 1000000000000L,
             rowsPerFile: Long = 4000000L): Unit = {
    require(iters >= 1 && iters <= 30, "iters must be in [1, 30]")
    require(dampingPct >= 1 && dampingPct <= 99, "dampingPct must be in [1, 99]")
    require(scale >= 100L, "scale must be >= 100")
    require(rowsPerFile >= 1L, "rowsPerFile must be >= 1")
    val spark = edges.sparkSession
    val e = canon(edges, srcCol, dstCol)
    val store = layout(root, rowsPerFile, labels = false, trusts = Nil)
    // all four tables derive from the one materialized edge frame and
    // write to disjoint dirs — fan the builds out
    graft.Par.run(spark)(
      () => createTable(store, outDir(root), e),
      () => createTable(store, inDir(root), e),
      () => createTable(store, degDir(root),
        e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .withColumn("seq", lit(0L))),
      () => createTable(store, levelsDir(root),
        graft.operators.Graphs.pageRankLevels(e, "src", "dst", iters, dampingPct, scale)
          .withColumn("seq", lit(0L))))
    graft.sources.StoreTables.writeSmall(spark, metaPath(root),
      s"""{"iters":$iters,"dampingPct":$dampingPct,"scale":$scale,""" +
        s""""rowsPerFile":$rowsPerFile}""")
  }

  /** Absorb a crawl epoch's edges. Work is bounded by the epoch's
    * k-hop reach: delta detection probes `out/` by the batch's
    * sources; each round reads candidates' in-edges from `in/`, their
    * sources' degrees and previous-level ranks through point lookups,
    * and carries forward only ranks that truly differ from the stored
    * level. Returns the number of genuinely new edges (0 leaves the
    * store untouched). Replaying the same tag is retire-and-redo —
    * end-state idempotent at the SAME seq.
    */
  def appendEpoch(newEdges: DataFrame, srcCol: String, dstCol: String,
                  root: String, tag: String): Long = {
    val spark = newEdges.sparkSession
    val meta = readMeta(spark, root)
    // finish any interrupted auto-compact FIRST: a crash mid-compact
    // leaves some tables folded (their per-tag names destroyed) and
    // some not — retiring the tag's files from the unfolded tables
    // would delete a COMPLETED epoch's rows while the folded tables
    // keep theirs. Completing the fold restores the invariant (all
    // names gone, all rows present), and the delta anti-join below
    // then makes the replay a clean no-op.
    val store = tables(spark, root)
    graft.sources.StoreTables.rollback(spark, store, tag, redo = true)
    val seq = seqFor(spark, root, tag)
    val cand0 = canon(newEdges, srcCol, dstCol)
    // delta detection ∝ the batch's sources' existing out-edges; the
    // existing read stays LAZY — its only consumer is the anti-join
    // inside the delta materialization job
    val existing = readByKeys(spark, outDir(root), "src", cand0, "src",
        materialize = false)
      .select(col("src"), col("dst"))
    val delta = graft.Checkpoints.materialize(
      cand0.join(existing, Seq("src", "dst"), "left_anti"))
    val nDelta = delta.count()
    if (nDelta == 0) return 0L

    // the delta's source keys collect ONCE and prune both the stored-
    // degree read and the perturbation-seed out-read below (two
    // identical driver collects fused to one)
    val deltaSrcKeys = graft.sources.KeyedReads
      .collectKeys(delta, "src", MaxInlineKeys)
    // inline-bounded epoch: every remaining action of this absorb works
    // on the delta's reach through point reads — run each as ONE job on
    // the bounded child session (no AQE per-exchange fan-out, no
    // broadcast jobs; the same boundedness evidence that admits inline
    // keys gates entry, and the scale fallback below never comes through
    // here). An epoch past the inline cap keeps the adaptive path: its
    // publishes shuffle real volume. `bounded` re-binds a frame onto
    // that session; frames built there never outlive their block.
    val bspark =
      if (deltaSrcKeys.isDefined) graft.sources.BoundedExec.session(spark) else spark
    def bounded(df: DataFrame): DataFrame = graft.sources.BoundedExec.bind(df, bspark)
    def readByDeltaSrcs(dir: String, keyCol: String): DataFrame =
      deltaSrcKeys match {
        case Some(ks) => graft.sources.KeyedReads.prunedRead(spark, dir, keyCol,
          ks, materialize = false)
        case None => readTable(spark,dir).join(
          delta.select(col("src").as(keyCol)).distinct(), Seq(keyCol), "left_semi")
      }

    // degree overlay: stored deg for touched srcs + this epoch's adds
    // (the stored read stays lazy — consumed once by the publish below)
    val deltaDeg = delta.groupBy(col("src")).agg(count(lit(1)).as("add"))
    val oldDeg = resolveDeg(readByDeltaSrcs(degDir(root), "src"))
    val newDeg = deltaDeg.join(oldDeg, Seq("src"), "left")
      .select(col("src"),
        (coalesce(col("deg"), lit(0L)) + col("add")).as("deg"),
        lit(seq).as("seq"))

    // labels absorb BEFORE the edge publishes (they need the PRE-epoch
    // endpoint labels; a replay's retire restored them above)
    if (labelsExist(spark, root))
      absorbLabels(bspark, store, root, bounded(delta), seq, tag, nDelta)

    // edges + degrees publish FIRST: the frontier rounds below read
    // the union graph through the store's own tables. The three
    // publishes touch disjoint tables — fan them out (guide §1: the
    // epoch's cost is its job CHAIN; independent publishes overlap
    // their range-sample + write + stats jobs)
    graft.Par.run(bspark)(
      () => publish(bspark, store, outDir(root), bounded(delta), tag, nDelta),
      () => publish(bspark, store, inDir(root), bounded(delta), tag, nDelta),
      () => publish(bspark, store, degDir(root), bounded(newDeg), tag, nDelta))

    // perturbation seeds: out-neighbors of every changed-degree source
    // (all delta sources — appends only increase degree) + new vertices.
    // All three constituent reads stay lazy and fold into the ONE seeds
    // materialization job (they are point reads, not worth a job each).
    val touchedNodes = delta.select(col("src").as("id"))
      .unionAll(delta.select(col("dst").as("id"))).distinct()
    val knownIds = readByKeys(spark, levelsDir(root), "id", touchedNodes, "id",
        materialize = false)
      .select(col("id")).distinct()
    val newNodes = touchedNodes.join(knownIds, Seq("id"), "left_anti")
    val outOfDeltaSrcs = readByDeltaSrcs(outDir(root), "src")
      .select(col("dst").as("id"))
    // materialized on the bounded session, served back on the caller's:
    // the uniform rounds below are unbounded work
    val seeds = graft.sources.BoundedExec.bind(graft.Checkpoints.materialize(
      bounded(outOfDeltaSrcs.unionAll(newNodes).distinct())), spark)

    val levelRows = frontierRounds(spark, root, meta, seeds, seq)
    // level overrides are reach-bounded (≈ seeds × iters) — the delta-
    // derived shard count is the right order for them too. The uniform
    // publish and the per-trust-set rounds are independent (disjoint
    // level tables; the trust rounds read only the already-published
    // edge/degree tables and their own seed-conditional levels), so
    // they fan out together.
    val trustDigests = trustSets(spark, root)
    graft.Par.run(bspark)(
      (() => publish(bspark, store, levelsDir(root), bounded(levelRows), tag, nDelta)) +:
      trustDigests.map(dg => () => {
        val rows = frontierRounds(bspark, root, meta, bounded(seeds), seq,
          trustLevelsDir(root, dg),
          Some(readTable(bspark, trustSeedsDir(root, dg))))
        publish(bspark, store, trustLevelsDir(root, dg), rows, tag, nDelta)
      }): _*)
    // the epoch is SETTLED here (every table published under the tag's
    // recorded seq) — the one point the auto-compact policy may fold
    // accumulated overrides without violating the per-tag-name caveat
    graft.sources.StoreTables.autoCompact(spark, store)
    nDelta
  }

  /** The shared frontier-bounded maintenance loop (append AND forget
    * call it): recompute candidate ranks level by level from the
    * store's CURRENT tables — which must already reflect the perturbed
    * graph — carrying forward only ranks that truly differ from the
    * stored level. Returns the level override rows (id, iter, rank,
    * seq); any previous attempt's level files for the running tag must
    * be retired BEFORE calling (the compare below reads stored
    * levels).
    */
  private def frontierRounds(spark: SparkSession, root: String, meta: Meta,
                             seeds: DataFrame, seq: Long): DataFrame =
    frontierRounds(spark, root, meta, seeds, seq, levelsDir(root), None)

  /** [[frontierRounds]] against an arbitrary level table and an
    * optional TRUST seed set: with `trust = Some(ids)` the recurrence
    * is the seed-conditional one ([[graft.operators.Graphs
    * .personalizedPageRank]] — level 0 is `scale·[v∈S]` and the
    * per-round teleport term is `[v∈S]·base` instead of `base`),
    * which is exactly why TrustRank admits the same frontier-bounded
    * exact maintenance as the uniform ranks: the teleport indicator
    * depends only on the REGISTERED seed set, never on global graph
    * state, so a perturbation's reach is the same k-hop cone.
    */
  private def frontierRounds(spark: SparkSession, root: String, meta: Meta,
                             seeds: DataFrame, seq: Long, levelsPath: String,
                             trust: Option[DataFrame]): DataFrame = {
    val base = meta.scale / 100L * (100L - meta.dampingPct)
    // (id, __seed) lookup for the trust arm — seed sets are bounded
    // (hand-vetted trust lists), so the flag side broadcasts
    val flagOf: DataFrame => DataFrame = trust match {
      case Some(ts) => df => df.join(
          broadcast(ts.select(col("id")).withColumn("__seed", lit(1L))),
          Seq("id"), "left")
        .select(df.columns.map(col) :+
          coalesce(col("__seed"), lit(0L)).as("__seed"): _*)
      case None => df => df.withColumn("__seed", lit(1L))
    }
    var changed: DataFrame = null // (id, rank) differing at level k-1
    // driver-side twin of `changed` on the inline path: the rows are
    // cand-bounded (one rank per candidate id, |cand| ≤ MaxInlineKeys
    // — the SAME bound that admits the inline keys), so ONE bounded
    // collect per round replaces the round's checkpoint job AND the
    // next round's key-collect job, and every downstream consumer
    // (the level-(k-1) overlay, the changed-levels publish) sees a
    // LocalRelation instead of a checkpoint scan stage
    var changedRows: Option[Array[org.apache.spark.sql.Row]] = None
    val changedLevels = scala.collection.mutable.Buffer.empty[DataFrame]
    // the seed keys collect ONCE for the whole loop; every round's
    // candidate set is then assembled DRIVER-SIDE (seed keys ∪ one
    // collect of the changed set's out-neighbors) and handed to the
    // point reads as a local relation — the per-round materialize +
    // re-collect chain (4 driver jobs a round) collapses to 2, and
    // every join against the candidate set sees a LocalTableScan
    // instead of a checkpointed shuffle output
    val seedKeys = graft.sources.KeyedReads.collectKeys(seeds, "id", MaxInlineKeys)
    val idType = seeds.schema("id").dataType
    def localIds(ks: Array[Any]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(ks.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType))))
    def localRanks(rs: Array[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rs: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType))))
    for (k <- 1 to meta.iters) {
      def pruned(dir: String, keyCol: String, ks: Array[Any]) =
        graft.sources.KeyedReads.prunedRead(spark, dir, keyCol, ks,
          materialize = false)
      val (cand: DataFrame, candKeys: Option[Array[Any]]) =
        if (k == 1) (seeds, seedKeys)
        else {
          val chKeys: Option[Array[Any]] = changedRows match {
            case Some(rs) => Some(rs.map(_.get(0)))
            case None => graft.sources.KeyedReads
              .collectKeys(changed, "id", MaxInlineKeys)
          }
          val inlined = (seedKeys, chKeys) match {
            case (Some(sk), Some(ck)) =>
              val dsts = graft.sources.BoundedExec.on(
                pruned(outDir(root), "src", ck)
                  .select(col("dst")).distinct()
                  .limit(MaxInlineKeys + 1)).collect()
              if (dsts.length > MaxInlineKeys) None
              else {
                val ks = (sk ++ dsts.map(_.get(0))).distinct
                if (ks.length > MaxInlineKeys) None else Some(ks)
              }
            case _ => None
          }
          inlined match {
            case Some(ks) => (localIds(ks), Some(ks))
            case None => // past the inline cap: the original frame path
              val c = graft.Checkpoints.materialize(
                seeds.unionAll(
                    readByKeys(spark, outDir(root), "src",
                        changed.select(col("id")), "id")
                      .select(col("dst").as("id")))
                  .distinct())
              (c, graft.sources.KeyedReads.collectKeys(c, "id", MaxInlineKeys))
          }
        }
      // the pruned reads below are NOT separately materialized: each is
      // a footer-pruned point scan of a few files, so letting a dual
      // consumer re-run it inside the round's one real job is cheaper
      // than a dedicated driver job per read (guide §1: the job count,
      // not the bytes, is what a maintenance loop pays for)
      val inE = (candKeys match {
        case Some(ks) => pruned(inDir(root), "dst", ks)
        case None => readTable(spark,inDir(root)).join(
          cand.select(col("id").as("dst")).distinct(), Seq("dst"), "left_semi")
      }).select(col("src"), col("dst"))
      val srcs = inE.select(col("src")).distinct()
      val srcKeys = graft.sources.KeyedReads.collectKeys(srcs, "src", MaxInlineKeys)
      val degS = resolveDeg(srcKeys match {
        case Some(ks) => pruned(degDir(root), "src", ks)
        case None => readTable(spark,degDir(root))
          .join(srcs, Seq("src"), "left_semi")
      })
      // fused levels read: iter k-1 rows (the sources' previous level)
      // and iter k rows (the candidates' stored level) in ONE pruned
      // point read — the key union happens on the DRIVER (no extra
      // job). The split below keeps extra (id, iter) pairs the union
      // admits (a source's iter-k row, a candidate's iter-(k-1) row);
      // they are harmless by construction: prev joins INNER on src and
      // storedK is left-joined FROM fresh's candidate ids.
      val lvls = (srcKeys, candKeys) match {
        case (Some(sk), Some(ck)) =>
          pruned(levelsPath, "id",
            (if (k == 1) ck else (sk ++ ck).distinct.toArray))
            .filter(if (k == 1) col("iter") === k
                    else col("iter") === (k - 1) || col("iter") === k)
        case _ =>
          readTable(spark,levelsPath)
            .filter(if (k == 1) col("iter") === k
                    else col("iter") === (k - 1) || col("iter") === k)
            .join(srcs.select(col("src").as("id"))
              .unionAll(cand.select(col("id"))).distinct(),
              Seq("id"), "left_semi")
      }
      val prev =
        if (k == 1) flagOf(srcs.select(col("src").as("id")))
          .select(col("id"), (col("__seed") * meta.scale).as("rank"))
        else {
          // stored level k-1 overridden by the previous round's changed
          // set (new vertices are always in it, by induction). The
          // override is FUSED into the resolveLevels max_by that the
          // stored read pays anyway: changed rows ride the union at
          // seq = MaxValue so they win every (id, iter) group — same
          // rows as the former anti-join + union, one join fewer in
          // the round's plan (the lvls slice here is point-read-
          // bounded, so the aggregate stays candidate-sized)
          resolveLevels(
            lvls.filter(col("iter") === (k - 1))
              .select(col("id"), col("iter"), col("rank"), col("seq"))
              .unionByName(changed.select(col("id"), lit(k - 1).as("iter"),
                col("rank"), lit(Long.MaxValue).as("seq"))))
            .select(col("id"), col("rank"))
        }
      val contribs = inE
        .join(prev.select(col("id").as("src"), col("rank")), Seq("src"))
        .join(degS, Seq("src"))
        .select(col("dst"), expr("rank div deg").as("c"))
      val sums = contribs.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val fresh = flagOf(cand).join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          expr(s"(__seed * CAST($base AS BIGINT)) + (${meta.dampingPct} * " +
            "coalesce(s, CAST(0 AS BIGINT))) div 100").as("rank"))
      val storedK = resolveLevels(lvls.filter(col("iter") === k))
        .select(col("id"), col("rank").as("old_rank"))
      val freshChanged = fresh.join(storedK, Seq("id"), "left")
        .filter(col("old_rank").isNull || col("old_rank") =!= col("rank"))
        .select(col("id"), col("rank"))
      candKeys match {
        case Some(_) =>
          // inline round: the whole round runs as ONE job (no AQE
          // stage fan-out — the inputs are bounded point reads) and
          // `changed` comes back driver-side, cand-bounded
          val rows = graft.sources.BoundedExec.on(freshChanged).collect()
          changedRows = Some(rows)
          changed = localRanks(rows)
        case None =>
          changedRows = None
          changed = graft.Checkpoints.materialize(freshChanged)
      }
      changedLevels += changed.select(col("id"), lit(k).as("iter"), col("rank"))
    }
    changedLevels.reduce(_.unionByName(_)).withColumn("seq", lit(seq))
  }

  /** Remove everything a tag published
    * ([[graft.sources.StoreTables.rollback]]; the epoch's seq record is
    * kept, so a later replay of the tag reuses its LSM position).
    */
  def rollbackEpoch(spark: SparkSession, root: String, tag: String): Unit =
    graft.sources.StoreTables.rollback(spark, tables(spark, root), tag)

  /** Current canonical edge set. */
  def edges(spark: SparkSession, root: String): DataFrame =
    readTable(spark, outDir(root)).select(col("src"), col("dst"))

  /** The maintained level state, latest override per (id, iter) —
    * row-identical to `pageRankLevels(edges)` by the maintenance
    * contract (the gate pins it).
    */
  def levels(spark: SparkSession, root: String): DataFrame =
    resolveLevels(readTable(spark, levelsDir(root)))

  /** Store-served HITS `(id, auth_units, hub_units)` — the honest
    * refresh-cadence arm: [[graft.operators.Graphs.hits]] recomputed
    * over the maintained edge tables. There is NO maintained/epoch
    * variant BY DESIGN, and the reason is structural, not deferred
    * work: HITS's per-round max-normalization (the rescale that keeps
    * the integer-exact recurrence in BIGINT — see Graphs.hits) couples
    * every vertex to every other, so ONE new edge can move the global
    * max and rescale ALL scores — exactly the coupling that makes
    * [[graft.operators.Graphs.pageRank]]'s dangling-mass term
    * unmaintainable and is excluded from the maintained rank path.
    * What the store still buys a crawl-refresh user: the edge set is
    * SERVED (no re-extraction, no re-dedup — the epochs maintained
    * it), the scan is one column-pruned read of `out/`, and the
    * recurrence is iters × (2 keyed joins + 2 one-row max aggregates)
    * — recompute bounded by the maintained graph, on whatever cadence
    * the maintained PageRank's freshness makes HITS worth refreshing.
    */
  def hits(spark: SparkSession, root: String, iters: Int = 2,
           scale: Long = 1000000L): DataFrame =
    graft.operators.Graphs.hits(edges(spark, root), "src", "dst", iters, scale)

  /** Store-served TrustRank `(id, rank_units)` — seed-personalized
    * PageRank ([[graft.operators.Graphs.personalizedPageRank]], the
    * crawl source-selection prior) recomputed over the maintained edge
    * tables, the [[hits]] refresh-cadence discipline. Unlike HITS,
    * nothing here is STRUCTURALLY unmaintainable — the personalized
    * recurrence has no global coupling (no dangling term, no
    * normalization), so a seed-conditional level store would admit the
    * same frontier-bounded exact maintenance as the uniform ranks;
    * this arm is the served recompute until that state exists, and the
    * maintained edge set already saves the re-extraction/re-dedup a
    * frame-level caller pays per refresh.
    */
  def trustRank(spark: SparkSession, root: String, seeds: DataFrame,
                seedCol: String = "id", iters: Int = 3, dampingPct: Int = 85,
                scale: Long = 1000000000000L): DataFrame =
    graft.operators.Graphs.personalizedPageRank(edges(spark, root), seeds,
      "src", "dst", seedCol, iters, dampingPct, scale)

  private def trustDir(root: String) = root + "/trust"
  private def trustSeedsDir(root: String, digest: String) =
    s"${trustDir(root)}/$digest/seeds"
  private def trustLevelsDir(root: String, digest: String) =
    s"${trustDir(root)}/$digest/levels"
  private def trustMarker(root: String, digest: String) =
    new org.apache.hadoop.fs.Path(s"${trustDir(root)}/$digest/_REGISTERED")

  /** Digests of the REGISTERED maintained trust sets (marker present —
    * a crash mid-registration leaves an unmarked dir the next
    * [[registerTrustRank]] of the same seed set overwrites; epochs
    * never absorb into it).
    */
  def trustSets(spark: SparkSession, root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(trustDir(root))
    val fs = hadoopFs(spark, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(st => st.isDirectory &&
        fs.exists(trustMarker(root, st.getPath.getName)))
      .map(_.getPath.getName).toSeq.sorted
  }

  /** Cap on a registered trust set's size: seed sets are hand-vetted
    * allowlists (domains, curated hosts) — driver-collected once at
    * registration for the digest, broadcast per absorb round.
    */
  val MaxTrustSeeds = 1000000

  /** Register a seed set for EXACT maintained TrustRank — the
    * seed-conditional twin of the uniform level state: the full
    * [[graft.operators.Graphs.personalizedPageRankLevels]] recurrence
    * is sealed once over the CURRENT graph under
    * `trust/<digest>/levels` (id-clustered LSM, the store's
    * granularity policy), and every subsequent [[appendEpoch]] /
    * [[forget]] absorbs its perturbation with the same
    * frontier-bounded rounds the uniform ranks use — admissible
    * precisely because the personalized recurrence has NO global
    * coupling (teleport depends only on the registered set; compare
    * [[hits]]' max-normalization, which is why HITS gets no such
    * store). `digest` identifies the seed set (SHA-1 of the sorted
    * rendered ids); re-registering the same set reseals it from the
    * current graph. Serve with [[maintainedTrustRank]]; refresh-cadence
    * recompute ([[trustRank]]) remains for unregistered sets.
    */
  def registerTrustRank(spark: SparkSession, root: String, seeds: DataFrame,
                        seedCol: String = "id"): String = {
    val meta = readMeta(spark, root)
    graft.sources.StoreTables.recover(spark, tables(spark, root))
    val s = seeds.select(col(seedCol).as("id"))
      .filter(col("id").isNotNull).distinct()
    val vals = s.limit(MaxTrustSeeds + 1).collect()
    require(vals.nonEmpty, "empty seed set — nothing to register")
    require(vals.length <= MaxTrustSeeds,
      s"trust seed set exceeds $MaxTrustSeeds ids — TrustRank seeds are " +
        "curated allowlists; shrink the set or raise MaxTrustSeeds")
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(vals.map(r => String.valueOf(r.get(0))).sorted
        .mkString("\u0000").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val fs = hadoopFs(spark, root)
    fs.delete(trustMarker(root, digest), false)
    s.write.mode("overwrite").parquet(trustSeedsDir(root, digest))
    createTable(layout(root, meta.rowsPerFile, labels = false, trusts = Seq(digest)),
      trustLevelsDir(root, digest),
      graft.operators.Graphs.personalizedPageRankLevels(
          edges(spark, root), s, "src", "dst", "id",
          meta.iters, meta.dampingPct, meta.scale)
        .withColumn("seq", lit(0L)))
    graft.sources.StoreTables.writeSmall(spark, trustMarker(root, digest).toString, "1")
    digest
  }

  /** Maintained seed-conditional level state of a registered set. */
  def trustLevels(spark: SparkSession, root: String, digest: String): DataFrame =
    resolveLevels(readTable(spark, trustLevelsDir(root, digest)))

  /** Served maintained TrustRank `(id, rank_units)` of a registered
    * set — level `iters`, row-identical to [[trustRank]] recomputed
    * over the maintained edges (the gate pins it) but costing a READ,
    * not a whole-graph recurrence: the epochs already absorbed every
    * perturbation frontier-bounded.
    */
  def maintainedTrustRank(spark: SparkSession, root: String,
                          digest: String): DataFrame = {
    val meta = readMeta(spark, root)
    trustLevels(spark, root, digest).filter(col("iter") === meta.iters)
      .select(col("id"), col("rank").as("rank_units"))
  }

  /** Final ranks `(id, rank_units)` — level `iters` of [[levels]]. */
  def ranks(spark: SparkSession, root: String): DataFrame = {
    val meta = readMeta(spark, root)
    levels(spark, root).filter(col("iter") === meta.iters)
      .select(col("id"), col("rank").as("rank_units"))
  }

  /** Maintained connected components over the store's edge set (viewed
    * undirected — crawl-dedup clustering semantics): min-id labels in
    * TWO LSM tables, `labid/` (id-clustered: "what is this vertex's
    * component", the endpoint lookup epochs need) and `labrep/`
    * (rep-clustered: "who is in this component", the member lookup a
    * merge relabel needs) — the out/in dual-clustering pattern applied
    * to labels. Build once with [[createComponents]]; every later
    * [[appendEpoch]] maintains the labels EXACTLY alongside the ranks:
    * the epoch's edges contract onto their endpoints' current reps
    * (point reads), the contracted graph — bounded by the delta —
    * merges via the shared label-propagation engine, and only the
    * members of components that actually changed rep are overridden
    * (work ∝ merged components' size, the appendToComponents
    * contraction argument made batch-proportional by the store).
    *
    * [[forget]] REBUILDS the labels (edge removal can split a
    * component, and decremental connectivity has no frontier-bounded
    * exact maintenance — the rebuild is the honest cost, priced like a
    * compact); between-epochs caveat applies (the rebuild destroys
    * per-tag label file names).
    */
  def createComponents(spark: SparkSession, root: String): Unit = {
    val e = readTable(spark, outDir(root)).select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    val labels = graft.operators.Graphs
      .connectedComponents(nodes, e, "id")
      .select(col("id"), col("rep"), lit(0L).as("seq"))
      .transform(graft.Checkpoints.materialize)
    val store = layout(root, readMeta(spark, root).rowsPerFile, labels = true, trusts = Nil)
    graft.Par.run(spark)(
      () => createTable(store, labIdDir(root), labels),
      () => createTable(store, labRepDir(root), labels))
    ()
  }

  /** Current component labels `(id, rep)` — latest override per id;
    * rep is the min member id, identical to
    * `Graphs.connectedComponents` over [[edges]] (the gate pins it).
    */
  def components(spark: SparkSession, root: String): DataFrame =
    resolveLabels(readTable(spark, labIdDir(root)))

  /** Exact label absorption for one epoch's delta edges — called by
    * [[appendEpoch]] when the label tables exist. Bounded work: the
    * contracted merge graph is ≤ 2·|delta| vertices; member relabels
    * read only CHANGED components through the rep-clustered table.
    */
  private def absorbLabels(spark: SparkSession, store: graft.sources.StoreTables.Store,
                           root: String, delta: DataFrame, seq: Long, tag: String,
                           rows: Long): Unit = {
    val endpoints = graft.Checkpoints.materialize(
      delta.select(col("src").as("id"))
        .unionAll(delta.select(col("dst").as("id"))).distinct())
    val epLab = graft.Checkpoints.materialize(resolveLabels(
      readByKeys(spark, labIdDir(root), "id", endpoints, "id")))
    val withLab = endpoints.join(epLab, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      .transform(graft.Checkpoints.materialize)
    val contracted = delta
      .join(withLab.select(col("id").as("src"), col("rep").as("__ru")), Seq("src"))
      .join(withLab.select(col("id").as("dst"), col("rep").as("__rv")), Seq("dst"))
      .select(col("__ru").as("src"), col("__rv").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val cNodes = withLab.select(col("rep").as("id")).distinct()
    // merged rep per contracted node: min id over {old reps, new ids}
    // of the merged component = the true min member id (an old rep IS
    // the min of its members — the appendToComponents argument)
    val merged = graft.operators.Graphs
      .connectedComponents(cNodes, contracted, "id")
      .select(col("id").as("rep"), col("rep").as("__new"))
      .transform(graft.Checkpoints.materialize)
    val changed = merged.filter(col("rep") =!= col("__new"))
    val members = resolveLabels(
      readByKeys(spark, labRepDir(root), "rep",
        changed.select(col("rep").as("id")), "id", materialize = false))
    val overridden = members.join(changed, Seq("rep"))
      .select(col("id"), col("__new").as("rep"))
    // new vertices get their merged rep outright (self where unmerged)
    val fresh = withLab.join(epLab.select(col("id")), Seq("id"), "left_anti")
      .join(merged, Seq("rep"))
      .select(col("id"), col("__new").as("rep"))
    val overrides = overridden.unionByName(fresh).distinct()
      .withColumn("seq", lit(seq))
      .transform(graft.Checkpoints.materialize)
    // disjoint label tables — publish both clusterings concurrently
    graft.Par.run(spark)(
      () => publish(spark, store, labIdDir(root), overrides, tag, rows),
      () => publish(spark, store, labRepDir(root), overrides, tag, rows))
    ()
  }

  /** One-column probe frame typed to the store's key type (guessing
    * from the literals' shape would miss string keys that look
    * numeric).
    */
  private def keysFrame(spark: SparkSession, root: String, ids: Seq[Any]): DataFrame = {
    val dt = graft.sources.KeyedReads.schemaFor(spark, outDir(root))("src").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_)), 1), schema)
  }

  /** Right-to-be-forgotten: remove vertices outright — every edge
    * touching them in both adjacency tables, their degree and level
    * rows — with EXACT rank maintenance for the survivors, so the
    * store afterwards serves precisely `pageRankLevels(remaining
    * edges)` (the forget gate pins it against the remaining-graph
    * recurrence).
    *
    * Protocol (crash-resumable, end-state idempotent): the removal's
    * ground truth is SNAPSHOTTED first under `_forget/<tag>/` (removed
    * edges + corrected survivor degrees, derived from the pre-delete
    * tables, sealed by a marker) — a re-run after any crash reuses the
    * snapshot instead of re-deriving from half-mutated tables. Then:
    * physical deletes (TargetedDelete per table; the cross-column
    * halves — dst∈ids rows in `out/`, src∈ids rows in `in/` — are
    * pair-deletes from the snapshot's removed-edge list, pruned by
    * each table's cluster key, so they too cost the batch's reach,
    * not a table scan), corrected degrees
    * republished under the tag's recorded seq, level rows of the
    * forgotten AND of vertices orphaned by the removal dropped, and
    * the shared frontier loop repairs survivor ranks (seeds: removed
    * edges' surviving targets + out-neighbors of every
    * degree-corrected source). A completed forget re-invoked is a
    * no-op (empty re-derived snapshot returns before any mutation).
    * Degree corrections that reach 0 stay as 0-rows — never consulted,
    * because a 0-degree source has no out-edges left to join.
    */
  /** `inlineCap` bounds every driver-side key/pair collect in the
    * forget (cross-column pair lists, the orphan set) — production
    * leaves the TargetedDelete contract cap; specs shrink it to drive
    * the distributed fallbacks on small graphs.
    */
  def forget(spark: SparkSession, root: String, ids: Seq[Any],
             inlineCap: Int = graft.sources.TargetedDelete.InlineKeyCap): Unit = {
    require(ids.nonEmpty, "empty id list — nothing to forget")
    require(!ids.contains(null), "null ids cannot be forgotten")
    val meta = readMeta(spark, root)
    val store = tables(spark, root)
    graft.sources.StoreTables.recover(spark, store)
    def table(dir: String) = store.tables.find(_.dir == dir).get
    val cap = math.min(inlineCap, graft.sources.TargetedDelete.InlineKeyCap)
    def digestWith(sep: String) = java.security.MessageDigest.getInstance("SHA-1")
      .digest(ids.map(String.valueOf).sorted.mkString(sep).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val fs = hadoopFs(spark, root)
    // the id-list digest once joined on " " (colliding for id lists
    // whose rendered values contain spaces) and now joins on NUL — but
    // a forget that CRASHED under the old separator and is replayed
    // after the upgrade must resume ITS OWN sealed snapshot, not
    // derive a fresh one from half-mutated tables (the exact hazard
    // the snapshot protocol exists to prevent). A sealed
    // legacy-separator snapshot therefore wins the tag; everything
    // else uses the NUL digest.
    val legacyTag = s"forget-${digestWith(" ")}"
    val tag =
      if (fs.exists(new org.apache.hadoop.fs.Path(
          root + s"/_forget/$legacyTag/_SNAP_DONE"))) legacyTag
      else s"forget-${digestWith("\u0000")}"
    val seq = seqFor(spark, root, tag)
    val idsDf = keysFrame(spark, root, ids)
    val snap = root + s"/_forget/$tag"
    val marker = new org.apache.hadoop.fs.Path(snap + "/_SNAP_DONE")
    if (!fs.exists(marker)) {
      val eOut = readByKeys(spark, outDir(root), "src", idsDf, "id")
        .select(col("src"), col("dst"))
      val eIn = readByKeys(spark, inDir(root), "dst", idsDf, "id")
        .select(col("src"), col("dst"))
      val removed = graft.Checkpoints.materialize(
        eOut.unionAll(eIn).distinct())
      removed.write.mode("overwrite").parquet(snap + "/removed")
      // surviving sources that lose out-edges: deg' = deg − removed
      val survSrcRm = removed
        .join(idsDf.select(col("id").as("src")), Seq("src"), "left_anti")
        .groupBy(col("src")).agg(count(lit(1)).as("rm"))
      val oldDeg = resolveDeg(
        readByKeys(spark, degDir(root), "src", survSrcRm, "src"))
      survSrcRm.join(oldDeg, Seq("src"), "left")
        .select(col("src"),
          (coalesce(col("deg"), lit(0L)) - col("rm")).as("deg"),
          lit(seq).as("seq"))
        .write.mode("overwrite").parquet(snap + "/deg")
      val out = fs.create(marker, true)
      try out.write("1".getBytes("UTF-8")) finally out.close()
    }
    val removed = readTable(spark,snap + "/removed")
    if (removed.isEmpty) {
      // edgeless ids: drop any stray level rows, nothing to maintain
      for (dir <- levelsDir(root) +: trustSets(spark, root).map(trustLevelsDir(root, _)))
        graft.sources.StoreTables.forget(spark, table(dir), "id", ids, cap = cap)
      fs.delete(new org.apache.hadoop.fs.Path(snap), true)
      return
    }
    val corrected = readTable(spark,snap + "/deg")

    // physical deletes, all idempotent. The keyed halves are
    // stats-pruned; the cross-column halves used to pay an honest
    // whole-table scan (out/ can't prune "dst ∈ ids") — but the
    // SNAPSHOT knows the doomed edges exactly, so they become
    // pair-deletes pruned by each table's own cluster key
    // (TargetedDelete.deletePairs): RTBF cost follows the forgotten
    // vertices' edge count, never the graph. Pair lists are derived
    // from the sealed snapshot, so a replay after any crash deletes
    // the same pairs (no-ops where already gone); lists beyond the
    // driver-bounded cap fall back to the scan path.
    def cross(pruneCol: String, crossCol: String) =
      // cross half only: pairs whose prune-side endpoint is itself
      // forgotten go with the keyed half of the same forget
      Some(removed
        .join(idsDf.select(col("id").as(crossCol)), Seq(crossCol), "left_semi")
        .join(idsDf.select(col("id").as(pruneCol)), Seq(pruneCol), "left_anti")
        .select(col(pruneCol), col(crossCol)))
    graft.sources.StoreTables.forget(spark, table(outDir(root)), "src", ids,
      cross("src", "dst"), cap = cap)
    graft.sources.StoreTables.forget(spark, table(inDir(root)), "dst", ids,
      cross("dst", "src"), cap = cap)
    for (dir <- Seq(degDir(root), levelsDir(root)))
      graft.sources.StoreTables.forget(spark, table(dir), table(dir).key, ids, cap = cap)

    // corrected survivor degrees BEFORE any maintenance read; override
    // volume is bounded by the removal's reach — shard like an epoch
    val nRemoved = removed.count()
    publish(spark, store, degDir(root), corrected, tag, nRemoved)

    // orphans: removed-edge endpoints (not themselves forgotten) with
    // no remaining edge in either direction leave the node set — their
    // level rows go too. Driver-bounded: endpoints ≤ 2·|removed edges|.
    val ends = graft.Checkpoints.materialize(
      removed.select(col("src").as("id"))
        .unionAll(removed.select(col("dst").as("id"))).distinct()
        .join(idsDf, Seq("id"), "left_anti"))
    val stillOut = readByKeys(spark, outDir(root), "src", ends, "id")
      .select(col("src").as("id"))
    val stillIn = readByKeys(spark, inDir(root), "dst", ends, "id")
      .select(col("dst").as("id"))
    val living = graft.Checkpoints.materialize(
      ends.join(stillOut.unionAll(stillIn).distinct(), Seq("id"), "left_semi"))
    // `ends` is ≤ 2·|removed edges| — batch-proportional but NOT
    // driver-bounded (a hub vertex forgets millions of endpoints), so
    // the orphan set follows the cross-pair discipline: inline up to
    // the cap, past it a DISTRIBUTED anti-join delete keyed by the
    // orphan FRAME (the keys never touch the driver)
    val orphans = ends.join(living, Seq("id"), "left_anti")
    val orphanRows = orphans.limit(cap + 1).collect()
    if (orphanRows.length > cap) {
      graft.sources.TargetedDelete.deleteByAntiJoinDf(spark, levelsDir(root),
        "id", orphans)
      graft.sources.FileStatsIndex.update(spark, levelsDir(root), Seq("id"))
    } else if (orphanRows.nonEmpty) {
      graft.sources.TargetedDelete.deleteAuto(spark, levelsDir(root), "id",
        orphanRows.map(_.get(0)).toSeq)
      graft.sources.FileStatsIndex.update(spark, levelsDir(root), Seq("id"))
    }

    // seeds: removed edges' surviving non-orphan targets +
    // out-neighbors (over the remaining graph) of every
    // degree-corrected source
    val dstSeeds = removed.select(col("dst").as("id")).distinct()
      .join(living, Seq("id"), "left_semi")
    val reOut = readByKeys(spark, outDir(root), "src",
        corrected.select(col("src")), "src")
      .select(col("dst").as("id"))
    val seeds = graft.Checkpoints.materialize(
      dstSeeds.unionAll(reOut).distinct())

    graft.sources.EpochFiles.retire(spark, levelsDir(root), tag)
    val levelRows = frontierRounds(spark, root, meta, seeds, seq)
    publish(spark, store, levelsDir(root), levelRows, tag, nRemoved)
    // registered trust sets take the same repair: purge the orphans
    // and the forgotten ids from each seed-conditional level table
    // (the forget refreshes its stats once for both), then re-absorb
    // the removal's frontier through the personalized recurrence (all
    // idempotent — a crash re-runs from the sealed snapshot like the
    // main tables)
    for (dg <- trustSets(spark, root)) {
      val tl = trustLevelsDir(root, dg)
      if (orphanRows.length > cap)
        graft.sources.TargetedDelete.deleteByAntiJoinDf(spark, tl, "id", orphans)
      else if (orphanRows.nonEmpty) {
        graft.sources.TargetedDelete.deleteAuto(spark, tl, "id",
          orphanRows.map(_.get(0)).toSeq)
        ()
      }
      graft.sources.StoreTables.forget(spark, table(tl), "id", ids, cap = cap)
      graft.sources.EpochFiles.retire(spark, tl, tag)
      val rows = frontierRounds(spark, root, meta, seeds, seq, tl,
        Some(readTable(spark,trustSeedsDir(root, dg))))
      publish(spark, store, tl, rows, tag, nRemoved)
    }
    // maintained components REBUILD from the purged edges: removal can
    // split a component, and decremental connectivity has no exact
    // frontier-bounded maintenance — the rebuild is the honest cost
    // (idempotent, so crash re-runs just rebuild again)
    if (labelsExist(spark, root)) createComponents(spark, root)
    fs.delete(new org.apache.hadoop.fs.Path(snap), true)
    // settled (snapshot gone, a re-run is a no-op) — the auto-compact
    // policy may fold here, same as the epoch path (the labels a
    // rebuild just created join the store)
    graft.sources.StoreTables.autoCompact(spark, tables(spark, root))
    ()
  }

  /** The store's tables ([[graft.sources.StoreTables]]): edges
    * clustered both ways plus the LSM override tables, each resolving
    * the latest seq per key (edges are append-only and unique across
    * tags by the delta discipline, so they resolve by identity).
    * Every table keeps a `_stats` artifact on its cluster key, caps
    * files at the pinned granularity, and minor-folds at ~2M rows per
    * shard. The optional component-label pair and every registered
    * trust set join when present.
    */
  def tables(spark: SparkSession, root: String): graft.sources.StoreTables.Store =
    layout(root, readMeta(spark, root).rowsPerFile, labelsExist(spark, root),
      trustSets(spark, root))

  /** [[tables]] for granularity `g`, with the component-label pair iff
    * `labels` and one level table per trust digest in `trusts`.
    */
  private def layout(root: String, g: Long, labels: Boolean,
                     trusts: Seq[String]): graft.sources.StoreTables.Store = {
    def latest(keys: Seq[String], v: String): DataFrame => DataFrame = df => df
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(col(v), col("seq")), col("seq")).as("v"))
      .select(keys.map(col) ++ Seq(col(s"v.$v").as(v), col("v.seq").as("seq")): _*)
    def table(dir: String, key: String,
              resolve: DataFrame => DataFrame = identity) =
      graft.sources.StoreTables.Table(dir, key, resolve = resolve,
        rowsPerFile = g, shardRows = ShardRows)
    val levels = latest(Seq("id", "iter"), "rank")
    graft.sources.StoreTables.Store(root, Seq(
      table(outDir(root), "src"),
      table(inDir(root), "dst"),
      table(degDir(root), "src", latest(Seq("src"), "deg")),
      table(levelsDir(root), "id", levels)) ++
      (if (labels) Seq(
        table(labIdDir(root), "id", latest(Seq("id"), "rep")),
        table(labRepDir(root), "rep", latest(Seq("id"), "rep")))
       else Seq.empty) ++
      trusts.map(dg => table(trustLevelsDir(root, dg), "id", levels)))
  }

  /** MAJOR fold of every table ([[graft.sources.StoreTables.recluster]]):
    * reclaims the base rows overrides superseded and restores global
    * clustering. Destroys per-tag names, so compact only between
    * settled epochs — the auto-compact policy runs the MINOR tier
    * ([[graft.sources.StoreTables.foldOverrides]]) there instead.
    */
  def compact(spark: SparkSession, root: String): Unit =
    graft.sources.StoreTables.recluster(spark, tables(spark, root))
}
