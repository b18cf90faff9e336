package graft

/** Table-maintenance executable — the operational sibling of Migrate /
  * Validate, driving the warehouse-upkeep ops over a plain parquet
  * path or a versioned table root:
  *
  *   runMain graft.Maintain compact <dir> <targetBytes> [smallBytes]
  *   runMain graft.Maintain stats <dir> <col>[,col...]      # build or
  *                                                          # incrementally update
  *   runMain graft.Maintain vacuum <versionedRoot> [keep] [minAgeMs]
  *   runMain graft.Maintain delete <dir> <keyCol> <key>[,key...]  # targeted
  *                                                  # right-to-be-forgotten rewrite
  *   runMain graft.Maintain ndstore create <corpusDir> <idCol> <textCol> <storeDir>
  *   runMain graft.Maintain ndstore dedup <batchDir> <idCol> <textCol> <storeDir> <outDir> [advance]
  *   runMain graft.Maintain ndstore recluster <storeDir>   # restore probe-prunable
  *                                                  # key clustering after compact/advances
  *   runMain graft.Maintain ndstore   autocompact <storeDir> <maxFiles>  # pin the
  *   runMain graft.Maintain annindex  autocompact <indexRoot> <maxFiles> # stores'
  *   runMain graft.Maintain lexindex  autocompact <root> <maxFiles>      # self-compact
  *                                                  # thresholds (0 = off; see linkgraph)
  *   runMain graft.Maintain annindex compact <indexRoot> <targetBytes>
  *   runMain graft.Maintain annindex recluster <indexRoot> # restore bucket
  *                                                  # clustering after ingest epochs
  *   runMain graft.Maintain annindex minorcompact <indexRoot> # override-tier-only fold
  *   runMain graft.Maintain lexindex minorcompact <root>      # (I/O ∝ override bytes)
  *   runMain graft.Maintain annindex forget <indexRoot> <key>[,key...]
  *   runMain graft.Maintain annindex retrain <versionedRoot> <corpusDir> <idCol> <vecCol> <kIvf>
  *                                                  # zero-downtime republish
  *   runMain graft.Maintain annindex rebuildids <indexRoot>  # re-derive the id
  *                                                  # census after out-of-protocol surgery
  *   runMain graft.Maintain annindex tune <indexRoot> <corpusDir> <queriesDir>
  *                         <idCol> <vecCol> <k> [nProbes] [--apply [recallTarget]]
  *                                                  # measured recall@k vs cost per
  *                                                  # candidate nProbe; --apply pins the
  *                                                  # cheapest point meeting the target
  *   runMain graft.Maintain annindex pin <indexRoot> <nProbe> [kCand]
  *                                                  # pin the serve-time operating point
  *   runMain graft.Maintain lexindex rebuildids <root>       # same for the lex
  *                                                  # index's census + corpus stats
  *   runMain graft.Maintain ndstore forget <storeDir> <key>[,key...]  # purge a
  *                                                  # doc from all three store tables
  *   runMain graft.Maintain linkgraph create <edgesDir> <srcCol> <dstCol> <root> [iters] [dampingPct]
  *   runMain graft.Maintain linkgraph append <edgesDir> <srcCol> <dstCol> <root> <tag>
  *                                                  # absorb a crawl epoch: frontier-bounded
  *                                                  # exact PageRank maintenance
  *   runMain graft.Maintain linkgraph ranks <root> <outDir>
  *   runMain graft.Maintain linkgraph forget <root> <key>[,key...]   # purge vertices
  *                                                  # with exact survivor rank repair
  *   runMain graft.Maintain linkgraph rollback <root> <tag>
  *   runMain graft.Maintain linkgraph compact <root>       # major (whole-store) fold
  *   runMain graft.Maintain linkgraph minorcompact <root>  # override-tier-only fold
  *   runMain graft.Maintain linkgraph components <root>   # (re)build labels
  *   runMain graft.Maintain linkgraph hits <root> <outDir> [iters]  # store-served
  *                                                  # hubs/authorities (refresh-cadence)
  *   runMain graft.Maintain linkgraph trustrank <root> <seedsDir> <outDir> [iters]
  *   runMain graft.Maintain linkgraph trustregister <root> <seedsDir>  # seal a seed
  *                                                  # set for exact maintained TrustRank
  *   runMain graft.Maintain linkgraph trustranks <root> <digest> <outDir>
  *                                                  # serve the maintained trust ranks
  *                                                  # store-served seed-personalized
  *                                                  # PageRank (source-selection prior)
  *   runMain graft.Maintain linkgraph autocompact <root> <maxFiles> # pin the
  *                                                  # self-compact threshold (0 = off)
  *
  * compact is crash-safe (write-ahead group markers; interrupted swaps
  * recover on the next run); stats updates touch only files the index
  * has never seen and drop entries for files compaction removed;
  * vacuum keeps the newest K published versions and sweeps crash
  * orphans. Exit 0 on success, 2 on usage errors.
  */
object Maintain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage()
    val spark = Tables.session("graft-maintain",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    if (!storeVerb(spark, args)) args(0) match {
      case "compact" =>
        if (args.length < 3) usage()
        val target = args(2).toLong
        val small = if (args.length > 3) args(3).toLong else 0L
        val r = sources.Compaction.compact(spark, args(1), target, small)
        println(s"[maintain] compacted ${r.groupsCompacted} groups: " +
          s"${r.filesRemoved} files -> ${r.filesCreated}, ${r.rowsMoved} rows moved")
      case "stats" =>
        if (args.length < 3) usage()
        val cols = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val path = sources.FileStatsIndex.update(spark, args(1), cols)
        println(s"[maintain] stats index at $path: " +
          s"${spark.read.parquet(path).count()} file entries over ${cols.mkString(",")}")
      case "vacuum" =>
        val keep = if (args.length > 2) args(2).toInt else 2
        val minAgeMs = if (args.length > 3) args(3).toLong else 0L
        val retired = sources.Versioned.vacuum(spark, args(1), keep, minAgeMs)
        println(s"[maintain] vacuumed ${retired.size} versions " +
          s"(${retired.mkString(",")}); " +
          s"current = ${sources.Versioned.latestVersion(spark, args(1)).getOrElse("-")}")
      case "delete" =>
        if (args.length < 4) usage()
        val keys = typedKeys(spark, args(1), args(2), args(3))
        val r = sources.TargetedDelete.deleteAuto(spark, args(1), args(2), keys)
        println(s"[maintain] deleted ${r.rowsDeleted} rows: " +
          s"${r.filesRewritten} files rewritten, ${r.filesUntouched} untouched")
      case "annindex" =>
        if (args.length < 3) usage()
        args(1) match {
          case "compact" if args.length >= 4 =>
            val r = pipeline.AnnIndex.compact(spark, args(2), args(3).toLong)
            println(s"[maintain] ann index compacted ${r.groupsCompacted} groups: " +
              s"${r.filesRemoved} files -> ${r.filesCreated}")
          case "rebuildids" =>
            pipeline.AnnIndex.rebuildIds(spark, args(2))
            println(s"[maintain] ann index id census rebuilt at ${args(2)}")
          case "retrain" if args.length >= 7 =>
            // annindex retrain <versionedRoot> <corpusDir> <idCol> <vecCol> <kIvf>
            val (v, _) = pipeline.AnnIndex.buildVersioned(
              spark.read.parquet(args(3)), args(4), args(5), args(2),
              kIvf = args(6).toInt)
            println(s"[maintain] ann index retrained: published v$v at ${args(2)}")
          case "tune" if args.length >= 8 =>
            // annindex tune <indexRoot> <corpusDir> <queriesDir> <idCol>
            //               <vecCol> <k> [nProbe,nProbe,...]
            //               [--apply [recallTarget]]
            val handle = pipeline.AnnIndex.open(spark, args(2))
            val applyIdx = args.indexOf("--apply")
            val nProbes =
              if (args.length > 8 && args(8) != "--apply")
                args(8).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
              else Seq(1, 2, 4, 8, 16)
            val table = pipeline.AnnIndex.tuneNProbe(handle,
              spark.read.parquet(args(4)), spark.read.parquet(args(3)),
              args(5), args(6), args(7).toInt, nProbes).collect()
            println("[maintain] nProbe  recall  n_queries  cand_rows")
            table.foreach(r => println(
              f"[maintain] ${r.getInt(0)}%6d  ${r.getDouble(1)}%.4f  " +
                f"${r.getLong(2)}%9d  ${r.getLong(3)}%9d"))
            if (applyIdx >= 0) {
              // pin the CHEAPEST point meeting the recall target —
              // recall is weakly increasing in nProbe, so that is the
              // smallest qualifying nProbe; if none qualifies, pin the
              // best-recall row (and say so) rather than silently
              // leaving the index unpinned
              val target =
                if (args.length > applyIdx + 1) args(applyIdx + 1).toDouble
                else 0.9
              val qualified = table.filter(_.getDouble(1) >= target)
              val chosen =
                if (qualified.nonEmpty) qualified.minBy(_.getInt(0))
                else table.maxBy(r => (r.getDouble(1), -r.getInt(0)))
              if (qualified.isEmpty)
                println(f"[maintain] WARNING: no candidate reached recall " +
                  f"$target%.3f — pinning the best measured point instead")
              pipeline.AnnIndex.applyTuning(spark, args(2), chosen.getInt(0))
              println(f"[maintain] pinned tunedNProbe=${chosen.getInt(0)} " +
                f"(recall=${chosen.getDouble(1)}%.4f, " +
                f"cand_rows=${chosen.getLong(3)}) at ${args(2)}")
            }
          case "pin" if args.length >= 4 =>
            // annindex pin <indexRoot> <nProbe> [kCand] — pin an
            // operator-chosen operating point without re-measuring
            pipeline.AnnIndex.applyTuning(spark, args(2), args(3).toInt,
              if (args.length > 4) Some(args(4).toInt) else None)
            println(s"[maintain] pinned tunedNProbe=${args(3)}" +
              (if (args.length > 4) s" tunedKCand=${args(4)}" else "") +
              s" at ${args(2)}")
          case "stats" =>
            val st = pipeline.AnnIndex.bucketStats(spark, args(2))
              .collect().map(r => r.getInt(0) -> r.getLong(1))
            val ns = st.map(_._2)
            val avg = if (ns.isEmpty) 0.0 else ns.sum.toDouble / ns.length
            println(s"[maintain] ann index ${args(2)}: ${st.length} buckets, " +
              s"${ns.sum} rows, min=${if (ns.isEmpty) 0 else ns.min} " +
              s"max=${if (ns.isEmpty) 0 else ns.max} " +
              f"imbalance=${if (avg == 0) 0.0 else ns.max / avg}%.2f")
          case _ => usage()
        }
      case "ndstore" =>
        if (args.length < 3) usage()
        args(1) match {
          case _ if args.length < 6 => usage()
          case "create" =>
            pipeline.Dedup.NearDupStore.create(
              spark.read.parquet(args(2)), args(3), args(4), args(5))
            println(s"[maintain] near-dup store created at ${args(5)}")
          case "dedup" =>
            if (args.length < 7) usage()
            val survivors = pipeline.Dedup.NearDupStore.dropNearDups(
              spark.read.parquet(args(2)), args(3), args(4), args(5),
              advance = args.length > 7 && args(7) == "advance")
            // write FIRST, count the written parquet: count-then-write
            // would run the probe/estimate/verify chain twice (the
            // non-advance path has no materialize barrier)
            survivors.write.mode("errorifexists").parquet(args(6))
            val n = spark.read.parquet(args(6)).count()
            println(s"[maintain] $n survivors written to ${args(6)}")
          case other =>
            System.err.println(s"[maintain] unknown ndstore command: $other"); usage()
        }
      case "lexindex" =>
        if (args.length < 3) usage()
        args(1) match {
          case "rebuildids" =>
            pipeline.LexIndex.rebuildSidecars(spark, args(2))
            println(s"[maintain] lex index sidecars rebuilt at ${args(2)}")
          case "create" if args.length >= 6 =>
            pipeline.LexIndex.create(spark.read.parquet(args(2)),
              args(3), args(4), args(5))
            println(s"[maintain] lex index created at ${args(5)}")
          case "append" if args.length >= 7 =>
            pipeline.LexIndex.appendEpoch(spark.read.parquet(args(2)),
              args(3), args(4), args(5), args(6))
            println(s"[maintain] lex index epoch ${args(6)} appended at ${args(5)}")
          case "search" if args.length >= 8 =>
            val out = pipeline.LexIndex.search(spark, args(2),
              spark.read.parquet(args(3)), args(4), args(5), args(6).toInt)
            out.write.mode("errorifexists").parquet(args(7))
            val n = spark.read.parquet(args(7)).count()
            println(s"[maintain] $n hits written to ${args(7)}")
          case other =>
            System.err.println(s"[maintain] unknown lexindex command: $other"); usage()
        }
      case "linecensus" =>
        if (args.length < 3) usage()
        args(1) match {
          case _ if args.length < 6 => usage()
          case "create" =>
            pipeline.Web.createLineCensus(spark.read.parquet(args(2)),
              args(3), args(4), args(5),
              minLineChars = if (args.length > 6) args(6).toInt else 2)
            println(s"[maintain] line census created at ${args(5)}")
          case "dedup" =>
            if (args.length < 7) usage()
            val batch = spark.read.parquet(args(2))
            val cleaned = pipeline.Web.lineDedupAgainst(args(5), batch,
              args(3), args(4))
            // write FIRST, count the written parquet (the ndstore dedup
            // lesson: count-then-write runs the probe twice)
            cleaned.write.mode("errorifexists").parquet(args(6))
            val n = spark.read.parquet(args(6)).count()
            if (args.length > 7 && args(7) == "advance")
              pipeline.Web.advanceLineCensus(args(5), batch, args(3), args(4))
            println(s"[maintain] $n docs line-deduped to ${args(6)}")
          case other =>
            System.err.println(s"[maintain] unknown linecensus command: $other"); usage()
        }
      case "linkgraph" =>
        if (args.length < 3) usage()
        args(1) match {
          case "components" =>
            // (re)build the maintained component labels from the
            // store's current edges; epochs maintain them afterwards
            pipeline.LinkGraph.createComponents(spark, args(2))
            println(s"[maintain] link graph components built at ${args(2)}")
          case "hits" if args.length >= 4 =>
            // store-served HITS (honest refresh-cadence recompute —
            // the global max-normalization admits no maintained arm)
            pipeline.LinkGraph.hits(spark, args(2),
                iters = if (args.length > 4) args(4).toInt else 2)
              .write.mode("errorifexists").parquet(args(3))
            val n = spark.read.parquet(args(3)).count()
            println(s"[maintain] $n hub/authority rows written to ${args(3)}")
          case "trustrank" if args.length >= 5 =>
            // linkgraph trustrank <root> <seedsDir> <outDir> [iters]
            // store-served seed-personalized PageRank (source-selection
            // prior over the maintained edge tables)
            pipeline.LinkGraph.trustRank(spark, args(2),
                spark.read.parquet(args(3)),
                iters = if (args.length > 5) args(5).toInt else 3)
              .write.mode("errorifexists").parquet(args(4))
            val n = spark.read.parquet(args(4)).count()
            println(s"[maintain] $n trust ranks written to ${args(4)}")
          case "trustregister" if args.length >= 4 =>
            // linkgraph trustregister <root> <seedsDir> — seal a seed
            // set for EXACT maintained TrustRank; epochs/forgets absorb
            // it frontier-bounded from here on
            val dg = pipeline.LinkGraph.registerTrustRank(spark, args(2),
              spark.read.parquet(args(3)))
            println(s"[maintain] trust set registered at ${args(2)}: digest=$dg")
          case "trustranks" if args.length >= 5 =>
            // linkgraph trustranks <root> <digest> <outDir> — serve the
            // MAINTAINED trust ranks (a read, not a recompute)
            pipeline.LinkGraph.maintainedTrustRank(spark, args(2), args(3))
              .write.mode("errorifexists").parquet(args(4))
            val n = spark.read.parquet(args(4)).count()
            println(s"[maintain] $n maintained trust ranks written to ${args(4)}")
          case "ranks" if args.length >= 4 =>
            pipeline.LinkGraph.ranks(spark, args(2))
              .write.mode("errorifexists").parquet(args(3))
            val n = spark.read.parquet(args(3)).count()
            println(s"[maintain] $n ranks written to ${args(3)}")
          case "create" if args.length >= 6 =>
            pipeline.LinkGraph.create(spark.read.parquet(args(2)),
              args(3), args(4), args(5),
              iters = if (args.length > 6) args(6).toInt else 3,
              dampingPct = if (args.length > 7) args(7).toInt else 85)
            println(s"[maintain] link graph created at ${args(5)}")
          case "append" if args.length >= 7 =>
            val n = pipeline.LinkGraph.appendEpoch(spark.read.parquet(args(2)),
              args(3), args(4), args(5), args(6))
            println(s"[maintain] link graph epoch ${args(6)}: $n new edges at ${args(5)}")
          case other =>
            System.err.println(s"[maintain] unknown linkgraph command: $other"); usage()
        }
      case "diff" =>
        if (args.length < 5) usage()
        val pk = args(4).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val d = sources.Versioned.diffVersions(spark, args(1),
          args(2).toLong, args(3).toLong, pk)
        val byKind = d.groupBy("diff_kind").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        println(s"[maintain] v${args(2)} -> v${args(3)}: " +
          Seq("added", "removed", "changed", "match")
            .map(k => s"$k=${byKind.getOrElse(k, 0L)}").mkString(" "))
      case other =>
        System.err.println(s"[maintain] unknown command: $other"); usage()
    }
    spark.stop()
  }

  private type Spark = org.apache.spark.sql.SparkSession

  /** A store's right-to-be-forgotten arm: its name as a pipeline
    * `forget` stage spells it, the table and column whose type CLI keys
    * parse to, and the purge (returning its CLI summary).
    */
  private[graft] final case class Forget(stage: String, keyDir: String, keyCol: String,
                                         run: (Spark, String, Seq[Any]) => String)

  /** A persisted store's generic verbs: CLI name, MAJOR-fold verb, its
    * tables, and — where it has them — its forget and rollback.
    */
  private final case class StoreVerbs(name: String, major: String,
                                      tables: (Spark, String) => sources.StoreTables.Store,
                                      forget: Option[Forget] = None,
                                      rollback: Option[(Spark, String, String) => Unit] = None)

  private def summary(r: sources.TargetedDelete.Result): String =
    s"${r.rowsDeleted} rows: ${r.filesRewritten} files rewritten, ${r.filesUntouched} untouched"

  /** The persisted stores' generic verbs, one registry. Every store
    * takes its MAJOR-fold verb, `minorcompact <root>` (override-tier-
    * only fold, I/O ∝ override bytes) and `autocompact <root>
    * <maxFiles>` (pin the self-compact threshold; 0 = off) — see
    * [[sources.StoreTables]]; stores with a forget take `forget <root>
    * <key>[,key...]`, and a rollback `rollback <root> <tag>`.
    */
  private val stores: Seq[StoreVerbs] = Seq(
    StoreVerbs("ndstore", "recluster", pipeline.Dedup.NearDupStore.tables,
      Some(Forget("nearDupStore", "sigs", "id", (spark, root, ids) => {
        val rs = pipeline.Dedup.NearDupStore.forget(spark, root, ids)
        s"${rs.map(_.rowsDeleted).sum} rows across 3 tables " +
          s"(${rs.map(_.filesRewritten).sum} files rewritten)"
      }))),
    StoreVerbs("annindex", "recluster", pipeline.AnnIndex.tables,
      Some(Forget("annIndex", "index", "neighbor_id",
        (spark, root, ids) => summary(pipeline.AnnIndex.forget(spark, root, ids))))),
    StoreVerbs("lexindex", "compact", pipeline.LexIndex.tables,
      Some(Forget("lexIndex", "postings", "id",
        (spark, root, ids) => summary(pipeline.LexIndex.forget(spark, root, ids))))),
    StoreVerbs("linecensus", "compact", (_, dir) => pipeline.Web.lineCensusTables(dir)),
    StoreVerbs("linkgraph", "compact", pipeline.LinkGraph.tables,
      Some(Forget("linkGraph", "out", "src", (spark, root, ids) => {
        pipeline.LinkGraph.forget(spark, root, ids)
        s"${ids.size} vertices"
      })),
      Some(pipeline.LinkGraph.rollbackEpoch)))

  /** The pipeline `forget` stage's routing: its store name → the
    * store's forget (the same arms the CLI runs).
    */
  private[graft] val forgets: Map[String, (Spark, String, Seq[Any]) => String] =
    stores.flatMap(_.forget).map(f => f.stage -> f.run).toMap

  /** Run a store-generic verb when `args` name one; false otherwise. */
  private def storeVerb(spark: Spark, args: Array[String]): Boolean =
    stores.find(_.name == args(0)).filter(_ => args.length >= 3).exists { s =>
      val root = args(2)
      (args(1), s.forget, s.rollback) match {
        case (s.major, _, _) =>
          sources.StoreTables.recluster(spark, s.tables(spark, root))
          println(s"[maintain] ${s.name} major fold (${s.major}) done at $root"); true
        case ("minorcompact", _, _) =>
          sources.StoreTables.foldOverrides(spark, s.tables(spark, root))
          println(s"[maintain] ${s.name} override tier folded at $root"); true
        case ("autocompact", _, _) if args.length >= 4 =>
          sources.AutoCompact.setPolicy(spark, root, args(3).toInt)
          println(s"[maintain] ${s.name} auto-compact at $root: maxFiles=${args(3)}"); true
        case ("forget", Some(f), _) if args.length >= 4 =>
          val keys = typedKeys(spark, s"$root/${f.keyDir}", f.keyCol, args(3))
          println(s"[maintain] ${s.name} at $root forgot ${f.run(spark, root, keys)}"); true
        case ("rollback", _, Some(rollback)) if args.length >= 4 =>
          rollback(spark, root, args(3))
          println(s"[maintain] ${s.name} epoch ${args(3)} rolled back at $root"); true
        case _ => false
      }
    }

  private val commands: Seq[String] = Seq(
    "compact <dir> <targetBytes> [smallBytes]",
    "stats <dir> <col>[,col...]",
    "vacuum <versionedRoot> [keep] [minAgeMs]",
    "delete <dir> <keyCol> <key>[,key...]",
    "delete <dir> <keyCol> @<keyfile>   # one key per line",
    "diff <versionedRoot> <vA> <vB> <pk>[,pk...]",
    "ndstore create <corpusDir> <idCol> <textCol> <storeDir>",
    "ndstore dedup <batchDir> <idCol> <textCol> <storeDir> <outDir> [advance]",
    "annindex compact <indexRoot> <targetBytes>",
    "annindex retrain <versionedRoot> <corpusDir> <idCol> <vecCol> <kIvf>",
    "annindex rebuildids <indexRoot>",
    "annindex tune <indexRoot> <corpusDir> <queriesDir> <idCol> <vecCol> <k> " +
      "[nProbes] [--apply [recallTarget]]",
    "annindex pin <indexRoot> <nProbe> [kCand]",
    "annindex stats <indexRoot>",
    "linecensus create <corpusDir> <idCol> <textCol> <censusDir> [minLineChars]",
    "linecensus dedup <batchDir> <idCol> <textCol> <censusDir> <outDir> [advance]",
    "lexindex create <corpusDir> <idCol> <textCol> <root>",
    "lexindex append <batchDir> <idCol> <textCol> <root> <tag>",
    "lexindex search <root> <queriesDir> <queryIdCol> <termCol> <k> <outDir>",
    "lexindex rebuildids <root>",
    "linkgraph create <edgesDir> <srcCol> <dstCol> <root> [iters] [dampingPct]",
    "linkgraph append <edgesDir> <srcCol> <dstCol> <root> <tag>",
    "linkgraph ranks <root> <outDir>",
    "linkgraph components <root>",
    "linkgraph hits <root> <outDir> [iters]",
    "linkgraph trustrank <root> <seedsDir> <outDir> [iters]",
    "linkgraph trustregister <root> <seedsDir>",
    "linkgraph trustranks <root> <digest> <outDir>") ++
    stores.flatMap(s => Seq(
      s"${s.name} ${s.major} <root>",
      s"${s.name} minorcompact <root>",
      s"${s.name} autocompact <root> <maxFiles>") ++
      s.forget.map(_ => s"${s.name} forget <root> <key>[,key...]") ++
      s.rollback.map(_ => s"${s.name} rollback <root> <tag>"))

  private def usage(): Nothing = {
    System.err.println(commands.map("graft.Maintain " + _)
      .mkString("usage: ", "\n       ", ""))
    sys.exit(2)
  }

  /** Keys inline, or @/path/to/file with one key per line (the CLI arm
    * of the large-deletion route — deleteAuto then picks the anti-join
    * full copy past the inline threshold).
    */
  private def rawKeys(arg: String): Seq[String] = {
    val raw =
      if (arg.startsWith("@"))
        scala.io.Source.fromFile(arg.drop(1)).getLines().toSeq
      else arg.split(",").toSeq
    raw.map(_.trim).filter(_.nonEmpty)
  }

  /** [[rawKeys]] parsed to `keyCol`'s type in the table at `dir` —
    * guessing from the literal's shape would silently miss string keys
    * that look numeric ("042") through the IN filter's type coercion.
    */
  private def typedKeys(spark: org.apache.spark.sql.SparkSession, dir: String,
                        keyCol: String, arg: String): Seq[Any] = {
    import org.apache.spark.sql.types._
    val parse: String => Any =
      spark.read.parquet(dir).schema(keyCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => _.toLong
        case StringType => identity
        case other =>
          System.err.println(s"[maintain] unsupported key type $other for $keyCol")
          sys.exit(2)
      }
    rawKeys(arg).map(parse(_): Any)
  }
}
