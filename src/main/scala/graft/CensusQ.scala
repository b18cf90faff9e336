package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev helper (TimeQ's deterministic sibling): run named SparkEntry
  * queries once each and report a per-query census — Spark jobs,
  * stages, tasks, shuffle bytes, wall seconds. Job/stage counts are
  * co-tenant-immune (scheduling work is deterministic per plan), so
  * they attribute cost where wall-clock on a noisy host cannot.
  */
object CensusQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.drop(1).nonEmpty) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = Tables.session("graft-census",
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val detail = sys.env.get("CENSUS_DETAIL").exists(_ == "1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (detail) {
          // the job's action site = the name of its result stage
          // (highest stage id); fall back to any stage name
          val site = e.stageInfos.sortBy(-_.stageId).headOption
            .map(_.name.takeWhile(_ != '+').trim).getOrElse("?")
          sites.merge(site, 1, (a, b) => a + b)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          shuffleRead.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // two runs per query: store-backed gates memoize their build on the
    // first run, so run 2 is the serve path — the shape Bench's
    // min-of-N actually times
    println(f"${"query"}%-24s ${"run"}%3s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"shufKiB"}%9s ${"sec"}%8s")
    names.foreach { n =>
      (1 to 2).foreach { run =>
        jobs.set(0); stages.set(0); tasks.set(0); shuffleRead.set(0)
        sites.clear()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(n)(spark, sfDir).count()
          // clock first, then drain the listener bus so every event of
          // this query lands on its counts (the drain is not its time)
          val sec = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.GraftColumnBridge.waitForListenerBus(spark)
          println(f"$n%-24s $run%3d ${jobs.get}%6d ${stages.get}%7d ${tasks.get}%7d ${shuffleRead.get / 1024}%9d $sec%8.3f")
          if (detail) {
            import scala.jdk.CollectionConverters._
            sites.asScala.toSeq.sortBy(-_._2.intValue).foreach { case (s, c) =>
              println(f"  SITE $c%5d  $s")
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(f"$n%-24s $run%3d FAILED: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(100)}")
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      }
    }
    spark.stop()
  }
}
