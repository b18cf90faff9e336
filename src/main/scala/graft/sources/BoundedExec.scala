package graft.sources

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** Run actions over CONTRACT-BOUNDED frames without AQE's per-stage
  * job fan-out (guide §1 — a job is a fixed scheduling quantum): under
  * AQE every exchange/broadcast materializes as its own Spark job
  * (measured ~70-80 ms of pure scheduling each on this class of
  * driver), which is the right trade for warehouse-scale shuffles and
  * pure overhead for a frontier round whose inputs are inline-key
  * bounded point reads. A bounded action runs with adaptive execution
  * off and broadcast joins disabled (a broadcast exchange is its own
  * job too; a sort-merge join of bounded rows is trivially cheap), so
  * one action = ONE job regardless of its exchange count.
  *
  * Scoped, not swapped: the pins live on a CHILD session — a clone of
  * the caller's session (its confs, experimental strategies and
  * registered functions) with the pins set once at creation — and a
  * bounded frame is the caller's analyzed plan re-bound onto that
  * child. The caller's session is never mutated, so a query planned on
  * it while a bounded action runs keeps AQE and the session's shuffle
  * width, and there is nothing to restore. Children are cached per
  * parent and parent conf snapshot: a fresh session re-builds its
  * analyzer/optimizer/planner on first use, which costs more than the
  * bounded action itself.
  *
  * Callers gate entry on the SAME boundedness evidence that admits
  * inline keys — the scale fallback (frame-path maintenance) never
  * comes through here — and keep child-bound frames inside the bounded
  * call: anything that outlives it is re-bound to the caller's session
  * ([[bind]]), or later unbounded work would silently inherit the pins.
  */
object BoundedExec {
  private val pins = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    // a bounded round's `limit(cap).collect` must be ONE job — the
    // executeTake ramp (1 → 4 → 16 → … partitions) is pure scheduling
    // cost when the inputs are bounded point reads
    "spark.sql.limit.initialNumPartitions" -> Int.MaxValue.toString,
    // ONE shuffle partition: without AQE's coalescing, every exchange
    // would run at the session's full shuffle width — 32 near-empty
    // tasks per stage for cap-bounded rows (measured: the 85→36-job
    // cut on q_pagerank_incr arrived with 100→1117 tasks and a SLOWER
    // wall until this pin). Bounded frames fit one partition by the
    // same evidence that admitted them here.
    "spark.sql.shuffle.partitions" -> "1")

  /** Children keyed by (parent, its explicitly set confs, its
    * experimental strategies and optimizations): a parent whose confs
    * change gets a fresh child carrying them. Bounded like the other
    * session-scoped caches (cleared wholesale past a handful).
    */
  private val children = scala.collection.concurrent.TrieMap[AnyRef, SparkSession]()

  /** The bounded child of `spark` — `spark` itself when it already runs
    * under the pins (nested use is a no-op).
    */
  def session(spark: SparkSession): SparkSession =
    if (pins.forall { case (k, v) => spark.conf.getOption(k).contains(v) }) spark
    else {
      val key = (spark, spark.conf.getAll,
        spark.experimental.extraStrategies, spark.experimental.extraOptimizations)
      children.getOrElse(key, {
        if (children.size > 8) children.clear()
        val child = GraftColumnBridge.cloneSession(spark, pins)
        children.putIfAbsent(key, child).getOrElse(child)
      })
    }

  /** `df` as a bounded frame: its plan on the bounded child session. */
  def on(df: DataFrame): DataFrame = bind(df, session(df.sparkSession))

  /** `df`'s analyzed plan re-bound onto `spark` (as is when already there). */
  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else GraftColumnBridge.ofRows(spark, GraftColumnBridge.analyzed(df))
}
