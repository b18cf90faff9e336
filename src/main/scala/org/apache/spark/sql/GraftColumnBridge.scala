package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Expression <-> Column converters (Spark 4
  * moved Column off Expression; `classic.ExpressionUtils` is
  * private[sql]). Same technique as the reference's internal-package
  * accessor (org/apache/spark/sql/execution/datasources/
  * PartitionMetadataExtractor.scala:13-52): a minimal shim in the sql
  * package, everything else stays in graft.*.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** FULLY convert a composed Column into a plain catalyst Expression
    * tree. `expression` defers conversion behind ColumnNode adapter
    * nodes, which Dataset.select resolves later — but a
    * FunctionRegistry builder's output goes straight to the analyzer,
    * which type-checks the adapters as NullType. Use this (the same
    * converter Dataset compilation applies) whenever the Expression
    * leaves the Column world, e.g. SQL function registration.
    */
  def toExpressionTree(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Parse a SQL expression string into a raw (unresolved) catalyst
    * Expression — what `expr(...)` defers behind a lazy SqlExpression
    * column node. Needed when the TREE itself is inspected before any
    * Dataset resolves it (e.g. stats-index predicate extraction).
    */
  def parseExpression(spark: SparkSession, sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  /** Wrap a (possibly custom) LogicalPlan as a DataFrame — the sql-private
    * `Dataset.ofRows`. Needed to hand an `AsOfJoinNode` (or any graft
    * logical operator) to the analyzer/planner from library code.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (resolved Attributes, stable
    * exprIds — safe to reference from a parent custom node).
    */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A child of `spark` (the sql-private `cloneSession`) with `confs`
    * set before anyone else can see it. Unlike `newSession()`, a clone
    * keeps the parent's SQL confs, experimental strategies/optimizations
    * and registered functions; the parent is never touched.
    */
  def cloneSession(spark: SparkSession, confs: Seq[(String, String)]): SparkSession = {
    val child = spark.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => child.sessionState.conf.setConfString(k, v) }
    child
  }

  /** Drain the async listener bus — measurement code that sums task
    * metrics via a SparkListener must flush pending events before
    * reading its accumulator (the bus delivers on its own thread).
    * `listenerBus` is private[spark]; this package can reach it.
    */
  def waitForListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the executor storage blocks behind a `localCheckpoint()`ed
    * frame (Dataset.unpersist only touches the cache manager, not the
    * checkpoint RDD). Iterative algorithms that checkpoint per round
    * would otherwise pin every superseded round's blocks until session
    * end. Safe on non-checkpointed frames (no LogicalRDD leaf → no-op).
    *
    * DANGER — ONLY call this when no other live Dataset shares the same
    * checkpoint RDDs. A local checkpoint truncates lineage, so the
    * storage blocks are the ONLY copy of the data: unpersisting a
    * LogicalRDD leaf that another still-live frame (e.g. one derived
    * from the same checkpointed parent before this call) also reads
    * makes that frame unreadable — later jobs FAIL rather than
    * recompute. Callers must own every frame rooted at the released
    * RDDs (the per-round superseded-label pattern in
    * pipeline/Dedup.scala is the intended shape).
    */
  def unpersistLocalCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
      case _ => ()
    }
}
