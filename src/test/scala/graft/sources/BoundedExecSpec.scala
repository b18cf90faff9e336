package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

object BoundedExecSpec {
  // task-side latches: the UDF below resolves these statics inside the
  // local executor instead of serializing them into the closure
  @volatile var entered: Array[CountDownLatch] = Array.empty
  @volatile var gates: Array[CountDownLatch] = Array.empty
  def arm(n: Int): Unit = {
    entered = Array.fill(n)(new CountDownLatch(1))
    gates = Array.fill(n)(new CountDownLatch(1))
  }
}

class BoundedExecSpec extends AnyFunSuite {
  import BoundedExecSpec._
  lazy val spark: SparkSession = TestSpark.spark

  private val pinned = Seq("spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold", "spark.sql.limit.initialNumPartitions",
    "spark.sql.shuffle.partitions")
  private def confs(s: SparkSession): Map[String, Option[String]] =
    pinned.map(k => k -> s.conf.getOption(k)).toMap
  private def restore(s: SparkSession, c: Map[String, Option[String]]): Unit =
    c.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }

  private def boundedCollect(df: DataFrame): Array[Row] = BoundedExec.on(df).collect()
  private def cloneOf(s: SparkSession, confs: (String, String)*): SparkSession =
    GraftColumnBridge.cloneSession(s, confs)

  // holds the action at its first row in gate `i` until the test opens it
  private val held = udf { (i: Int, x: Long) =>
    entered(i).countDown()
    gates(i).await(60, TimeUnit.SECONDS)
    x
  }
  private def async[A](body: => A): Future[A] = Future(body)(ExecutionContext.global)
  // every bounded action ends inside its own test, whatever the outcome
  private def settle(fs: Future[_]*): Unit = {
    gates.foreach(_.countDown())
    fs.foreach(f => Await.ready(f, 60.seconds))
  }
  private def awaitEntered(i: Int): Unit =
    assert(entered(i).await(60, TimeUnit.SECONDS), s"bounded action $i never started")

  test("a query planned while a bounded action runs keeps AQE and the session's shuffle width") {
    arm(1)
    val before = confs(spark)
    val f = async(boundedCollect(
      spark.range(0, 4, 1, 1).select(held(lit(0), col("id")).as("id"))))
    try {
      awaitEntered(0)
      assert(confs(spark) == before)
      val q = spark.range(0, 100, 1, 2).groupBy((col("id") % 10).as("g")).count()
      val plan = q.queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.treeString)
      val widths = plan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
      }
      assert(widths.nonEmpty &&
        widths.forall(w => before("spark.sql.shuffle.partitions").contains(w.toString)),
        widths)
      assert(q.collect().map(_.getLong(1)).sum == 100L)
    } finally settle(f)
    assert(Await.result(f, 60.seconds).map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("interleaved bounded work on two sessions leaves both sessions' confs as they were") {
    val a = spark
    val b = cloneOf(spark, "spark.sql.shuffle.partitions" -> "3")
    val (beforeA, beforeB) = (confs(a), confs(b))
    arm(2)
    var started = Seq.empty[Future[Array[Row]]]
    try {
      // a enters first, b second; a leaves first, b last
      val fa = async(boundedCollect(a.range(0, 2, 1, 1).select(held(lit(0), col("id")))))
      started :+= fa
      awaitEntered(0)
      val fb = async(boundedCollect(b.range(0, 2, 1, 1).select(held(lit(1), col("id")))))
      started :+= fb
      awaitEntered(1)
      gates(0).countDown()
      assert(Await.result(fa, 60.seconds).length == 2)
      gates(1).countDown()
      assert(Await.result(fb, 60.seconds).length == 2)
      assert(confs(a) == beforeA)
      assert(confs(b) == beforeB)
    } finally {
      settle(started: _*)
      // whatever the outcome, later specs get the shared session as it was
      restore(a, beforeA)
    }
  }

  test("a bounded join+agg collect is one job, same rows, and the parent conf never moves") {
    val l = spark.range(0, 300, 1, 3).select(col("id"), (col("id") % 7).as("g"))
    val r = spark.range(0, 300, 1, 2)
      .select(held(lit(0), col("id")).as("id"), (col("id") % 5).as("h"))
    val q = l.join(r, "id").groupBy("g").agg(sum("h").as("s"), count(lit(1)).as("n"))
    val before = spark.conf.getAll
    arm(1)
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftColumnBridge.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val f = async(boundedCollect(q))
    val (during, rows) =
      try {
        awaitEntered(0)
        val d = spark.conf.getAll
        gates(0).countDown()
        (d, Await.result(f, 60.seconds))
      } finally {
        settle(f)
        GraftColumnBridge.waitForListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(jobs.get == 1)
    assert(during == before)
    assert(rows.map(_.toString).sorted.toSeq == q.collect().map(_.toString).sorted.toSeq)
    assert(rows.map(_.getLong(2)).sum == 300L)
  }

  test("nested use is a no-op and frames re-bind to the caller's session") {
    val child = BoundedExec.session(spark)
    assert(!(child eq spark))
    assert(BoundedExec.session(spark) eq child) // cached, not cloned per call
    assert(BoundedExec.session(child) eq child)
    val df = spark.range(0, 10).toDF("id").distinct()
    val onChild = BoundedExec.on(df)
    assert(onChild.sparkSession eq child)
    assert(BoundedExec.on(onChild) eq onChild)
    val back = BoundedExec.bind(onChild, spark)
    assert(back.sparkSession eq spark)
    assert(back.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }
}
