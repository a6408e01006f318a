package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * suites run sequentially in the sbt test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.SparkEnv.session("graft-test")

  /** Flatten an EXECUTED (possibly adaptive) physical plan into all of its
    * nodes: descends AdaptiveSparkPlanExec into its current plan and query
    * stages into their contents, and stops at ReusedExchange (its subtree
    * belongs to the original stage — descending would double-count scans
    * and exchanges). The ONE walker every plan-shape assertion shares;
    * hand-rolled copies drift when a Spark upgrade adds a wrapper node.
    */
  def adaptiveNodes(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec       => Seq(qs.plan)
      case _: ReusedExchangeExec    => Nil
      case other                    => other.children
    }
    p +: kids.flatMap(adaptiveNodes)
  }

  /** Spark jobs started while `f` runs. Listener events arrive
    * asynchronously but in order: once the fence job's start is seen,
    * every earlier job has been counted.
    */
  def jobsDuring(f: => Unit): Int = {
    val jobs  = new java.util.concurrent.atomic.AtomicInteger()
    val fence = scala.concurrent.Promise[Unit]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.fence") != null))
          fence.trySuccess(()): Unit
        else jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      spark.sparkContext.setLocalProperty("graft.fence", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
      finally spark.sparkContext.setLocalProperty("graft.fence", null)
      scala.concurrent.Await.result(fence.future, scala.concurrent.duration.Duration(60, "s"))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  def resource(path: String): String = {
    val url = getClass.getClassLoader.getResource(path)
    require(url != null, s"missing test resource $path")
    new java.io.File(url.toURI).getAbsolutePath
  }

  def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toList
    finally src.close()
  }
}
