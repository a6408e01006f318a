package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions._

import graft.core.Parallelism

/** Pins every decision of [[graft.core.Parallelism]], the one partitioning
  * policy: keyed spreads always repartition to a fixed
  * `defaultParallelism`, unkeyed spreads only when the size estimate
  * implies too few splits, grains keep their floor and cap — and building
  * any of them runs no Spark job. The audit keeps the policy the only
  * place a partition count is probed or hand-numbered.
  */
class ParallelismSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def par = spark.sparkContext.defaultParallelism

  /** The frame's top logical node as (numPartitions, key count), or None. */
  private def repartitionOf(df: DataFrame): Option[(Int, Int)] =
    df.queryExecution.logical match {
      case r: RepartitionByExpression => Some((r.numPartitions, r.partitionExpressions.size))
      case r: Repartition if r.shuffle => Some((r.numPartitions, 0))
      case _                          => None
    }

  /** A frame too large for the policy to touch unkeyed; never executed. */
  private def huge = spark.range(0, 10000000000L).toDF("id")

  test("keyed spread is a fixed-count RepartitionByExpression on the keys") {
    for (df <- Seq(spark.range(0, 100).toDF("id"), huge)) {
      val out = Parallelism.spread(df, col("id"))
      assert(repartitionOf(out) == Some((par, 1)))
      // a user-numbered shuffle: AQE never coalesces it
      val exchanges = out.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.shuffleOrigin
      }
      assert(exchanges == Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM))
    }
  }

  test("unkeyed spread repartitions a single-split scan and a cached frame") {
    assume(par > 1)
    val scan   = graft.core.Tables(spark, sf).documents.select("doc_id", "text")
    val cached = graft.core.Cached.frame(scan.select("doc_id"))
    for (df <- Seq(scan, cached)) {
      val out = Parallelism.spread(df)
      assert(repartitionOf(out) == Some((par, 0)))
      assert(out.queryExecution.sparkPlan.toString.contains(s"RoundRobinPartitioning($par)"))
      assert(out.count() == df.count())
    }
  }

  test("unkeyed spread leaves a frame whose estimate implies enough splits") {
    val df = huge
    assert(Parallelism.spread(df) eq df)
  }

  test("grain keeps the floor of 1 and the cap of 4 x defaultParallelism") {
    assert(repartitionOf(Parallelism.grain(spark.range(0, 10).toDF("id"), col("id"))) ==
      Some((1, 1)))
    assert(repartitionOf(Parallelism.grain(huge, col("id"))) == Some((4 * par, 1)))
  }

  test("building spread and grain frames runs zero Spark jobs") {
    val scan   = graft.core.Tables(spark, sf).documents.select("doc_id", "text")
    val cached = graft.core.Cached.frame(scan.groupBy("doc_id").count())
    val jobs = jobsDuring {
      for (df <- Seq(scan, cached, huge)) {
        Parallelism.spread(df).queryExecution.optimizedPlan
        Parallelism.spread(df, col(df.columns.head)).queryExecution.optimizedPlan
        Parallelism.grain(df).queryExecution.optimizedPlan
      }
    }
    assert(jobs == 0, s"$jobs job(s) ran while building the frames")
  }

  test("audit: only core/Parallelism probes or hand-numbers partition counts") {
    val root  = new java.io.File("src/main/scala/graft")
    val files = Seq("core", "ext", "queries").flatMap { d =>
      Option(new java.io.File(root, d).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    }
    assert(files.size > 20, s"audit found only ${files.size} source files under $root")
    val offenders = for {
      f <- files if f != new java.io.File(root, "core/Parallelism.scala")
      code = readLines(f.getPath)
        .filterNot { l => val t = l.trim; t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") }
        .mkString("\n")
      // names bound to the session's parallelism count as the count itself
      aliases = "val\\s+(\\w+)\\s*=\\s*[\\w.]*defaultParallelism\\b".r
        .findAllMatchIn(code).map(_.group(1)).toSeq
      numbered = s"repartition\\(\\s*([\\w.]*defaultParallelism${aliases.map("|" + _).mkString})\\b".r
      if code.contains("getNumPartitions") || numbered.findFirstIn(code).nonEmpty
    } yield f.getPath
    assert(offenders.isEmpty, s"probe or hand-numbered repartition outside core/Parallelism: $offenders")
  }
}
