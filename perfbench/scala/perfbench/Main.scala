package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{Engine, JobResult, JobSpec}

/** The benchmark's measuring process. `perfbench/run.py` generates the
  * inputs, writes a plan file and starts this main; it writes one JSON
  * file of raw timings and spans, which `run.py` turns into metrics.
  *
  * Usage: perfbench.Main <plan.tsv> <out.json>
  *
  * Plan lines (tab-separated): `workload <name>`, `seconds <s>`,
  * `trace <0|1>`, `warm <query,query,...>` (the queries `Bench.warmUp` is
  * restricted to), `setup_dir <dir>` (one per set-up; the last one's session
  * and directory serve the timed phases), `setup_op <operation>` (each
  * set-up's untimed operation), and one line per operation:
  * `query <name>` or
  * `job <label> <input> <output> <mapper> <reducer> <numMappers> <numReducers> <inputBytes>`.
  *
  * Load shape: one client thread, one operation in flight (closed loop);
  * `System.gc()` between operations, outside the timed span. A query's
  * first run in a session is untimed: a phase first primes every query of
  * its list that the session has not run yet, then runs the operations in
  * order and stops when they run out or `seconds` have passed since the
  * first of them began.
  */
object Main {
  sealed trait Op { def label: String }
  final case class QueryOp(label: String) extends Op
  final case class JobOp(label: String, spec: JobSpec, inputBytes: Long) extends Op

  final case class Plan(
      workload: String,
      seconds: Double,
      trace: Boolean,
      warm: Set[String],
      setupDirs: Seq[String],
      setupOp: Op,
      ops: Seq[Op])

  private def op(f: Array[String]): Op = f(0) match {
    case "query" => QueryOp(f(1))
    case "job"   => JobOp(f(1), JobSpec(f(2), f(3), f(4), f(5), f(6).toInt, f(7).toInt), f(8).toLong)
  }

  def parse(path: String): Plan = {
    val kv      = mutable.Map.empty[String, String]
    val dirs    = mutable.ArrayBuffer.empty[String]
    val ops     = mutable.ArrayBuffer.empty[Op]
    var setupOp = Option.empty[Op]
    for (line <- Files.readAllLines(Paths.get(path), UTF_8).asScala if line.nonEmpty) {
      val f = line.split("\t", -1)
      f(0) match {
        case "setup_dir"     => dirs += f(1)
        case "setup_op"      => setupOp = Some(op(f.drop(1)))
        case "query" | "job" => ops += op(f)
        case k               => kv(k) = f(1)
      }
    }
    require(dirs.nonEmpty && setupOp.nonEmpty && ops.nonEmpty,
      s"plan $path needs setup_dir, setup_op and operation lines")
    Plan(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("warm").split(",").filter(_.nonEmpty).toSet, dirs.toSeq, setupOp.get, ops.toSeq)
  }

  /** Seconds of in-construction builds (wave memos) recorded so far. */
  private def buildWalls: Double = graft.core.BuildWalls.snapshot.values.sum

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Every column of every row folded into a row count and an
    * order-independent hash (two 32-bit halves of xxhash64, summed).
    * Columns are renamed positionally so duplicate or dotted names fold
    * too; map-typed columns go through `to_json` (maps are not hashable).
    */
  def fold(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType      => true
      case a: ArrayType    => hasMap(a.elementType)
      case s: StructType   => s.fields.exists(f => hasMap(f.dataType))
      case _               => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h   = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    val lo = if (row.isNullAt(1)) 0L else row.getLong(1)
    val hi = if (row.isNullAt(2)) 0L else row.getLong(2)
    (row.getLong(0), f"$hi%x-$lo%x")
  }

  /** Sorted output lines of a finished job, hashed like run.py's answer key. */
  def outputDigest(files: Seq[String]): (Long, String) = {
    val lines = files.flatMap(f => Files.readAllLines(Paths.get(f), UTF_8).asScala).sorted
    val md    = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    (lines.size.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = graft.ops.Sinks.deleteRecursively(p)

  /** Registry queries by module; queries of modules not listed here land
    * in "other".
    */
  def modules: Seq[(String, Seq[String])] = {
    import graft.queries._
    val listed = Seq(
      "Relational" -> Relational.all, "EventQueries" -> EventQueries.all,
      "StatsQueries" -> StatsQueries.all, "TextQueries" -> TextQueries.all,
      "Pipeline" -> Pipeline.all, "GraphQueries" -> GraphQueries.all,
      "Dedup" -> graft.ext.Dedup.all, "Similarity" -> graft.ext.Similarity.all,
      "Ivf" -> graft.ext.Ivf.all, "SemDedup" -> graft.ext.SemDedup.all,
      "SetJoin" -> graft.ext.SetJoin.all, "SimHash" -> graft.ext.SimHash.all,
      "Winnow" -> graft.ext.Winnow.all, "Multimodal" -> graft.ext.Multimodal.all,
      "MatView" -> graft.ops.MatView.all
    ).map { case (m, qs) => m -> qs.map(_.name) }
    val seen = listed.flatMap(_._2).toSet
    listed :+ ("other" -> Registry.all.map(_.name).filterNot(seen))
  }

  /** Run and fold every registry query at `dir` twice, timing both runs:
    * the input for the cost strata and the answer key.
    */
  def calibrate(dir: String, out: String): Unit = {
    val spark = graft.core.SparkEnv.session("perfbench-calibrate")
    graft.Bench.warmUp(spark, dir, None): Unit
    val oracle = graft.SparkEntry.oracleSql.keySet
    def once(name: String): (Double, Either[String, (Long, String)]) = {
      System.gc()
      val t0 = System.nanoTime()
      val r =
        try Right(fold(graft.SparkEntry.queries(name)(spark, dir)))
        catch { case NonFatal(e) => Left(Option(e.getMessage).getOrElse(e.toString).take(300)) }
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val recs = for ((module, names) <- modules; name <- names) yield {
      val (firstSec, first) = once(name)
      val (sec, r)          = once(name)
      Json.obj("module" -> module, "name" -> name, "first_s" -> firstSec, "latency_s" -> sec,
        "oracle" -> oracle(name),
        "rows" -> r.map(_._1).getOrElse(-1L), "hash" -> r.map(_._2).getOrElse(""),
        "stable" -> (r == first), "error" -> r.left.getOrElse(""))
    }
    Files.write(Paths.get(out), Json.value(recs).getBytes(UTF_8))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 3 && args(0) == "--calibrate") { calibrate(args(1), args(2)); return }
    require(args.length == 2, "usage: perfbench.Main <plan.tsv> <out.json> | --calibrate <dir> <out.json>")
    val plan    = parse(args(0))
    val spans   = new Spans
    val tracer  = new Tracer
    val isJobs  = plan.ops.head.isInstanceOf[JobOp]
    var spark: SparkSession = null
    var engine: Engine      = null
    var dir                 = ""
    val seen                = mutable.Set.empty[String] // queries run in this session
    val primeErrors         = mutable.Map.empty[String, String]

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    def detach(): Unit = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }

    /** A query's first run in the session, untimed as an operation: it pays
      * one-time costs (codegen compilation, first materialization of shared
      * caches and wave memos) whose size depends on which queries ran
      * before it. Returns its seconds.
      */
    def prime(name: String): Double = {
      seen += name
      val t0 = System.nanoTime()
      try fold(graft.SparkEntry.queries(name)(spark, dir)): Unit
      catch { case NonFatal(e) => primeErrors(name) = Option(e.getMessage).getOrElse(e.toString).take(300) }
      (System.nanoTime() - t0) / 1e9
    }

    /** One operation; returns its record. `root` is the parent span. */
    def runOp(op: Op, idx: Int, traced: Boolean, root: Int): Map[String, Any] = {
      System.gc()
      val gc0 = gcMillis
      op match {
        case QueryOp(name) =>
          spark.sparkContext.setJobGroup(s"perfbench-op-$idx", name, interruptOnCancel = false)
          val t0               = System.nanoTime()
          var t1               = t0
          var df: DataFrame    = null
          val res              =
            try {
              df = graft.SparkEntry.queries(name)(spark, dir)
              t1 = System.nanoTime()
              Right(fold(df))
            } catch { case NonFatal(e) => Left(Option(e.getMessage).getOrElse(e.toString).take(300)) }
          val t2 = System.nanoTime()
          spark.sparkContext.clearJobGroup()
          val gcMs = gcMillis - gc0
          if (t1 == t0) t1 = t2
          if (traced) {
            val id = spans.add(root, "op", Clock.us(t0), Clock.us(t2), Map("idx" -> idx, "name" -> name))
            spans.add(id, "queries.construct", Clock.us(t0), Clock.us(t1))
            spans.add(id, "exec.execute", Clock.us(t1), Clock.us(t2))
          }
          Map("idx" -> idx, "name" -> name, "kind" -> "query", "start" -> Clock.us(t0),
            "end" -> Clock.us(t2), "latency_s" -> (t2 - t0) / 1e9, "construct_s" -> (t1 - t0) / 1e9,
            "execute_s" -> (t2 - t1) / 1e9, "gc_s" -> gcMs / 1e3,
            "input_bytes" -> (if (df == null) 0L else inputBytes(df, dir)),
            "rows" -> res.map(_._1).getOrElse(-1L), "hash" -> res.map(_._2).getOrElse(""),
            "error" -> Seq(primeErrors.getOrElse(name, ""), res.left.getOrElse("")).filter(_.nonEmpty)
              .mkString("; "))

        case JobOp(label, spec, bytes) =>
          val t0  = System.nanoTime()
          val fut = engine.submit(spec)
          val t1  = System.nanoTime()
          engine.await()
          val t2   = System.nanoTime()
          val gcMs = gcMillis - gc0
          val res: Either[String, JobResult] = fut.value match {
            case Some(scala.util.Success(r)) => Right(r)
            case Some(scala.util.Failure(e)) => Left(Option(e.getMessage).getOrElse(e.toString).take(300))
            case None                        => Left("job did not finish")
          }
          val started  = res.map(_.startedNanos).getOrElse(t1)
          val finished = res.map(_.finishedNanos).getOrElse(t2)
          if (traced) {
            val id = spans.add(root, "op", Clock.us(t0), Clock.us(t2), Map("idx" -> idx, "name" -> label))
            spans.add(id, "api.submit", Clock.us(t0), Clock.us(t1))
            spans.add(id, "api.queue", Clock.us(t0), Clock.us(started))
            spans.add(id, "api.run", Clock.us(started), Clock.us(finished))
            spans.add(id, "api.await", Clock.us(finished), Clock.us(t2))
          }
          val (rows, digest) =
            try res.map(r => outputDigest(r.outputFiles)).getOrElse((-1L, ""))
            catch { case NonFatal(e) => (-1L, s"unreadable output: $e") }
          deleteTree(Paths.get(spec.outputDirectory))
          Map("idx" -> idx, "name" -> label, "kind" -> "job", "start" -> Clock.us(t0),
            "end" -> Clock.us(t2), "latency_s" -> (t2 - t0) / 1e9, "queue_s" -> (started - t0) / 1e9,
            "run_s" -> (finished - started) / 1e9, "await_s" -> (t2 - finished) / 1e9,
            "run_start" -> Clock.us(started), "run_end" -> Clock.us(finished),
            "gc_s" -> gcMs / 1e3, "input_bytes" -> bytes, "rows" -> rows, "hash" -> digest,
            "error" -> res.left.getOrElse(""))
      }
    }

    // ---- set-up, repeated; the last one serves the timed phases ----
    val setups = plan.setupDirs.zipWithIndex.map { case (setupDir, i) =>
      if (engine != null) engine.close()
      if (spark != null) spark.stop()
      seen.clear()
      dir = setupDir
      val t0 = System.nanoTime()
      spark = graft.core.SparkEnv.session("perfbench")
      val t1 = System.nanoTime()
      if (plan.trace) attach()
      if (isJobs) engine = new Engine(spark)
      val walls0    = buildWalls
      val artifacts = graft.Bench.warmUp(spark, setupDir, Some(plan.warm))
      val t2        = System.nanoTime()
      val first = plan.setupOp match {
        case j: JobOp => j.copy(spec = j.spec.copy(outputDirectory = j.spec.outputDirectory + s"-setup$i"))
        case q: QueryOp => seen += q.label; q // this run is the query's first
      }
      val root = if (plan.trace) spans.add(0, "setup", Clock.us(t0), Clock.now, Map("setup" -> i)) else 0
      val rec  = runOp(first, -1 - i, plan.trace, root)
      val t3   = System.nanoTime()
      if (plan.trace) {
        spans.add(root, "core.session", Clock.us(t0), Clock.us(t1))
        spans.add(root, "ext.warmup", Clock.us(t1), Clock.us(t2), artifacts)
      }
      Map("setup" -> i, "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "artifacts" -> artifacts, "build_walls_s" -> (buildWalls - walls0),
        "first_op_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9,
        "start" -> Clock.us(t0), "end" -> Clock.us(t3), "first_op" -> rec)
    }

    def phase(label: String, traced: Boolean): Map[String, Any] = {
      if (plan.trace) { if (traced) attach() else detach() }
      val walls0 = buildWalls
      val root   = if (traced) spans.add(0, "phase", Clock.now, Clock.now, Map("phase" -> label)) else 0
      val recs   = mutable.ArrayBuffer.empty[Map[String, Any]]
      val start  = System.nanoTime()
      val limit  = (plan.seconds * 1e9).toLong
      val firsts = plan.ops.collect { case QueryOp(n) if !seen(n) => n }.distinct.map(n => n -> prime(n))
      val timed  = System.nanoTime()
      var i      = 0
      while (i < plan.ops.size && System.nanoTime() - timed < limit) {
        recs += runOp(plan.ops(i), i, traced, root)
        i += 1
      }
      val end = System.nanoTime()
      val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      Map("label" -> label, "traced" -> traced, "start" -> Clock.us(start), "end" -> Clock.us(end),
        "prime_s" -> (timed - start) / 1e9, "wall_s" -> (end - timed) / 1e9,
        "first_runs" -> firsts.map { case (n, sec) => Json.obj("name" -> n, "seconds" -> sec) },
        "cache_mb" -> cacheBytes / 1048576.0, "build_walls_s" -> (buildWalls - walls0), "ops" -> recs.toSeq)
    }

    val phases =
      if (plan.trace) Seq(phase("untraced", traced = false), phase("traced", traced = true))
      else Seq(phase("timed", traced = false))
    if (plan.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val spanJson = spans.all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "attrs" -> s.attrs)
    }
    val out = Json.obj(
      "workload" -> plan.workload,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setups" -> setups,
      "phases" -> phases,
      "spans" -> spanJson,
      "spark" -> (if (plan.trace) tracer.json else Json.Raw("null")))
    Files.write(Paths.get(args(1)), out.s.getBytes(UTF_8))
    if (engine != null) engine.close()
    spark.stop()
  }

  private val tableBytes = mutable.Map.empty[String, Long]

  /** Bytes of the fixture tables under `dir` that a query's analyzed plan reads. */
  def inputBytes(df: DataFrame, dir: String): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
          case _                    => Seq.empty
        }
    }.flatten.distinct
    val base = new java.io.File(dir).getAbsolutePath
    roots.filter(_.startsWith(base)).map { p =>
      tableBytes.getOrElseUpdate(p, {
        val f = new java.io.File(p)
        if (f.isFile) f.length
        else Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
      })
    }.sum
  }
}
