package graft.core

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** SparkSession factory for the graft engine.
  *
  * Every graft entry point (Verify, Bench, tests) calls `SparkEnv.session()`
  * FIRST — `getOrCreate()` ignores configs on an already-existing session,
  * so the scale- and correctness-sensitive knobs below must be set by
  * whoever creates the session:
  *
  *   - `spark.sql.shuffle.partitions` = local core count (default 4,
  *     overridable via SPARK_GRAFT_CPUS; the driver harness exports 32).
  *     Pinning partitions==cores is the deliberate local-mode choice; on a
  *     real cluster we'd leave a higher initial value and let AQE coalesce.
  *   - AQE on: runtime re-planning (skew-join splitting, partition
  *     coalescing, dynamic broadcast) is the main lever that lets the same
  *     declarative plans survive a 100x scale-up.
  *   - UTC session time zone + TIMESTAMP_MICROS parquet output so
  *     timestamp-producing results hash-match the DuckDB oracle.
  */
object SparkEnv {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // (Round-17 negative result, left at the default true:
      // coalescePartitions.parallelismFirst=false — Spark's own doc
      // recommendation — was measured over the full sweep and SERIALIZED
      // the 1–64 MB stages whose per-row compute is the product:
      // q_shared_passages' fingerprint window 1.8→6.1 s, q_skyline
      // 2.0→3.4 s, q_bootstrap_ci 1.8→2.9 s. The sub-MB iterative-graph
      // shuffles it was meant to shrink already coalesce to one task
      // under parallelismFirst via the 1 MiB minPartitionSize.)
      //
      // Let AQE optimize CACHED plans too (round 17): with the default
      // `false`, every InMemoryRelation materializes at the static
      // shuffle.partitions width — all the family caches pinned 32
      // partitions of kilobytes each, so every cache-reading stage paid
      // 32 tasks of fixed overhead per query. AQE inside the cache build
      // coalesces to the advisory size; the trade (cached output
      // partitioning may stop matching a downstream join's demand) costs
      // an exchange only where one was already being paid — measured
      // whole-sweep before committing.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // native vector expressions (graft_dot / graft_cosine) in every session
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // some fixture generations carry TIMESTAMP(NANOS), which the
      // vectorized reader rejects; read those as raw nanos and let
      // Tables.nanosToTimestamp normalize (a no-op on timestamp[us] files).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // managed (bucketed) tables land outside the repo tree
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Typed accessors for the driver-generated parquet tables
  * (`/root/testdata/sf*`, see TESTDATA.md). Scans stay lazy DataFrames so
  * Catalyst pushes filters/column pruning into the parquet reader.
  */
final class Tables(spark: SparkSession, dir: String) {
  def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `ts` arrives as whatever the fixture generation chose (epoch-nanos
    * int64 under nanosAsLong, or a native parquet timestamp);
    * [[Tables.nanosToTimestamp]] normalizes every variant to TIMESTAMP_NTZ.
    */
  def events: DataFrame = Tables.nanosToTimestamp(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Every fixture table under its view name, `events` normalized. */
  def all: Seq[(String, DataFrame)] =
    Tables.names.map(n => n -> (if (n == "events") events else t(n)))
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** The fixture tables: the one list the SQL views, the bench warm-up and
    * its fixture stamp share.
    */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** The one place a parquet path (fixture, stage output, artifact dir)
    * becomes a DataFrame. Schema inference (a Spark job over the footers)
    * runs once per (session, path); the schema is memoized with the path's
    * length and modification time, and a changed fingerprint re-infers.
    * Each call is a fresh reader over that schema: no job, the plans of an
    * inferring read, new expression ids (self-joins resolve) and a fresh
    * file listing (appended part files show). Memos derived from a table's
    * data (`Cached.count`, dedup probes, session artifacts) are not
    * re-checked: a fixture rewritten mid-session needs a new session there.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p      = new org.apache.hadoop.fs.Path(path)
    val st     = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val stamp  = (st.getLen, st.getModificationTime)
    val memo   = schemas.synchronized(schemas.getOrElseUpdate(spark, TrieMap.empty))
    val schema = memo.get(path).collect { case (`stamp`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      memo(path) = (stamp, s)
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  private val schemas =
    mutable.WeakHashMap.empty[SparkSession, TrieMap[String, ((Long, Long), StructType)]]

  /** The one `ts` normalization, shared by batch and streaming readers so
    * the two paths can never diverge. The fixture generator has shipped two
    * physical encodings across rounds, so this adapts on the READ schema
    * rather than assuming one:
    *
    *   - int64 epoch-nanos (parquet TIMESTAMP(NANOS) surfaced as LongType
    *     by nanosAsLong): floor-divide to micros — integer `DIV`, not
    *     double division, since epoch-nanos exceed 2^53;
    *   - native timestamp[us] (TIMESTAMP_NTZ, or session-TZ TimestampType
    *     when the file says isAdjustedToUTC): already micros.
    *
    * Every variant lands on TIMESTAMP_NTZ: the fixture timestamps are naive
    * wall-clock values and the DuckDB oracle produces naive TIMESTAMPs —
    * the session TZ is UTC, so the casts change only the logical type,
    * never the instant.
    */
  def nanosToTimestamp(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case LongType =>
        events.withColumn("ts", expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)"))
      case TimestampNTZType => events
      case TimestampType =>
        events.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other; expected int64 epoch-nanos or a parquet timestamp")
    }
  }
}
