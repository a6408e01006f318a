package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.core.Tables

/** Pins [[graft.core.Tables.read]], the one table resolver: a path's schema
  * is inferred once per session, each call still gets its own frame (so
  * self-joins resolve), a rewritten file or an appended part file shows in
  * the next read, and no other main source reads parquet itself.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Writes `df` as ONE parquet file at `dest`, as the fixtures are laid out. */
  private def writeFile(df: DataFrame, dest: String): Unit = {
    val out = tmpDir("graft-tables-part")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("a second read of the same path runs zero Spark jobs") {
    val path = s"${tmpDir("graft-tables-jobs")}/orders.parquet"
    writeFile(Tables(spark, sf).orders, path)
    val first  = jobsDuring(Tables.read(spark, path).queryExecution.optimizedPlan: Unit)
    val second = jobsDuring(Tables.read(spark, path).queryExecution.optimizedPlan: Unit)
    assert(first >= 1, "the first read must infer the schema")
    assert(second == 0, s"$second job(s) ran resolving an already-resolved path")
  }

  test("two frames of one table self-join with distinct expression ids") {
    val o1 = Tables(spark, sf).orders
    val o2 = Tables(spark, sf).orders
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(o1).intersect(ids(o2)).isEmpty)
    val joined = o1.join(o2, o1("o_orderkey") === o2("o_orderkey"))
    assert(joined.count() == o1.count())
  }

  test("a fixture rewritten with a different schema resolves to the new schema") {
    val dir = tmpDir("graft-tables-schema")
    writeFile(Tables(spark, sf).nation, s"$dir/nation.parquet")
    assert(Tables(spark, dir).nation.columns.contains("n_regionkey"))
    writeFile(Tables(spark, sf).nation.drop("n_regionkey"), s"$dir/nation.parquet")
    val after = Tables(spark, dir).nation
    assert(after.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(after.count() == Tables(spark, sf).nation.count())
  }

  test("a part file appended to an artifact directory shows in the next read") {
    val dir = s"${tmpDir("graft-tables-append")}/artifact"
    spark.range(0, 10).write.parquet(dir)
    assert(Tables.read(spark, dir).count() == 10)
    spark.range(10, 15).write.mode("append").parquet(dir)
    assert(Tables.read(spark, dir).count() == 15)
  }

  test("audit: only core.Tables reads parquet in the main sources") {
    val root = new java.io.File("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(root).filter(_.getName.endsWith(".scala"))
    assert(files.size > 50, s"audit found only ${files.size} source files under $root")
    val exempt = (f: java.io.File) =>
      f == new java.io.File(root, "core/SparkEnv.scala") ||
        f.getPath.startsWith(new java.io.File(root, "tools").getPath + java.io.File.separator)
    // also catches a reader split across lines (`s.read\n  .parquet(`)
    val reads = "read\\s*\\.\\s*parquet\\s*\\(".r
    val offenders = files.filterNot(exempt)
      .filter(f => reads.findFirstIn(readLines(f.getPath).mkString("\n")).nonEmpty)
      .map(_.getPath)
    assert(offenders.isEmpty, s"parquet read outside core.Tables: $offenders")
  }
}
