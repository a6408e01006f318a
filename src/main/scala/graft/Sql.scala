package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** SQL entry point: register every testdata table as a temp view and run
  * ANSI SQL through Spark's parser/Catalyst — the surface a SQL-first user
  * of the engine gets (the reference has no SQL at all; this comes free
  * with the declarative design).
  */
object Sql {

  /** Create (or replace) temp views for all tables under `dir`. Re-registered
    * on every call: [[Tables.read]] resolves each schema once per session,
    * so this re-reads no footers and a rewritten fixture shows at once.
    */
  def createViews(spark: SparkSession, dir: String): Unit =
    Tables(spark, dir).all.foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** Views + query in one call. */
  def query(spark: SparkSession, dir: String, sql: String): DataFrame = {
    createViews(spark, dir)
    spark.sql(sql)
  }
}
