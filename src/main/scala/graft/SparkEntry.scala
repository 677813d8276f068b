package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query suites are grouped by SURVEY §2 category; each query has a
  * matching DuckDB oracle (same column names, deterministic ORDER BY,
  * decimal-exact aggregates) unless it is approximate/not-SQL-
  * expressible, in which case the driver does a rows-only check.
  */
object SparkEntry {
  private def sets: Seq[QuerySet] = Seq(
    Relational.set, TpchSuite.set, Windows.set, Functions.set, Coverage2.set,
    Coverage3.set, EventsOps.set, TextOps.set, DedupOps.set, SimilarityOps.set,
    RetrievalOps.set, VortexQueries.set)

  /** The session Bench, Verify, FuzzRun and ExplainOne run on:
    * local[cpus] with `cpus` shuffle partitions, UTC, the graft
    * extensions, µs parquet timestamps and no UI. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    spark.sql(Relational.q1Sql)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sets.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    sets.flatMap(_.oracle).toMap

  /** DuckDB twins usable only for benchmarking (e.g. COPY statements
    * that return no relation) — excluded from the correctness oracle. */
  def benchOracleSql: Map[String, String] =
    sets.flatMap(_.benchOracle).toMap
}
