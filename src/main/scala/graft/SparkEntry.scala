package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator/capability from
  * SURVEY.md §2 (or a beyond-reference extension); [[oracleSql]] carries the
  * equivalent DuckDB SQL for the driver's hash-compare gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("tpch_q1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first adapts the caller's session to what the operators assume of a
    * `SessionContext.local` session, so a driver-built session without
    * `spark.sql.extensions=graft.functions.GraftExtensions` still works:
    * graft's functions are registered (idempotent — a no-op where the
    * extension installed them) and parquet TIMESTAMP(NANOS) columns are
    * read as longs (the events fixture throws on read otherwise).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (operators.Tpch.queries ++ operators.Relational.queries ++
      operators.TextAnalysis.queries ++ operators.Dedup.queries ++
      operators.Similarity.queries ++ operators.Multimodal.queries ++
      operators.Graph.queries ++ streaming.Streaming.queries)
      .map { case (name, fn) => name -> { (s: SparkSession, d: String) =>
        adapt(s)
        fn(s, d)
      } }

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def adapt(s: SparkSession): Unit = {
    functions.GraftFunctions.register(s)
    if (!s.conf.getOption(NanosKey).contains("true")) s.conf.set(NanosKey, "true")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Tpch.oracles ++ operators.Relational.oracles ++
      operators.TextAnalysis.oracles ++ operators.Dedup.oracles ++
      operators.Similarity.oracles ++ operators.Multimodal.oracles ++
      operators.Graph.oracles ++ streaming.Streaming.oracles
}
