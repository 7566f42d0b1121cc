package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table loader for the driver-generated parquet fixtures
  * (`/root/testdata/sf*`, see TESTDATA.md). The reference registers tables
  * by name in a client context (reference: rust/client/src/context.rs:49,112-118);
  * here a registered table is a Spark temp view over a parquet scan, so every
  * SQL/DataFrame query plans through Catalyst with full pushdown/pruning.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extended: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extended

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The driver has regenerated `events.ts` across rounds as INT64
    * TIMESTAMP(NANOS) and (round 8) as µs TIMESTAMP_NTZ. Normalize every
    * encoding to Spark's session-zoned TIMESTAMP at the load boundary so
    * operators, SQL views, and specs all see ONE stable type. Every graft
    * session runs in UTC, so the NTZ reinterpretation is exactly the
    * naive-timestamp semantics the DuckDB oracle applies — values are
    * unchanged, only the type adjusts.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.collectFirst { case f if f.name == "ts" => f.dataType } match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Schema memo (guide §6 — don't repeat metadata work): every
    * `spark.read.parquet` without an explicit schema re-opens a parquet
    * footer for schema inference — driver-side metadata work repeated by
    * every one of the ~280 bench rows for the same static fixture tables
    * (VERDICT r18 item 7: per-row fixed overhead is 54% of the suite
    * floor; TPC-H rows pay 7 inferences per build via registerTpch).
    * Only the RAW footer schema is memoized — the relation itself is
    * rebuilt per call, so session conf that shapes scan planning
    * (maxPartitionBytes split sizing, the OperatorsSpec contract) applies
    * per query, and NO data or listing is ever cached across calls.
    *
    * Keyed by (path, mtime, length) plus the two session confs that
    * change how the same bytes map to Spark types
    * ([[SchemaConfs]]): a rewritten fixture (tests regenerate tables
    * under temp dirs) is a cache miss, and so is a session that reads
    * NANOS or NTZ timestamps differently. Bounded: ~10 tables × a few
    * dirs per JVM; cleared wholesale at the cap.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Seq[Option[String]]),
    org.apache.spark.sql.types.StructType]()

  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Raw footer schema of a parquet path, memoized by (path, mtime,
    * length, [[SchemaConfs]]). Measured at sf0.1: inference
    * costs ~47 ms/table; the memoized path ~4 ms.
    */
  def parquetSchema(spark: SparkSession, p: String)
      : org.apache.spark.sql.types.StructType = {
    if (schemaMemo.size > 256) schemaMemo.clear()
    val f = new java.io.File(p)
    schemaMemo.computeIfAbsent(
      (p, f.lastModified, f.length, SchemaConfs.map(spark.conf.getOption)),
      _ => spark.read.parquet(p).schema)
  }

  /** Parquet load with the memoized schema — for fixture tables and
    * STABLE derived tables re-read by many row builds. No data, listing,
    * or plan is cached; only the footer schema inference is skipped.
    */
  def loadPath(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(parquetSchema(spark, p)).parquet(p)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = loadPath(spark, path(dir, name))
    if (name == "events") normalizeTs(df) else df
  }

  /** Register every fixture table as a temp view named after the table. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Register only the TPC-H star-schema tables. */
  def registerTpch(spark: SparkSession, dir: String): Unit =
    tpch.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
