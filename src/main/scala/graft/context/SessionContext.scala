package graft.context

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV read options mirroring the reference's CSV scan surface
  * (reference: rust/core/proto/ballista.proto:185-194 — header flag,
  * delimiter, file-extension filter, optional explicit schema).
  */
final case class CsvOptions(
    schema: Option[StructType] = None,
    hasHeader: Boolean = true,
    delimiter: String = ",",
    fileExtension: String = ".csv",
    /** Spark parse mode: PERMISSIVE (default), DROPMALFORMED, FAILFAST. */
    mode: Option[String] = None)

/** Parquet/CSV writer compression codecs supported by the reference's
  * benchmark writer (reference: rust/benchmarks/tpch/src/main.rs:233-253:
  * none/snappy/brotli/gzip/lz4/lzo/zstd). Spark's parquet writer accepts the
  * same names; availability of brotli/lzo depends on native codec jars, the
  * rest are built in. Vendoring checked r16: no brotli4j/hadoop-lzo jar
  * exists in the pinned classpath, the offline coursier cache, or anywhere
  * on the image (only conda's native libbrotli, unusable from parquet-mr
  * without the JNI wrapper jar), so the two stay declared-but-gated; the
  * CodecContractSpec fails loudly if the classpath ever gains them ungated.
  */
object Compression extends Enumeration {
  val None_, Snappy, Brotli, Gzip, Lz4, Lzo, Zstd = Value
  def option(c: Value): String = c match {
    case None_ => "none"
    case other => other.toString.toLowerCase
  }
}

/** The engine's user-facing context — the Spark-native equivalent of the
  * reference's client context (reference: rust/client/src/context.rs:41-315
  * `BallistaContext`: read_csv/read_parquet/register_table/sql/collect).
  *
  * Everything behind this thin layer is stock Catalyst + Tungsten: the
  * reference's scheduler/executor/shuffle/serde subsystems (SURVEY.md §3-§4)
  * collapse into Spark's DAGScheduler and shuffle service, so registration
  * here is just temp-view creation and queries are ordinary Datasets.
  */
class SessionContext(val spark: SparkSession) {

  /** reference: rust/client/src/context.rs:87-97 (`read_csv`). */
  def readCsv(path: String, opts: CsvOptions = CsvOptions()): DataFrame = {
    var r = spark.read
      .option("header", opts.hasHeader.toString)
      .option("delimiter", opts.delimiter)
      // match the reference's extension filter semantics (only files with
      // the configured extension are scanned)
      .option("pathGlobFilter", s"*${opts.fileExtension}")
    opts.schema.foreach(s => r = r.schema(s))
    opts.mode.foreach(m => r = r.option("mode", m))
    // schema-less reads always infer types — with OR without a header row;
    // previously the header path silently read every column as string.
    if (opts.schema.isEmpty) r = r.option("inferSchema", "true")
    r.csv(path)
  }

  /** reference: rust/client/src/context.rs:99-109 (`read_parquet`). */
  def readParquet(path: String): DataFrame = spark.read.parquet(path)

  /** NDJSON is declared in the reference's external-table enum
    * (reference: rust/core/proto/ballista.proto:236-248, FileType::NdJson)
    * but never wired to a scan; Spark gives it to us natively.
    */
  def readJson(path: String): DataFrame = spark.read.json(path)

  /** ORC — beyond the reference's CSV/Parquet/NdJson enum
    * (rust/core/proto/ballista.proto:236-248); fidelity is oracle-gated by
    * the `sink_orc_roundtrip` query row.
    */
  def readOrc(path: String): DataFrame = spark.read.orc(path)

  /** reference: rust/client/src/context.rs:112-118 (`register_table`). */
  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  def registerOrc(name: String, path: String): Unit =
    registerTable(name, readOrc(path))

  def registerJson(name: String, path: String): Unit =
    registerTable(name, readJson(path))

  def registerCsv(name: String, path: String, opts: CsvOptions = CsvOptions()): Unit =
    registerTable(name, readCsv(path, opts))

  def registerParquet(name: String, path: String): Unit =
    registerTable(name, readParquet(path))

  /** In-memory table over client-provided rows — the reference's
    * MemoryStream-backed source (reference: rust/core/src/memory_stream.rs:1-93).
    */
  def registerMemTable(name: String, rows: Seq[Row], schema: StructType): Unit =
    registerTable(name, spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema))

  /** SQL entry point (reference: rust/client/src/context.rs:131-144). The
    * reference plans SQL with DataFusion then ships protobuf plans to a
    * scheduler; here `spark.sql` runs the whole lifecycle in Catalyst.
    */
  def sql(query: String): DataFrame = spark.sql(query)

  def table(name: String): DataFrame = spark.table(name)

  /** reference: rust/client/src/context.rs:161-239 (`collect`). */
  def collect(df: DataFrame): Array[Row] = df.collect()

  /** reference: rust/client/src/context.rs:309-315 (`explain`). */
  def explain(df: DataFrame, verbose: Boolean = false): Unit = df.explain(verbose)

  /** CSV sink (reference: rust/benchmarks/tpch/src/main.rs:232 `write_csv`).
    * The writer's ignore-whitespace options default to TRUE (unlike the
    * reader's), silently trimming leading/trailing whitespace — including
    * whitespace-translated payload newlines — from field values; a sink
    * must be byte-exact by construction, so they are pinned off.
    */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               delimiter: String = ","): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString).option("delimiter", delimiter)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** Parquet sink with codec selection
    * (reference: rust/benchmarks/tpch/src/main.rs:233-253).
    */
  def writeParquet(df: DataFrame, path: String,
                   compression: Compression.Value = Compression.Snappy): Unit =
    df.write.mode("overwrite")
      .option("compression", Compression.option(compression))
      .parquet(path)

  /** ORC sink (beyond-reference; see [[readOrc]]). */
  def writeOrc(df: DataFrame, path: String,
               compression: Compression.Value = Compression.Snappy): Unit =
    df.write.mode("overwrite")
      .option("compression", Compression.option(compression))
      .orc(path)

  /** NDJSON sink — the write half of the reference's declared-but-unwired
    * NdJson file type.
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}

object SessionContext {
  /** The one place a graft `SparkSession` is built. Every session gets the
    * engine defaults: graft's functions and plan rules installed through
    * `spark.sql.extensions` (so they also reach every `newSession()`
    * child), AQE on (runtime shuffle-partition coalescing + skew-join
    * handling — the adaptive re-planning the reference lacks, SURVEY.md
    * §4.2), UTC session time, nanosecond parquet timestamps read as
    * longs, UI off. `confs` are applied last, for the few entry points
    * that really differ (a scratch root, a memory squeeze).
    */
  def local(cores: Int, shufflePartitions: Int,
            confs: (String, String)*): SessionContext = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // nanosecond-precision parquet timestamps (as the driver fixtures
      // carry) surface as LongType instead of an illegal-type error
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new SessionContext(spark)
  }
}
