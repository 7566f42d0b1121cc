package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.context.{Compression, CsvOptions, SessionContext}

/** Per-operator coverage of SURVEY.md §2, expressed through the DataFrame
  * API (the reference's DataFrame entry point,
  * rust/client/src/context.rs:241-315) rather than SQL — the SQL path is
  * exercised by [[Tpch]]. Every query here is paired with a DuckDB oracle
  * in [[Relational.oracles]]; column names are aliased identically on both
  * sides (the driver's compare is name-keyed).
  *
  * Determinism conventions are the same as [[Tpch]] (decimal-in-aggregate
  * for doubles, total ORDER BY before any LIMIT).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")

  /** Decimal-exact money aggregate: SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Sink/layout work dirs under the CONFIGURABLE scratch root (not a
    * hard-coded path): Verify pins a process-private root, so its sink
    * round-trips can no longer clobber — or be clobbered by — a
    * concurrent Bench writing the same fixed dirs (the r13 cross-talk).
    * Default root resolves to `target/scratch` as before.
    */
  private def scratch(sub: String) =
    s"${graft.Scratch.root(org.apache.spark.sql.SparkSession.active)}/$sub"

  // ---------------------------------------------------------------------
  // §2.1 scans / sources / sinks
  // ---------------------------------------------------------------------

  /** Parquet scan with projection + filter — both must reach the scan node
    * (reference: ballista.proto:196-202; Catalyst pushes automatically).
    */
  private def scanParquet(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_quantity") >= 45)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** CSV sink → CSV scan round-trip (reference CSV options surface:
    * ballista.proto:185-194 header/delimiter/extension; sink
    * rust/benchmarks/tpch/src/main.rs:232). Writes lineitem to `|`-delimited
    * CSV (the reference's .tbl shape), reads it back with an explicit
    * schema, and aggregates; the oracle runs on the original parquet, so a
    * lossless round-trip is part of what's checked.
    */
  private def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val src = li(s, d)
    val path = scratch("lineitem_csv")
    ctx.writeCsv(src, path, header = false, delimiter = "|")
    ctx.readCsv(path, CsvOptions(schema = Some(src.schema), hasHeader = false,
                                 delimiter = "|"))
      .groupBy(col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
           dsum(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))
  }

  /** MULTILINE CSV round-trip — quoted embedded newlines, the CSV edge
    * every "export text to CSV" pipeline eventually hits: each document's
    * spaces become real newlines, the writer quotes the field (univocity
    * minimal quoting), and the read-back must reassemble every record
    * across line boundaries under `multiLine=true`. Correctness is gated
    * three ways per language group: row count, exact character mass, and
    * a per-row md5-prefix sum over the reassembled content — a parser
    * that splits one quoted record in two (or drops a trailing line)
    * shifts all three. Scale note, and why this path is QUARANTINED to
    * explicit opt-in at 100 TB: `multiLine=true` makes each FILE an
    * unsplittable parse unit (newlines no longer delimit records, so
    * there is no in-file split point) — the production layout keeps
    * multiline payloads in parquet (or `\n`-escaped CSV, the
    * `scan_csv_roundtrip` splittable path), and when multiline CSV must
    * be ingested, parallelism comes from many files, one task each.
    */
  private def scanCsvMultiline(s: SparkSession, d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val src = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        translate(col("text"), " ", "\n").as("text_ml"))
    val path = scratch("documents_multiline_csv")
    ctx.writeCsv(src, path, header = true, delimiter = ",")
    // emptyValue="" keeps a round-tripped empty string an empty string
    // (the reader's default maps it to null — byte-exactness, not fixture
    // luck, is what makes this row equal the oracle's replace())
    s.read.schema(src.schema)
      .option("header", "true").option("multiLine", "true")
      .option("emptyValue", "")
      .csv(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text_ml"))).cast(LongType).as("sum_chars"),
        sum(size(split(col("text_ml"), "\n"))).cast(LongType).as("sum_lines"),
        sum(conv(substring(md5(col("text_ml")), 1, 4), 16, 10)
          .cast(LongType)).as("sum_md5_16"))
      .orderBy(col("lang"))
  }

  /** Malformed-line-tolerant CSV ingest — the real-world arrival shape:
    * a correct `|`-CSV dump of lineitem plus an injected junk file
    * (short rows, wrong delimiter, non-numeric numerics, blank-ish
    * lines). `DROPMALFORMED` must admit every well-formed row and ONLY
    * those: the aggregate below is gated against the ORIGINAL parquet
    * table, so an over-eager drop (losing good rows) and an under-eager
    * one (coercing junk to rows) both fail the oracle. The PERMISSIVE
    * sibling (junk surfaced in `_corrupt_record`, counted exactly) is
    * spec-asserted in `OperatorsSpec`. At 100 TB tolerance is per-LINE
    * inside splits — no quarantine pass, no second scan.
    *
    * Engine contract, learned the hard way: CSV malformedness is
    * PROJECTION-SCOPED — a line is dropped only if conversion fails in a
    * column the query actually reads (column pruning; short lines
    * null-pad rather than fail), so a guard must read the columns it
    * guards. This row's junk is malformed in the aggregated columns
    * themselves; whole-row quarantine (select `_corrupt_record` with the
    * full schema, which forces a full-line parse) is the PERMISSIVE
    * spec's side of the contract.
    */
  private def scanCsvMalformed(s: SparkSession, d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val src = li(s, d)
    val path = scratch("lineitem_malformed_csv")
    ctx.writeCsv(src, path, header = false, delimiter = "|")
    val junk = new java.io.File(path, "part-junk.csv")
    val w = new java.io.PrintWriter(junk, "UTF-8")
    try MalformedLines.foreach(w.println)
    finally w.close()
    ctx.readCsv(path, CsvOptions(schema = Some(src.schema), hasHeader = false,
                                 delimiter = "|", mode = Some("DROPMALFORMED")))
      .groupBy(col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
           dsum(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))
  }

  /** The junk injected by [[scanCsvMalformed]] — every line fails
    * conversion in a column the row's aggregate READS (quantity/price),
    * because projection-scoped malformedness ignores junk elsewhere.
    */
  val MalformedLines: Seq[String] = Seq(
    "1|2|3|4|bad_qty|6.0|0.0|0.0|N|O|2024-01-01 00:00:00",
    "1|2|3|4|5.0|bad_price|0.0|0.0|N|O|2024-01-01 00:00:00",
    "x|y|z|nope|qq|2.0|0.0|0.0|A|B|not-a-timestamp",
    "9|9|9|9|1e1x|1,0|0|0|N|F|2024-13-45 99:99:99")

  /** Malformed-line-tolerant NDJSON ingest — the JSON twin of
    * [[scanCsvMalformed]], completing the dirty-arrival story for the
    * other dominant interchange format: a correct NDJSON dump of the
    * documents manifest plus an injected junk file (truncated objects,
    * non-JSON lines, type-mismatched fields). `DROPMALFORMED` must admit
    * every well-formed record and ONLY those — the per-language rollup
    * is oracle-gated against the ORIGINAL table, and the junk rows carry
    * language codes absent from the fixture, so one coerced junk record
    * surfaces as a new group and fails the compare, not just a count
    * drift. The PERMISSIVE quarantine side (`_corrupt_record` counted
    * exactly) is spec-asserted. Same scale contract as the CSV row:
    * tolerance is per-LINE inside splits, no second scan.
    */
  private def scanJsonMalformed(s: SparkSession, d: String): DataFrame = {
    val src = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val path = scratch("documents_malformed_json")
    src.write.mode("overwrite").json(path)
    val junk = new java.io.File(path, "part-junk.json")
    val w = new java.io.PrintWriter(junk, "UTF-8")
    try MalformedJsonLines.foreach(w.println)
    finally w.close()
    s.read.schema(src.schema).option("mode", "DROPMALFORMED").json(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"))
  }

  /** The junk injected by [[scanJsonMalformed]] — a truncated object, a
    * non-JSON line, and two records whose doc_id/n_chars fail LongType
    * conversion; their `xx`/`zz` language codes are absent from the
    * fixture, so any admission creates a fresh group in the gated rollup.
    */
  val MalformedJsonLines: Seq[String] = Seq(
    """{"doc_id": 900001, "lang": "xx", "source": "junk", "n_chars"""",
    "this is not json at all",
    """{"doc_id": "not_a_number", "lang": "zz", "source": "junk", "n_chars": 5}""",
    """{"doc_id": 900002, "lang": "zz", "source": "junk", "n_chars": "many"}""")

  /** Parquet sink with codec selection → scan round-trip
    * (reference: rust/benchmarks/tpch/src/main.rs:233-253). Exercises the
    * 5 codecs whose implementations ship with Spark (none/snappy/gzip/lz4/
    * zstd); brotli and lzo need native codec jars absent from this
    * environment, so they stay API-only ([[Compression]]).
    */
  private def parquetSinkCodecs(s: SparkSession, d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val src = ord(s, d)
    val codecs = Seq(Compression.None_, Compression.Snappy, Compression.Gzip,
                     Compression.Lz4, Compression.Zstd)
    for (c <- codecs)
      ctx.writeParquet(src.filter(col("o_orderstatus") === "F"),
                       scratch(s"orders_${Compression.option(c)}"), c)
    Seq("snappy", "gzip", "lz4", "zstd")
      .map(c => ctx.readParquet(scratch(s"orders_$c")))
      .reduce(_ unionByName _)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** SQL DDL external-table registration — the reference's
    * CREATE EXTERNAL TABLE plan node (reference: ballista.proto:236-248;
    * serde rust/core/src/serde/logical_plan/from_proto.rs:188-204).
    * Spark's equivalent DDL for a path-backed source is
    * `CREATE TEMPORARY VIEW … USING <format> OPTIONS (path …)`; the view is
    * then queried through the ordinary SQL path.
    */
  private def ddlExternalTable(s: SparkSession, d: String): DataFrame = {
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ddl_orders
              USING parquet OPTIONS (path '$d/orders.parquet')""")
    s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                      AS sum_price
             FROM ddl_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** NDJSON sink → scan round-trip — NdJson is declared in the reference's
    * FileType enum (reference: ballista.proto:236-248) but never wired to a
    * scan there; Spark reads it natively (json source = NDJSON by default).
    */
  private def scanNdjson(s: SparkSession, d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val path = scratch("documents_ndjson")
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .write.mode("overwrite").json(path)
    ctx.readJson(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
           sum(col("n_chars")).cast(LongType).as("sum_chars"),
           countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Header-CSV round-trip with schema inference: the header path must
    * produce typed columns (long/double), not all-string — the sum below
    * fails loudly if inference regresses.
    */
  private def csvHeaderRoundtrip(s: SparkSession, d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val path = scratch("orders_csv_hdr")
    ctx.writeCsv(ord(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice")), path, header = true)
    ctx.readCsv(path) // no explicit schema: header + inferSchema
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           dsum(col("o_totalprice")).as("sum_price"),
           max(col("o_orderkey")).cast(LongType).as("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** 1-row empty-relation (`SELECT 1`) —
    * reference: ballista.proto:232-234, serde from_proto.rs:183-187.
    */
  private def emptyRelation(s: SparkSession, @annotation.unused d: String): DataFrame =
    s.range(1).select(lit(1).as("one"))

  /** Client-provided in-memory table
    * (reference: rust/core/src/memory_stream.rs:1-93).
    */
  private def memTable(s: SparkSession, @annotation.unused d: String): DataFrame = {
    val ctx = new SessionContext(s)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = true)))
    ctx.registerMemTable("mem_t", Seq(
      org.apache.spark.sql.Row(1, "a"),
      org.apache.spark.sql.Row(2, "b"),
      org.apache.spark.sql.Row(3, null)), schema)
    ctx.table("mem_t").orderBy(col("id"))
  }

  /** EXPLAIN as a checked query — the reference's Explain plan node
    * (reference: ballista.proto:250-253, plan printer
    * rust/core/src/utils.rs:96-165). The oracle can't reproduce Spark's
    * plan text, so the row checks the *canonical operator vocabulary* the
    * rendered plan must contain for a scan→filter→aggregate query; literal
    * plan strings are asserted in PlanSpec.
    */
  private def explainSql(s: SparkSession, d: String): DataFrame = {
    Tables.load(s, d, "lineitem").createOrReplaceTempView("lineitem")
    val plan = s.sql(
      """EXPLAIN SELECT l_returnflag, sum(l_quantity) FROM lineitem
         WHERE l_quantity >= 45 GROUP BY l_returnflag""").head().getString(0)
    val vocab = Seq("AdaptiveSparkPlan", "Exchange", "FileScan",
      "Filter", "HashAggregate")
    import s.implicits._
    vocab.filter(plan.contains).toDF("op").orderBy(col("op"))
  }

  /** The SQL subquery surface — correlated scalar subquery, correlated
    * EXISTS, and uncorrelated IN, through the same `spark.sql` entry point
    * a reference user would hit (the reference's DataFusion SQL layer has
    * no subquery support at all — SURVEY.md §2.8). Catalyst rewrites all
    * three into joins (RewriteCorrelatedScalarSubquery → left-outer
    * aggregate join, EXISTS/IN → left-semi), so the executed plan carries
    * no per-row subquery execution — the property that makes the form
    * survive 100 TB, asserted in PlanSpec territory by the smoke specs'
    * plan dump. The oracle runs the IDENTICAL SQL in DuckDB.
    */
  private val SubquerySql = """
      SELECT c_custkey, c_name,
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 1000)
        AND c_custkey IN (SELECT o_custkey FROM orders)
      ORDER BY c_custkey"""

  private def sqlSubqueries(s: SparkSession, d: String): DataFrame = {
    Tables.registerTpch(s, d)
    s.sql(SubquerySql)
  }

  // ---------------------------------------------------------------------
  // time-series joins (beyond-reference): as-of — the brief's canonical
  // "operator Spark lacks", built by composition (preference (a) of the
  // custom-operator ladder) rather than a theta-join
  // ---------------------------------------------------------------------

  /** Aggregates the reference explicitly lacks (SURVEY.md §2.8 names
    * median/percentile/stddev/variance as absent): exact interpolated
    * percentiles, and stddev/variance computed from DECIMAL power sums
    * (s1 = Σx as DECIMAL(18,2), s2 = Σx² as DECIMAL(30,4)) so Spark's
    * parallel aggregation and DuckDB's sequential one evaluate the SAME
    * double formula on bit-identical inputs — the Tpch money convention
    * extended to second moments. No cancellation hazard: the subtracted
    * terms differ by n·var, far above double epsilon at fixture scales.
    */
  private def aggStats(s: SparkSession, d: String): DataFrame = {
    val s1d = col("s1").cast(DoubleType)
    val s2d = col("s2").cast(DoubleType)
    val varE = (s2d - s1d * s1d / col("n")) / (col("n") - 1)
    Tables.load(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s1"),
        sum((col("o_totalprice") * col("o_totalprice")).cast(DecimalType(30, 4)))
          .as("s2"))
      .select(col("o_orderstatus"), col("median_price"), col("p90_price"),
        col("n"), round(varE, 2).as("var_price"),
        round(sqrt(varE), 4).as("stddev_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Bivariate statistics (correlation + population covariance) from EXACT
    * decimal co-moment sums, assembled into doubles with an expression
    * shape mirrored verbatim in the oracle — the same engine-parity
    * convention as [[aggStats]]. Built-in `corr()` on either engine
    * accumulates incrementally in doubles (partition-order dependent), so
    * the decimal-sum formulation is both deterministic across
    * partitionings AND cross-engine exact. One shuffle, map-side partials.
    */
  private def aggCorr(s: SparkSession, d: String): DataFrame = {
    val n = col("n").cast(DoubleType)
    val sx = col("sx").cast(DoubleType)
    val sy = col("sy").cast(DoubleType)
    val sxx = col("sxx").cast(DoubleType)
    val syy = col("syy").cast(DoubleType)
    val sxy = col("sxy").cast(DoubleType)
    Tables.load(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("sx"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("sy"),
        sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(30, 4)))
          .as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice"))
          .cast(DecimalType(30, 4))).as("syy"),
        sum((col("l_quantity") * col("l_extendedprice"))
          .cast(DecimalType(30, 4))).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round((sxy - sx * sy / n) / n, 4).as("covar_pop"),
        round((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group simple OLS (y = a + b·x of extendedprice on quantity) —
    * the `regr_slope`/`regr_intercept`/`regr_r2` analytics family, via
    * the same engine-parity convention as [[aggCorr]]: all five
    * co-moments as EXACT decimal sums in one two-phase aggregate, the
    * closed forms evaluated once in double with identical expression
    * trees on both engines, rounded at fixed precision. One shuffle of
    * k×6 partial rows at any corpus size — regression over 100 TB costs
    * exactly one aggregation pass, never an iterative solver, because
    * the normal equations for 1-D OLS ARE re-aggregable moments.
    */
  private def aggRegression(s: SparkSession, d: String): DataFrame = {
    val n = col("n").cast(DoubleType)
    val sx = col("sx").cast(DoubleType)
    val sy = col("sy").cast(DoubleType)
    val sxx = col("sxx").cast(DoubleType)
    val syy = col("syy").cast(DoubleType)
    val sxy = col("sxy").cast(DoubleType)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r = (n * sxy - sx * sy) /
      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    Tables.load(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("sx"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("sy"),
        sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(30, 4)))
          .as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice"))
          .cast(DecimalType(30, 4))).as("syy"),
        sum((col("l_quantity") * col("l_extendedprice"))
          .cast(DecimalType(30, 4))).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round(slope, 6).as("slope"),
        round((sy - slope * sx) / n, 4).as("intercept"),
        round(r * r, 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group skewness and excess kurtosis from exact decimal raw
    * moments — completing the moments family ([[aggCorr]] covariance/
    * correlation, [[aggRegression]] OLS): Σx..Σx⁴ as exact DECIMAL sums
    * in one two-phase aggregate, then the population closed forms
    * evaluated once in double. m2^1.5 is spelled `m2·√m2` — sqrt is
    * IEEE-correctly-rounded where `pow(x, 1.5)` is libm-dependent, so
    * the expression tree is engine-exact like the rest of the family.
    * k×5 partial rows cross the exchange at any corpus size.
    */
  private def aggSkewKurt(s: SparkSession, d: String): DataFrame = {
    val n = col("n").cast(DoubleType)
    val s1 = col("s1").cast(DoubleType)
    val s2 = col("s2").cast(DoubleType)
    val s3 = col("s3").cast(DoubleType)
    val s4 = col("s4").cast(DoubleType)
    val m = s1 / n
    val m2 = s2 / n - m * m
    val m3 = s3 / n - lit(3.0) * m * (s2 / n) + lit(2.0) * m * m * m
    val m4 = s4 / n - lit(4.0) * m * (s3 / n) +
      lit(6.0) * m * m * (s2 / n) - lit(3.0) * m * m * m * m
    val x = col("l_quantity")
    Tables.load(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 2))).as("s1"),
        sum((x * x).cast(DecimalType(30, 4))).as("s2"),
        sum((x * x * x).cast(DecimalType(30, 6))).as("s3"),
        sum((x * x * x * x).cast(DecimalType(38, 8))).as("s4"))
      .select(col("l_returnflag"), col("n"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact WEIGHTED median per group (the 50th weighted percentile —
    * inventory-weighted price being the classic), computed by HISTOGRAM
    * SELECTION rather than a per-group window sort: the median is the
    * smallest value whose exact-decimal cumulative weight reaches half
    * the group total (`2·cum ≥ tot` — no float accumulation anywhere),
    * and that crossing value is FOUND with three linear passes:
    * (0) per-group [lo, hi] bounds (k-row broadcast), (1) a
    * per-(group, bucket) weight histogram over 1024 equal-width buckets
    * — a two-phase aggregate whose exchange is ≤ k×1024 rows at ANY
    * corpus size — from which the driver locates each group's median
    * BUCKET plus the exact weight below it (k×1024 decimal rows of
    * driver metadata, the same bounded class as the k-means centroid
    * fetch), then (2) a cumulative window over ONLY that bucket's rows
    * (corpus/1024 per group in expectation), offset by the
    * below-bucket weight. The answer is identical to the full-sort
    * formulation — bucketing only restricts where the crossing can live
    * (cum(end of b*−1)·2 < tot ≤ cum(end of b*)·2 brackets it) — but
    * the 10× canary that motivated the rewrite dropped 18.4 s → ~1 s:
    * the old one-window form funneled each group's millions of rows
    * through a single task's sort, the textbook few-groups window trap.
    * A run of equal values straddling the crossing yields the same
    * answer under any tie order, so the in-bucket window orders by
    * value alone. The sort-free approximate scale path remains
    * `agg_approx_quantile` / `agg_histogram_eqdepth`.
    */
  private def aggWeightedMedian(s: SparkSession, d: String): DataFrame = {
    val nBuckets = 1024
    val wdec = col("l_quantity").cast(DecimalType(18, 2))
    val li = Tables.load(s, d, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
        wdec.as("w"))
    val bounds = li.groupBy(col("g"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val bucketed = li.join(broadcast(bounds), Seq("g"))
      .withColumn("bkt", when(col("hi") === col("lo"), lit(0))
        .otherwise(least(
          floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / nBuckets)).cast("int"),
          lit(nBuckets - 1))))
    val hist = bucketed.groupBy(col("g"), col("bkt"))
      .agg(sum(col("w")).as("bw"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDecimal(2)))
    // driver: per group, the median bucket and the exact weight below it
    val sel = hist.groupBy(_._1).map { case (g, rows) =>
      val byBkt = rows.sortBy(_._2)
      val tot = byBkt.map(x => BigDecimal(x._3)).sum
      var below = BigDecimal(0)
      var bstar = byBkt.last._2
      var found = false
      for ((_, b, bw) <- byBkt if !found) {
        val next = below + BigDecimal(bw)
        if (next * 2 >= tot) { bstar = b; found = true }
        else below = next
      }
      (g, bstar, below.bigDecimal, tot.bigDecimal)
    }.toSeq
    val selDf = s.createDataFrame(
      s.sparkContext.parallelize(sel.map(t => org.apache.spark.sql.Row(
        t._1, t._2, new java.math.BigDecimal(t._3.toPlainString),
        new java.math.BigDecimal(t._4.toPlainString))), 1),
      StructType(Seq(
        StructField("g", StringType), StructField("bstar", IntegerType),
        StructField("below", DecimalType(38, 2)),
        StructField("tot", DecimalType(38, 2)))))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(selDf), Seq("g"))
      .filter(col("bkt") === col("bstar"))
      .withColumn("cum", sum(col("w")).over(wOrd) + col("below"))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("g"))
      .agg(min(col("v")).as("weighted_median"),
        max(col("tot")).cast(DoubleType).as("total_weight"))
      .select(col("g").as("l_returnflag"), col("weighted_median"),
        col("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** Explicit GROUPING SETS (reference has no grouping-set nodes at all,
    * SURVEY.md §2.6/§2.8; rollup/cube are covered by agg_rollup/agg_cube).
    */
  private def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.load(s, d, "orders").createOrReplaceTempView("orders")
    s.sql(s"""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS INT) AS g_status,
             CAST(grouping(o_orderpriority) AS INT) AS g_priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority), ())
      ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""")
  }

  /** As-of join: for each left event (clicks), the most recent right event
    * (purchases) of the same user with ts ≤ left.ts. MERGE-style
    * composition: tag both sides, union, one per-key time-ordered window
    * with a running last(..., ignoreNulls) — ONE shuffle on the key and a
    * sort, independent of time-gap width. The naive formulation
    * (`l ⋈ r ON key AND r.ts <= l.ts` + max) explodes quadratically per
    * key and cannot survive 100 TB; this one is linear in rows per key.
    * Right rows order before left rows at equal ts (`side` tiebreak), so
    * an equal-timestamp right event matches, same as the oracle's
    * `l.ts >= r.ts`.
    */
  private def joinAsof(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("l_event"),
        lit(null).cast(LongType).as("r_event"),
        lit(null).cast(DoubleType).as("r_value"), lit(1).as("side"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast(LongType).as("l_event"),
        col("event_id").as("r_event"), col("value").as("r_value"),
        lit(0).as("side"))
    // r_event in the sort keeps the pick deterministic if a user ever has
    // two right events at the same timestamp (ASOF engines pick
    // arbitrarily there; we at least pick reproducibly)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("r_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE running-last over a (event, value) struct — two independent
    // last(ignoreNulls) windows could pair asof_value from a later
    // purchase than asof_event if a purchase ever carried a NULL value;
    // the struct is null-gated on the row key so the pair always comes
    // from the same right row
    l.unionByName(r)
      .withColumn("asof", last(
        when(col("r_event").isNotNull,
          struct(col("r_event").as("e"), col("r_value").as("v"))),
        ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("l_event").as("event_id"), col("user_id"),
        col("asof.e").as("asof_event"), col("asof.v").as("asof_value"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of join (pandas `merge_asof(direction="forward")` — the
    * "next fill at-or-after the order" quadrant completing the direction
    * family: backward [[joinAsof]], nearest [[joinAsofNearest]], bounded
    * [[joinAsofTolerance]]): each click matched to the FIRST purchase of
    * the same user at or after the click. Same one-shuffle tagged-union
    * shape as [[joinAsof]]; the side key now sorts the click BEFORE
    * same-timestamp purchases so exact matches are admitted (pandas
    * `allow_exact_matches=True`), and a running-FIRST over
    * [current, +∞) replaces the running-last. Linear per user, never a
    * clicks×purchases join.
    */
  private def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("l_event"),
        lit(null).cast(LongType).as("r_event"),
        lit(null).cast(DoubleType).as("r_value"), lit(0).as("side"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast(LongType).as("l_event"),
        col("event_id").as("r_event"), col("value").as("r_value"),
        lit(1).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("r_event"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // same single-struct pairing as [[joinAsof]]: both fields of the
    // match must come from one right row even if r_value is ever NULL
    l.unionByName(r)
      .withColumn("asof", first(
        when(col("r_event").isNotNull,
          struct(col("r_event").as("e"), col("r_value").as("v"))),
        ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .select(col("l_event").as("event_id"), col("user_id"),
        col("asof.e").as("asof_event"), col("asof.v").as("asof_value"))
      .orderBy(col("event_id"))
  }

  /** Nearest-direction as-of join (pandas `merge_asof(direction=
    * "nearest")` / kdb `aj` nearest variant): each click matched to the
    * CLOSEST purchase of the same user in either time direction, ties
    * broken backward (the earlier purchase). Same one-shuffle shape as
    * [[joinAsof]] — tagged union, one per-user sort — with TWO frames
    * off that single sort: running-last over (-∞, current] finds the
    * at-or-before candidate (same-timestamp purchases sort before the
    * click via the side key, so ties land here deterministically),
    * running-first over [current, +∞) the strictly-after one; a scalar
    * CASE picks the smaller gap. Never a per-row subquery or a
    * clicks×purchases product; linear per user at any scale.
    */
  private def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("l_event"),
        lit(null).cast(LongType).as("r_event"), lit(1).as("side"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast(LongType).as("l_event"),
        col("event_id").as("r_event"), lit(0).as("side"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("r_event"))
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = unix_micros(col("ts"))
    val rUs = when(col("r_event").isNotNull, us)
    val base = l.unionByName(r)
      .withColumn("prev_us", last(rUs, ignoreNulls = true).over(wPrev))
      .withColumn("prev_event", last(col("r_event"), ignoreNulls = true).over(wPrev))
      .withColumn("next_us", first(rUs, ignoreNulls = true).over(wNext))
      .withColumn("next_event", first(col("r_event"), ignoreNulls = true).over(wNext))
      .filter(col("side") === 1)
    val backward = col("next_event").isNull ||
      (col("prev_event").isNotNull && us - col("prev_us") <= col("next_us") - us)
    val none = col("prev_event").isNull && col("next_event").isNull
    base.select(col("l_event").as("event_id"), col("user_id"),
      when(none, lit(null).cast(LongType))
        .when(backward, col("prev_event")).otherwise(col("next_event"))
        .as("nearest_event"),
      when(none, lit(null).cast(StringType))
        .when(backward, lit("backward")).otherwise(lit("forward"))
        .as("direction"),
      when(none, lit(null).cast(LongType))
        .when(backward, us - col("prev_us")).otherwise(col("next_us") - us)
        .as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Bounded-staleness as-of join (pandas `merge_asof(tolerance=...)` /
    * kdb `wj` window bound): backward as-of like [[joinAsof]], but a
    * match only counts when the candidate is at most 15 minutes stale —
    * the real-time-features contract ("join the latest price, unless
    * it's too old to trust"). For the backward direction the nearest
    * candidate is within tolerance iff ANY candidate is, so the
    * tolerance is a scalar post-filter on the same one-shuffle
    * tagged-union running-last frame — no second window, no join. The
    * emitted `gap_us` hash-gates the staleness computation itself, not
    * just the pick. Completes the as-of family: backward
    * ([[joinAsof]]), nearest ([[joinAsofNearest]]), bounded (this).
    */
  private def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val tolUs = 15L * 60 * 1000000
    val ev = graft.streaming.Streaming.events(s, d)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("l_event"),
        lit(null).cast(LongType).as("r_event"), lit(1).as("side"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast(LongType).as("l_event"),
        col("event_id").as("r_event"), lit(0).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("r_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    val rUs = when(col("r_event").isNotNull, us)
    val inTol = col("gap") <= tolUs
    l.unionByName(r)
      .withColumn("cand_event", last(col("r_event"), ignoreNulls = true).over(w))
      .withColumn("cand_us", last(rUs, ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .withColumn("gap", us - col("cand_us"))
      .select(col("l_event").as("event_id"), col("user_id"),
        when(inTol, col("cand_event")).as("asof_event"),
        when(inTol, col("gap")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Range (interval-containment) join: clicks matched to every purchase
    * window [p_ts, p_ts + 30 min] of the same user. The naive predicate
    * `c.ts BETWEEN p.ts AND p.ts + W` is a non-equi join — Spark would plan
    * a per-key nested loop. Scalable formulation: quantize time into
    * buckets of the window width, explode each interval into the ≤2
    * buckets it covers, equi-join on (user, bucket), then apply the exact
    * containment filter — bounded ×2 replication instead of a quadratic
    * theta-join, and PlanSpec asserts no nested-loop/cartesian appears.
    */
  private def joinRange(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val bucketUs = 30L * 60 * 1000000 // bucket width == window width
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"),
        floor(unix_micros(col("ts")) / bucketUs).as("bk"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_event"))
      .withColumn("p_end", col("p_ts") + expr("INTERVAL 30 MINUTES"))
      .withColumn("bk", explode(sequence(
        floor(unix_micros(col("p_ts")) / bucketUs),
        floor(unix_micros(col("p_end")) / bucketUs))))
    clicks.join(windows, Seq("user_id", "bk"))
      .filter(col("ts") >= col("p_ts") && col("ts") <= col("p_end"))
      .select(col("click_event"), col("purchase_event"), col("user_id"))
      .orderBy(col("click_event"), col("purchase_event"))
  }

  /** Salted skew join: the manual remedy for the hot-key case AQE's
    * post-shuffle split cannot reach — skew known before any runtime
    * stats exist (first materialization of a source, a streaming
    * micro-batch), or a single key too hot for map-block splitting. The
    * fact side gets a uniform salt in [0, S); the small side is exploded
    * S-fold so every (key, salt) pair still finds its row; joining on
    * (key, salt) spreads one hot key over S reducers at the cost of an
    * S× replication of the small side only. The result is provably
    * identical to the unsalted join — the oracle runs the plain join.
    */
  private def joinSalted(s: SparkSession, d: String): DataFrame = {
    val saltCount = 8
    val fact = ord(s, d).withColumn("salt",
      pmod(xxhash64(col("o_orderkey")), lit(saltCount.toLong)))
    val dim = cust(s, d).withColumn("salt",
      explode(array((0 until saltCount).map(i => lit(i.toLong)): _*)))
    fact.join(dim,
        fact("o_custkey") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** The UNPLANNED-skew join — [[joinSalted]]'s runtime complement. The
    * salt is the remedy when the hot key is known before execution; this
    * row is the production-common other case: the join is declared
    * PLAIN, and AQE's OptimizeSkewedJoin splits the hot post-shuffle
    * partition from runtime map statistics (the ~87%-hot synthetic key
    * collapses most of the event stream onto one reducer). The
    * SHUFFLE_MERGE hint keeps the tiny derived dim on the sort-merge
    * path it would take at real scale, where the dim is a full
    * dimension table past the broadcast bound; AQE honors the hint and
    * won't demote to broadcast. At fixture scale the hot partition sits
    * under the 256 MB default split threshold, so the SPEC proves the
    * mechanism: it lowers the factor/threshold confs (save/restore),
    * executes, asserts `skew=true` in the final adaptive plan AND
    * result invariance vs the default-conf run. At 100 TB the default
    * threshold fires by itself — zero code change, which is the point
    * of declaring skew handling instead of scheduling it. The
    * downstream rollup keys on an event-derived bucket (never the join
    * key), so splitting the join's output partitioning costs AQE no
    * extra exchange and the optimization is never vetoed.
    */
  private[graft] def skewJoinFrame(s: SparkSession, d: String): DataFrame = {
    // The explicit 32-way spread on the unique key models the thousands
    // of input splits a
    // 100 TB fact table arrives in: AQE splits a skewed reducer
    // partition at MAP-BLOCK granularity, and the fixture's events
    // parquet is one row group = one map task, which would leave the
    // hot partition a single atomic block no conf can divide. A
    // production fact table is pre-split and never pays this exchange.
    val ev = Tables.load(s, d, "events")
      .select(
        when(pmod(col("user_id"), lit(15L)) < 13, lit(0L))
          .otherwise(col("user_id")).as("skew_k"),
        col("event_id"), col("user_id"), col("value"))
      .repartition(32, col("event_id"))
    // coalesce(1) erases the aggregate's partitioning so the join
    // re-shuffles the dim under ENSURE_REQUIREMENTS — the shape a dim
    // table READ FROM STORAGE arrives in (no useful partitioning); a
    // dim pipelined out of its own aggregate would sit directly under
    // the join and put OptimizeSkewedJoin's pattern out of reach, a
    // fixture artifact no production dim exhibits
    val dim = ev.groupBy(col("skew_k"))
      .agg(count(lit(1)).as("k_n"))
      .coalesce(1)
    ev.join(dim.hint("SHUFFLE_MERGE"), Seq("skew_k"))
  }

  private def joinSkewAqe(s: SparkSession, d: String): DataFrame =
    skewJoinFrame(s, d)
      .groupBy(pmod(col("event_id"), lit(97L)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("user_id")).as("sum_uid"),
        sum(col("k_n")).as("sum_kn"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"))
      .orderBy(col("bucket"))

  // ---------------------------------------------------------------------
  // storage-layout tier (beyond-reference): bucketed co-located join,
  // partitioned sink + pruned read-back — the two layout techniques that
  // convert recurring 100 TB query cost into one-time write cost
  // ---------------------------------------------------------------------

  private val BucketSpec = Seq("orders" -> "o_custkey", "customer" -> "c_custkey")
  private val NBuckets = 8

  /** Bucketed layout for orders⋈customer: both sides pre-hashed on the
    * join key into the same bucket count at write time, so the join needs
    * NO shuffle of either side. Files are built once under [[graft.Scratch]];
    * bucket specs live in the catalog (not the files), so every session
    * re-attaches the layout with a metadata-only external CREATE TABLE.
    */
  /** Registers the bucketed tables and returns the dataset-scoped catalog
    * namespace suffix: every table name embeds the same fingerprint as the
    * file layout, so two SessionContexts over DIFFERENT data dirs coexist
    * in one shared metastore instead of racing each other's
    * DROP-IF-EXISTS (global names were a cross-session hazard).
    */
  private def ensureBucketedTables(s: SparkSession, d: String): String = {
    // key embeds the bucket count and a source fingerprint: a changed
    // NBuckets or regenerated input must rebuild, not reuse files whose
    // physical bucketing no longer matches the declared spec
    val fp = graft.Scratch.fingerprint(BucketSpec.map(t => Tables.path(d, t._1)): _*)
    val dir = graft.Scratch.ensure(s,
      s"bucketed_v1_${NBuckets}_${graft.Scratch.sanitize(d)}_$fp") { dir =>
      BucketSpec.foreach { case (t, key) =>
        s.sql(s"DROP TABLE IF EXISTS graft_build_${t}_$fp")
        Tables.load(s, d, t)
          .write.bucketBy(NBuckets, key).sortBy(key)
          .option("path", s"$dir/$t")
          .mode("overwrite")
          .saveAsTable(s"graft_build_${t}_$fp")
        s.sql(s"DROP TABLE IF EXISTS graft_build_${t}_$fp") // external: files survive
      }
    }
    BucketSpec.foreach { case (t, key) =>
      val schemaDdl = s.read.parquet(s"$dir/$t").schema.toDDL
      s.sql(s"""CREATE TABLE IF NOT EXISTS ${t}_bkt_$fp ($schemaDdl) USING parquet
                CLUSTERED BY ($key) SORTED BY ($key) INTO $NBuckets BUCKETS
                LOCATION '$dir/$t'""")
    }
    fp
  }

  /** Co-located join on the bucketed layout (PlanSpec asserts no
    * hashpartitioning Exchange on the join keys and a bucketed scan).
    */
  private def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val fp = ensureBucketedTables(s, d)
    s.table(s"orders_bkt_$fp")
      .join(s.table(s"customer_bkt_$fp"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Build-once lineitem copy with a parquet BLOOM FILTER on l_partkey —
    * public so the spec can open the same files and assert the bloom
    * exists in every row-group footer (the filter is an IO-level skip,
    * invisible in the plan).
    */
  def ensureBloomTable(s: SparkSession, d: String): String =
    graft.Scratch.ensure(s,
      s"bloom_lineitem_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "lineitem"))) { dir =>
      li(s, d).select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
        .repartition(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        // parquet-mr SKIPS the bloom when every page of the column is
        // dictionary-encoded (the dictionary already filters exactly);
        // the small fixture's key set fits a dictionary where a real
        // 100 TB high-NDV key never would, so pin plain encoding to get
        // the production file shape
        .option("parquet.enable.dictionary#l_partkey", "false")
        .parquet(s"$dir/lineitem_bloom")
    } + "/lineitem_bloom"

  /** Parquet BLOOM-FILTER point-lookup path — the IO-level source feature
    * beyond min/max zone maps (which a high-NDV key in UNSORTED row
    * groups defeats: every row group's [min,max] spans the probe key, so
    * nothing prunes): the writer embeds a split-block bloom filter per
    * row group ([[ensureBloomTable]]), and a selective IN probe lets the
    * reader skip row groups whose bloom rejects every key — at 100 TB
    * this is the difference between reading 4 row groups and reading
    * them all for a needle query. Fidelity IS the gate (same contract as
    * the ORC/codec rows): the probe aggregate must hash-match DuckDB on
    * the ORIGINAL table, so a bloom that drops a true row (impossible by
    * construction — blooms have no false negatives — but a broken
    * writer/reader path does not) breaks the sums; the filter's
    * EXISTENCE in every row-group footer is spec-asserted.
    */
  private def scanParquetBloom(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureBloomTable(s, d))
      .filter(col("l_partkey").isin(0L, 1L, 2L, 3L))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_okey"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_partkey"))

  /** ORC source/sink round-trip — a columnar format the reference never
    * supported (its external tables are CSV/Parquet/NdJson only,
    * reference: rust/core/proto/ballista.proto:236-248). Fidelity IS the
    * oracle: the read-back aggregate must hash-match DuckDB's answer on
    * the ORIGINAL parquet table, so any type or value loss in the ORC
    * write/read path (timestamps included) fails the gate.
    */
  private def sinkOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"orc_orders_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "orders"))) {
      dir =>
        Tables.load(s, d, "orders")
          .write.option("compression", "zstd").mode("overwrite")
          .orc(s"$dir/orders_orc")
    }
    s.read.orc(s"$dir/orders_orc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"),
        max(col("o_orderdate")).as("max_date"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Hive-style partitioned sink + pruned read-back: data laid out by the
    * slice column at write time; the read scans only the selected
    * partition directory (PartitionFilters, asserted in PlanSpec) — the
    * layout for a 100 TB table whose queries are status/date-sliced.
    */
  private def sinkPartitioned(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"part_orders_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "orders"))) { dir =>
      Tables.load(s, d, "orders")
        .write.partitionBy("o_orderstatus").mode("overwrite")
        .parquet(s"$dir/orders_by_status")
    }
    s.read.parquet(s"$dir/orders_by_status")
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** TEXT source/sink round-trip — the line-oriented format raw corpus
    * drops arrive in. Line files carry no ids and no order, so the gate
    * compares order-free content aggregates recomputed by the oracle from
    * the original table (fixture texts contain no newlines, so one doc =
    * one line exactly).
    */
  private def sinkTextRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"text_docs_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "documents"))) { dir =>
      Tables.load(s, d, "documents").select(col("text"))
        .write.mode("overwrite").text(s"$dir/docs_txt")
    }
    s.read.text(s"$dir/docs_txt")
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("value"))).cast("long").as("sum_chars"),
        countDistinct(col("value")).as("n_distinct"),
        min(md5(col("value"))).as("min_md5"))
  }

  /** JSON (newline-delimited) SINK round-trip — the write side of the
    * [[scan_ndjson]] source: typed columns survive the JSON encode/decode
    * with schema-on-read.
    */
  /** XML write→read round-trip — Spark 4's NATIVE xml datasource (the
    * spark-xml connector folded into the engine), closing the format
    * matrix at csv/json/parquet/orc/text/xml. Same aggregate contract as
    * the other round-trips: the oracle sees only the original table, so a
    * green row proves the sink+scan preserved every value. `rowTag` is
    * the xml source's one mandatory option; schema is re-inferred on read
    * (the harder direction — typed values must survive the string form).
    */
  private def sinkXmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"xml_docs_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "documents"))) { dir =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").option("rowTag", "doc")
        .format("xml").save(s"$dir/docs_xml")
    }
    s.read.option("rowTag", "doc").format("xml").load(s"$dir/docs_xml")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  }

  private def sinkJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"json_docs_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "documents"))) { dir =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(s"$dir/docs_json")
    }
    s.read.json(s"$dir/docs_json")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  }

  /** File-lineage reads: `input_file_name()` ties every row back to its
    * source file — the primitive behind quarantine ("which file produced
    * the bad rows?") and incremental-audit tooling at 100 TB. The row
    * re-reads the partitioned-sink scratch table (shared, build-once) and
    * proves the per-file row attribution by re-deriving each file's
    * partition value FROM ITS PATH and aggregating — the counts must
    * equal the table's own group-by, which is what the oracle computes.
    */
  private def scanFileLineage(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"part_orders_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "orders"))) { dir =>
      Tables.load(s, d, "orders")
        .write.partitionBy("o_orderstatus").mode("overwrite")
        .parquet(s"$dir/orders_by_status")
    }
    s.read.parquet(s"$dir/orders_by_status")
      .select(regexp_extract(input_file_name(),
        "o_orderstatus=([^/]+)/", 1).as("status_from_path"))
      .groupBy(col("status_from_path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_from_path"))
  }

  /** Additive schema evolution, value-gated (promotes the r6 spec-only
    * resilience claim to an oracle row): a table written in two EPOCHS —
    * the second adds a column — is read back with `mergeSchema`, and the
    * pre-evolution files must surface the new column as NULL, with every
    * row of BOTH epochs intact. The aggregate groups on the evolved
    * column (NULLs folded to 'none'), so either failure mode — a read
    * error on the old files or a mis-aligned column — breaks the counts
    * or the decimal sums against the oracle, which replays the epoch
    * split from the raw table. This is the 100 TB reality that schema
    * changes roll through a petabyte of immutable history file-by-file;
    * scan-time reconciliation (not rewrite) is the only affordable path.
    * Epoch table is build-once under a fingerprinted scratch key; the
    * read is one pass, aggregate two-phase.
    */
  private def scanSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"schema_evo_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "orders"))) { dir =>
      val o = Tables.load(s, d, "orders")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/t")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          substring(col("o_orderpriority"), 1, 1).as("o_prio_flag"))
        .write.mode("append").parquet(s"$dir/t")
    }
    s.read.option("mergeSchema", "true").parquet(s"$dir/t")
      .groupBy(coalesce(col("o_prio_flag"), lit("none")).as("prio_flag"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("prio_flag"))
  }

  /** Logical-plan wire-format round-trip, DataFrame-built — the analog of
    * the reference's protobuf serde layer and its `roundtrip_test!` units
    * (rust/core/src/serde/logical_plan/mod.rs:56-920): the query below is
    * analyzed, serialized to the JSON wire form of
    * [[graft.plans.PlanSerde]], parsed back, recompiled through the
    * public DataFrame API, and it is the DESERIALIZED plan whose result
    * the DuckDB oracle grades — so a semantic drift anywhere in
    * extract/serialize/parse/compile fails the hash gate, exactly what
    * the reference's serde tests assert with `plan == from_proto(
    * to_proto(plan))`. Covers scan, equi-join, filter, grouped aggregate
    * (incl. DISTINCT), sort, and limit nodes plus literal/binary/cast/
    * alias expressions — the reference's LogicalPlanNode one-of surface
    * (ballista.proto:180-283).
    */
  private def planSerdeRoundtrip(s: SparkSession, d: String): DataFrame = {
    val l = li(s, d)
    val o = ord(s, d)
    val orig = l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .filter(col("o_orderstatus") === "F" && col("l_quantity") < 30.0)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))
      .limit(5)
    graft.plans.PlanSerde.roundTrip(s, d, orig)
  }

  /** Same wire round-trip entered from SQL — the reference's client path
    * (SQL text → logical plan → proto → scheduler,
    * rust/client/src/context.rs:154-166): parse with Catalyst, analyze
    * against a registered view, then trip the ANALYZED plan through the
    * wire format. Exercises timestamp literals (epoch-micros on the
    * wire), BETWEEN desugaring, and a global aggregate alongside the
    * grouped one in [[planSerdeRoundtrip]].
    */
  private def planSerdeSql(s: SparkSession, d: String): DataFrame = {
    li(s, d).createOrReplaceTempView("lineitem_serde")
    val orig = s.sql("""
      SELECT l_returnflag,
             CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             COUNT(*) AS n
      FROM lineitem_serde
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24
      GROUP BY l_returnflag ORDER BY l_returnflag""")
    graft.plans.PlanSerde.roundTrip(s, d, orig)
  }

  /** Per-FILE column statistics — the reference DECLARES this surface
    * (PartitionStats/ColumnStats: num_rows, min/max/null_count/
    * distinct_count per column, ballista.proto:473-485) and never
    * populates it (`ColumnStats` is written by no reference code path);
    * here it is computed for real: a partition-clustered write (one file
    * per status by `repartition(partition col)` — at 100 TB this is the
    * standard clustered-layout write, and stats collection stays a
    * single map-side pass grouped by `input_file_name()`), then per-file
    * num_rows/min/max/null_count/distinct_count. One file per partition
    * value makes per-file stats equal per-status stats, which is what
    * lets DuckDB oracle-check values the reference never produces.
    */
  private def profilePartitionStats(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"pstats_orders_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "orders"))) { dir =>
      Tables.load(s, d, "orders")
        .repartition(col("o_orderstatus"))
        .write.partitionBy("o_orderstatus").mode("overwrite")
        .parquet(s"$dir/orders_clustered")
    }
    s.read.parquet(s"$dir/orders_clustered")
      .groupBy(input_file_name().as("file"),
        col("o_orderstatus").cast(StringType).as("o_orderstatus"))
      .agg(
        count(lit(1)).as("num_rows"),
        round(min(col("o_totalprice")), 4).as("min_price"),
        round(max(col("o_totalprice")), 4).as("max_price"),
        (count(lit(1)) - count(col("o_orderpriority"))).as("null_count"),
        countDistinct(col("o_custkey")).as("distinct_cust"))
      .drop("file")
      .orderBy(col("o_orderstatus"))
  }

  /** Bit-interleave two 16-bit ranks into a Morton (Z-order) value —
    * pure built-in bitwise ops, so the whole layout expression stays
    * inside whole-stage codegen.
    */
  private def interleave16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Min-max scale a numeric column onto the 16-bit rank grid. */
  private def scale16(c: Column, mn: Double, mx: Double): Column =
    least(lit(65535L), greatest(lit(0L),
      ((c.cast(DoubleType) - mn) / math.max(mx - mn, 1e-12) * 65535.0)
        .cast(LongType)))

  /** Z-order clustered copy of events on (user_id, value): range-partition
    * + sort by the Morton value so every output file covers a tight box in
    * BOTH dimensions — parquet min/max stats then prune most row groups
    * for any conjunctive 2-D range query (the multi-dim data-skipping
    * layout Delta/Iceberg ship as OPTIMIZE ZORDER; a 1-D sort can only
    * serve one of the two dimensions). The min/max scan for scaling is a
    * 4-scalar driver materialization — metadata-sized, same class as the
    * IVF centroids. Built once under [[graft.Scratch]]; the skipping
    * effect itself (scan output rows ≪ unclustered layout) is asserted in
    * OperatorsSpec.
    */
  private[graft] def zorderedEventsDir(s: SparkSession, d: String): String =
    graft.Scratch.ensure(s,
      s"zorder_events_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(s"$d/events.parquet")) { tmp =>
      val ev = graft.streaming.Streaming.events(s, d)
      val r = ev.agg(min(col("user_id")), max(col("user_id")),
                     min(col("value")), max(col("value"))).head()
      val z = interleave16(
        scale16(col("user_id"), r.getLong(0).toDouble, r.getLong(1).toDouble),
        scale16(col("value"), r.getDouble(2), r.getDouble(3)))
      ev.withColumn("zval", z)
        .repartitionByRange(32, col("zval"))
        .sortWithinPartitions(col("zval"))
        .drop("zval")
        .write.mode("overwrite").parquet(s"$tmp/events_z.parquet")
    } + "/events_z.parquet"

  /** 2-D box query over the z-ordered layout; the oracle runs the same
    * predicate on the raw table, proving the clustered copy is lossless.
    */
  private def layoutZorder(s: SparkSession, d: String): DataFrame =
    s.read.parquet(zorderedEventsDir(s, d))
      .filter(col("user_id").between(2, 5) && col("value").between(50, 120))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))

  /** Dynamic partition overwrite: the incremental-reload primitive — a
    * daily job rewrites ONLY the partitions it produced, leaving the rest
    * of a 100 TB table untouched (static overwrite mode truncates the
    * whole table first). Sequence: full load, then an incremental write
    * of just the doubled 'O' slice under
    * partitionOverwriteMode=dynamic. The oracle recomputes the expected
    * final state from the source, so an over-eager truncate (the classic
    * static-mode footgun) fails the row — the F/P partitions would
    * simply be gone.
    */
  private def sinkPartitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val dir = s"${graft.Scratch.root(s)}/pow_orders_${graft.Scratch.sanitize(d)}"
    val o = ord(s, d)
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
    o.filter(col("o_orderstatus") === "O")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  // ---------------------------------------------------------------------
  // §2.2 projection / filter
  // ---------------------------------------------------------------------

  /** Named-expression projection (reference: ballista.proto:204-207,
    * client `select`/`select_columns` rust/client/src/context.rs:241-255).
    */
  private def projection(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .select(col("o_orderkey"),
              (col("o_totalprice") * 2).cast(DecimalType(18, 2)).cast(DoubleType)
                .as("double_price"),
              upper(col("o_orderstatus")).as("status_uc"))
      .orderBy(col("o_orderkey"))
      .limit(50)

  /** Predicate surface: BETWEEN, IN, LIKE, IS NULL / IS NOT NULL, NOT, AND/OR
    * (reference expression nodes: ballista.proto:14-45; SURVEY §2.7).
    */
  private def filterPredicates(s: SparkSession, d: String): DataFrame = {
    val withNulls = li(s, d)
      .withColumn("tax_or_null", when(col("l_tax") === 0.0, lit(null))
        .otherwise(col("l_tax")))
    withNulls
      .filter(col("l_quantity").between(10, 20)
        && col("l_returnflag").isin("A", "R")
        && col("l_linestatus").like("%F%")
        && !(col("l_discount") < 0.02))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           count(when(col("tax_or_null").isNull, 1)).as("null_tax"),
           count(when(col("tax_or_null").isNotNull, 1)).as("nonnull_tax"))
      .orderBy(col("l_returnflag"))
  }

  // ---------------------------------------------------------------------
  // §2.3 joins — INNER/LEFT/RIGHT are the reference surface
  // (ballista.proto:266-278); FULL/SEMI/ANTI/CROSS exceed it (SURVEY §2.8).
  // ---------------------------------------------------------------------

  private def joinInner(s: SparkSession, d: String): DataFrame = {
    val c = cust(s, d); val o = ord(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  private def joinLeft(s: SparkSession, d: String): DataFrame = {
    val c = cust(s, d)
    val recent = ord(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast(TimestampType))
    c.join(recent, c("c_custkey") === recent("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
           count(when(col("o_orderkey").isNull, 1)).as("n_no_order"))
      .orderBy(col("c_mktsegment"))
  }

  private def joinRight(s: SparkSession, d: String): DataFrame = {
    val recent = ord(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast(TimestampType))
    recent.join(cust(s, d), recent("o_custkey") === col("c_custkey"), "right")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
           count(when(col("o_orderkey").isNull, 1)).as("n_no_order"))
      .orderBy(col("c_mktsegment"))
  }

  private def joinFull(s: SparkSession, d: String): DataFrame = {
    // customers with nationkey<5 vs orders of customers with nationkey>2:
    // both sides have unmatched rows.
    val c = cust(s, d).filter(col("c_nationkey") < 5)
    val o = ord(s, d).join(cust(s, d).filter(col("c_nationkey") > 2)
        .select(col("c_custkey").as("ck")), col("o_custkey") === col("ck"))
      .drop("ck")
    c.join(o, c("c_custkey") === o("o_custkey"), "full")
      .select(count(lit(1)).as("n_rows"),
              count(when(col("c_custkey").isNull, 1)).as("n_left_null"),
              count(when(col("o_orderkey").isNull, 1)).as("n_right_null"))
  }

  private def joinSemi(s: SparkSession, d: String): DataFrame = {
    val big = li(s, d).filter(col("l_quantity") >= 49)
      .select(col("l_orderkey").as("k"))
    ord(s, d).join(big, col("o_orderkey") === col("k"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).orderBy(col("o_orderstatus"))
  }

  private def joinAnti(s: SparkSession, d: String): DataFrame = {
    val big = li(s, d).filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("k"))
    ord(s, d).join(big, col("o_orderkey") === col("k"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).orderBy(col("o_orderstatus"))
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    * each other instead of vanishing — the semantics dimension-join
    * pipelines need when "unknown" is itself a dimension member.
    * Customers are keyed by segment-or-NULL (negative balance → NULL);
    * the derived dimension contains the same NULL member, so the
    * null-safe join routes unknown customers to the UNKNOWN bucket while
    * a plain `===` would silently drop them (the classic fact-table
    * leak). Still a hash equi-join — `<=>` stays a join KEY, never a
    * residual filter, so the shuffle/broadcast machinery is unchanged.
    */
  private def joinNullSafe(s: SparkSession, d: String): DataFrame = {
    val segOrNull =
      when(col("c_acctbal") >= 0, col("c_mktsegment"))
    val c = cust(s, d).select(col("c_custkey"), segOrNull.as("seg"))
    val dim = cust(s, d).select(segOrNull.as("dseg")).distinct()
      .select(col("dseg"), coalesce(col("dseg"), lit("UNKNOWN")).as("bucket"))
    c.join(dim, col("seg") <=> col("dseg"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
    * multiplicities (min / truncated-difference per value), a different
    * operator pair from the DISTINCT set rows: Spark plans them as
    * count-compare generate-replicate aggregates, never a row-pairing
    * join, so they stay one shuffle on the value at any scale.
    */
  private def setBagOps(s: SparkSession, d: String): DataFrame = {
    val a = li(s, d).filter(col("l_quantity") <= 25).select(col("l_partkey"))
    val b = li(s, d).filter(col("l_quantity") >= 20).select(col("l_partkey"))
    val inter = a.intersectAll(b).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("n"))
    val exc = a.exceptAll(b).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("n"))
    inter.unionAll(exc).orderBy(col("op"))
  }

  private def joinCross(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "region")
      .crossJoin(Tables.load(s, d, "nation"))
      .select(count(lit(1)).as("n_pairs"),
              countDistinct(col("r_regionkey")).as("n_regions"),
              countDistinct(col("n_nationkey")).as("n_nations"))

  // ---------------------------------------------------------------------
  // §2.4 aggregation — MIN/MAX/SUM/AVG/COUNT two-phase hash agg
  // (ballista.proto:121-132, 260-264); COUNT DISTINCT exceeds the
  // reference (its wire format drops the distinct flag — SURVEY §2.4).
  // ---------------------------------------------------------------------

  private def aggBasic(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_returnflag"))
      .agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        dsum(col("l_quantity")).as("sum_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private def aggCountDistinct(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_linestatus"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))

  /** HAVING = Filter over Aggregate (reference models it exactly so —
    * SURVEY §2.4 "HAVING as a node" absent).
    */
  private def aggHaving(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_partkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .filter(col("sum_qty") > 200)
      .orderBy(col("sum_qty").desc, col("l_partkey"))
      .limit(100)

  /** ROLLUP grouping sets — beyond the reference (SURVEY §2.8). */
  private def aggRollup(s: SparkSession, d: String): DataFrame =
    li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  private def aggCube(s: SparkSession, d: String): DataFrame =
    ord(s, d).cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  /** Sketch-tier driver gate, HLL distinct counts. An approximate
    * aggregate can never hash-match a second engine (every implementation
    * estimates differently), but its CONTRACT can: for a fixed input the
    * sketch is deterministic and its error is bounded by configuration. So
    * the row emits the exact values (which the oracle recomputes) plus an
    * in-Spark band check on the estimate, and the oracle asserts the
    * boolean literally TRUE — a wrong sketch breaks the gate, a correct
    * one can never flake (≈0.8% RSE against a 5% band is a ≥5σ margin,
    * and deterministic besides). At 100 TB the sketch is the point: fixed
    * ~kilobytes of state per group versus a shuffle of every distinct
    * value for the exact form.
    *
    * The sketch side is DataSketches HLL (`hll_sketch_agg`, lgK=14 →
    * RSE ≈ 0.8%) rather than the older `approx_count_distinct(rsd)`: at
    * rsd 0.01 the declarative HLL++ flattens 2^14 registers into a
    * ~2,700-word-wide fixed aggregation buffer whose per-row update
    * rewrites the whole unsafe row (measured 3.8 s at sf0.1 — the
    * slowest query in the suite), while the DataSketches buffer is ONE
    * binary column (sparse until promoted). The sketches are also
    * mergeable across shards/days, which is the 100 TB reason the sketch
    * tier exists at all.
    */
  private def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_linestatus"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
           hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(14)))
             .as("ap"))
      .select(col("l_linestatus"), col("exact_parts"),
        (abs(col("ap") - col("exact_parts")) <=
          col("exact_parts") * lit(0.05)).as("within_5pct"))
      .orderBy(col("l_linestatus"))

  /** Sketch MERGE — the reason sketches beat exact distinct at 100 TB:
    * each shard (here: order status) builds its own fixed-size HLL sketch
    * independently, and the global answer is a union of sketches — no
    * re-scan, no shuffle of distinct values, kilobytes moved per shard.
    * This is how a fleet of daily ingestion jobs maintains corpus-wide
    * distinct counts: store one sketch per day/shard, union on demand.
    * Gate contract as in [[aggApproxDistinct]]: the oracle recomputes the
    * exact global count and asserts the in-Spark band boolean literally
    * TRUE — the union'd estimate must land within 5% of a count computed
    * over DIFFERENT grouping boundaries than any single sketch saw.
    */
  private def aggSketchMerge(s: SparkSession, d: String): DataFrame = {
    val perShard = li(s, d).groupBy(col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"))
    perShard
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        count(lit(1)).as("n_shards"))
      .crossJoin(broadcast(
        li(s, d).agg(countDistinct(col("l_partkey")).as("exact_parts"))))
      .select(col("n_shards"), col("exact_parts"),
        (abs(col("est") - col("exact_parts")) <=
          col("exact_parts") * lit(0.05)).as("within_5pct"))
  }

  /** Sketch-tier driver gate, Count-Min frequency sketch (Cormode &
    * Muthukrishnan 2005) — the heavy-hitter/point-frequency member of
    * the sketch family beside HLL (distinct) and percentile (rank):
    * `count_min_sketch(l_suppkey, eps, conf, seed)` builds one
    * fixed-size mergeable sketch over the fact table; ten point
    * frequencies are probed from the deserialized sketch (bounded
    * driver metadata — width×depth counters ≈ 80 KB, the centroid/
    * codebook class) and gated against CMS's two-sided contract: the
    * estimate NEVER undercounts, and overshoot is ≤ ε·N (here a ≥5σ-
    * style margin: collisions need ~600× the expected mass to breach
    * it, and the fixed seed makes the booleans deterministic — same
    * never-flake argument as [[aggApproxDistinct]]). At 100 TB the
    * sketch replaces a full groupBy on the probe column with kilobytes
    * of mergeable state per shard.
    */
  private def aggCountMinSketch(s: SparkSession, d: String): DataFrame = {
    val eps = 0.001
    val skRow = li(s, d).agg(
      expr(s"count_min_sketch(l_suppkey, ${eps}d, 0.99d, 42)").as("sk"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]]("sk")))
    val band = (eps * skRow.getAs[Long]("n")).toLong
    val est: Column = (0L to 9L).foldLeft(lit(-1L)) { (acc, k) =>
      when(col("l_suppkey") === k, lit(cms.estimateCount(k))).otherwise(acc)
    }
    li(s, d).filter(col("l_suppkey") <= 9)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("exact_cnt"))
      .select(col("l_suppkey"), col("exact_cnt"),
        (est >= col("exact_cnt")).as("never_under"),
        (est <= col("exact_cnt") + lit(band)).as("within_eps_band"))
      .orderBy(col("l_suppkey"))
  }

  /** Sketch-tier driver gate, KLL-style quantiles: approx_percentile with
    * accuracy A guarantees rank error ≤ n/A, so the estimate must lie
    * between the exact percentiles at p ± 1/A — checked in-Spark, TRUE in
    * the oracle (same never-flake argument as [[aggApproxDistinct]]).
    * Quantile columns use l_quantity (small integers) at quarter
    * percentiles (.25/.5/.75): index, fraction, and interpolated value are
    * all exactly representable doubles, so Spark's `percentile` and
    * DuckDB's `quantile_cont` agree bit-for-bit regardless of their
    * interpolation formulae (a p like .95 would leave an inexact fraction
    * where the two engines' algebraically-equal formulas round apart).
    */
  private def aggApproxQuantile(s: SparkSession, d: String): DataFrame = {
    val acc = 10000
    def bounded(p: Double) =
      (expr(s"approx_percentile(l_quantity, $p, $acc)")
        .between(expr(s"percentile(l_quantity, ${p - 1.0 / acc})"),
                 expr(s"percentile(l_quantity, ${p + 1.0 / acc})")))
    li(s, d).groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("exact_p25"),
        expr("percentile(l_quantity, 0.5)").as("exact_p50"),
        expr("percentile(l_quantity, 0.75)").as("exact_p75"),
        (bounded(0.25) && bounded(0.5) && bounded(0.75)).as("rank_bounded"))
      .orderBy(col("l_returnflag"))
  }

  /** ANALYZE-style table profiling: per-column null count, exact distinct
    * count, and min/max rendered through engine-exact string casts — the
    * data-quality snapshot every ingestion run records before anything
    * else trusts the table. Shape: one independent branch PER COLUMN,
    * unioned — not one agg with six `countDistinct`s, which Catalyst
    * rewrites into a 7-projection Expand that multiplies every input row
    * by the number of distinct aggregates before shuffling (measured 3×
    * slower here, and ×columns the shuffle at scale). Each branch scans
    * only its own column (parquet column pruning makes the six scans read
    * each byte once in total), runs a single-distinct aggregate (partial
    * distinct per map split, no Expand), and the branches execute as
    * independent stages. Render rules keep the hash comparable: ints,
    * strings, and UTC timestamps cast identically in both engines, and
    * doubles go through DECIMAL(18,2) first (raw double→string formatting
    * is engine-specific). The exact `countDistinct` per column is the
    * oracle-able form; at 100 TB the same report swaps it for the
    * mergeable HLL sketch of [[aggApproxDistinct]] and becomes map-only.
    */
  private def profileTable(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    def p(c: String, render: Column => Column = identity) = o
      .select(col(c))
      .agg(
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        render(min(col(c))).cast("string").as("min_s"),
        render(max(col(c))).cast("string").as("max_s"))
      .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
        col("min_s"), col("max_s"))
    val dec = (c: Column) => c.cast("decimal(18,2)")
    Seq(p("o_orderkey"), p("o_custkey"), p("o_orderstatus"),
        p("o_orderpriority"), p("o_orderdate"), p("o_totalprice", dec))
      .reduce(_ unionAll _)
      .orderBy(col("col_name"))
  }

  // ---------------------------------------------------------------------
  // §2.5 sort / limit / repartition / merge
  // ---------------------------------------------------------------------

  /** Multi-key sort with per-key direction + nulls ordering
    * (reference: ballista.proto:157-161, sort serde from_proto.rs:140-151).
    */
  private def sortMultiKey(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .withColumn("bal_or_null",
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      .orderBy(col("c_mktsegment").asc,
               col("bal_or_null").desc_nulls_first,
               col("c_custkey").asc)
      .select(col("c_mktsegment"), col("bal_or_null"), col("c_custkey"))
      .limit(100)

  /** LocalLimit/GlobalLimit pair (reference: ballista.proto:391-399). */
  private def limitQ(s: SparkSession, d: String): DataFrame =
    ord(s, d).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice")).limit(25)

  /** Hash repartition (reference: ballista.proto:219-230 RoundRobin/Hash).
    * The result is partitioning-invariant; the point is that the plan
    * carries a hash Exchange on the requested keys (plan-shape test).
    */
  private def repartitionHash(s: SparkSession, d: String): DataFrame =
    li(s, d).repartition(16, col("l_suppkey"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_suppkey")).limit(50)

  private def repartitionRoundRobin(s: SparkSession, d: String): DataFrame =
    li(s, d).repartition(16)
      .select(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))

  /** MergeExec N→1 (reference: ballista.proto:411-413) = coalesce(1). */
  private def mergeCoalesce(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(col("l_returnflag") === "R").coalesce(1)
      .select(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))

  // ---------------------------------------------------------------------
  // §2.7 expression & scalar-function surface
  // ---------------------------------------------------------------------

  /** Math functions on the 50 distinct p_size values (small integer domain
    * keeps cross-engine libm agreement testable; results rounded to 9
    * decimals to absorb last-ulp divergence).
    */
  private def exprMath(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "part").select(col("p_size")).distinct()
      .select(
        col("p_size"),
        round(sqrt(col("p_size")), 9).as("f_sqrt"),
        round(sin(col("p_size")), 9).as("f_sin"),
        round(cos(col("p_size")), 9).as("f_cos"),
        round(tan(col("p_size")), 9).as("f_tan"),
        round(atan(col("p_size")), 9).as("f_atan"),
        round(asin(lit(1.0) / col("p_size")), 9).as("f_asin"),
        round(acos(lit(1.0) / col("p_size")), 9).as("f_acos"),
        round(exp(col("p_size") / lit(10.0)), 9).as("f_exp"),
        round(log2(col("p_size")), 9).as("f_log2"),
        round(log10(col("p_size")), 9).as("f_log10"),
        round(log(col("p_size")), 9).as("f_ln"),
        floor(col("p_size") * 1.5).as("f_floor"),
        ceil(col("p_size") * 1.5).as("f_ceil"),
        abs(col("p_size") - 25).as("f_abs"),
        signum(col("p_size") - 25).cast(IntegerType).as("f_sign"),
        // trunc toward zero (reference wires `trunc`: from_proto.rs:888-927;
        // Spark has no numeric trunc builtin, so compose sign·floor·abs —
        // (25-p)*1.5 spans ±37.5 to exercise toward-zero vs floor)
        (signum((lit(25) - col("p_size")) * 1.5) *
          floor(abs((lit(25) - col("p_size")) * 1.5))).cast(LongType)
          .as("f_trunc"))
      .orderBy(col("p_size"))

  /** String functions (reference wired set: lower/upper/trim/ltrim/rtrim/
    * octet_length — from_proto.rs:888-927; concat dead-on-wire, Spark-native).
    */
  private def exprString(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .select(
        col("c_custkey"),
        lower(col("c_name")).as("f_lower"),
        upper(col("c_name")).as("f_upper"),
        trim(concat(lit("  "), col("c_name"), lit("  "))).as("f_trim"),
        ltrim(concat(lit("  "), col("c_name"))).as("f_ltrim"),
        rtrim(concat(col("c_name"), lit("  "))).as("f_rtrim"),
        octet_length(col("c_name")).as("f_octet_len"),
        length(col("c_name")).as("f_len"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("f_concat"),
        substring(col("c_name"), 1, 8).as("f_substr"))
      .orderBy(col("c_custkey")).limit(100)

  /** Hash functions with a DuckDB oracle (md5 / sha256). */
  private def exprHash(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .select(col("c_custkey"),
              md5(col("c_name").cast(BinaryType)).as("f_md5"),
              sha2(col("c_name").cast(BinaryType), 256).as("f_sha256"))
      .orderBy(col("c_custkey")).limit(100)

  /** Extended hash surface, oracle-able slice: digest composition over
    * DERIVED binary inputs — concatenations and a digest-of-digest chain —
    * exercising the hash functions as expression-tree interior nodes, not
    * just column leaves. The sha224/384/512 widths themselves (reference
    * wires sha224-512: from_proto.rs:905-912) are DuckDB-inexpressible
    * (DuckDB 1.0 ships only md5/sha256) and are gated instead by the FIPS
    * 180-2 known-answer vectors in ExtensionsSpec — so every driver row
    * in this slice carries a real oracle.
    */
  private def exprHashExt(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .select(col("c_custkey"),
              sha2(concat(col("c_name"), lit("#"), col("c_mktsegment"))
                .cast(BinaryType), 256).as("f_sha256_cat"),
              md5(concat(col("c_name"), col("c_custkey").cast(StringType))
                .cast(BinaryType)).as("f_md5_cat"),
              sha2(md5(col("c_name")).cast(BinaryType), 256)
                .as("f_sha256_chain"))
      .orderBy(col("c_custkey")).limit(100)

  /** CASE (both forms), CAST, BETWEEN, IN list, unary negative
    * (reference expression nodes: ballista.proto:14-45).
    */
  private def exprCaseCast(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .select(
        col("o_orderkey"),
        // CASE WHEN <predicate> form
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("size_class"),
        // CASE <expr> WHEN <value> form
        when(col("o_orderstatus") === "F", 1)
          .when(col("o_orderstatus") === "O", 2).otherwise(0).as("status_code"),
        col("o_orderkey").cast(StringType).as("key_str"),
        // DECIMAL/BOOLEAN outputs are re-cast to DOUBLE/INT for the hash
        // compare (decimal & boolean canonicalization differs across engines
        // — see Tpch scaladoc); the CASTs under test still execute.
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType)
          .as("price_dec"),
        col("o_custkey").cast(DoubleType).as("cust_dbl"),
        (-col("o_totalprice")).cast(DecimalType(18, 2)).cast(DoubleType)
          .as("neg_price"),
        col("o_totalprice").between(100000, 200000).cast(IntegerType)
          .as("in_band"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast(IntegerType)
          .as("is_hot"))
      .orderBy(col("o_orderkey")).limit(200)

  /** Array aggregation — the inverse of the explode generator: per-group
    * ordered value lists (sort_array fixes collect_list's
    * partition-order nondeterminism, making the result oracle-exact).
    * The array is serialized to a comma-joined string for the driver
    * compare (the pandas-side hash can't sort array cells); the array
    * itself still materializes through collect_list/sort_array, and the
    * nested-type sink round-trip stays covered in OperatorsSpec.
    */
  private def aggArray(s: SparkSession, d: String): DataFrame =
    ord(s, d).filter(col("o_orderkey") <= 100)
      .groupBy(col("o_orderstatus"))
      .agg(sort_array(collect_list(col("o_orderkey"))).as("keys_arr"),
           count(lit(1)).as("n"))
      .select(col("o_orderstatus"),
        array_join(transform(col("keys_arr"), _.cast(StringType)), ",")
          .as("keys"),
        col("n"))
      .orderBy(col("o_orderstatus"))

  /** Nested struct construction + field extraction — the §1.2 nested-type
    * surface (the reference serializes nested Arrow types but its
    * operators never produce them). The driver row flattens the struct
    * back to scalar fields (the pandas-side hash can't sort struct
    * cells); the struct-through-the-parquet-sink round-trip stays covered
    * in OperatorsSpec.
    */
  private def exprStruct(s: SparkSession, d: String): DataFrame =
    ord(s, d).filter(col("o_orderkey") <= 50)
      .select(col("o_orderkey"),
        struct(
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType)
            .as("price")).as("o"))
      .select(col("o_orderkey"),
        col("o").getField("status").as("o_status"),
        col("o").getField("price").as("o_price"))
      .orderBy(col("o_orderkey"))

  /** Error-safe (TRY) expression surface: under ANSI semantics a single
    * malformed row — a bad cast, a zero denominator — aborts the whole
    * job, which at 100 TB means hours lost to one dirty record. The
    * try_* family degrades those rows to NULL instead; counting non-nulls
    * shows exactly which rows survived, and the oracle reproduces the
    * same semantics with guarded CASE arithmetic.
    *
    * Cost model (measured, sf0.1): a FAILING string→int try_cast pays a
    * per-row exception fill — an all-dirty column benched 5.7 s where the
    * all-clean one took 0.37 s. TRY is priced for rare dirty rows, so the
    * dirty term here mirrors reality: ~4% unparseable (l_quantity < 3
    * selects the letter column), the rest numeric. Bulk-non-numeric
    * columns should be filtered or regex-screened, not try_cast en masse.
    */
  private def exprTry(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .agg(
        count(lit(1)).as("n"),
        count(expr("""try_cast(CASE WHEN l_quantity < 3 THEN l_returnflag
                                ELSE cast(l_orderkey AS STRING) END
                      AS BIGINT)""")).as("n_cast_ok"),
        count(try_divide(col("l_extendedprice"),
                         col("l_quantity") - col("l_quantity"))).as("n_div0_ok"),
        count(try_divide(col("l_extendedprice"), col("l_quantity")))
          .as("n_div_ok"),
        count(expr("try_cast(cast(l_orderkey AS STRING) AS BIGINT)"))
          .as("n_roundtrip_ok"))

  /** Date/time surface: extract fields, date_trunc, string→timestamp cast
    * (reference declares date_trunc/to_timestamp but they are dead on the
    * wire — from_proto.rs:919-922; Spark-native here).
    */
  private def exprDatetime(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy(
        year(col("o_orderdate")).cast(IntegerType).as("y"),
        quarter(col("o_orderdate")).cast(IntegerType).as("q"))
      .agg(count(lit(1)).as("n"),
           min(date_trunc("month", col("o_orderdate"))).as("first_month"),
           max(col("o_orderdate")).as("max_date"))
      .orderBy(col("y"), col("q"))

  /** Date/interval ARITHMETIC surface beside [[exprDatetime]]'s field
    * extraction: day/month offsets with end-of-month clamping
    * (`add_months`: Jan 31 + 1 → Feb 28/29 — the clamp both engines
    * implement per the SQL convention), day differences, month-end
    * snapping, `make_date` reconstruction, and ISO week numbers — the
    * due-date/billing-cycle arithmetic every warehouse rollup leans on.
    * All derived values are pure calendar arithmetic on DATE (no
    * timezone, no DST — the fixture dates are zoneless), so every value
    * is engine-exact; the rollup groups by derived month-end so the
    * clamping behavior itself forms the group keys. Map-only projection
    * into a two-phase aggregate.
    */
  private def exprInterval(s: SparkSession, d: String): DataFrame = {
    val od = col("o_orderdate").cast(DateType)
    def iso(c: Column) = date_format(c, "yyyy-MM-dd")
    ord(s, d)
      .select(
        iso(last_day(od)).as("month_end"),
        add_months(od, 2).as("due2m"),
        date_add(od, 45).as("due45d"),
        datediff(last_day(od), od).as("days_to_eom"),
        make_date(year(od), month(od), lit(1)).as("month_start"),
        weekofyear(od).cast(IntegerType).as("iso_week"))
      .groupBy(col("month_end"))
      .agg(count(lit(1)).as("n"),
        iso(min(col("due2m"))).as("min_due2m"),
        iso(max(col("due45d"))).as("max_due45d"),
        sum(col("days_to_eom")).cast(LongType).as("sum_days_to_eom"),
        iso(min(col("month_start"))).as("month_start"),
        sum(col("iso_week")).cast(LongType).as("sum_iso_week"))
      .orderBy(col("month_end"))
  }

  /** Custom typed UDAF ([[graft.functions.TopKDoubles]]): top-10 order
    * values per status through a k-bounded Aggregator — partial buffers of
    * ≤k values per map partition, no per-group sort/shuffle of all rows.
    * The reference cannot ship UDAFs at all (SURVEY.md §2.7: AggregateUDF
    * is unimplemented at its wire boundary).
    */
  private def aggTopk(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKDoubles(10))
    ord(s, d).groupBy(col("o_orderstatus"))
      .agg(topk(col("o_totalprice")).as("tk"))
      // get() (0-based, null on out-of-bounds) rather than element_at:
      // under ANSI mode element_at throws on a group with <k rows, while
      // the oracle's row_number form yields NULL
      .select(col("o_orderstatus"),
        get(col("tk"), lit(0)).as("top1"),
        get(col("tk"), lit(9)).as("top10th"),
        round(aggregate(col("tk"), lit(0.0d), (acc, x) => acc + x), 2)
          .as("sum_top10"))
      .orderBy(col("o_orderstatus"))
  }

  /** Deterministic modal value (most frequent event type per user — the
    * mode-imputation primitive). Built as count-then-`min_by` over the
    * struct `(−count, value)`, whose lexicographic order makes the
    * winner "highest count, ties to smallest value" — fully
    * deterministic where a bare `mode()` is tie-unspecified, and a
    * TWO-PHASE AGGREGATE both levels (no window, no per-group sort), the
    * same skew-immune shape as `dedup_keep_latest`: a hot user costs one
    * partial-merge chain, not a single-task sort.
    */
  private def aggMode(s: SparkSession, d: String): DataFrame = {
    val counts = graft.streaming.Streaming.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("user_id"))
      .agg(min_by(col("event_type"),
        struct((-col("cnt")).as("neg"), col("event_type"))).as("modal"),
        max(col("cnt")).as("modal_n"))
      .orderBy(col("user_id"))
  }

  /** Top-k ROWS per group via the rank-filter window idiom — kept
    * deliberately in the `row_number() ≤ k` form because Spark 4 plans
    * it through `WindowGroupLimit`: a partial per-partition group limit
    * runs BELOW the shuffle, so each map task forwards at most k rows
    * per group instead of the group's full contents — the engine's own
    * heap-pushdown answer to top-k-per-group (the aggregated-summary
    * variant is [[aggTopk]]'s bounded-heap UDAF). Plan-asserted in
    * `PlanSpec`; the (price, orderkey, linenumber) ordering is total, so
    * the rows are deterministic.
    */
  private def windowTopkRows(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"), col("l_linestatus"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    li(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("rnk"))
  }

  /** PIVOT: long→wide conditional aggregation (no analog anywhere in the
    * reference). The oracle expresses the identical semantics as CASE
    * aggregation, which also documents exactly what pivot computes.
    */
  private def aggPivot(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("o_orderpriority"))

  /** Generator/UDTF surface (SURVEY.md §2.7: the reference has no UDTFs;
    * Spark's `explode` over an array column is the built-in generator):
    * word-exploded documents → top terms. The lateral explosion is the
    * same row-multiplying shape every tokenizer pipeline uses at 100 TB —
    * map-side, no shuffle until the count aggregate.
    */
  private def exprExplode(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) >= 4)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(25)

  /** Fixed-bin histogram via integer bucketing — deterministic (integer
    * bin arithmetic on 2-decimal money values), unlike engine-specific
    * histogram/sampling sketches which cannot oracle-match.
    */
  private def aggHistogram(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .select((floor(col("o_totalprice") / 50000).cast(IntegerType)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))

  /** Equi-depth (quartile-bucket) histogram — the profiling companion of
    * the fixed-bin [[aggHistogram]]: bucket boundaries are data quantiles,
    * so each bucket holds ~n/4 rows regardless of the value distribution.
    * Deliberately NOT an `ntile` window (a global rank funnels 100 TB
    * through one sorted partition): boundaries come from ONE percentile
    * aggregate, broadcast back, and binning is a map-only comparison +
    * two-phase count — at scale the exact percentile swaps for
    * `approx_percentile` and nothing else changes. Cross-engine hash
    * safety: boundaries are DISCRETE percentiles (`percentile_disc` /
    * `quantile_disc`), i.e. actual data values by construction — an
    * interpolated (`percentile_cont`) boundary landing exactly ON a data
    * value in one engine and a ulp away in the other would flip that
    * row's `<=` bucket and silently diverge n/min_v/max_v.
    */
  private def aggHistogramEqDepth(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    val b = o.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("q1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("q2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("q3"))
    o.crossJoin(broadcast(b))
      .select(
        when(col("o_totalprice") <= col("q1"), 0)
          .when(col("o_totalprice") <= col("q2"), 1)
          .when(col("o_totalprice") <= col("q3"), 2)
          .otherwise(3).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_v"),
        max(col("o_totalprice")).as("max_v"))
      .orderBy(col("bucket"))
  }

  /** Array-function surface (construct / distinct / intersect / contains /
    * sort) over the tokenized document text — beyond the reference, which
    * has no array type on the wire at all. Outputs stay hash-comparable:
    * set RESULTS are emitted as sizes, membership booleans, and an
    * ascending-sorted join (Spark's binary UTF8 compare and DuckDB's
    * default binary collation order ASCII identically); raw
    * engine-specific array ordering never leaves the query.
    */
  private def exprArrayFuncs(s: SparkSession, d: String): DataFrame = {
    val ws = split(lower(col("text")), " ")
    val stop = array(Seq("the", "a", "of", "key", "table").map(lit): _*)
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(ws).as("n_words"),
        size(array_distinct(ws)).as("n_distinct"),
        size(array_intersect(array_distinct(ws), stop)).as("n_stop_kinds"),
        array_contains(ws, "table").as("has_table"),
        concat_ws(",", slice(array_sort(array_distinct(ws)), 1, 5))
          .as("first5_sorted"))
      .orderBy(col("doc_id"))
  }

  /** Recursive CTE (Spark 4.1's WITH RECURSIVE) — the gap-filled
    * time-series pattern: generate the complete month spine from the data
    * span, then left-join per-month order counts so empty months surface
    * as explicit zeros instead of silently missing rows. Recursion depth
    * is the month span (~80 levels — well inside Spark's recursion
    * limit). The span BOUNDS are resolved once and inlined as literals:
    * Spark executes each recursion level as its own sub-plan, so a
    * correlated `(SELECT MAX(...))` in the step predicate re-scans the
    * table EVERY level (80 scans — measured 13 s at sf0.1, the slowest
    * query in the suite; 1.4 s inlined). Two timestamps through the
    * driver is bounds metadata, the same class as IVF centroids — not a
    * data collect.
    */
  private def sqlRecursiveCte(s: SparkSession, d: String): DataFrame = {
    val b = ord(s, d).agg(
      date_trunc("MONTH", min(col("o_orderdate"))).cast("string"),
      date_trunc("MONTH", max(col("o_orderdate"))).cast("string")).collect()(0)
    val (lo, hi) = (b.getString(0), b.getString(1))
    ord(s, d).createOrReplaceTempView("graft_rec_orders")
    s.sql(s"""
      WITH RECURSIVE months(m) AS (
        SELECT TIMESTAMP '$lo' AS m
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < TIMESTAMP '$hi'
      )
      SELECT CAST(m AS DATE) AS month,
             COALESCE(o.n, 0) AS n_orders
      FROM months LEFT JOIN (
        SELECT date_trunc('MONTH', o_orderdate) AS om, COUNT(*) AS n
        FROM graft_rec_orders GROUP BY 1
      ) o ON months.m = o.om
      ORDER BY month""")
  }

  /** SQL LATERAL join — the correlated table-valued form (top-2 line items
    * per order): Catalyst decorrelates the LIMIT-bearing subquery into a
    * ranked window join, so nothing executes per-row despite the
    * correlated syntax; identical SQL runs as the DuckDB oracle.
    */
  private def joinLateral(s: SparkSession, d: String): DataFrame = {
    ord(s, d).createOrReplaceTempView("graft_lat_orders")
    li(s, d).createOrReplaceTempView("graft_lat_lineitem")
    s.sql("""
      SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
      FROM graft_lat_orders o JOIN LATERAL (
        SELECT l_linenumber, l_extendedprice FROM graft_lat_lineitem
        WHERE l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
      ) t
      WHERE o.o_orderkey < 500
      ORDER BY o.o_orderkey, t.l_linenumber""")
  }

  /** Bitwise aggregates (bit_and / bit_or / bit_xor) — flag-mask rollups
    * (permission masks, feature flags, bloom-ish unions) as two-phase
    * grouped aggregates.
    */
  private def aggBitwise(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_returnflag"))
      .agg(bit_and(col("l_partkey")).as("mask_and"),
        bit_or(col("l_partkey")).as("mask_or"),
        bit_xor(col("l_partkey")).as("mask_xor"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Boolean aggregates (bool_and / bool_or) — the data-quality assertion
    * tier ("EVERY row in the partition satisfies X") as grouped columns.
    */
  private def aggBool(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_returnflag"))
      .agg(bool_and(col("l_quantity") > 0).as("all_qty_pos"),
        bool_or(col("l_discount") > lit(0.05)).as("any_deep_discount"),
        bool_and(col("l_extendedprice") >= col("l_quantity"))
          .as("price_covers_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** VARIANT semi-structured type (Spark 4): `parse_json` once into a
    * binary variant, then typed `variant_get` path extraction — the
    * schema-on-read form that replaces per-path JSON re-parsing
    * (`get_json_object` re-parses the string for every path; variant
    * parses once and every extraction is a binary traversal). The
    * `n_missing` column pins the schema-drift contract: an absent path is
    * NULL, never an error — at 100 TB, producer drift must not abort the
    * consumer.
    */
  private def exprVariant(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    ev.select(col("event_type"), expr("parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"),
        expr("variant_get(v, '$.absent', 'long')").as("missing"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        sum(when(col("missing").isNull, 1).otherwise(0)).cast("long")
          .as("n_missing"))
      .orderBy(col("event_type"))
  }

  /** Collated comparison (Spark 4 string collations): grouping under
    * UTF8_LCASE merges case-variants of a key — the engine-level form of
    * the lower()-normalization the text pipeline does manually. A mixed-
    * case key column is constructed deterministically (half the rows
    * lowercased); `lower()` of ANY group member renders the group key
    * deterministically because members differ only by case.
    */
  private def exprCollation(s: SparkSession, d: String): DataFrame = {
    val mixed = when(pmod(col("c_custkey"), lit(2)) === 0,
      lower(col("c_mktsegment"))).otherwise(col("c_mktsegment"))
    cust(s, d).select(mixed.as("seg"))
      .groupBy(expr("collate(seg, 'UTF8_LCASE')").as("segc"))
      .agg(count(lit(1)).as("n"))
      .select(lower(col("segc")).cast("string").as("segment"), col("n"))
      .orderBy(col("segment"))
  }

  /** MAP-type surface (construct / cardinality / key extraction / key
    * listing) — like [[exprArrayFuncs]], emitted as scalars: DuckDB 1.0's
    * `m['k']` extraction returns a LIST of matches (`[v]`), so the oracle
    * indexes `[1]` while Spark's `element_at` returns the value directly;
    * both sides join SORTED keys so map iteration order never reaches the
    * hash compare.
    */
  private def exprMapFuncs(s: SparkSession, d: String): DataFrame = {
    val ws = split(lower(col("text")), " ")
    val m = map(lit("tok"), size(ws), lit("chr"),
      length(col("text")).cast(IntegerType))
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(m).as("m_card"),
        element_at(m, "tok").as("tok_v"),
        element_at(m, "chr").as("chr_v"),
        concat_ws(",", array_sort(map_keys(m))).as("keys_sorted"))
      .orderBy(col("doc_id"))
  }

  /** Higher-order-function surface: lambda filter / fold / existential /
    * transform over the tokenized text — the declarative per-row array
    * algebra every pipeline operator above leans on, exercised as its own
    * driver row. (Performance note lives in [[TextAnalysis]]: interpreted
    * lambdas in a HOT path get replaced by native codegen kernels; the
    * surface here is about semantics parity.)
    */
  private def exprLambda(s: SparkSession, d: String): DataFrame = {
    val ws = split(lower(col("text")), " ")
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(filter(ws, w => length(w) > 4)).as("n_long"),
        aggregate(ws, lit(0), (acc, w) => acc + length(w))
          .as("total_chars"),
        exists(ws, w => w === "table").as("has_table"),
        concat_ws(",", slice(transform(ws, w => upper(w)), 1, 3))
          .as("upper3"))
      .orderBy(col("doc_id"))
  }

  /** Regex surface — absent from the reference (SURVEY.md §2.8 lists regex
    * functions as a capability boundary); Spark-native extract/replace/
    * match. Patterns stay in the ASCII subset where Java regex (Spark) and
    * RE2-style engines (DuckDB) agree; DuckDB's regexp_replace needs the
    * 'g' flag to match Spark's replace-all semantics (noted in the oracle).
    */
  private def exprRegex(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("novowel_len"),
        col("text").rlike("the").cast(IntegerType).as("has_the"))
      .orderBy(col("doc_id"))

  /** Extended string surface beyond the reference's 6 wired string
    * functions (SURVEY.md §2.7): padding, translate, reverse, repeat, and
    * levenshtein — the edit-distance primitive fuzzy text pipelines lean
    * on. All Spark built-ins with DuckDB twins.
    */
  private def exprStringExt(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        lpad(col("lang"), 5, "_").as("lang_pad"),
        translate(col("source"), "aeiou", "AEIOU").as("src_tr"),
        reverse(col("lang")).as("lang_rev"),
        repeat(col("lang"), 2).as("lang2"),
        levenshtein(col("lang"), col("source")).as("lev"))
      .orderBy(col("doc_id")).limit(200)

  /** Bitwise expression surface (the reference's binary-operator set has
    * no bit ops at all, SURVEY.md §2.7's 13-operator list).
    */
  private def exprBitwise(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("and_lo"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("or_hi"),
        col("o_orderkey").bitwiseXOR(lit(1023L)).as("xor_mask"),
        shiftleft(col("o_orderkey"), 2).as("shl2"),
        shiftright(col("o_orderkey"), 3).as("shr3"))
      .orderBy(col("o_orderkey")).limit(200)

  /** NULL handling: coalesce / nullif / null-safe equality. */
  private def exprNull(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .withColumn("maybe", nullif(col("c_mktsegment"), lit("BUILDING")))
      .select(
        count(lit(1)).as("n"),
        count(col("maybe")).as("n_nonnull"),
        count(when(col("maybe").isNull, 1)).as("n_null"),
        count(when(coalesce(col("maybe"), lit("X")) === "X", 1)).as("n_coalesced"))

  // ---------------------------------------------------------------------
  // §2.6 set operations + windows — absent from the reference
  // (SURVEY §2.6: "None exist"); Spark-native, part of exceeding parity.
  // ---------------------------------------------------------------------

  private def setUnionAll(s: SparkSession, d: String): DataFrame = {
    val a = cust(s, d).filter(col("c_nationkey") < 5).select(col("c_custkey"))
    val b = cust(s, d).filter(col("c_nationkey") < 10).select(col("c_custkey"))
    a.union(b).select(count(lit(1)).as("n"),
                      countDistinct(col("c_custkey")).as("n_distinct"))
  }

  private def setUnionDistinct(s: SparkSession, d: String): DataFrame = {
    val a = cust(s, d).filter(col("c_nationkey") < 5).select(col("c_custkey"))
    val b = cust(s, d).filter(col("c_nationkey") < 10).select(col("c_custkey"))
    a.union(b).distinct().select(count(lit(1)).as("n"))
  }

  private def setIntersect(s: SparkSession, d: String): DataFrame = {
    val a = cust(s, d).filter(col("c_nationkey") < 8).select(col("c_custkey"))
    val b = cust(s, d).filter(col("c_nationkey") > 3).select(col("c_custkey"))
    a.intersect(b).select(count(lit(1)).as("n"))
  }

  private def setExcept(s: SparkSession, d: String): DataFrame = {
    val a = cust(s, d).filter(col("c_nationkey") < 8).select(col("c_custkey"))
    val b = cust(s, d).filter(col("c_nationkey") > 3).select(col("c_custkey"))
    a.except(b).select(count(lit(1)).as("n"))
  }

  /** Window functions: ranking + running aggregate over frames. */
  private def windowFuncs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    li(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty",
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType))
      .withColumn("order_total",
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .over(Window.partitionBy(col("l_orderkey"))).cast(DoubleType))
      .filter(col("l_orderkey") <= 200)
      .select(col("l_orderkey"), col("l_linenumber"), col("rn"),
              col("running_qty"), col("order_total"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc,
                                                            col("c_custkey"))
    cust(s, d)
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rnk") <= 5)
      .select(col("c_mktsegment"), col("rnk"), col("drnk"), col("c_custkey"),
              col("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rnk"), col("c_custkey"))
  }

  /** Gap-based batch sessionization — the batch twin of the streaming
    * session window (`stream_session_agg`): a session breaks after 30
    * idle minutes. One shuffle on user_id; the lag + running-sum pair
    * shares a single window sort per user, so cost is linear in events
    * per user with no self-join. The (ts, event_id) sort key totally
    * orders each user's events, making the session assignment — and so
    * the oracle's independent window formulation — exactly reproducible.
    */
  private def sessionizeBatch(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    ev.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sid",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"),
           count(lit(1)).as("n_events"),
           dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_start"), col("n_events"),
              col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Gaps-and-islands over the event stream — the classic "maximal runs
    * of consecutive qualifying rows" verb in its ISO-SQL
    * row_number-difference formulation: per user, in (ts, event_id)
    * order, every maximal run of events whose value clears the
    * threshold becomes one report row (span, size, peak). Distinct
    * from [[sessionizeBatch]]'s TIME-gap islands: membership here is a
    * PREDICATE on the row, and a single non-qualifying event breaks
    * the run regardless of timing — the shape of uptime-streak /
    * alert-run / abuse-burst reports. The two row_numbers share the
    * partition+order spec, and the filter between them preserves both
    * partitioning and order, so the second Window adds NO exchange and
    * NO sort (plan-asserted: one user-key exchange, one sort); the
    * island key rn_all − rn_hit is constant within a run, making the
    * final rollup a plain two-phase aggregate. Linear per user at any
    * scale — never a self-join.
    */
  private def windowIslands(s: SparkSession, d: String): DataFrame = {
    val thr = 50.0
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    graft.streaming.Streaming.events(s, d)
      .withColumn("rn_all", row_number().over(w))
      .filter(col("value") >= thr)
      .withColumn("rn_hit", row_number().over(w))
      .groupBy(col("user_id"), (col("rn_all") - col("rn_hit")).as("grp"))
      .agg(min(col("ts")).as("island_start"),
        max(col("ts")).as("island_end"),
        count(lit(1)).as("n_events"),
        max(col("value")).as("peak"),
        min(col("event_id")).as("first_event"))
      .select(col("user_id"), col("island_start"), col("island_end"),
        col("n_events"), col("peak"), col("first_event"))
      .orderBy(col("user_id"), col("island_start"))
  }

  /** Strictly-ORDERED funnel (view → click → purchase): each step counts
    * only events after the user's previous-step time. Built as chained
    * user_id aggregations with the step time threaded through the group
    * key. Measured plan shape (sf0.01): every aggregate is map-side
    * partial, so each of the three shuffles moves ≤ one row per user per
    * map task — never raw events — and the two step-table joins broadcast
    * (they'd sort-merge on the shared user_id key above the threshold).
    * Cost is Θ(steps) scans of events with per-scan partial aggregation;
    * no windows, no per-user event collection (a collect_list funnel
    * dies on hot users). Null step times cascade (`ts > NULL` is never
    * true), so strictness needs no extra predicates.
    */
  private def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
    val s2 = ev.join(s1, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" &&
        col("ts") > col("t_view"), col("ts"))).as("t_click"))
    val s3 = ev.join(s2, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts") > col("t_click"), col("ts"))).as("t_purchase"))
    s3.agg(count(lit(1)).as("n_users"),
      count(col("t_view")).as("n_view"),
      count(col("t_click")).as("n_click_after_view"),
      count(col("t_purchase")).as("n_purchase_after_click"))
  }

  /** Cohort retention: users grouped by first-activity day, distinct
    * actives per (cohort, day-offset). Same single-key shape as
    * [[eventsFunnel]]: one user_id aggregate for the cohort day, one
    * id-keyed join back, then a two-phase distinct count — day-offset
    * day arithmetic happens at day grain where the ns→µs fixture
    * truncation can never move a timestamp across a boundary.
    */
  private def eventsRetention(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val firstDay = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    ev.join(firstDay, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        datediff(to_date(col("ts")), col("cohort_day")).as("day_offset"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** SCD Type-2 dimension build from a change log: collapse each user's
    * event-type stream into versioned validity intervals
    * `[valid_from, valid_to)` with an open-ended (NULL valid_to) current
    * version — the keep-history sibling of the SCD-1 `dedup_keep_latest`
    * row. Islands come from the gaps-and-islands idiom (change flag →
    * running sum); both window passes share ONE `(user_id)` partition
    * sort, the interval close is a `lead` over the already-collapsed
    * version rows, and nothing is global — per-key linear, skew bounded
    * by a single key's history, the 100 TB CDC-to-dimension shape.
    * Timestamps are the µs-truncated fixture convention (see
    * [[windowFillForward]]) so `valid_from`/`valid_to` compare exactly.
    */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(w)
    val chg = when(prev.isNull || prev =!= col("event_type"), 1L)
      .otherwise(0L)
    val versioned = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), chg.as("chg"))
      .select(col("user_id"), col("ts"), col("event_type"),
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("version"))
    val islands = versioned.groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
           min(col("ts")).as("valid_from"),
           count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    islands.select(col("user_id"), col("version"), col("state"),
        col("valid_from"),
        lead(col("valid_from"), 1).over(wv).as("valid_to"),
        col("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Autoregressive training-pair generation: each event becomes a
    * (context, label) example where the context is the user's previous
    * three event types IN ORDER — the sequence-model data-prep shape
    * (next-token prediction over behavioral streams). `collect_list`
    * over a bounded `ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING` frame
    * keeps frame order, so the context array is deterministic; rows
    * without a full context are dropped by `row_number`. Both window
    * values share ONE per-user sort, the frame bounds the state to three
    * elements per row, and nothing is global — linear at any corpus
    * size. The context ships as a `|`-joined string rather than a raw
    * array: the payload is the same, but scalar columns keep the row
    * portable to any sink/compare layer (the r7 oracle gate could not
    * sort an array column on the pandas side).
    */
  private def eventsSeqPairs(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), col("event_type"),
        collect_list(col("event_type")).over(w.rowsBetween(-3, -1))
          .as("ctx"),
        row_number().over(w).as("rn"))
      .filter(col("rn") > 3)
      .select(col("user_id"), col("event_id"),
        array_join(col("ctx"), "|").as("context"),
        col("event_type").as("label"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Last-touch attribution with a 7-day lookback — the marketing/ads
    * rollup every event warehouse serves: each purchase is credited to
    * the same user's most recent click strictly before it (in the total
    * (ts, event_id) order, so timestamp ties are deterministic); clicks
    * older than the lookback, or absent, leave the purchase organic.
    * Same machinery as `join_asof` — tagged union + running-last window,
    * ONE shuffle on the user key, linear per user at any scale (never a
    * per-purchase subquery or a clicks×purchases join). The rollup's
    * Σlag and Σclick_id columns make the JOIN itself value-gated: crediting
    * one purchase to the wrong click shifts both sums and fails the hash
    * compare.
    */
  private def eventsAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(true).as("is_click"), lit(null).cast(DoubleType).as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(false).as("is_click"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lookbackUs = 7L * 24 * 3600 * 1000000L
    val tagged = clicks.unionAll(purchases)
      .withColumn("last_click_us",
        last(when(col("is_click"), unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .withColumn("last_click_id",
        last(when(col("is_click"), col("event_id")),
          ignoreNulls = true).over(w))
    tagged.filter(!col("is_click"))
      .withColumn("lag_us", unix_micros(col("ts")) - col("last_click_us"))
      .withColumn("attributed",
        col("last_click_us").isNotNull && col("lag_us") <= lookbackUs)
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("attributed"), col("lag_us")).otherwise(lit(0L)))
          .as("sum_lag_us"),
        sum(when(col("attributed"), col("last_click_id")).otherwise(lit(0L)))
          .as("sum_click_ids"))
      .orderBy(col("attributed"))
  }

  /** Sequence-pattern match WITH NEGATION over the event stream
    * (MATCH_RECOGNIZE / ClickHouse `sequenceMatch('(?1)(?!3)(?2)')`
    * territory — the funnel row chains stages, this row adds the
    * not-between condition a plain funnel cannot express): for every
    * `view`, find the next `purchase` of the same user in strict
    * (ts, event_id) order; the conversion is CLEAN only if it landed
    * within the 24 h horizon AND no `error` event fell strictly between
    * the view and that purchase. Same one-shuffle machinery as
    * [[joinAsofForward]]: one tagged stream, ONE per-user sort, two
    * running-FIRST frames over [next, ∞) (next purchase as a single
    * struct so both fields come from one row; next error as a
    * timestamp), verdicts map out of the projection — never a
    * views×purchases join, linear per user at any scale. Every verdict
    * is exact integer-µs arithmetic.
    */
  private def eventsPattern(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
      .filter(col("event_type").isin("view", "purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val horizonUs = 24L * 3600 * 1000000L
    val converted = col("nxt_p").isNotNull &&
      col("nxt_p.us") - unix_micros(col("ts")) <= horizonUs
    ev
      .withColumn("nxt_p", first(
        when(col("event_type") === "purchase",
          struct(unix_micros(col("ts")).as("us"), col("event_id").as("e"))),
        ignoreNulls = true).over(w))
      .withColumn("nxt_e_us", first(
        when(col("event_type") === "error", unix_micros(col("ts"))),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_event"), col("user_id"),
        col("nxt_p.e").as("conv_event"),
        (col("nxt_p.us") - unix_micros(col("ts"))).as("lag_us"),
        converted.as("converted"),
        (converted && (col("nxt_e_us").isNull ||
          col("nxt_e_us") >= col("nxt_p.us"))).as("clean"))
      .orderBy(col("view_event"))
  }

  /** Trailing-window anomaly flags over the event stream — the
    * monitoring verb every metrics/abuse pipeline runs: each event's
    * value is tested against its OWN user's previous-20-event history by
    * the 3σ rule. The test is the cross-multiplied form of
    * (x−μ)² > 9σ² — `(n·x − S)² > 9·(n·S2 − S²)` with S = Σv and
    * S2 = Σv² as EXACT DECIMAL(·,2/4) sums of the 2-dp fixture values —
    * so no division, no sqrt, no float: every verdict is exact and the
    * oracle replays it bit-for-bit (a σ computed through double sqrt
    * could flip a boundary verdict between engines). Intermediate casts
    * (S→(16,2), S2→(18,4)) keep every product inside DECIMAL(38) in
    * BOTH engines' precision-inference rules — the operand magnitudes
    * (|S| ≤ 20·491) make the casts lossless. Shape: ONE shuffle on the
    * user key, a bounded ROWS frame (constant state per user — trailing
    * aggregation, never a recompute per event), verdicts map out of the
    * window projection. Linear per user at any scale; the full-history
    * gate (n = 20) keeps cold-start windows silent.
    */
  private def eventsAnomaly(s: SparkSession, d: String): DataFrame = {
    val win = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    val vd = col("value").cast(DecimalType(12, 2))
    val w = graft.streaming.Streaming.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        vd.as("vd"))
      .select(col("event_id"), col("user_id"), col("value"),
        count(col("vd")).over(win).cast("int").as("n_hist"),
        sum(col("vd")).over(win).cast(DecimalType(16, 2)).as("s1"),
        sum(col("vd") * col("vd")).over(win).cast(DecimalType(18, 4))
          .as("s2"))
    val nD = col("n_hist").cast(DecimalType(4, 0))
    val dev = nD * col("value").cast(DecimalType(12, 2)) - col("s1")
    w.select(col("event_id"), col("user_id"), col("n_hist"), col("value"),
        (col("n_hist") === 20 && dev * dev >
          lit(9).cast(DecimalType(2, 0)) *
            (nD * col("s2") - col("s1") * col("s1"))).as("is_anomaly"))
      .orderBy(col("event_id"))
  }

  /** Fixed-grid downsampling: snap every event to its 15-minute bucket
    * and aggregate — the resample-to-grid step every time-series feature
    * pipeline starts with. The bucket key is pure integer arithmetic on
    * the µs epoch (`us − us mod 900e6`), identical on both engines, so
    * the grid is exact by construction (no engine-specific
    * date-truncation semantics involved). One hash aggregate on the
    * bucket key; map-side partial combine collapses the fan-in before
    * the shuffle, so at 100 TB the exchange carries one row per
    * (partition × live bucket), not per event.
    */
  private def tsResample(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val us = unix_micros(col("ts"))
    val bucket = (us - pmod(us, lit(900000000L))).as("bucket_us")
    ev.select(bucket, col("user_id"), col("value"))
      .groupBy(col("bucket_us"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"),
           dsum(col("value")).as("sum_value"))
      .select(timestamp_micros(col("bucket_us")).as("bucket_start"),
        col("n"), col("n_users"), col("sum_value"))
      .orderBy(col("bucket_start"))
  }

  /** Incremental rollup maintenance: a per-day partial-aggregate table
    * is materialized once (the job that runs as each day's partition
    * arrives), and the serving query MERGES partials instead of
    * rescanning raw history — the pattern that keeps a 100 TB metric
    * query reading MB of partials instead of the corpus. Works because
    * count and decimal sum are re-aggregable (associative decompositions:
    * `count = Σ partial counts`, `sum = Σ partial exact-decimal sums` —
    * no precision drift across the two levels); the oracle aggregates
    * the RAW table directly, so the decomposition's exactness is what
    * the gate checks.
    */
  private def aggIncrementalRollup(s: SparkSession, d: String): DataFrame = {
    val partialDir = scratch("agg_partials")
    graft.streaming.Streaming.events(s, d)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"))
      .write.mode("overwrite").parquet(partialDir)
    s.read.parquet(partialDir)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
           sum(col("sum_dec")).cast(DoubleType).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Rule-driven data-quality expectation audit — the admission gate a
    * training corpus passes before anything downstream trusts it: one
    * row per declared expectation with its violation count and verdict.
    * All row-level rules ride ONE single-pass aggregate (conditional
    * sums), the uniqueness rule folds into the same aggregate as
    * `count − countDistinct`, and the per-rule rows come from exploding
    * a literal array of structs over the 1-row result — one scan, one
    * reduction, zero joins at any scale. The fixture makes the audit
    * non-vacuous: `n_chars_max_400` and `lang_allowed` FAIL (real
    * violation counts), the other four pass.
    */
  private def qualityExpectations(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
    def viol(c: Column) = sum(when(c, 1L).otherwise(0L))
    val audited = docs.agg(
      count(lit(1)).as("n_checked"),
      viol(col("doc_id").isNull).as("v_id_null"),
      viol(col("text").isNull || length(col("text")) === 0)
        .as("v_text_empty"),
      viol(col("n_chars") =!= length(col("text"))).as("v_len_mismatch"),
      viol(col("n_chars") > 400).as("v_len_max"),
      viol(!col("lang").isin("en", "de", "fr", "es")).as("v_lang"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("v_id_dup"))
    val rules = array(
      struct(lit("doc_id_not_null").as("rule"),
        col("v_id_null").as("n_violations")),
      struct(lit("doc_id_unique").as("rule"),
        col("v_id_dup").as("n_violations")),
      struct(lit("lang_allowed").as("rule"),
        col("v_lang").as("n_violations")),
      struct(lit("n_chars_consistent").as("rule"),
        col("v_len_mismatch").as("n_violations")),
      struct(lit("n_chars_max_400").as("rule"),
        col("v_len_max").as("n_violations")),
      struct(lit("text_not_empty").as("rule"),
        col("v_text_empty").as("n_violations")))
    audited.select(col("n_checked"), explode(rules).as("r"))
      .select(col("r.rule").as("rule"), col("n_checked"),
        col("r.n_violations").as("n_violations"),
        (col("r.n_violations") === 0L).as("pass"))
      .orderBy(col("rule"))
  }

  /** Small-file compaction — the operational fix for the canonical
    * 100 TB table ailment (a streaming or over-parallel writer leaves
    * thousands of KB-scale files; every subsequent scan pays per-file
    * open/footer cost). Sequence: fragment lineitem into 64 shards,
    * size the compacted layout from the actual on-disk bytes
    * (`ceil(total / 8 MiB)` — a driver METADATA listing, never data),
    * rewrite through `coalesce(n)` (shuffle-free narrow coalescence —
    * compaction moves bytes once, through IO, not twice through an
    * exchange), and aggregate the compacted copy. The oracle runs on
    * the ORIGINAL parquet, so byte-lossless compaction is part of what
    * is checked; [[layoutCompactTarget]] exposes the sizing for the
    * file-count spec.
    */
  def layoutCompactTarget(dir: String, targetBytes: Long): Int = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    math.max(1, math.ceil(
      files.map(_.length()).sum.toDouble / targetBytes).toInt)
  }

  private def layoutCompact(s: SparkSession, d: String): DataFrame = {
    val smallDir = scratch("compact_small")
    val outDir = scratch("compact_out")
    li(s, d).repartition(64).write.mode("overwrite").parquet(smallDir)
    val nOut = layoutCompactTarget(smallDir, 8L * 1024 * 1024)
    s.read.parquet(smallDir).coalesce(nOut)
      .write.mode("overwrite").parquet(outDir)
    s.read.parquet(outDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Time-series gap fill: carry the last observed purchase value
    * forward (and the next one backward) across each user's event
    * stream — `last/first(..., ignoreNulls)` over running frames, the
    * IGNORE NULLS navigation tier the plain window rows don't touch.
    * One user_id partition sort serves BOTH directions (the backward
    * frame reuses the same ordering); values pass through untouched, so
    * doubles hash-compare exactly. Window ordering uses the µs-truncated
    * timestamp on both engines (ties broken by event_id) so the ns
    * fixture precision can't reorder rows across engines.
    */
  private def windowFillForward(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
      .filter(col("user_id") < 20)
    val sparse = when(col("event_type") === "purchase", col("value"))
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wf = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.select(col("user_id"), col("event_id"),
        last(sparse, ignoreNulls = true).over(wf).as("fill_forward"),
        first(sparse, ignoreNulls = true).over(wb).as("fill_backward"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Time-weighted linear interpolation of the sparse purchase series at
    * every event timestamp — the arithmetic completion of
    * [[windowFillForward]]: carry BOTH neighbors and blend by elapsed
    * time. All four navigation values (prev/next value and µs timestamp)
    * come off the SAME per-user sort — one window node pair, no extra
    * exchange. Cross-engine double parity is by construction: timestamps
    * are exact µs longs, both engines evaluate the identical tree
    * `prev + (next − prev) × (Δt ÷ span)` (long subtraction exact,
    * long→double conversion and each IEEE op correctly rounded, no FMA on
    * either side), so the doubles hash-compare bit-identically. Ends
    * degrade to nearest-neighbor carry; a row that IS an observation gets
    * Δt = 0 → its own value.
    */
  private def windowInterpolate(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
      .filter(col("user_id") < 20)
    val sparseV = when(col("event_type") === "purchase", col("value"))
    val sparseT = when(col("event_type") === "purchase", unix_micros(col("ts")))
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wf = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevV = last(sparseV, ignoreNulls = true).over(wf)
    val prevT = last(sparseT, ignoreNulls = true).over(wf)
    val nextV = first(sparseV, ignoreNulls = true).over(wb)
    val nextT = first(sparseT, ignoreNulls = true).over(wb)
    val frac = (unix_micros(col("ts")) - prevT).cast("double") /
      (nextT - prevT).cast("double")
    val interp = when(prevT.isNotNull && nextT.isNotNull,
        when(nextT === prevT, prevV)
          .otherwise(prevV + (nextV - prevV) * frac))
      .when(prevT.isNotNull, prevV)
      .otherwise(nextV)
    ev.select(col("user_id"), col("event_id"), interp.as("value_interp"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Window navigation surface: lag/lead with defaults, first/last over a
    * growing frame, ntile bucketing — per-partition, one sort, no skew.
    */
  private def windowNavigation(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    li(s, d)
      .filter(col("l_orderkey") <= 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        lag(col("l_quantity"), 1, -1.0).over(w).as("prev_qty"),
        lead(col("l_quantity"), 1, -1.0).over(w).as("next_qty"),
        first(col("l_quantity")).over(w).as("first_qty"),
        last(col("l_quantity"))
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("last_qty"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Distribution window functions (percent_rank / cume_dist / nth_value)
    * — the rank-normalization tier on top of [[windowNavigation]]. The
    * ordering key (acctbal, custkey) is unique, so ranks are total and
    * the rational divisions (rank-1)/(n-1), rank/n are single exactly-
    * rounded IEEE ops — bit-identical across engines. nth_value uses each
    * engine's default running frame, which both define as RANGE UNBOUNDED
    * PRECEDING..CURRENT ROW (null until the 3rd row of the partition).
    */
  private def windowDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    cust(s, d)
      .select(col("c_mktsegment"), col("c_custkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("c_custkey"), 3).over(w).as("third_key"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** RANGE-frame window: a 30-minute trailing sum per user — the frame is
    * value-bounded (micros), not row-bounded, so ties and gaps behave
    * identically in any engine.
    */
  private def windowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-30L * 60 * 1000000, Window.currentRow)
    ev.withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("trailing_sum",
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType))
      .withColumn("trailing_n", count(lit(1)).over(w))
      .filter(col("event_id") < 500)
      .select(col("event_id"), col("user_id"), col("trailing_sum"),
              col("trailing_n"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------------
  // §2.7 beyond-reference: JSON surface, generators, unpivot, merge, UDAF
  // ---------------------------------------------------------------------

  /** JSON expression surface (the reference wires no JSON functions —
    * `from_proto.rs:888-927` stops at strings/hashes): `get_json_object`
    * path extraction, schema'd `from_json` parsing, and a
    * `to_json`→re-extract round-trip, all codegen'd expressions. Map-only
    * until the final two-phase aggregate, so the parse work spreads
    * linearly over a 100 TB events log with no shuffle of the raw JSON.
    */
  private def exprJson(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .select(col("event_type"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_path"),
        from_json(col("props"), "k LONG", Map.empty[String, String])
          .getField("k").as("k_typed"),
        to_json(struct(col("event_id"), col("event_type"))).as("j"))
      .withColumn("rt_ok",
        (get_json_object(col("j"), "$.event_id").cast(LongType) ===
          col("event_id")).cast(LongType))
      .groupBy(col("event_type"))
      .agg(sum(col("k_path")).as("sum_k_path"),
           sum(col("k_typed")).as("sum_k_typed"),
           sum(col("rt_ok")).as("n_roundtrip"))
      .orderBy(col("event_type"))

  /** Unpivot/melt — the inverse of [[aggPivot]]: per-flag measure columns
    * land as (flag, measure, value) rows via `DataFrame.unpivot`, which
    * Catalyst plans as a single Expand pass (no shuffle beyond the feeding
    * aggregate — the 3× row growth happens map-side). The oracle is the
    * UNION ALL that relational algebra defines unpivot as.
    */
  private def aggUnpivot(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
           dsum(col("l_extendedprice")).as("sum_price"),
           dsum(col("l_discount")).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
               "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  /** Positional generator: `posexplode` keeps each element's ordinal, the
    * piece plain `explode` (see [[exprExplode]]) drops — the shape every
    * token-position / n-gram-offset pipeline needs. Map-side row
    * multiplication, order restored by (doc, pos) keys, never by relying
    * on generator output order.
    */
  private def exprGenerators(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .orderBy(col("doc_id"), col("pos"))

  /** MERGE/upsert emulation over immutable parquet — the full-outer-join
    * + coalesce idiom (updates win, unmatched base rows keep, unmatched
    * update rows insert), the portable form of `MERGE INTO` when the sink
    * is a plain file format with no transactional catalog. The join
    * shuffles both sides on the merge key — correct for the general case
    * where the delta is not broadcast-small; a CDC-sized delta goes
    * through the broadcast path [[dedup_incremental]] already proves.
    * Action labels audit the merge: insert/update/keep counts must
    * reconcile to |base| + |inserts|.
    */
  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = ord(s, d)
    // derived prices are tie-free by construction (*2 is exact halving in
    // reverse, +1000.00 adds no decimal digits) — a ROUND(x*1.1, 2) here
    // would diverge cross-engine on half-tie doubles
    val upd = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("k"), lit("U").as("status"),
              (col("o_totalprice") * 2).as("price"))
      .unionByName(base.filter(col("o_orderkey") % 11 === 3)
        .select((-col("o_orderkey")).as("k"), lit("I").as("status"),
                (col("o_totalprice") + 1000.0).as("price")))
    base.join(upd, col("k") === col("o_orderkey"), "full_outer")
      .select(
        coalesce(col("status"), col("o_orderstatus")).as("status"),
        coalesce(col("price"), col("o_totalprice")).as("price"),
        when(col("o_orderkey").isNull, "insert")
          .when(col("k").isNull, "keep").otherwise("update").as("action"))
      .groupBy(col("action"), col("status"))
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
      .orderBy(col("action"), col("status"))
  }

  /** Custom typed [[org.apache.spark.sql.expressions.Aggregator]] — the
    * extension point for aggregates Spark lacks (the reference's analog
    * is a new AggregateExpr proto variant + planner case,
    * `ballista.proto:121-132`). The (Σwx, Σw) buffer merge is
    * associative+commutative, so Spark runs it Partial→Final like any
    * built-in — no single-point reduce. Demo only: where a native
    * expression exists (as it does for weighted mean), prefer it; the
    * oracle below IS that native closed form.
    */
  private def aggTypedAggregator(s: SparkSession, d: String): DataFrame = {
    val wmean = udaf(graft.functions.WeightedMeanAgg,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble))
    li(s, d).groupBy(col("l_returnflag"))
      .agg(round(wmean(col("l_extendedprice"), col("l_quantity")), 4)
             .as("wavg_price"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Feature scaling for ML prep — per-group z-score and min-max
    * normalization of order totals by market segment, the two-pass shape
    * every feature pipeline uses at scale: one aggregate pass computes
    * group stats (DECIMAL power sums per the [[aggStats]] engine-parity
    * convention, so both engines assemble bit-identical doubles), the
    * stats frame (|segments| rows) broadcasts back onto the corpus for a
    * map-only normalize pass. No window function — a per-row
    * `avg(...).over(partition)` would re-shuffle the corpus and pin each
    * hot segment in one task; the aggregate+broadcast form is one corpus
    * shuffle-free pass after a |groups|-sized aggregate. Output is
    * key-filtered only to keep the gate artifact small.
    */
  private def featureScale(s: SparkSession, d: String): DataFrame = {
    val enriched = ord(s, d)
      .join(Tables.load(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        col("o_totalprice"))
    val stats = enriched.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s1"),
        sum((col("o_totalprice") * col("o_totalprice"))
          .cast(DecimalType(30, 4))).as("s2"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
    val s1d = col("s1").cast(DoubleType)
    val s2d = col("s2").cast(DoubleType)
    val mean = s1d / col("n")
    val sd = sqrt((s2d - s1d * s1d / col("n")) / (col("n") - 1))
    enriched.join(broadcast(stats), "segment")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("segment"),
        round((col("o_totalprice") - mean) / sd, 6).as("z"),
        round((col("o_totalprice") - col("mn")) / (col("mx") - col("mn")), 6)
          .as("minmax"))
      .orderBy(col("o_orderkey"))
  }

  // --- resilience rows: engine-degradation paths, value-gated -----------
  // Each of these behaviors was spec-only through r13 (plan/flag
  // assertions in OperatorsSpec); these rows put their VALUES behind the
  // same DuckDB gate as every other operator. All four scope their
  // degradation confs to a CHILD session (`newSession`) so nothing leaks
  // into any other row's plan or measurement.

  /** Sort-based aggregation fallback, value-gated: an ObjectHashAggregate
    * query (collect_set) with the in-memory hash map capped at ONE entry,
    * so every partial degrades to the sort-based path — the machinery real
    * memory pressure triggers at 100 TB — and the values must not move.
    * The set ships as a sorted joined STRING (array outputs break the
    * driver's pandas sort).
    */
  private def resilienceAggFallback(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    Tables.load(s2, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        array_join(sort_array(collect_set(col("l_linestatus"))), ",")
          .as("statuses"))
      .orderBy(col("l_returnflag"))
  }

  /** Corrupt-split tolerance, value-gated: a parquet copy of `documents`
    * with a garbage member file planted in the directory (built once under
    * a fingerprinted Scratch key), read back under
    * `ignoreCorruptFiles=true`. Reads stay fail-loud by default
    * (spec-asserted); opted in, every good row arrives — the aggregate
    * must equal the oracle over the ORIGINAL table exactly.
    */
  private def resilienceCorruptScan(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"corrupt_docs_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "documents"))) { tmp =>
      Tables.load(s, d, "documents")
        .repartition(4).write.mode("overwrite").parquet(s"$tmp/data")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/data/part-corrupt.parquet"),
        "deliberately not a parquet file".getBytes): Unit
    }
    val s2 = s.newSession()
    s2.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    s2.read.parquet(s"$dir/data")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** Dynamic partition pruning, value-gated: orders laid out partitioned
    * on o_orderstatus (built once under Scratch — the 100 TB star-join
    * layout), joined to a filtered status dim; at runtime the dim's build
    * side prunes fact PARTITIONS (plan-asserted in OperatorsSpec).
    * useStats=false so fixture-scale row counts can't talk the optimizer
    * out of the pruning path this row exists to exercise.
    */
  private def resilienceDppJoin(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.ensure(s,
      s"dpp_orders_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "orders"))) { tmp =>
      Tables.load(s, d, "orders")
        .write.partitionBy("o_orderstatus").mode("overwrite")
        .parquet(s"$tmp/fact")
    }
    val s2 = s.newSession()
    s2.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val fact = s2.read.parquet(s"$dir/fact")
    // the dim filter is on NON-join columns, so the surviving statuses are
    // only knowable at runtime — a literal filter on the join key itself
    // would constant-propagate into a STATIC partition filter and the
    // dynamic pruning this row exists to exercise would never fire
    val dim = Tables.load(s2, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 200 === 0)
      .select(col("o_orderstatus").as("dim_status")).distinct()
    fact.join(dim, col("o_orderstatus") === col("dim_status"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Runtime bloom-filter join pruning, value-gated: broadcast disabled
    * and the bloom creation thresholds opened, so the selective dim side
    * builds a bloom filter that prunes the fact side BELOW its shuffle
    * (the might_contain injection is plan-asserted in OperatorsSpec). The
    * runtime filter must be value-transparent: the pruned join's aggregate
    * equals the plain oracle join exactly.
    */
  private def resilienceBloomJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    val li = Tables.load(s2, d, "lineitem")
    val sel = Tables.load(s2, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    li.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** AQE runtime shuffle coalescing, value-gated (the last spec-only
    * resilience behavior — SURVEY §8): shuffle partitions are sized for
    * the big stages, so a small aggregate's exchange starts grossly
    * over-partitioned (200 here) and AQE must fold it back down at
    * runtime — the mechanism that lets ONE partitions setting serve both
    * 100 TB and 100 KB stages. The child session pins the deliberately
    * oversized count; the coalesce engagement is plan-asserted in
    * OperatorsSpec (an `AQEShuffleRead coalesced` node) so a conf typo
    * cannot leave this row vacuously green; the values must not move.
    */
  private def resilienceAqeCoalesce(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "200")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    Tables.load(s2, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "resilience_agg_fallback" -> resilienceAggFallback _,
    "resilience_corrupt_scan" -> resilienceCorruptScan _,
    "resilience_dpp_join" -> resilienceDppJoin _,
    "resilience_bloom_join" -> resilienceBloomJoin _,
    "resilience_aqe_coalesce" -> resilienceAqeCoalesce _,
    "scan_parquet" -> scanParquet _,
    "scan_parquet_bloom" -> scanParquetBloom _,
    "scan_csv_roundtrip" -> csvRoundtrip _,
    "scan_csv_multiline" -> scanCsvMultiline _,
    "scan_csv_header" -> csvHeaderRoundtrip _,
    "scan_ndjson" -> scanNdjson _,
    "ddl_external_table" -> ddlExternalTable _,
    "sink_parquet_codecs" -> parquetSinkCodecs _,
    "empty_relation" -> emptyRelation _,
    "mem_table" -> memTable _,
    "explain_sql" -> explainSql _,
    "sql_subqueries" -> sqlSubqueries _,
    "projection" -> projection _,
    "filter_predicates" -> filterPredicates _,
    "join_inner" -> joinInner _,
    "join_left" -> joinLeft _,
    "join_right" -> joinRight _,
    "join_full" -> joinFull _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "join_null_safe" -> joinNullSafe _,
    "set_bag_ops" -> setBagOps _,
    "scan_csv_malformed" -> scanCsvMalformed _,
    "scan_json_malformed" -> scanJsonMalformed _,
    "join_cross" -> joinCross _,
    "join_asof" -> joinAsof _,
    "join_asof_forward" -> joinAsofForward _,
    "join_asof_nearest" -> joinAsofNearest _,
    "join_asof_tolerance" -> joinAsofTolerance _,
    "join_range" -> joinRange _,
    "join_bucketed" -> joinBucketed _,
    "join_salted" -> joinSalted _,
    "join_skew_aqe" -> joinSkewAqe _,
    "sessionize_batch" -> sessionizeBatch _,
    "events_funnel" -> eventsFunnel _,
    "window_fill_forward" -> windowFillForward _,
    "window_interpolate" -> windowInterpolate _,
    "events_retention" -> eventsRetention _,
    "scd2_history" -> scd2History _,
    "events_seq_pairs" -> eventsSeqPairs _,
    "events_attribution" -> eventsAttribution _,
    "events_anomaly" -> eventsAnomaly _,
    "events_pattern" -> eventsPattern _,
    "ts_resample" -> tsResample _,
    "quality_expectations" -> qualityExpectations _,
    "agg_incremental_rollup" -> aggIncrementalRollup _,
    "layout_compact" -> layoutCompact _,
    "layout_zorder" -> layoutZorder _,
    "sink_partitioned" -> sinkPartitioned _,
    "sink_partition_overwrite" -> sinkPartitionOverwrite _,
    "sink_orc_roundtrip" -> sinkOrcRoundtrip _,
    "agg_basic" -> aggBasic _,
    "agg_count_distinct" -> aggCountDistinct _,
    "agg_having" -> aggHaving _,
    "agg_rollup" -> aggRollup _,
    "agg_cube" -> aggCube _,
    "agg_stats" -> aggStats _,
    "agg_corr" -> aggCorr _,
    "agg_regression" -> aggRegression _,
    "agg_weighted_median" -> aggWeightedMedian _,
    "agg_skew_kurt" -> aggSkewKurt _,
    "agg_grouping_sets" -> aggGroupingSets _,
    "agg_pivot" -> aggPivot _,
    "agg_histogram" -> aggHistogram _,
    "agg_histogram_eqdepth" -> aggHistogramEqDepth _,
    "agg_topk" -> aggTopk _,
    "agg_mode" -> aggMode _,
    "window_topk_rows" -> windowTopkRows _,
    "agg_approx_distinct" -> aggApproxDistinct _,
    "agg_count_min_sketch" -> aggCountMinSketch _,
    "agg_approx_quantile" -> aggApproxQuantile _,
    "agg_sketch_merge" -> aggSketchMerge _,
    "profile_table" -> profileTable _,
    "expr_explode" -> exprExplode _,
    "sort_multi_key" -> sortMultiKey _,
    "limit" -> limitQ _,
    "repartition_hash" -> repartitionHash _,
    "repartition_round_robin" -> repartitionRoundRobin _,
    "merge_coalesce" -> mergeCoalesce _,
    "expr_math" -> exprMath _,
    "expr_string" -> exprString _,
    "expr_hash" -> exprHash _,
    "expr_hash_ext" -> exprHashExt _,
    "expr_regex" -> exprRegex _,
    "expr_array_funcs" -> exprArrayFuncs _,
    "expr_map_funcs" -> exprMapFuncs _,
    "expr_variant" -> exprVariant _,
    "expr_collation" -> exprCollation _,
    "join_lateral" -> joinLateral _,
    "sql_recursive_cte" -> sqlRecursiveCte _,
    "agg_bool" -> aggBool _,
    "agg_bitwise" -> aggBitwise _,
    "scan_file_lineage" -> scanFileLineage _,
    "scan_schema_evolution" -> scanSchemaEvolution _,
    "plan_serde_roundtrip" -> planSerdeRoundtrip _,
    "plan_serde_sql" -> planSerdeSql _,
    "profile_partition_stats" -> profilePartitionStats _,
    "sink_text_roundtrip" -> sinkTextRoundtrip _,
    "sink_json_roundtrip" -> sinkJsonRoundtrip _,
    "sink_xml_roundtrip" -> sinkXmlRoundtrip _,
    "expr_lambda" -> exprLambda _,
    "expr_string_ext" -> exprStringExt _,
    "expr_bitwise" -> exprBitwise _,
    "expr_case_cast" -> exprCaseCast _,
    "expr_try" -> exprTry _,
    "agg_array" -> aggArray _,
    "expr_struct" -> exprStruct _,
    "expr_datetime" -> exprDatetime _,
    "expr_interval" -> exprInterval _,
    "expr_null" -> exprNull _,
    "set_union_all" -> setUnionAll _,
    "set_union_distinct" -> setUnionDistinct _,
    "set_intersect" -> setIntersect _,
    "set_except" -> setExcept _,
    "window_funcs" -> windowFuncs _,
    "window_rank" -> windowRank _,
    "window_islands" -> windowIslands _,
    "window_navigation" -> windowNavigation _,
    "window_range_frame" -> windowRangeFrame _,
    "window_dist" -> windowDist _,
    "expr_json" -> exprJson _,
    "agg_unpivot" -> aggUnpivot _,
    "expr_generators" -> exprGenerators _,
    "merge_upsert" -> mergeUpsert _,
    "agg_typed_aggregator" -> aggTypedAggregator _,
    "feature_scale" -> featureScale _
  )

  private val D = "CAST(SUM(CAST(%s AS DECIMAL(18,2))) AS DOUBLE)"
  private def ds(e: String) = D.format(e)

  val oracles: Map[String, String] = Map(
    "resilience_agg_fallback" -> """
      WITH m AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem),
      a AS (
        SELECT l_returnflag,
               string_agg(l_linestatus, ',' ORDER BY l_linestatus)
                 AS statuses
        FROM m GROUP BY 1),
      c AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty
        FROM lineitem GROUP BY 1)
      SELECT c.l_returnflag, c.n, c.sum_qty, a.statuses
      FROM c JOIN a USING (l_returnflag) ORDER BY 1""",
    "resilience_corrupt_scan" -> """
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1 ORDER BY 1""",
    "resilience_dpp_join" -> """
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM orders WHERE o_orderstatus IN (
        SELECT DISTINCT o_orderstatus FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 200 = 0)
      GROUP BY 1 ORDER BY 1""",
    "resilience_bloom_join" -> """
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1 ORDER BY 1""",
    "resilience_aqe_coalesce" -> """
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1""",
    "scan_parquet" -> s"""
      SELECT l_returnflag, ${ds("l_extendedprice")} AS sum_price, COUNT(*) AS n
      FROM lineitem WHERE l_quantity >= 45
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "scan_parquet_bloom" -> s"""
      SELECT l_partkey, COUNT(*) AS n,
             CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
             ${ds("l_quantity")} AS sum_qty
      FROM lineitem WHERE l_partkey IN (0, 1, 2, 3)
      GROUP BY l_partkey ORDER BY l_partkey""",
    "scan_csv_roundtrip" -> s"""
      SELECT l_linestatus, ${ds("l_quantity")} AS sum_qty,
             ${ds("l_extendedprice")} AS sum_price, COUNT(*) AS n
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "scan_csv_multiline" -> """
      WITH t AS (
        SELECT lang, replace(text, ' ', chr(10)) AS text_ml FROM documents)
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(length(text_ml)) AS BIGINT) AS sum_chars,
             CAST(SUM(len(string_split(text_ml, chr(10)))) AS BIGINT)
               AS sum_lines,
             CAST(SUM(
               (strpos('0123456789abcdef', substr(md5(text_ml), 1, 1)) - 1)
                 * 4096
               + (strpos('0123456789abcdef', substr(md5(text_ml), 2, 1)) - 1)
                 * 256
               + (strpos('0123456789abcdef', substr(md5(text_ml), 3, 1)) - 1)
                 * 16
               + (strpos('0123456789abcdef', substr(md5(text_ml), 4, 1)) - 1))
               AS BIGINT) AS sum_md5_16
      FROM t GROUP BY lang ORDER BY lang""",
    "scan_csv_header" -> s"""
      SELECT o_orderstatus, COUNT(*) AS n,
             ${ds("o_totalprice")} AS sum_price,
             CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "scan_ndjson" -> """
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             COUNT(DISTINCT source) AS n_sources
      FROM documents GROUP BY lang ORDER BY lang""",
    "ddl_external_table" -> s"""
      SELECT o_orderstatus, COUNT(*) AS n, ${ds("o_totalprice")} AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "sink_parquet_codecs" -> s"""
      SELECT o_orderpriority, 4*COUNT(*) AS n,
             CAST(4*SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "empty_relation" -> "SELECT 1 AS one",
    "explain_sql" -> """
      SELECT * FROM (VALUES ('AdaptiveSparkPlan'),('Exchange'),('FileScan'),
        ('Filter'),('HashAggregate')) AS t(op) ORDER BY op""",
    "sql_subqueries" -> SubquerySql,
    "mem_table" -> """
      SELECT * FROM (VALUES (1,'a'),(2,'b'),(3,NULL)) AS t(id, name)
      ORDER BY id""",
    "projection" -> """
      SELECT o_orderkey,
             CAST(CAST(o_totalprice*2 AS DECIMAL(18,2)) AS DOUBLE) AS double_price,
             upper(o_orderstatus) AS status_uc
      FROM orders ORDER BY o_orderkey LIMIT 50""",
    "filter_predicates" -> """
      SELECT l_returnflag, COUNT(*) AS n,
             COUNT(CASE WHEN nullif(l_tax, 0.0) IS NULL THEN 1 END) AS null_tax,
             COUNT(CASE WHEN nullif(l_tax, 0.0) IS NOT NULL THEN 1 END) AS nonnull_tax
      FROM lineitem
      WHERE l_quantity BETWEEN 10 AND 20
        AND l_returnflag IN ('A','R')
        AND l_linestatus LIKE '%F%'
        AND NOT (l_discount < 0.02)
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "join_inner" -> s"""
      SELECT c_mktsegment, COUNT(*) AS n_orders, ${ds("o_totalprice")} AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_left" -> """
      SELECT c_mktsegment, COUNT(*) AS n_rows,
             COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_no_order
      FROM customer LEFT JOIN
        (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
        ON c_custkey = o.o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_right" -> """
      SELECT c_mktsegment, COUNT(*) AS n_rows,
             COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_no_order
      FROM (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
        RIGHT JOIN customer ON o.o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_full" -> """
      SELECT COUNT(*) AS n_rows,
             COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_left_null,
             COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_right_null
      FROM (SELECT * FROM customer WHERE c_nationkey < 5) c
      FULL JOIN (SELECT o.* FROM orders o
                 JOIN customer c2 ON o.o_custkey = c2.c_custkey
                 WHERE c2.c_nationkey > 2) o
        ON c.c_custkey = o.o_custkey""",
    "join_semi" -> """
      SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_anti" -> """
      SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey AND l_quantity >= 30)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_cross" -> """
      SELECT COUNT(*) AS n_pairs,
             COUNT(DISTINCT r_regionkey) AS n_regions,
             COUNT(DISTINCT n_nationkey) AS n_nations
      FROM region CROSS JOIN nation""",
    "agg_topk" -> """
      WITH r AS (
        SELECT o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC) AS rn
        FROM orders)
      SELECT o_orderstatus,
             MAX(CASE WHEN rn = 1 THEN o_totalprice END) AS top1,
             MAX(CASE WHEN rn = 10 THEN o_totalprice END) AS top10th,
             round(SUM(CASE WHEN rn <= 10 THEN o_totalprice END), 2) AS sum_top10
      FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_pivot" -> """
      SELECT o_orderpriority,
             COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
             COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
             COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "agg_histogram" -> """
      SELECT CAST(FLOOR(o_totalprice / 50000) AS INT) AS bin, COUNT(*) AS n
      FROM orders GROUP BY bin ORDER BY bin""",
    "agg_histogram_eqdepth" -> """
      WITH b AS (
        SELECT quantile_disc(o_totalprice, 0.25) AS q1,
               quantile_disc(o_totalprice, 0.5)  AS q2,
               quantile_disc(o_totalprice, 0.75) AS q3
        FROM orders)
      SELECT CASE WHEN o_totalprice <= q1 THEN 0
                  WHEN o_totalprice <= q2 THEN 1
                  WHEN o_totalprice <= q3 THEN 2 ELSE 3 END AS bucket,
             COUNT(*) AS n,
             MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
      FROM orders, b GROUP BY bucket ORDER BY bucket""",
    "expr_explode" -> """
      SELECT word, COUNT(*) AS n FROM (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents)
      WHERE length(word) >= 4
      GROUP BY word ORDER BY n DESC, word LIMIT 25""",
    "expr_variant" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
             COUNT(*) AS n_missing
      FROM events GROUP BY event_type ORDER BY event_type""",
    "expr_collation" -> """
      WITH t AS (
        SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                    ELSE c_mktsegment END AS seg
        FROM customer)
      SELECT lower(seg) AS segment, COUNT(*) AS n
      FROM t GROUP BY lower(seg) ORDER BY segment""",
    "sql_recursive_cte" -> """
      WITH RECURSIVE months(m) AS (
        SELECT date_trunc('MONTH', MIN(o_orderdate)) FROM orders
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < (SELECT date_trunc('MONTH', MAX(o_orderdate)) FROM orders)
      )
      SELECT CAST(m AS DATE) AS month,
             COALESCE(o.n, 0) AS n_orders
      FROM months LEFT JOIN (
        SELECT date_trunc('MONTH', o_orderdate) AS om, COUNT(*) AS n
        FROM orders GROUP BY 1
      ) o ON months.m = o.om
      ORDER BY month""",
    "join_lateral" -> """
      SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
      FROM orders o, LATERAL (
        SELECT l_linenumber, l_extendedprice FROM lineitem
        WHERE l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
      ) t
      WHERE o.o_orderkey < 500
      ORDER BY o.o_orderkey, t.l_linenumber""",
    "sink_text_roundtrip" -> """
      SELECT COUNT(*) AS n_lines,
             CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
             COUNT(DISTINCT text) AS n_distinct,
             MIN(md5(text)) AS min_md5
      FROM documents""",
    "sink_json_roundtrip" -> """
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MAX(doc_id) AS max_doc
      FROM documents GROUP BY lang ORDER BY lang""",
    "sink_xml_roundtrip" -> """
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MAX(doc_id) AS max_doc
      FROM documents GROUP BY lang ORDER BY lang""",
    "scan_file_lineage" -> """
      SELECT o_orderstatus AS status_from_path, COUNT(*) AS n
      FROM orders GROUP BY 1 ORDER BY 1""",
    // epoch split replayed from the raw table: even keys are the
    // pre-evolution epoch (flag column absent -> NULL -> 'none')
    "scan_schema_evolution" -> """
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'none'
                  ELSE substr(o_orderpriority, 1, 1) END AS prio_flag,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
             COUNT(DISTINCT o_orderkey) AS n_orders
      FROM orders GROUP BY 1 ORDER BY 1""",
    "plan_serde_roundtrip" -> """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(*) AS n,
             MIN(l_quantity) AS min_qty,
             MAX(l_quantity) AS max_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F' AND l_quantity < 30
      GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 5""",
    "plan_serde_sql" -> """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "profile_partition_stats" -> """
      SELECT o_orderstatus,
             COUNT(*) AS num_rows,
             ROUND(MIN(o_totalprice), 4) AS min_price,
             ROUND(MAX(o_totalprice), 4) AS max_price,
             COUNT(*) - COUNT(o_orderpriority) AS null_count,
             COUNT(DISTINCT o_custkey) AS distinct_cust
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_bitwise" -> """
      SELECT l_returnflag,
             bit_and(l_partkey) AS mask_and,
             bit_or(l_partkey) AS mask_or,
             bit_xor(l_partkey) AS mask_xor,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_bool" -> """
      SELECT l_returnflag,
             bool_and(l_quantity > 0) AS all_qty_pos,
             bool_or(l_discount > 0.05) AS any_deep_discount,
             bool_and(l_extendedprice >= l_quantity) AS price_covers_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "expr_map_funcs" -> """
      WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws,
               MAP(['tok','chr'],
                   [CAST(len(string_split(lower(text), ' ')) AS INT),
                    CAST(length(text) AS INT)]) AS m
        FROM documents
      )
      SELECT doc_id,
             CAST(cardinality(m) AS INT) AS m_card,
             m['tok'][1] AS tok_v,
             m['chr'][1] AS chr_v,
             array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted
      FROM t ORDER BY doc_id""",
    "expr_lambda" -> """
      WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
      )
      SELECT doc_id,
             CAST(len(list_filter(ws, w -> length(w) > 4)) AS INT) AS n_long,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS INT)
               AS total_chars,
             (len(list_filter(ws, w -> w = 'table')) > 0) AS has_table,
             array_to_string(list_transform(ws, w -> upper(w))[1:3], ',')
               AS upper3
      FROM t ORDER BY doc_id""",
    "expr_array_funcs" -> """
      WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
      )
      SELECT doc_id,
             CAST(len(ws) AS INT) AS n_words,
             CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
             CAST(len(list_intersect(list_distinct(ws),
               ['the','a','of','key','table'])) AS INT) AS n_stop_kinds,
             list_contains(ws, 'table') AS has_table,
             array_to_string(list_sort(list_distinct(ws))[1:5], ',')
               AS first5_sorted
      FROM t ORDER BY doc_id""",
    "expr_regex" -> """
      SELECT doc_id,
             regexp_extract(text, '^(\w+)', 1) AS first_word,
             CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
               AS novowel_len,
             CAST(regexp_matches(text, 'the') AS INT) AS has_the
      FROM documents ORDER BY doc_id""",
    "expr_string_ext" -> """
      SELECT doc_id, lpad(lang, 5, '_') AS lang_pad,
             translate(source, 'aeiou', 'AEIOU') AS src_tr,
             reverse(lang) AS lang_rev, repeat(lang, 2) AS lang2,
             CAST(levenshtein(lang, source) AS INT) AS lev
      FROM documents ORDER BY doc_id LIMIT 200""",
    "expr_bitwise" -> """
      SELECT o_orderkey,
             o_orderkey & 255 AS and_lo,
             o_orderkey | 4096 AS or_hi,
             xor(o_orderkey, 1023) AS xor_mask,
             o_orderkey << 2 AS shl2,
             o_orderkey >> 3 AS shr3
      FROM orders ORDER BY o_orderkey LIMIT 200""",
    "agg_stats" -> """
      SELECT o_orderstatus, median_price, p90_price, n,
             round((s2d - s1d*s1d/n)/(n-1), 2) AS var_price,
             round(sqrt((s2d - s1d*s1d/n)/(n-1)), 4) AS stddev_price
      FROM (
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1d,
               CAST(SUM(CAST(o_totalprice*o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS s2d
        FROM orders GROUP BY o_orderstatus)
      ORDER BY o_orderstatus""",
    "agg_corr" -> """
      SELECT l_returnflag, n,
             round((sxy - sx*sy/nd)/nd, 4) AS covar_pop,
             round((nd*sxy - sx*sy) /
                   sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6) AS corr
      FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
      ORDER BY l_returnflag""",
    "agg_skew_kurt" -> """
      SELECT l_returnflag, n,
             round((s3/nd - 3.0*(s1/nd)*(s2/nd) + 2.0*(s1/nd)*(s1/nd)*(s1/nd))
                   / ((s2/nd - (s1/nd)*(s1/nd))
                      * sqrt(s2/nd - (s1/nd)*(s1/nd))), 6) AS skewness,
             round((s4/nd - 4.0*(s1/nd)*(s3/nd)
                    + 6.0*(s1/nd)*(s1/nd)*(s2/nd)
                    - 3.0*(s1/nd)*(s1/nd)*(s1/nd)*(s1/nd))
                   / ((s2/nd - (s1/nd)*(s1/nd))
                      * (s2/nd - (s1/nd)*(s1/nd))) - 3.0, 6) AS kurtosis
      FROM (
        SELECT l_returnflag,
               COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(30,4)))
                    AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_quantity*l_quantity*l_quantity
                    AS DECIMAL(30,6))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(l_quantity*l_quantity*l_quantity*l_quantity
                    AS DECIMAL(38,8))) AS DOUBLE) AS s4
        FROM lineitem GROUP BY l_returnflag)
      ORDER BY l_returnflag""",
    "agg_weighted_median" -> """
      WITH b AS (
        SELECT l_returnflag, l_extendedprice,
               CAST(l_quantity AS DECIMAL(18,2)) AS w,
               SUM(CAST(l_quantity AS DECIMAL(18,2)))
                 OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               SUM(CAST(l_quantity AS DECIMAL(18,2)))
                 OVER (PARTITION BY l_returnflag) AS tot
        FROM lineitem)
      SELECT l_returnflag,
             MIN(l_extendedprice) AS weighted_median,
             CAST(MAX(tot) AS DOUBLE) AS total_weight
      FROM b WHERE cum * 2 >= tot
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_regression" -> """
      SELECT l_returnflag, n,
             round((nd*sxy - sx*sy) / (nd*sxx - sx*sx), 6) AS slope,
             round((sy - (nd*sxy - sx*sy) / (nd*sxx - sx*sx) * sx) / nd, 4)
               AS intercept,
             round(((nd*sxy - sx*sy) /
                    sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy))) *
                   ((nd*sxy - sx*sy) /
                    sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy))), 6) AS r2
      FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
      ORDER BY l_returnflag""",
    "agg_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS INT) AS g_status,
             CAST(grouping(o_orderpriority) AS INT) AS g_priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority), ())
      ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""",
    // deliberately NOT DuckDB's native ASOF JOIN: ASOF picks arbitrarily
    // between right rows tied on (user_id, ts), while the Spark side's
    // running-last window deterministically takes the largest event_id —
    // a latent flake if the fixture ever grows such a tie. The
    // group-aggregate arg_max over the inequality join states the same
    // tie-break explicitly — max (ts, event_id), packed into one HUGEINT
    // (event_id < 1e10 by fixture contract; DuckDB 1.0 arg_max has no
    // composite key) — via a fully independent algorithm (no window, no
    // union trick).
    "join_asof_nearest" -> """
      WITH t AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS mts,
               CASE WHEN event_type = 'click' THEN event_id END AS l_event,
               CASE WHEN event_type = 'purchase' THEN event_id END AS r_event,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT *,
          LAST_VALUE(CASE WHEN r_event IS NOT NULL THEN epoch_us(mts) END
                     IGNORE NULLS) OVER win1 AS prev_us,
          LAST_VALUE(r_event IGNORE NULLS) OVER win1 AS prev_event,
          FIRST_VALUE(CASE WHEN r_event IS NOT NULL THEN epoch_us(mts) END
                      IGNORE NULLS) OVER win2 AS next_us,
          FIRST_VALUE(r_event IGNORE NULLS) OVER win2 AS next_event
        FROM t
        WINDOW win1 AS (PARTITION BY user_id ORDER BY mts, side, r_event
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               win2 AS (PARTITION BY user_id ORDER BY mts, side, r_event
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      p AS (SELECT user_id, l_event, epoch_us(mts) AS us,
                   prev_us, prev_event, next_us, next_event
            FROM w WHERE side = 1)
      SELECT l_event AS event_id, user_id,
        CASE WHEN prev_event IS NULL AND next_event IS NULL THEN NULL
             WHEN next_event IS NULL OR (prev_event IS NOT NULL
                  AND us - prev_us <= next_us - us) THEN prev_event
             ELSE next_event END AS nearest_event,
        CASE WHEN prev_event IS NULL AND next_event IS NULL THEN NULL
             WHEN next_event IS NULL OR (prev_event IS NOT NULL
                  AND us - prev_us <= next_us - us) THEN 'backward'
             ELSE 'forward' END AS direction,
        CASE WHEN prev_event IS NULL AND next_event IS NULL THEN NULL
             WHEN next_event IS NULL OR (prev_event IS NOT NULL
                  AND us - prev_us <= next_us - us) THEN us - prev_us
             ELSE next_us - us END AS gap_us
      FROM p ORDER BY event_id""",
    "join_asof" -> """
      WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                 FROM events WHERE event_type = 'click'),
           r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT)
                          * 10000000000 + event_id AS ord
                 FROM events WHERE event_type = 'purchase')
      SELECT l.event_id AS event_id, l.user_id AS user_id,
             arg_max(r.event_id, r.ord) AS asof_event,
             arg_max(r.value, r.ord) AS asof_value
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
      GROUP BY l.event_id, l.user_id
      ORDER BY event_id""",
    // forward = earliest at-or-after candidate: arg_min over ord with the
    // window flipped to r.ts >= l.ts (exact matches admitted)
    "join_asof_forward" -> """
      WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                 FROM events WHERE event_type = 'click'),
           r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT)
                          * 10000000000 + event_id AS ord
                 FROM events WHERE event_type = 'purchase')
      SELECT l.event_id AS event_id, l.user_id AS user_id,
             arg_min(r.event_id, r.ord) AS asof_event,
             arg_min(r.value, r.ord) AS asof_value
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
      GROUP BY l.event_id, l.user_id
      ORDER BY event_id""",
    // backward-nearest within tolerance == any-candidate within tolerance
    // for the backward direction, so the oracle restricts the join window
    "join_asof_tolerance" -> """
      WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                 FROM events WHERE event_type = 'click'),
           r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT)
                          * 10000000000 + event_id AS ord
                 FROM events WHERE event_type = 'purchase')
      SELECT l.event_id AS event_id, l.user_id AS user_id,
             arg_max(r.event_id, r.ord) AS asof_event,
             epoch_us(l.ts) - arg_max(epoch_us(r.ts), r.ord) AS gap_us
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
                         AND r.ts >= l.ts - INTERVAL 15 MINUTE
      GROUP BY l.event_id, l.user_id, l.ts
      ORDER BY event_id""",
    "join_range" -> """
      SELECT c.event_id AS click_event, p.event_id AS purchase_event,
             c.user_id AS user_id
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click') c
      JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND c.ts BETWEEN p.ts AND p.ts + INTERVAL 30 MINUTE
      ORDER BY click_event, purchase_event""",
    "join_bucketed" -> s"""
      SELECT c_mktsegment, COUNT(*) AS n, ${ds("o_totalprice")} AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_salted" -> s"""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             ${ds("o_totalprice")} AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_skew_aqe" -> """
      WITH ev AS (
        SELECT CASE WHEN user_id % 15 < 13 THEN 0 ELSE user_id END AS skew_k,
               event_id, user_id, value
        FROM events),
      dim AS (SELECT skew_k, COUNT(*) AS k_n FROM ev GROUP BY skew_k)
      SELECT CAST(e.event_id % 97 AS INT) AS bucket,
             COUNT(*) AS n,
             CAST(SUM(e.user_id) AS BIGINT) AS sum_uid,
             CAST(SUM(d.k_n) AS BIGINT) AS sum_kn,
             round(MIN(e.value), 6) AS min_v,
             round(MAX(e.value), 6) AS max_v
      FROM ev e JOIN dim d USING (skew_k)
      GROUP BY bucket ORDER BY bucket""",
    "layout_zorder" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE user_id BETWEEN 2 AND 5 AND value BETWEEN 50 AND 120
      GROUP BY event_type ORDER BY event_type""",
    "sessionize_batch" -> """
      WITH g AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                      OR epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w)
                         > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
      )
      SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "events_funnel" -> """
      WITH s1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type='view'
                        THEN CAST(ts AS TIMESTAMP) END) AS t_view
        FROM events GROUP BY user_id
      ), s2 AS (
        SELECT e.user_id, s1.t_view,
               MIN(CASE WHEN event_type='click'
                         AND CAST(ts AS TIMESTAMP) > t_view
                        THEN CAST(ts AS TIMESTAMP) END) AS t_click
        FROM events e JOIN s1 USING(user_id) GROUP BY 1, 2
      ), s3 AS (
        SELECT e.user_id, s2.t_view, s2.t_click,
               MIN(CASE WHEN event_type='purchase'
                         AND CAST(ts AS TIMESTAMP) > t_click
                        THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
        FROM events e JOIN s2 USING(user_id) GROUP BY 1, 2, 3
      )
      SELECT COUNT(*) AS n_users,
             COUNT(t_view) AS n_view,
             COUNT(t_click) AS n_click_after_view,
             COUNT(t_purchase) AS n_purchase_after_click
      FROM s3""",
    "window_fill_forward" -> """
      SELECT user_id, event_id,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS fill_forward,
             first_value(CASE WHEN event_type = 'purchase' THEN value END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS fill_backward
      FROM events WHERE user_id < 20
      ORDER BY user_id, event_id""",
    "window_interpolate" -> """
      WITH base AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'purchase' THEN value END AS sv
        FROM events WHERE user_id < 20),
      w AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
          last_value(sv IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
          last_value(CASE WHEN sv IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
          first_value(sv IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
          first_value(CASE WHEN sv IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
        FROM base)
      SELECT user_id, event_id,
        CASE WHEN prev_t IS NOT NULL AND next_t IS NOT NULL THEN
               CASE WHEN next_t = prev_t THEN prev_v
                    ELSE prev_v + (next_v - prev_v) *
                         (CAST(t_us - prev_t AS DOUBLE) /
                          CAST(next_t - prev_t AS DOUBLE)) END
             WHEN prev_t IS NOT NULL THEN prev_v
             ELSE next_v END AS value_interp
      FROM w ORDER BY user_id, event_id""",
    "scd2_history" -> """
      WITH base AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      versioned AS (
        SELECT user_id, ts, event_type,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM marked),
      islands AS (
        SELECT user_id, CAST(version AS BIGINT) AS version,
               MIN(event_type) AS state, MIN(ts) AS valid_from,
               COUNT(*) AS n_events
        FROM versioned GROUP BY user_id, version)
      SELECT user_id, version, state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
             n_events
      FROM islands ORDER BY user_id, version""",
    "agg_mode" -> """
      WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT user_id, event_type, cnt,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY cnt DESC, event_type) AS rn
        FROM c)
      SELECT user_id, event_type AS modal, cnt AS modal_n
      FROM r WHERE rn = 1 ORDER BY user_id""",
    "join_null_safe" -> """
      WITH c AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal >= 0 THEN c_mktsegment END AS seg
        FROM customer),
      dim AS (
        SELECT DISTINCT seg AS dseg,
               COALESCE(seg, 'UNKNOWN') AS bucket
        FROM c)
      SELECT bucket, COUNT(*) AS n
      FROM c JOIN dim ON c.seg IS NOT DISTINCT FROM dim.dseg
      GROUP BY bucket ORDER BY bucket""",
    "set_bag_ops" -> """
      SELECT * FROM (
        SELECT 'intersect_all' AS op, COUNT(*) AS n FROM (
          SELECT l_partkey FROM lineitem WHERE l_quantity <= 25
          INTERSECT ALL
          SELECT l_partkey FROM lineitem WHERE l_quantity >= 20)
        UNION ALL
        SELECT 'except_all', COUNT(*) FROM (
          SELECT l_partkey FROM lineitem WHERE l_quantity <= 25
          EXCEPT ALL
          SELECT l_partkey FROM lineitem WHERE l_quantity >= 20))
      ORDER BY op""",
    "scan_csv_malformed" -> """
      SELECT l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "scan_json_malformed" -> """
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(doc_id) AS min_doc
      FROM documents GROUP BY lang ORDER BY lang""",
    "window_topk_rows" -> """
      WITH r AS (
        SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
               l_extendedprice,
               CAST(row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
                 AS INT) AS rnk
        FROM lineitem)
      SELECT * FROM r WHERE rnk <= 3
      ORDER BY l_returnflag, l_linestatus, rnk""",
    "events_seq_pairs" -> """
      WITH base AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      w AS (
        SELECT user_id, event_id, event_type,
          list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
            AS context,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS rn
        FROM base)
      SELECT user_id, event_id, array_to_string(context, '|') AS context,
             event_type AS label
      FROM w WHERE rn > 3 ORDER BY user_id, event_id""",
    "events_attribution" -> """
      WITH t AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, event_id,
               event_type = 'click' AS is_click, value
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT user_id, mts, event_id, is_click, value,
               LAST_VALUE(CASE WHEN is_click THEN epoch_us(mts) END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY mts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_click_us,
               LAST_VALUE(CASE WHEN is_click THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY mts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_click_id
        FROM t),
      p AS (
        SELECT user_id, value, last_click_id,
               epoch_us(mts) - last_click_us AS lag_us,
               last_click_us IS NOT NULL
                 AND epoch_us(mts) - last_click_us <= 604800000000
                 AS attributed
        FROM w WHERE NOT is_click)
      SELECT attributed, COUNT(*) AS n_purchases,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CASE WHEN attributed THEN lag_us ELSE 0 END)
                  AS BIGINT) AS sum_lag_us,
             CAST(SUM(CASE WHEN attributed THEN last_click_id ELSE 0 END)
                  AS BIGINT) AS sum_click_ids
      FROM p GROUP BY attributed ORDER BY attributed""",
    "events_anomaly" -> """
      WITH t AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS mts, value,
               CAST(value AS DECIMAL(12,2)) AS vd
        FROM events),
      w AS (
        SELECT event_id, user_id, value,
               CAST(COUNT(vd) OVER win AS INT) AS n_hist,
               CAST(SUM(vd) OVER win AS DECIMAL(16,2)) AS s1,
               CAST(SUM(vd*vd) OVER win AS DECIMAL(18,4)) AS s2
        FROM t
        WINDOW win AS (PARTITION BY user_id ORDER BY mts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, n_hist, value,
             (n_hist = 20 AND
              (CAST(n_hist AS DECIMAL(4,0)) * CAST(value AS DECIMAL(12,2))
                 - s1)
              * (CAST(n_hist AS DECIMAL(4,0)) * CAST(value AS DECIMAL(12,2))
                 - s1)
              > CAST(9 AS DECIMAL(2,0))
                * (CAST(n_hist AS DECIMAL(4,0)) * s2 - s1 * s1))
               AS is_anomaly
      FROM w ORDER BY event_id""",
    "events_pattern" -> """
      WITH t AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, event_id, event_type
        FROM events WHERE event_type IN ('view', 'purchase', 'error')),
      w AS (
        SELECT user_id, mts, event_id, event_type,
               FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN
                   {'us': epoch_us(mts), 'e': event_id} END IGNORE NULLS)
                 OVER win AS nxt_p,
               FIRST_VALUE(CASE WHEN event_type = 'error'
                   THEN epoch_us(mts) END IGNORE NULLS)
                 OVER win AS nxt_e
        FROM t
        WINDOW win AS (PARTITION BY user_id ORDER BY mts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      SELECT event_id AS view_event, user_id, nxt_p.e AS conv_event,
             nxt_p.us - epoch_us(mts) AS lag_us,
             COALESCE(nxt_p.us - epoch_us(mts) <= 86400000000, FALSE)
               AS converted,
             COALESCE(nxt_p.us - epoch_us(mts) <= 86400000000, FALSE)
               AND (nxt_e IS NULL OR nxt_e >= nxt_p.us) AS clean
      FROM w WHERE event_type = 'view' ORDER BY view_event""",
    "ts_resample" -> """
      WITH b AS (
        SELECT make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                 - epoch_us(CAST(ts AS TIMESTAMP)) % 900000000)
                 AS bucket_start,
               user_id, value
        FROM events)
      SELECT bucket_start, COUNT(*) AS n,
             COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM b GROUP BY 1 ORDER BY 1""",
    "quality_expectations" -> """
      WITH t AS (
        SELECT COUNT(*) AS n_checked,
          CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS v_id_null,
          CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_text_empty,
          CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS v_len_mismatch,
          CAST(SUM(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) AS BIGINT)
            AS v_len_max,
          CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
          COUNT(*) - COUNT(DISTINCT doc_id) AS v_id_dup
        FROM documents)
      SELECT rule, n_checked, n_violations, n_violations = 0 AS pass FROM (
        SELECT 'doc_id_not_null' AS rule, n_checked,
               v_id_null AS n_violations FROM t
        UNION ALL SELECT 'doc_id_unique', n_checked, v_id_dup FROM t
        UNION ALL SELECT 'lang_allowed', n_checked, v_lang FROM t
        UNION ALL SELECT 'n_chars_consistent', n_checked, v_len_mismatch
          FROM t
        UNION ALL SELECT 'n_chars_max_400', n_checked, v_len_max FROM t
        UNION ALL SELECT 'text_not_empty', n_checked, v_text_empty FROM t)
      ORDER BY rule""",
    "agg_incremental_rollup" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "layout_compact" -> """
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "events_retention" -> """
      WITH fd AS (
        SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
      )
      SELECT fd.cohort_day,
             CAST(date_diff('day', fd.cohort_day,
                            CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS INT)
               AS day_offset,
             COUNT(DISTINCT e.user_id) AS active_users
      FROM events e JOIN fd USING(user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "sink_partitioned" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n, ${ds("o_totalprice")} AS sum_price
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "sink_partition_overwrite" -> """
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O'
                                THEN o_totalprice * 2
                                ELSE o_totalprice END
                           AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "sink_orc_roundtrip" -> s"""
      SELECT o_orderstatus, COUNT(*) AS n, ${ds("o_totalprice")} AS sum_price,
             CAST(MAX(o_orderdate) AS TIMESTAMP) AS max_date,
             MAX(o_orderkey) AS max_key
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_basic" -> s"""
      SELECT l_returnflag,
             MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
             ${ds("l_quantity")} AS sum_qty,
             ${ds("l_extendedprice")}/COUNT(*) AS avg_price,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_count_distinct" -> """
      SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "agg_approx_distinct" -> """
      SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS exact_parts,
             TRUE AS within_5pct
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "agg_count_min_sketch" -> """
      SELECT l_suppkey, COUNT(*) AS exact_cnt,
             TRUE AS never_under, TRUE AS within_eps_band
      FROM lineitem WHERE l_suppkey <= 9
      GROUP BY l_suppkey ORDER BY l_suppkey""",
    "agg_sketch_merge" -> """
      SELECT COUNT(DISTINCT l_linestatus) AS n_shards,
             COUNT(DISTINCT l_partkey) AS exact_parts,
             TRUE AS within_5pct
      FROM lineitem""",
    "agg_approx_quantile" -> """
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS exact_p25,
             quantile_cont(l_quantity, 0.5)  AS exact_p50,
             quantile_cont(l_quantity, 0.75) AS exact_p75,
             TRUE AS rank_bounded
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "profile_table" -> """
      SELECT 'o_orderkey' AS col_name,
             COUNT(*) - COUNT(o_orderkey) AS n_nulls,
             COUNT(DISTINCT o_orderkey) AS n_distinct,
             CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
             CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM orders
      UNION ALL
      SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
             COUNT(DISTINCT o_custkey),
             CAST(MIN(o_custkey) AS VARCHAR),
             CAST(MAX(o_custkey) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
             COUNT(DISTINCT o_orderstatus),
             MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
             COUNT(DISTINCT o_orderpriority),
             MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
      UNION ALL
      SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
             COUNT(DISTINCT o_orderdate),
             CAST(MIN(o_orderdate) AS VARCHAR),
             CAST(MAX(o_orderdate) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
             COUNT(DISTINCT o_totalprice),
             CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
             CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
      FROM orders
      ORDER BY col_name""",
    "agg_having" -> s"""
      SELECT l_partkey, ${ds("l_quantity")} AS sum_qty, COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
      HAVING ${ds("l_quantity")} > 200
      ORDER BY sum_qty DESC, l_partkey LIMIT 100""",
    "agg_rollup" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${ds("l_quantity")} AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "agg_cube" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "sort_multi_key" -> """
      SELECT c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null,
             c_custkey
      FROM customer
      ORDER BY c_mktsegment ASC,
               bal_or_null DESC NULLS FIRST,
               c_custkey ASC
      LIMIT 100""",
    "limit" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
    "repartition_hash" -> """
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem
      GROUP BY l_suppkey ORDER BY l_suppkey LIMIT 50""",
    "repartition_round_robin" -> """
      SELECT COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem""",
    "merge_coalesce" -> s"""
      SELECT COUNT(*) AS n, ${ds("l_extendedprice")} AS sum_price
      FROM lineitem WHERE l_returnflag = 'R'""",
    "expr_math" -> """
      SELECT p_size,
             round(sqrt(p_size), 9) AS f_sqrt,
             round(sin(p_size), 9) AS f_sin,
             round(cos(p_size), 9) AS f_cos,
             round(tan(p_size), 9) AS f_tan,
             round(atan(p_size), 9) AS f_atan,
             round(asin(1.0/p_size), 9) AS f_asin,
             round(acos(1.0/p_size), 9) AS f_acos,
             round(exp(p_size/10.0), 9) AS f_exp,
             round(log2(p_size), 9) AS f_log2,
             round(log10(p_size), 9) AS f_log10,
             round(ln(p_size), 9) AS f_ln,
             CAST(floor(p_size*1.5) AS BIGINT) AS f_floor,
             CAST(ceil(p_size*1.5) AS BIGINT) AS f_ceil,
             abs(p_size-25) AS f_abs,
             CAST(sign(p_size-25) AS INT) AS f_sign,
             CAST(trunc((25-p_size)*1.5) AS BIGINT) AS f_trunc
      FROM (SELECT DISTINCT p_size FROM part) ORDER BY p_size""",
    "expr_string" -> """
      SELECT c_custkey,
             lower(c_name) AS f_lower, upper(c_name) AS f_upper,
             trim('  ' || c_name || '  ') AS f_trim,
             ltrim('  ' || c_name) AS f_ltrim,
             rtrim(c_name || '  ') AS f_rtrim,
             CAST(octet_length(CAST(c_name AS BLOB)) AS INT) AS f_octet_len,
             CAST(length(c_name) AS INT) AS f_len,
             c_name || '#' || c_mktsegment AS f_concat,
             substr(c_name, 1, 8) AS f_substr
      FROM customer ORDER BY c_custkey LIMIT 100""",
    "expr_hash" -> """
      SELECT c_custkey, md5(c_name) AS f_md5, sha256(c_name) AS f_sha256
      FROM customer ORDER BY c_custkey LIMIT 100""",
    "expr_hash_ext" -> """
      SELECT c_custkey,
             sha256(c_name || '#' || c_mktsegment) AS f_sha256_cat,
             md5(c_name || CAST(c_custkey AS VARCHAR)) AS f_md5_cat,
             sha256(md5(c_name)) AS f_sha256_chain
      FROM customer ORDER BY c_custkey LIMIT 100""",
    "agg_array" -> """
      SELECT o_orderstatus,
             array_to_string(list_sort(array_agg(o_orderkey)), ',') AS keys,
             COUNT(*) AS n
      FROM orders WHERE o_orderkey <= 100
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "expr_struct" -> """
      SELECT o_orderkey, o.status AS o_status, o.price AS o_price FROM (
        SELECT o_orderkey,
               {'status': o_orderstatus,
                'price': CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)}
                 AS o
        FROM orders WHERE o_orderkey <= 50)
      ORDER BY o_orderkey""",
    "expr_try" -> """
      SELECT COUNT(*) AS n,
             COUNT(TRY_CAST(CASE WHEN l_quantity < 3 THEN l_returnflag
                                 ELSE CAST(l_orderkey AS VARCHAR) END
                            AS BIGINT)) AS n_cast_ok,
             COUNT(CASE WHEN l_quantity - l_quantity = 0 THEN NULL
                        ELSE l_extendedprice/(l_quantity - l_quantity) END)
               AS n_div0_ok,
             COUNT(CASE WHEN l_quantity = 0 THEN NULL
                        ELSE l_extendedprice/l_quantity END) AS n_div_ok,
             COUNT(TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT))
               AS n_roundtrip_ok
      FROM lineitem""",
    "expr_case_cast" -> """
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 300000 THEN 'big'
                  WHEN o_totalprice > 100000 THEN 'mid'
                  ELSE 'small' END AS size_class,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 0 END AS status_code,
             CAST(o_orderkey AS VARCHAR) AS key_str,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
             CAST(o_custkey AS DOUBLE) AS cust_dbl,
             CAST(CAST(-o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS neg_price,
             CAST(o_totalprice BETWEEN 100000 AND 200000 AS INT) AS in_band,
             CAST(o_orderpriority IN ('1-URGENT','2-HIGH') AS INT) AS is_hot
      FROM orders ORDER BY o_orderkey LIMIT 200""",
    "expr_datetime" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS y,
             CAST(quarter(o_orderdate) AS INT) AS q,
             COUNT(*) AS n,
             MIN(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) AS first_month,
             MAX(o_orderdate) AS max_date
      FROM orders GROUP BY 1, 2 ORDER BY y, q""",
    "expr_interval" -> """
      WITH t AS (
        SELECT CAST(o_orderdate AS DATE) AS od FROM orders),
      p AS (
        SELECT strftime(last_day(od), '%Y-%m-%d') AS month_end,
               od + INTERVAL 2 MONTH AS due2m,
               od + 45 AS due45d,
               date_diff('day', od, last_day(od)) AS days_to_eom,
               make_date(year(od), month(od), 1) AS month_start,
               CAST(weekofyear(od) AS INT) AS iso_week
        FROM t)
      SELECT month_end, COUNT(*) AS n,
             strftime(MIN(due2m), '%Y-%m-%d') AS min_due2m,
             strftime(MAX(due45d), '%Y-%m-%d') AS max_due45d,
             CAST(SUM(days_to_eom) AS BIGINT) AS sum_days_to_eom,
             strftime(MIN(month_start), '%Y-%m-%d') AS month_start,
             CAST(SUM(iso_week) AS BIGINT) AS sum_iso_week
      FROM p GROUP BY month_end ORDER BY month_end""",
    "expr_null" -> """
      SELECT COUNT(*) AS n,
             COUNT(nullif(c_mktsegment, 'BUILDING')) AS n_nonnull,
             COUNT(CASE WHEN nullif(c_mktsegment,'BUILDING') IS NULL THEN 1 END) AS n_null,
             COUNT(CASE WHEN coalesce(nullif(c_mktsegment,'BUILDING'),'X') = 'X'
                        THEN 1 END) AS n_coalesced
      FROM customer""",
    "set_union_all" -> """
      SELECT COUNT(*) AS n, COUNT(DISTINCT c_custkey) AS n_distinct FROM (
        SELECT c_custkey FROM customer WHERE c_nationkey < 5
        UNION ALL
        SELECT c_custkey FROM customer WHERE c_nationkey < 10)""",
    "set_union_distinct" -> """
      SELECT COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_nationkey < 5
        UNION
        SELECT c_custkey FROM customer WHERE c_nationkey < 10)""",
    "set_intersect" -> """
      SELECT COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_nationkey < 8
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_nationkey > 3)""",
    "set_except" -> """
      SELECT COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_nationkey < 8
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_nationkey > 3)""",
    "window_navigation" -> """
      SELECT l_orderkey, l_linenumber,
             LAG(l_quantity, 1, -1.0) OVER w AS prev_qty,
             LEAD(l_quantity, 1, -1.0) OVER w AS next_qty,
             FIRST_VALUE(l_quantity) OVER w AS first_qty,
             LAST_VALUE(l_quantity) OVER
               (PARTITION BY l_orderkey ORDER BY l_linenumber
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_qty,
             CAST(NTILE(4) OVER w AS INT) AS quartile
      FROM lineitem WHERE l_orderkey <= 200
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
      ORDER BY l_orderkey, l_linenumber""",
    "window_dist" -> """
      SELECT c_mktsegment, c_custkey,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             nth_value(c_custkey, 3) OVER w AS third_key
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_mktsegment, c_custkey""",
    "window_range_frame" -> """
      WITH t AS (SELECT event_id, user_id, value,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)
      SELECT event_id, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS trailing_sum,
             COUNT(*) OVER w AS trailing_n
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
      QUALIFY event_id < 500
      ORDER BY event_id""",
    "window_funcs" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(row_number() OVER w AS INT) AS rn,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY l_orderkey) AS DOUBLE) AS order_total
      FROM lineitem
      WHERE l_orderkey <= 200
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
      ORDER BY l_orderkey, l_linenumber""",
    "window_islands" -> """
      WITH r AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn_all
        FROM events),
      h AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn_hit
        FROM r WHERE value >= 50.0)
      SELECT user_id, MIN(ts) AS island_start, MAX(ts) AS island_end,
             COUNT(*) AS n_events, MAX(value) AS peak,
             CAST(MIN(event_id) AS BIGINT) AS first_event
      FROM h GROUP BY user_id, rn_all - rn_hit
      ORDER BY user_id, island_start""",
    "window_rank" -> """
      SELECT * FROM (
        SELECT c_mktsegment,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS drnk,
               c_custkey, c_acctbal
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
      WHERE rnk <= 5
      ORDER BY c_mktsegment, rnk, c_custkey""",
    "expr_json" -> """
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k_path,
             CAST(SUM(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k_typed,
             CAST(SUM(CASE WHEN CAST(json_extract_string(
                 to_json({'event_id': event_id, 'event_type': event_type}),
                 '$.event_id') AS BIGINT) = event_id THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
      FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_unpivot" -> s"""
      WITH m AS (SELECT l_returnflag,
                        ${ds("l_quantity")} AS sum_qty,
                        ${ds("l_extendedprice")} AS sum_price,
                        ${ds("l_discount")} AS sum_disc
                 FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM m
      UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM m
      UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM m
      ORDER BY l_returnflag, measure""",
    "expr_generators" -> """
      SELECT doc_id,
             CAST(unnest(generate_series(0, len(parts)-1)) AS INT) AS pos,
             unnest(parts) AS word
      FROM (SELECT doc_id, string_split(text, ' ') AS parts
            FROM documents WHERE doc_id < 20)
      ORDER BY doc_id, pos""",
    "merge_upsert" -> s"""
      WITH upd AS (
        SELECT o_orderkey AS k, 'U' AS status, o_totalprice*2 AS price
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT -o_orderkey AS k, 'I' AS status, o_totalprice+1000.0 AS price
        FROM orders WHERE o_orderkey % 11 = 3),
      merged AS (
        SELECT COALESCE(u.status, b.o_orderstatus) AS status,
               COALESCE(u.price, b.o_totalprice) AS price,
               CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                    WHEN u.k IS NULL THEN 'keep' ELSE 'update' END AS action
        FROM orders b FULL OUTER JOIN upd u ON u.k = b.o_orderkey)
      SELECT action, status, COUNT(*) AS n, ${ds("price")} AS sum_price
      FROM merged GROUP BY action, status ORDER BY action, status""",
    "agg_typed_aggregator" -> """
      SELECT l_returnflag,
             ROUND(SUM(l_extendedprice*l_quantity)/SUM(l_quantity), 4) AS wavg_price,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "feature_scale" -> """
      WITH e AS (SELECT o_orderkey, c_mktsegment AS segment, o_totalprice
                 FROM orders JOIN customer ON o_custkey = c_custkey),
           st AS (SELECT segment, COUNT(*) AS n,
                         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1d,
                         CAST(SUM(CAST(o_totalprice*o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS s2d,
                         MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
                  FROM e GROUP BY segment)
      SELECT o_orderkey, e.segment,
             ROUND((o_totalprice - s1d/n) / sqrt((s2d - s1d*s1d/n)/(n-1)), 6) AS z,
             ROUND((o_totalprice - mn) / (mx - mn), 6) AS minmax
      FROM e JOIN st ON st.segment = e.segment
      WHERE o_orderkey < 2000
      ORDER BY o_orderkey"""
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
