package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.catalog.ParquetFooters

/** Fixture-table reader (TESTDATA.md).
  *
  * Timestamp-layout normalization: the fixture generator has shipped
  * `events.ts` in two physical layouts over time, and this reader makes
  * both look identical downstream (UTC-instant TimestampType):
  *
  *  - timestamp[ns]: Spark's parquet reader rejects INT64
  *    TIMESTAMP(NANOS) ([PARQUET_TYPE_ILLEGAL]); the supported path is
  *    the `nanosAsLong` legacy conf, which surfaces the raw nanosecond
  *    count as LongType, decoded here to micros TimestampType.
  *  - timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
  *    TIMESTAMP_NTZ, on which arithmetic casts (`CAST(ts AS DOUBLE)`)
  *    throw DATATYPE_MISMATCH. Fixed at the SCAN, not per-column:
  *    `spark.sql.parquet.inferTimestampNTZ.enabled=false` restores the
  *    legacy read — stored micros surface directly as TimestampType UTC
  *    instants — which matches both the old nanos decode and DuckDB's
  *    naive-timestamp read of the same file. Doing it at the scan (rather
  *    than wrapping each column in `to_utc_timestamp`) keeps predicate
  *    pushdown alive: a wrapped column is a derived projection and its
  *    filters stop reaching the parquet reader, which at 100 TB means a
  *    full-table scan where a footer-pruned read should be.
  *
  * A per-column `to_utc_timestamp(cast(c))` fold remains as a safety net
  * for NTZ columns arriving via schemas this conf doesn't govern.
  */
object Fixtures {

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Columns stored as timestamp[ns] in the fixtures, per table. */
  private val nanoColumns: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Dynamic confs: set defensively so sessions created elsewhere
    // (Verify/smoke) need no start-up flags, and set before the footer
    // read, whose schema conversion applies them.
    spark.conf.set(NanosConf, "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = ParquetFooters.read(spark, s"$dir/$name.parquet")
    val nanoDecoded = nanoColumns.getOrElse(name, Seq.empty).foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType == LongType)
        d.withColumn(c, timestamp_micros(expr(s"$c DIV 1000")))
      else d
    }
    utcNormalizeNtz(nanoDecoded)
  }

  /** Layout-proofing: any NTZ column (current generator layout) becomes a
    * UTC-instant TimestampType column, session-tz-independent.
    *
    * The cast interprets the NTZ wall clock in the SESSION time zone
    * (instant = wall - offset(S)), so the session shift must be ADDED
    * back: `from_utc_timestamp(x, S)` = x + offset(S). Note
    * `to_utc_timestamp(x, S)` — the first attempted fix — is x -
    * offset(S) regardless of session (it reinterprets x's UTC wall
    * fields as S-local), which DOUBLE-shifts: a Tokyo session came out
    * 18 h off; FixturesSpec pins all three zones. Residual: wall clocks
    * inside a DST transition hour are ambiguous by construction — the
    * fixtures' synthetic timestamps don't land there.
    *
    * Package-visible so FixturesSpec can exercise it directly: the scan
    * confs above suppress NTZ inference for parquet, so this net only
    * catches schemas arriving outside that conf's reach.
    */
  private[sources] def utcNormalizeNtz(df: DataFrame): DataFrame = {
    val sessionTz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampNTZType =>
          d.withColumn(f.name,
            from_utc_timestamp(col(f.name).cast(TimestampType), sessionTz))
        case _ => d
      }
    }
  }

  /** Every fixture table of `dir`. */
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** SQL front door: register every fixture table as a temp view (through
    * the same nanos-decoding reader), so users can drive the engine with
    * `spark.sql("SELECT ... FROM lineitem JOIN orders ...")` — the
    * interaction model the reference's ClickHouse users already have.
    * Temp views are lazy and each schema comes from a parquet footer read
    * in this process ([[graft.catalog.ParquetFooters]]), so registration
    * starts no Spark job.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    TableNames.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
