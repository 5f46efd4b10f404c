package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered driver-contract query: its builder, the DuckDB oracle
  * SQL that grades it (None = rows-only, checked by ScalaTest
  * invariants), and the scale note QUERIES.md carries. Each query module
  * lists its entries once, as its last definition (after every oracle
  * helper val it reads); `graft.SparkEntry` derives its maps from them.
  */
final case class Entry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    note: String = "")
