package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** What the measurement mains (Bench, Verify, Scaling, `graft.tools.*`)
  * share: one session set-up, the data-sized tuning per input directory,
  * Bench's consumption and cache hygiene, the `SPARK_GRAFT_ONLY` query
  * filter and the JSON string escape. `ForecastCli` keeps its own
  * session (it is the paper's program, not a measurement harness).
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** `local[cpus]` width: `SPARK_GRAFT_CPUS`, else this machine's cores. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The harness session: `local[cpus]`, shuffle width = cpus until
    * [[tune]] sizes it to the data, UTC, AQE, and the UI off; WARN logs
    * and [[Tuning.applySessionTuning]].
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // cap listener-event plan strings: deep cached/composed plans
      // (pipeline_pretrain_full) render O(plan-size) text per execution
      // event even with the UI off — 1 MB keeps events useful and bounded
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tuning.applySessionTuning(spark)
    spark
  }

  /** Size the session to the dataset in `dir` (see [[Tuning]]): the
    * shuffle width from its bytes, and the scan spread. Returns the width.
    */
  def tune(spark: SparkSession, dir: String): Int = {
    val parts = Tuning.shufflePartitionsFor(dir, cpus)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    Tuning.applyScanSpread(spark, dir, cpus)
    parts
  }

  /** `f`'s result and its wall-clock seconds. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Force every column of every row of `df`: `xxhash64` of all columns
    * folded with `bit_xor`. A bare `count()` lets Catalyst elide
    * unreferenced projections, and `sum(xxhash64)` overflows under ANSI
    * mode; `bit_xor` is overflow-free and order-insensitive.
    */
  def consume(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(bit_xor(col("h"))).collect()
    ()
  }

  /** Drop what one query cached: the [[operators.CacheScope]] release
    * contract, with `clearCache` as a belt for anything outside it.
    */
  def release(spark: SparkSession): Unit = {
    operators.CacheScope.release(spark)
    spark.catalog.clearCache()
  }

  /** The registered queries a run covers: the comma-separated names in
    * `only` (`SPARK_GRAFT_ONLY`, a dev subset filter), or all of them
    * when it is unset. A name that is not registered fails the run.
    */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"),
      queries: Map[String, Query] = SparkEntry.queries): Map[String, Query] =
    only.fold(queries) { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not registered: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.filter { case (n, _) => names(n) }
    }

  /** `s` as a JSON string literal. Every control character is escaped: a
    * tab or CR left raw in an oracle SQL text would make the reader's
    * JSON parse fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
