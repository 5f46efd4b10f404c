package graft.job

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** [[ForecastCli.parse]]: what the CLI accepts, and the command lines it
  * refuses (usage text, exit 2) before any Spark work starts; and
  * [[ForecastCli.warmUp]], which must leave no trace but warm classes.
  */
class ForecastCliSpec extends SparkSpec {
  import ForecastCli.{parse, Opts, Usage}

  private def refused(args: String*): String = parse(args) match {
    case Left(msg) =>
      assert(msg.endsWith(Usage), s"refusal must end with the usage text: $msg")
      msg
    case Right(o) => fail(s"accepted ${args.mkString(" ")} as $o")
  }

  private def accepted(args: String*): Opts =
    parse(args).fold(msg => fail(s"refused ${args.mkString(" ")}: $msg"), identity)

  test("two positionals: defaults, no allowlist") {
    assert(accepted("/db", "7") ==
      Opts("/db", 7, None, onlyFuture = false, parityTypes = false, backtest = false))
  }

  test("every flag is recognised, before or after the allowlist") {
    val o = accepted("/db", "14", "--backtest", "t1", "--only-future", "--parity-types")
    assert(o.interval == 14 && o.backtest && o.onlyFuture && o.parityTypes)
    assert(o.specificTables == Some(Set("t1")))
  }

  test("allowlist is an exact comma split: trimmed, empty parts dropped") {
    assert(accepted("/db", "7", "bucket_a, plain_b,,bucket_a").specificTables ==
      Some(Set("bucket_a", "plain_b")))
  }

  test("usage lists every flag") {
    Seq("--only-future", "--parity-types", "--backtest").foreach(f => assert(Usage.contains(f)))
  }

  test("an unknown flag is refused, not taken as the allowlist") {
    assert(refused("/db", "7", "--only-futur").contains("--only-futur"))
  }

  test("a second allowlist positional is refused") {
    assert(refused("/db", "7", "t1", "t2").contains("t2"))
  }

  test("missing positionals are refused") {
    refused()
    refused("/db")
    refused("/db", "--backtest")
  }

  test("interval: non-integer and negative are refused; 0 is a forecast but not a backtest") {
    refused("/db", "seven")
    refused("/db", "7.5")
    refused("/db", "-3")
    refused("/db", "0", "--backtest")
    assert(accepted("/db", "0").interval == 0)
    assert(accepted("/db", "1", "--backtest").backtest)
  }

  test("warmUp: one daemon thread that starts no Spark job, leaves the " +
    "sessions as they were and writes nothing to stdout") {
    val out = new ByteArrayOutputStream
    val capture = new PrintStream(out, true)
    val stdout = System.out
    val ((thread, sessionsBefore), jobs) = withJobCount {
      val sessions = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
      System.setOut(capture)
      try Console.withOut(capture) {
        val t = ForecastCli.warmUp()
        t.join(120000)
        (t, sessions)
      } finally System.setOut(stdout)
    }
    assert(!thread.isAlive, "the warm-up did not finish within 2 minutes")
    assert(thread.getName == "graft-warm")
    assert(thread.isDaemon, "a non-daemon warm-up would hold the JVM open")
    assert(jobs == 0, s"the warm-up started $jobs Spark jobs")
    assert((SparkSession.getActiveSession, SparkSession.getDefaultSession) == sessionsBefore)
    assert(out.size == 0, s"the warm-up wrote to stdout: $out")
  }
}
