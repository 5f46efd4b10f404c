package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.forecast.ForecastEngine

/** Driver-side reference fits for the output checks, without Spark:
  * `perfbench.Fit <in.tsv> <out.tsv>`.
  *
  * Each input line is `table <tab> metric <tab> interval <tab>
  * day:value,...` (days since epoch); each answer line is `table metric
  * day yhat lower upper` from `ForecastEngine.forecastSeries`, doubles in
  * Java's round-trip form.
  */
object Fit {
  def main(args: Array[String]): Unit = {
    val out = Files.readAllLines(Paths.get(args(0))).asScala.flatMap { line =>
      val Array(table, metric, interval, pts) = line.split("\t")
      val points = pts.split(",").map { p =>
        val Array(d, v) = p.split(":"); (d.toLong, v.toDouble)
      }
      ForecastEngine.forecastSeries(table, metric, points, interval.toInt, onlyFuture = false)
        .map(r => Seq(table, metric, r.date.toLocalDate.toEpochDay, r.yhat, r.yhat_lower,
          r.yhat_upper).mkString("\t"))
    }
    Files.write(Paths.get(args(1)), out.asJava)
    ()
  }
}
