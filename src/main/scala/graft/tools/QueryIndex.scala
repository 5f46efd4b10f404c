package graft.tools

import graft.SparkEntry

/** Dev tool: regenerate QUERIES.md — the driver-contract query index
  * (every registered `graft.queries.Entry`: its module, its correctness
  * mode and its scale note) so the surface is auditable at a glance
  * without reading six query files. Run after adding an entry:
  * `runMain graft.tools.QueryIndex`.
  */
object QueryIndex {
  def main(args: Array[String]): Unit = {
    val rows = SparkEntry.modules
      .flatMap { case (module, es) => es.map(module -> _) }
      .sortBy(_._2.name)
      .map { case (module, e) =>
        val mode = if (e.oracle.isDefined) "DuckDB hash" else "rows-only (ScalaTest-bounded)"
        s"| ${e.name} | $module | $mode | ${e.note} |"
      }
    val graded = SparkEntry.oracleSql.size
    // NOTE: no stripMargin — the markdown table rows begin with '|',
    // which stripMargin would eat
    val header = Seq(
      "# Query index",
      "",
      "Generated by `runMain graft.tools.QueryIndex` — do not edit by",
      s"hand. ${rows.size} registered driver-contract queries;",
      s"$graded hash-checked against a DuckDB oracle on",
      "identical parquet, the rest rows-only by documented design",
      "(seeded sketches, MLlib pipelines, non-SQL model fits, binary",
      "decode) with ScalaTest invariants/recall bounds — see",
      "ARCHITECTURE.md \"Correctness strategy\".",
      "",
      "## Choosing exact vs `_offsets` forms",
      "",
      "Ten order-statistics come in two value-identical, oracle-shared",
      "registrations: an EXACT form whose global window or per-group",
      "`collect_list` serializes the ordered grain through ONE task, and",
      "an `_offsets` twin on the bucketed two-level prefix sum whose",
      "widest single-task state is a constant (≤ nBuckets subtotal rows",
      "or one count per distinct value per bucket). Selection is a",
      "grain-cardinality call, not a data-size call: the exact form is",
      "the right tool while the ORDERED GRAIN — distinct values for the",
      "rank tests, rows per group for the quantile buffers, the customer",
      "grain for gini/rfm — fits one task's sort/array budget (rule of",
      "thumb: up to low tens of millions of rows / a few hundred MB per",
      "task), and it is usually cheaper there: at the x30 replica the",
      "twins cost 1–4x their exact siblings (rfm 3.0 s exact vs 11.7 s",
      "twin, quantiles 1.4 s vs 6.3 s; mann_whitney and roc_auc twins",
      "already run at parity) because multi-pass prefix sums re-scan",
      "what a single sort holds in memory. Past that budget the exact",
      "form does not degrade — it dies (executor OOM or a never-ending",
      "single-task sort), while the twin's cost stays a constant factor",
      "of linear scan work at ANY cardinality; every twin is",
      "bit-identical and driver-enforced against the SAME oracle SQL, so",
      "swapping is a pure plan change. On an unbounded 100 TB grain,",
      "register the `_offsets` name; keep the exact name for",
      "interactive/bounded grains.",
      "",
      "| query | module | correctness | scale notes |",
      "|---|---|---|---|")
    val doc = (header ++ rows).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("QUERIES.md"), doc)
    println(s"[query-index] wrote QUERIES.md: ${rows.size} queries, $graded oracle-checked")
  }
}
