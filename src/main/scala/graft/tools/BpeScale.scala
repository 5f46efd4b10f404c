package graft.tools

import graft.Harness
import graft.queries.TextQueries

/** Production-shaped batched-BPE evidence runner (round-14 ask): learn a
  * ≥512-merge vocabulary with wave size m on a replica-scale corpus and
  * report wave count + wall-clock, optionally against the sequential
  * learner at the same k — the regime the registered k=8 oracle query
  * cannot reach (a 32k-merge production vocab at m≈64–256 lives or dies
  * on wave count ≈ k/m holding as the symbol graph densifies, and on
  * starvation shrinking waves instead of aborting).
  *
  * usage: runMain graft.tools.BpeScale <sfDir> <k> <m> [seq]
  *   seq — also run the sequential learner at the same k (slow: k jobs)
  *
  * Prints one JSON line:
  *   {"dir":…,"k":…,"m":…,"waves":…,"batched_sec":…,"seq_sec":…|null}
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BpeScale <sfDir> <k> <m> [seq]")
    val (dir, k, m) = (args(0), args(1).toInt, args(2).toInt)
    val runSeq = args.length > 3 && args(3) == "seq"
    val spark = Harness.session()
    Harness.tune(spark, dir)
    import Harness.time
    val docs = graft.sources.Fixtures.table(spark, dir, "documents")
    val ((merges, dict, waves), batchedSec) = time {
      TextQueries.bpeRoundsBatched(TextQueries.bpeDictOf(docs), k = k, m = m,
        keepSingles = false)
    }
    dict.unpersist()
    require(merges.size == k, s"expected $k merges, got ${merges.size}")
    System.err.println(f"[bpescale] batched k=$k m=$m: $waves waves, " +
      f"$batchedSec%.1f s (k/m floor = ${(k + m - 1) / m})")
    val seqSec = if (runSeq) {
      val ((seqMerges, seqDict), s) = time {
        TextQueries.bpeRounds(TextQueries.bpeDictOf(docs), k = k,
          keepSingles = false)
      }
      seqDict.unpersist()
      require(seqMerges.size == k)
      System.err.println(f"[bpescale] sequential k=$k: $s%.1f s")
      Some(s)
    } else None
    println(s"""{"dir":"$dir","k":$k,"m":$m,"waves":$waves,""" +
      f""""batched_sec":$batchedSec%.1f,""" +
      s""""seq_sec":${seqSec.map(s => f"$s%.1f").getOrElse("null")}}""")
    spark.stop()
  }
}
