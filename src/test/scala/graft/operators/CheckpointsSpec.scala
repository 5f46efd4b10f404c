package graft.operators

import graft.SparkSpec

/** Reliable-vs-local lineage truncation for the iterative operators: the
  * two modes must be result-identical (the checkpoint is an execution
  * detail, not semantics), and reliable mode must fail loudly without a
  * checkpoint dir instead of dying mid-iteration inside Spark.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def withCheckpointDir[T](body: => T): T = {
    spark.sparkContext.setCheckpointDir(tempDir("graft-ckpt"))
    body
  }

  private val edges = Seq(
    (1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0), (3L, 2L, 3.0))

  // FIRST in the suite: a checkpoint dir, once set on the shared context,
  // cannot be unset, so this must run before any withCheckpointDir test
  test("reliable mode without a checkpoint dir fails fast with a clear message") {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val df = edges.toDF("src", "dst", "w")
      val e = intercept[IllegalArgumentException] {
        PageRank.run(df, iters = 1, reliable = true).collect()
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }

  test("PageRank: reliable checkpoint mode is result-identical to local mode") {
    val df = edges.toDF("src", "dst", "w")
    val local = PageRank.run(df, iters = 3).collect().toSeq
    val rel = withCheckpointDir {
      PageRank.run(df, iters = 3, reliable = true).collect().toSeq
    }
    assert(rel == local)
  }

  test("Hits: reliable checkpoint mode is result-identical to local mode") {
    val df = edges.toDF("c", "s", "w")
    val local = Hits.run(df, iters = 3).collect().toSeq
    val rel = withCheckpointDir {
      Hits.run(df, iters = 3, reliable = true).collect().toSeq
    }
    assert(rel == local)
  }

  test("connectedComponentsDF: reliable mode is result-identical to local mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val local = DedupClusters.connectedComponentsDF(pairs)
      .orderBy("doc_id").collect().toSeq
    val rel = withCheckpointDir {
      DedupClusters.connectedComponentsDF(pairs, reliable = true)
        .orderBy("doc_id").collect().toSeq
    }
    assert(rel == local)
  }

  test("connectedComponents (GraphX): reliable mode is result-identical to local mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val local = DedupClusters.connectedComponents(pairs)
      .orderBy("doc_id").collect().toSeq
    val rel = withCheckpointDir {
      DedupClusters.connectedComponents(pairs, reliable = true)
        .orderBy("doc_id").collect().toSeq
    }
    assert(rel == local)
  }

  test("Hits: all-zero edge weights yield finite zero scores, not NaN") {
    val df = Seq((1L, 2L, 0.0), (2L, 3L, 0.0)).toDF("c", "s", "w")
    val out = Hits.run(df, iters = 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN),
      "guarded normalizer must keep degenerate scores at 0.0, never NaN/NULL")
    assert(out.forall(_.getDouble(2) == 0.0))
  }
}
