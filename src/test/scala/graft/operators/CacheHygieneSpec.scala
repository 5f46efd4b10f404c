package graft.operators

import graft.{Harness, SparkEntry, SparkSpec}

/** The shared-session cache contract, enforced for EVERY registered
  * query: after `run → materialize → CacheScope.release(spark)`, no
  * graft-created cache blocks survive. A persist site that bypasses the
  * [[CacheScope]] registry (a bare `.persist` added in a future change)
  * leaks MEMORY_AND_DISK blocks into a long-lived host session — this
  * spec makes that a CI failure instead of a production leak.
  *
  * Locally-checkpointed RDDs are exempt: the graph/recall operators
  * truncate per-round lineage through `localCheckpoint`, whose blocks
  * are GC-scoped (freed by the ContextCleaner when the result frame is
  * dropped), not session-scoped caches.
  */
class CacheHygieneSpec extends SparkSpec {

  private def leakedAfterRelease(name: String): Seq[String] = {
    Harness.consume(SparkEntry.queries(name)(spark, sf0001))
    CacheScope.release(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
      .map(r => s"RDD ${r.id} [${r.getStorageLevel.description}] $r")
      .toSeq
    // drop any stragglers so one query's leak can't cascade into the next
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).foreach(_.unpersist(false))
    leaked
  }

  // every registered query, one test each (so a leak names its query)
  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name releases all cache blocks via CacheScope") {
      val leaked = leakedAfterRelease(name)
      assert(leaked.isEmpty,
        s"$name left ${leaked.size} cache entr(ies) after " +
          s"CacheScope.release:\n${leaked.mkString("\n")}")
    }
  }
}
