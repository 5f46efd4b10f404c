package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.queries.QueryRuns

/** The shared-session cache contract, enforced for EVERY registered
  * query: after `run → materialize → CacheScope.release(spark)`, no
  * graft-created cache blocks survive. A persist site that bypasses the
  * [[CacheScope]] registry (a bare `.persist` added in a future change)
  * leaks MEMORY_AND_DISK blocks into a long-lived host session — this
  * spec makes that a CI failure instead of a production leak. Each
  * query's run ([[QueryRuns]]) is the one QueriesSmokeSpec counts rows
  * on, so a Tier-1 pass builds and materializes every query once.
  *
  * Locally-checkpointed RDDs are exempt: the graph/recall operators
  * truncate per-round lineage through `localCheckpoint`, whose blocks
  * are GC-scoped (freed by the ContextCleaner when the result frame is
  * dropped), not session-scoped caches.
  */
class CacheHygieneSpec extends SparkSpec {

  // every registered query, one test each (so a leak names its query)
  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name releases all cache blocks via CacheScope") {
      val leaked = QueryRuns.run(spark, sf0001, name).leaked
      assert(leaked.isEmpty,
        s"$name left ${leaked.size} cache entr(ies) after " +
          s"CacheScope.release:\n${leaked.mkString("\n")}")
    }
  }
}
