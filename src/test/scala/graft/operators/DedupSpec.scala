package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Fixtures

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Fixtures.table(spark, sf0001, "documents")

  test("wordShingles: distinct n-grams, short texts yield empty array") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x x")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq.empty)
    assert(sh(3L) == Seq("x x x")) // distinct collapses repeats
  }

  test("exact dedup: synthetic duplicates collapse to min doc_id") {
    val df = Seq((10L, "same text"), (3L, "same text"), (7L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 2L), (7L, 1L)))
  }

  test("hash-keyed exact dedup is row-identical to the plain form") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // synthetic with dups
    val df = Seq((10L, "same text"), (3L, "same text"), (7L, "other"),
      (8L, "third"), (9L, "third")).toDF("doc_id", "text")
    assert(rows(Dedup.exactHashKeyed(df)) == rows(Dedup.exact(df)))
    // fixture corpus with planted duplicates
    assert(rows(Dedup.exactHashKeyed(docs)) == rows(Dedup.exact(docs)))
  }

  test("normalized exact dedup merges case/punct/whitespace variants exact() keeps apart") {
    val df = Seq(
      (10L, "Hello,  World!"), (3L, "hello world"), (5L, "HELLO-WORLD"),
      (7L, "a different doc")).toDF("doc_id", "text")
    assert(Dedup.exact(df).count() == 4, "raw texts are all distinct")
    val out = Dedup.exactNormalized(df).orderBy("keep_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((3L, 3L), (7L, 1L)),
      s"three variants collapse to doc 3, got $out")
  }

  test("ngram jaccard finds the planted near-dup pairs, none below threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
    assert(pairs.nonEmpty, "fixtures contain planted near-dups")
    assert(pairs.forall(r => r.getDouble(2) >= 0.5 && r.getLong(0) < r.getLong(1)))
  }

  test("minhash candidates recover the true jaccard pairs (recall vs exact)") {
    val truth = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val est = Dedup.minhashPairs(docs, 3, 64, 16, threshold = 0.35)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = truth.count(est.contains).toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} true pairs")
  }

  test("deterministic minhash family recovers the true jaccard pairs too") {
    val truth = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val est = Dedup.minhashPairsDeterministic(docs, 3, 64, 16, threshold = 0.35)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = truth.count(est.contains).toDouble / truth.size
    assert(recall >= 0.9,
      s"deterministic-family minhash recall $recall over ${truth.size} true pairs")
  }

  test("MLlib MinHashLSH twin recovers the true jaccard pairs (recall vs exact)") {
    val truth = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mllib = graft.ml.MlPipelines.minhashLshPairs(docs, jaccardMin = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = truth.count(mllib.contains).toDouble / truth.size
    assert(recall >= 0.8, s"MLlib MinHashLSH recall $recall over ${truth.size} true pairs")
  }

  test("minhash estimate is deterministic across runs") {
    val a = Dedup.minhashPairs(docs).orderBy("doc_a", "doc_b").collect().toSeq
    val b = Dedup.minhashPairs(docs).orderBy("doc_a", "doc_b").collect().toSeq
    assert(a == b)
  }

  test("simhash: identical texts -> distance 0; near-identical -> small distance") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different words about spark catalyst shuffles and parquet files")
    ).toDF("doc_id", "text")
    val fp = Dedup.simhash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 16)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 16)
    val pairs = Dedup.simhashPairs(df, maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("deterministic simhash: same near-dup behavior as xxhash64 form, stable fingerprints") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different words about spark catalyst shuffles and parquet files")
    ).toDF("doc_id", "text")
    val fp = Dedup.simhashDeterministic(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "identical texts must collide exactly")
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 16)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 16)
    val pairs = Dedup.simhashPairsDeterministic(df, maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
    // bit-exact across runs (the property the DuckDB oracle depends on)
    val again = Dedup.simhashDeterministic(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == fp)
  }

  test("dedup_recall gate: six variants, truth count matches exact pairs, all floors hold") {
    val out = graft.queries.DataQueries.dedupRecall(spark, sf0001).collect()
    assert(out.length == 6)
    assert(out.map(_.getString(0)).toSeq == Seq("banded", "minhash_det",
      "minhash_mllib", "minhash_xxh", "simhash_det", "simhash_xxh"))
    val nTruth = Dedup.ngramJaccardPairs(docs, 3, 0.5).count()
    assert(out.forall(_.getLong(1) == nTruth), "n_truth must equal the exact pair count")
    assert(out.forall(_.getInt(2) == 1), "every variant must clear its floor on fixtures")
  }

  test("bloom decontamination: superset of exact, no spurious flags, counts only inflate") {
    val exact = Dedup.decontaminateTrainExact(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Dedup.decontaminateBloom(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty, "fixtures contain cross-split shingle overlap")
    // no false negatives: every truly contaminated train doc is flagged,
    // with a hit count at least the true overlap (FPs can only add)
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id), s"bloom missed contaminated train doc $id")
      assert(bloom(id) >= n, s"bloom under-counted doc $id: ${bloom(id)} < $n")
    }
    // false flags need >= minHits independent fpp-probability probes to
    // fire in one clean doc — allow a whisker, expect none at fpp=0.01
    assert(bloom.size <= exact.size + math.max(2, exact.size / 20),
      s"bloom flagged ${bloom.size - exact.size} extra docs over ${exact.size} exact")
  }

  test("deterministic bloom: same one-sided bounds as the native filter") {
    val exact = Dedup.decontaminateTrainExact(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val det = Dedup.decontaminateBloomDet(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // no false negatives by construction: a real test shingle's k
    // positions are all in the set, so counts only ever inflate
    exact.foreach { case (id, n) =>
      assert(det.contains(id), s"det bloom missed contaminated doc $id")
      assert(det(id) >= n, s"det bloom under-counted doc $id")
    }
    // k=5 simultaneous position collisions per shingle, minHits times
    // over, is vanishing at m = 2^20 — same whisker as the native form
    assert(det.size <= exact.size + math.max(2, exact.size / 20),
      s"det bloom flagged ${det.size - exact.size} extra docs")
  }

  test("embedding decontamination: LSH twin has no false flags, recall >= 0.8, hits never inflate") {
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    val exact = Dedup.decontaminateEmbedding(emb, 0.45)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.decontaminateEmbeddingLsh(emb, 0.45, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty, "fixtures contain cross-split near-dup embeddings")
    // exact-cosine verify stage => no false positives, and a candidate
    // subset can only UNDER-count a vector's true collisions
    lsh.foreach { case (id, n) =>
      assert(exact.contains(id), s"lsh flagged clean train vector $id")
      assert(n <= exact(id), s"lsh over-counted $id: $n > ${exact(id)}")
    }
    val recall = exact.keys.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"lsh decontamination recall $recall over ${exact.size} flagged")
  }

  test("embedding cosine pairs: symmetric-free, above threshold, deterministic") {
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    val pairs = Dedup.embeddingCosinePairs(emb, 0.45).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1) && r.getDouble(2) >= 0.45))
  }

  test("containment: whole-doc quote scores ~1 one-way where jaccard stays low") {
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val quoted = (1 to 12).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, quoted), (2L, big), (3L, "unrelated words entirely about other things"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 1's 10 shingles all appear among doc 2's 58 -> containment 1.0
    assert(cont((1L, 2L)) == 1.0)
    // the reverse direction is 10/58 — far below threshold, not emitted
    assert(!cont.contains((2L, 1L)))
    assert(cont.keys.forall(p => !p.productIterator.contains(3L)))
    // jaccard misses this pair entirely at any near-dup threshold
    val jac = Dedup.ngramJaccardPairs(df, 3, 0.5).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("containment on fixtures: no false directions, values in (0,1]") {
    val rows = Dedup.containmentPairs(docs, 3, 0.8).collect()
    assert(rows.nonEmpty, "fixtures contain planted subset/near-dup docs")
    assert(rows.forall(r => r.getDouble(2) >= 0.8 && r.getDouble(2) <= 1.0))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("semdedup: no false removals; within-cell recall vs exact pairs") {
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    val truth = Dedup.embeddingCosinePairs(emb, 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val removable = truth.map(_._2) // has a lower-id partner >= threshold
    val out = Dedup.semDedup(emb, nCells = 16, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty, "fixtures contain planted high-cosine pairs")
    out.foreach { case (removed, kept, maxCos) =>
      // the witness pair must be a TRUE >= threshold pair (cosine verify
      // is exact, cells only restrict candidates)
      assert(kept < removed, s"witness $kept not lower than removed $removed")
      assert(truth.contains((kept, removed)),
        s"semdedup removed $removed on witness $kept not in the exact pair set")
      assert(maxCos >= 0.45)
    }
    val removedSet = out.map(_._1).toSet
    assert(removedSet.subsetOf(removable))
    val recall = removable.count(removedSet.contains).toDouble / removable.size
    assert(recall >= 0.6,
      s"semdedup removed $recall of ${removable.size} exact-removable vectors")
  }

  test("semdedup auto cell count: ~n/250 floored at 16, fixture results unchanged") {
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    def rows(nCells: Int) = Dedup.semDedup(emb, nCells, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // 500 fixture vectors -> auto floor of 16 cells, so the auto run must
    // be bit-identical to the explicit-16 run
    assert(rows(-1) == rows(16), "auto sizing must resolve to 16 cells at fixture scale")
    // a 10k synthetic corpus auto-sizes to 40 cells: verify the no-false-
    // removals invariant survives a >floor cell count (every witness pair
    // re-verifies >= threshold exactly)
    val big = spark.range(10000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => sin(col("id") * 0.37 + i.cast("double"))).as("embedding"))
    val out = Dedup.semDedup(big, nCells = -1, threshold = 0.95)
    val exact = Dedup.embeddingCosinePairs(big, 0.95)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.collect().map(r => (r.getLong(1), r.getLong(0)))
    got.foreach { case (kept, removed) =>
      assert(exact.contains((kept, removed)),
        s"auto-sized semdedup removed $removed on witness $kept not in the exact set")
    }
  }

  test("embedding LSH pairs: recall >= 0.85 vs exact cosine pairs, no false positives") {
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    val truth = Dedup.embeddingCosinePairs(emb, 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosinePairsLsh(emb, threshold = 0.45, dim = 64)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixtures contain planted high-cosine pairs")
    val recall = truth.count(lsh.contains).toDouble / truth.size
    assert(recall >= 0.85, s"embedding LSH recall $recall over ${truth.size} true pairs")
    // the exact-cosine verify stage means LSH can only MISS pairs, never
    // invent ones below threshold
    assert(lsh.subsetOf(truth), "LSH emitted a pair the exact operator did not")
  }

  test("banded jaccard agrees exactly with the uncapped exact operator on the fixtures") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // uncapped exact: the df cap is a scale guard, not semantics — the
    // banded verify computes TRUE jaccard, so compare against maxShingleDf
    // large enough to never bind
    val exact = rows(Dedup.ngramJaccardPairs(docs, 3, 0.5, maxShingleDf = Int.MaxValue))
    val banded = rows(Dedup.ngramJaccardPairsBanded(docs, 3, 0.5))
    assert(exact.nonEmpty, "fixtures contain planted near-dups")
    assert(banded == exact,
      s"banded (${banded.size} pairs) != exact (${exact.size} pairs)")
  }

  test("LSH bucket cap: identical-vector pile-up is salted, multi-table recall survives") {
    // 300 copies of one vector + 20 distinct others: without the cap the
    // identical pile emits C(300,2) pairs from EVERY table's same bucket
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val piles = (0L until 300L).map(id => (id, base))
    val others = (1000L until 1020L).map(id =>
      (id, Array.tabulate(64)(i => math.cos(3.0 * (i + 1) * (id - 999)).toFloat)))
    val emb = (piles ++ others).toDF("vec_id", "embedding")
    val all = 300L * 299L / 2
    val uncapped = Dedup.embeddingCosinePairsLsh(emb, 0.99, dim = 64).count()
    assert(uncapped == all, s"uncapped finds every identical pair, got $uncapped")
    val capped = Dedup.embeddingCosinePairsLsh(emb, 0.99, dim = 64, maxBucket = 30).count()
    // per table a pair survives salting with p ~ 1/10; over 16 tables the
    // union recovers ~1-0.9^16 ~ 0.81 of pairs — strictly capped below
    // the quadratic full set, far above a single-table 1/nsalt
    assert(capped < all, s"cap must drop some identical-pile pairs, got $capped of $all")
    assert(capped >= (all * 0.5).toLong,
      s"multi-table union should keep >= half the pairs, got $capped of $all")
    // fixture-scale buckets sit far under the default cap: capped run is
    // identical to the uncapped operator there
    val fixEmb = Fixtures.table(spark, sf0001, "embeddings")
    val a = Dedup.embeddingCosinePairsLsh(fixEmb, 0.45, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Dedup.embeddingCosinePairsLsh(fixEmb, 0.45, dim = 64, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b, "default cap must not change fixture-scale results")
  }

  test("incremental: statuses partition the delta with correct precedence") {
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely unrelated corpus content about databases and queries"),
      (6L, "shared near duplicate text body with many common word shingles here")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (1L, "The quick   brown fox jumps over the lazy dog today"), // norm-equal to 2
      (3L, "shared near duplicate text body with many common word shingles now"), // near 6
      (5L, "entirely novel delta document nothing like the corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incremental(corpus, delta).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(out == Seq(
      (1L, "dup_exact", Some(2L)),
      (3L, "dup_near", Some(6L)),
      (5L, "new", None)))
  }

  test("incremental: delta ids only, one row per delta doc, fixture-stable") {
    val corpus = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val delta = docs.filter(pmod($"doc_id", lit(2)) === 1)
    val out = Dedup.incremental(corpus, delta).persist()
    val nDelta = delta.count()
    assert(out.count() == nDelta, "exactly one status row per delta doc")
    assert(out.filter(pmod($"doc_id", lit(2)) === 0).count() == 0,
      "no corpus ids in the output")
    assert(out.filter($"status" === "new" && $"match_id".isNotNull).count() == 0
      && out.filter($"status" =!= "new" && $"match_id".isNull).count() == 0,
      "match_id is NULL exactly for status=new")
    // every match_id points into the corpus side
    assert(out.filter($"match_id".isNotNull)
      .join(corpus.select($"doc_id".as("match_id")), Seq("match_id"), "left_anti")
      .count() == 0, "match ids must be corpus docs")
    out.unpersist()
  }

  private def dropIncIndexTables(prefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_norm")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_postings")
  }

  test("incrementalIndexed: same answer as incremental through the stored index") {
    val corpus = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val delta = docs.filter(pmod($"doc_id", lit(2)) === 1)
    val root = tempDir("incidx_spec")
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    try {
      Dedup.buildIncrementalIndex(corpus, cat, "spec_incidx")
      val direct = Dedup.incremental(corpus, delta).orderBy("doc_id").collect().toSeq
      val indexed = Dedup.incrementalIndexed(cat, "spec_incidx", delta)
        .orderBy("doc_id").collect().toSeq
      assert(indexed == direct)
    } finally dropIncIndexTables("spec_incidx")
  }

  test("admitToIncrementalIndex: maintained index == fresh rebuild when no shingle crosses the cap") {
    val corpus = docs.filter(pmod($"doc_id", lit(3)) === 0)
    val night1 = docs.filter(pmod($"doc_id", lit(3)) === 1)
    val night2 = docs.filter(pmod($"doc_id", lit(3)) === 2)
    val rootM = tempDir("incidx_adm")
    val rootR = tempDir("incidx_reb")
    val catM = new graft.catalog.ParquetCatalog(spark, rootM)
    val catR = new graft.catalog.ParquetCatalog(spark, rootR)
    try {
      // maintained path: build on corpus, classify night1, admit, classify night2
      Dedup.buildIncrementalIndex(corpus, catM, "adm_incidx")
      val st1 = Dedup.incrementalIndexed(catM, "adm_incidx", night1).persist()
      Dedup.admitToIncrementalIndex(catM, "adm_incidx", night1, st1)
      val maintained = Dedup.incrementalIndexed(catM, "adm_incidx", night2)
        .orderBy("doc_id").collect().toSeq
      // rebuild path: corpus ∪ night1's new docs, built from scratch.
      // Fixture df << cap, so no shingle crosses and drift is zero.
      val admitted = night1.join(
        st1.filter($"status" === "new").select($"doc_id"), "doc_id")
      Dedup.buildIncrementalIndex(corpus.unionByName(admitted), catR, "reb_incidx")
      val rebuilt = Dedup.incrementalIndexed(catR, "reb_incidx", night2)
        .orderBy("doc_id").collect().toSeq
      // only after `admitted`'s last consumer ran: an earlier unpersist
      // would let the lazy join recompute st1 against the index that
      // admission just mutated
      st1.unpersist()
      assert(maintained == rebuilt)
      // the exact-side invariant the no-reaggregation join relies on:
      // nt stays globally unique after admission
      val norm = catM.loadBucketed("adm_incidx_norm")
      assert(norm.count() == norm.select($"nt").distinct().count(),
        "normalized-text keys must stay unique across admissions")
    } finally {
      dropIncIndexTables("adm_incidx")
      dropIncIndexTables("reb_incidx")
    }
  }

  test("incrementalIndexed: candidate probe shuffles ONLY the delta side") {
    val corpus = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val delta = docs.filter(pmod($"doc_id", lit(2)) === 1)
    val root = tempDir("incidx_plan")
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Dedup.buildIncrementalIndex(corpus, cat, "plan_incidx")
      // force the sort-merge shape a 100 TB corpus-side join would take
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dsh = delta
        .select($"doc_id", explode(Dedup.wordShingles($"text", 3)).as("shingle"))
      val probe = dsh.join(cat.loadBucketed("plan_incidx_postings"), "shingle")
      // sparkPlan predates EnsureRequirements (no exchanges inserted yet);
      // the formatted explain shows the post-planning tree, one numbered
      // node per operator
      val p = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val exchanges = raw"\(\d+\) Exchange".r.findAllIn(p)
        .toSeq.distinct
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(exchanges.length == 1,
        s"exactly one Exchange (the delta side) expected — the bucketed " +
          s"postings layout must absorb the corpus-side shuffle:\n$p")
      assert(p.contains("Bucketed: true"),
        s"the postings scan must be a bucketed read:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      dropIncIndexTables("plan_incidx")
    }
  }

  test("autoBits: the shared corpus-sizing formula's breakpoints are pinned") {
    // occupancy target 250/bucket; floor 3 bits; strict doubling steps
    assert(Similarity.autoBits(0) == 3)
    assert(Similarity.autoBits(250) == 3)
    assert(Similarity.autoBits(2000) == 3) // log2(8) = 3 exactly
    assert(Similarity.autoBits(2001) == 4) // first corpus above the 3-bit regime
    assert(Similarity.autoBits(4000) == 4) // log2(16) = 4 exactly
    assert(Similarity.autoBits(4001) == 5)
  }

  test("embeddingAdmit auto-sizing in the >3-bit regime equals explicit bits=4") {
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    // the wide-face corpus construction: even vec_ids < 500 replicated
    // 16x with shifted ids — EXACTLY 4000 vectors, so auto picks 4 bits
    val delta = emb.filter($"vec_id" < 500 && pmod($"vec_id", lit(2)) === 1)
    val corpus = emb.filter($"vec_id" < 500 && pmod($"vec_id", lit(2)) === 0)
      .select($"vec_id", $"embedding", explode(sequence(lit(1), lit(16))).as("k"))
      .select(($"vec_id" + $"k" * 1000L).as("vec_id"), $"embedding")
    assert(corpus.count() == 4000)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val auto = Dedup.embeddingAdmit(delta, corpus, threshold = 0.45, dim = 64)
    val explicit = Dedup.embeddingAdmit(delta, corpus, threshold = 0.45,
      dim = 64, bitsPerTable = 4)
    assert(rows(auto) == rows(explicit),
      "auto-sized bits must reproduce the explicit 4-bit plan exactly")
    // and the 4-bit regime is genuinely different (smaller-candidate)
    // geometry than 3 bits — the whole point of auto-sizing is that the
    // per-bucket delta x corpus join shrinks as bits grow. Final
    // classifications can coincide (both geometries are supersets of
    // the true near set on this fixture); the candidate VOLUME cannot.
    def candidates(bits: Int): Long = {
      def bk(df: org.apache.spark.sql.DataFrame) =
        Similarity.lshBuckets(df, 64, 16, bits, 7L)
          .select($"vec_id", $"tbl", $"bucket")
      bk(delta).join(
        bk(corpus).select($"vec_id".as("c_id"), $"tbl", $"bucket"),
        Seq("tbl", "bucket")).count()
    }
    val c3 = candidates(3)
    val c4 = candidates(4)
    assert(c4 < c3,
      s"4-bit buckets must generate fewer candidates than 3-bit ($c4 vs $c3)")
  }
}
