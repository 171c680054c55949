package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** LLM-pipeline operator semantics beyond the DuckDB hash gate:
  * structural invariants and the constructed-duplicate recall checks. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("minhash: identical shingle sets produce identical signatures") {
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
      .withColumn("sh", wordShingles(split(col("text"), " "), 3))
      .withColumn("hashes", transform(col("sh"), s => portableHashMod(s)))
      .withColumn("sig", minhashSignature(col("hashes"), 16))
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(df(1L) == df(2L))
    assert(df(1L) != df(3L))
    assert(df(1L).length == 16)
  }

  test("native shingle hash set matches the HOF chain at k=2 and k=3 (q40/q24 parity)") {
    // the q40 swap (r22) runs ShingleHashSorted at width 2 — pin the
    // native pass against the reference HOF derivation on the real
    // corpus at both widths actually used (2: q40; 3: the minhash
    // family), including the short-doc empty case
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, "one"), (-2L, "a b"), (-3L, "t t t t"))
        .toDF("doc_id", "text"))
    for (k <- Seq(2, 3)) {
      val ref = d.select(col("doc_id"),
        array_sort(array_distinct(transform(
          wordShingles(split(col("text"), " "), k),
          s => portableHashMod(s)))).as("hs"))
      val native = d.select(col("doc_id"),
        graft.expressions.DedupFunctions.shingleHashSetSorted(
          split(col("text"), " "), k).as("hs"))
      val refM = ref.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val natM = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(natM == refM, s"native shingle hashes diverge at k=$k")
    }
  }

  test("wordShingles: overlapping k-grams, short docs empty") {
    val got = Seq((1, "a b c d"), (2, "a b")).toDF("id", "text")
      .select(col("id"), wordShingles(split(col("text"), " "), 3).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(got(1) == Seq("a b c", "b c d"))
    assert(got(2).isEmpty)
  }

  test("q23 exact dedup removes exactly the constructed duplicates") {
    val removed = Pipeline.q23ExactDedup(spark, sfDir)
      .agg(sum(col("n_dups_removed"))).first().getLong(0)
    val constructed = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0).count()
    assert(removed == constructed)
  }

  test("q24 near-dup recovers the constructed perturbed pairs (full recall at high J)") {
    val pairs = Pipeline.q24NearDupMinhash(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Constructed copies append 3 tokens: J ~= S/(S+3) over S distinct
    // shingles. LSH with 4 bands of 4 is probabilistic — detection is
    // near-certain only for high J (T >= 40 tokens -> J >= ~0.93 ->
    // p(miss) < 1%), while borderline-J pairs may legitimately miss
    // (identically in both engines — the oracle pins that). Assert
    // full recall on the high-J fixtures and bulk recall overall.
    val all = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), size(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val highJ = all.filter(_._2 >= 40).map { case (id, _) => (id, id + 1000000L) }.toSet
    val allPairs = all.map { case (id, _) => (id, id + 1000000L) }.toSet
    assert(highJ.nonEmpty)
    assert(highJ.subsetOf(pairs), s"missing high-J: ${highJ.diff(pairs).take(5)}")
    assert(allPairs.intersect(pairs).size >= (allPairs.size * 0.8).toInt)
  }

  test("q25 top-k: 5 ranked neighbours per query, no self-matches, cosine in [-1,1]") {
    val rows = Pipeline.q25SimilarityTopk(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      assert(rs.forall(_.getLong(2) != q))
      assert(rs.forall(r => math.abs(r.getDouble(3)) <= 1.0))
      // ranks ordered by descending cosine
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cosine serve: ties go to the smaller id, self-matches drop only where asked, at most k per query") {
    // query 0's cluster holds four members at round-4 cosine 1.0 (5's
    // tiny off-axis component rounds away) including query 0 itself;
    // query 1's holds itself, an exact twin and one 0.7071 member
    val members = Seq(
      (0L, Seq(1.0, 0.0), 1L), (3L, Seq(3.0, 0.0), 1L),
      (5L, Seq(2.0, 0.00001), 1L), (8L, Seq(1.0, 0.0), 1L),
      (7L, Seq(1.0, 1.0), 1L),
      (1L, Seq(0.0, 1.0), 2L), (9L, Seq(0.0, 1.0), 2L),
      (11L, Seq(1.0, 1.0), 2L)).toDF("vec_id", "e", "cluster")
    val queries = Seq((0L, Seq(1.0, 0.0), 1L, 0L), (1L, Seq(0.0, 1.0), 2L, 0L))
      .toDF("query_id", "qe", "cluster", "mask")
    def serve(rule: Pipeline.Candidates, k: Int): Map[Long, Seq[(Int, Long, Double)]] =
      Pipeline.cosineServe(members, queries, rule, 4, k).collect()
        .map(r => (r.getAs[Long]("query_id"),
          (r.getAs[Int]("rk"), r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sortBy(_._1).toSeq }
    // all pairs: the query's own id is out; of the tied rest the two
    // smallest ids win, across clusters
    assert(serve(Pipeline.AllPairs, 2) == Map(
      0L -> Seq((1, 3L, 1.0), (2, 5L, 1.0)),
      1L -> Seq((1, 9L, 1.0), (2, 7L, 0.7071))))
    // the lookup form of the cluster rule keeps the query's own id: it
    // wins its tie as the smallest, and members of other clusters
    // never appear
    assert(serve(Pipeline.InClusters(0, excludeSelf = false), 2) == Map(
      0L -> Seq((1, 0L, 1.0), (2, 3L, 1.0)),
      1L -> Seq((1, 1L, 1.0), (2, 9L, 1.0))))
    assert(serve(Pipeline.InClusters(0), 2) == Map(
      0L -> Seq((1, 3L, 1.0), (2, 5L, 1.0)),
      1L -> Seq((1, 9L, 1.0), (2, 11L, 0.7071))))
    // k bounds the rows per query; a smaller candidate set returns all
    // of itself, ranked 1..n
    val wide = serve(Pipeline.InClusters(0, excludeSelf = false), 4)
    assert(wide(0L).map(_._2) == Seq(0L, 3L, 5L, 8L))
    assert(wide(1L) == Seq((1, 1L, 1.0), (2, 9L, 1.0), (3, 11L, 0.7071)))
  }

  test("banked serves: after one warm call, building q85 and q86 again runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    Pipeline.q85IndexedAnn(spark, sfDir).collect()
    Pipeline.q86IndexedBm25(spark, sfDir).collect()
    val tag = s"pipeline-spec-build-${System.nanoTime()}"
    val marker = tag + "-barrier"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == marker) markerSeen = true
            else jobs.merge(g, 1, (a: Int, b: Int) => a + b)
          }
    }
    sc.addSparkListener(listener)
    try {
      def build(name: String)(f: => Unit): Unit = {
        sc.setJobGroup(s"$tag-$name", s"build $name")
        try f finally sc.clearJobGroup()
      }
      build("q85")(Pipeline.q85IndexedAnn(spark, sfDir))
      build("q86")(Pipeline.q86IndexedBm25(spark, sfDir))
      // a job from the same listener queue, started after the builds:
      // once the listener sees it, it has seen every build job
      sc.setJobGroup(marker, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerSeen, "the listener never saw the barrier job")
      for (name <- Seq("q85", "q86"))
        assert(jobs.getOrDefault(s"$tag-$name", 0) == 0,
          s"building $name ran ${jobs.get(s"$tag-$name")} Spark jobs, want 0")
    } finally sc.removeSparkListener(listener)
  }

  test("q30 embedding near-dup recovers the constructed perturbed pairs") {
    val pairs = Pipeline.q30EmbeddingNearDup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val constructed = pairs.filter { case (a, b, _) => b == a + 1000000L }
    // ±0.2% perturbation keeps cosine ~0.99999. With Hamming-1
    // multi-probe a pair is lost only if TWO hyperplane dots flip sign
    // (~1e-4 on this corpus) — recall of the constructed pairs is FULL,
    // and all recovered pairs are near-perfect cosine.
    // SEED DEPENDENCE: the equality below holds for the committed
    // testdata fixtures; a regenerated corpus (different seed) has a
    // ~1e-4 per-pair chance of a 2-plane flip. If this ever fails by
    // exactly one pair on fresh fixtures, that residual is the cause —
    // not a recall regression.
    val nBase = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 9 === 0).count()
    assert(constructed.length == nBase,
      s"multi-probe must recover every constructed pair (${constructed.length}/$nBase)")
    assert(constructed.forall(_._3 >= 0.999))
  }

  test("q30 SRP bucket bits scale with corpus size (O(1) expected occupancy)") {
    import spark.implicits._
    val bits = Seq(1L, 1000L, 556L, 2222L, 1000000L, 1L << 40).toDF("n")
      .select(col("n"), Pipeline.srpBitsCol(col("n")).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bits(1L) == 8, "floor: tiny corpora keep the minimum bit count")
    assert(bits(556L) == 8 && bits(2222L) == 10,
      "bits grow with n so occupancy stays <= 4")
    assert(bits(1000000L) == 18)
    assert(bits(1L << 40) == 32, "ceiling: capped at the 32-plane matrix")
    // invariant: 4 * 2^bits >= n wherever the cap doesn't bind
    bits.filter(_._2 < 32).foreach { case (n, b) =>
      assert(4.0 * math.pow(2, b) >= n && (b == 8 || 4.0 * math.pow(2, b - 1) < n))
    }
  }

  test("q51 semantic dedup: removed+kept partition each cluster, constructed copies are removed") {
    val rows = Pipeline.q51SemanticDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "n_docs must equal n_removed + n_kept")
    }
    // every constructed +1M near-copy has a smaller-id original with
    // cosine ~0.99999 in (almost surely) the same cluster — the total
    // removed count must cover the vast majority of them
    val nCopies = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 9 === 0).count()
    val totalRemoved = rows.map(_.getLong(2)).sum
    assert(totalRemoved >= (nCopies * 0.8).toLong,
      s"removed $totalRemoved of $nCopies constructed copies")
  }

  test("corpusScaledClusters: occupancy stays bounded as the corpus doubles") {
    // The q30 bits-scaling shape applied to the cluster family: with a
    // FIXED cluster count, doubling the corpus doubles occupancy (and
    // quadruples the cluster-scoped pair volume in q51); the corpus-
    // scaled subdivision must instead grow the cluster count and hold
    // max occupancy roughly flat. Deterministic fixture: seeded vectors,
    // one coarse centroid — subdivision does all the work.
    def corpus(n: Int) = {
      val r = new scala.util.Random(42)
      Seq.tabulate(n)(i => (i.toLong, Seq.fill(64)(r.nextDouble() * 2 - 1)))
    }
    val cent = Seq((0, Seq.fill(64)(1.0))).toDF("label", "cvec")
    def stats(n: Int): (Long, Long) = {
      val e = corpus(n).toDF("vec_id", "e")
      val (fine, release) = Pipeline.corpusScaledClustersWithRelease(e, cent, 8)
      try {
        val occ = fine.groupBy(col("cluster")).count()
        (occ.count(), occ.agg(max(col("count"))).first().getLong(0))
      } finally release()
    }
    val (k1, max1) = stats(256)
    val (k2, max2) = stats(1024)
    assert(k2 >= 3 * k1,
      s"cluster count must scale with the corpus ($k1 -> $k2)")
    assert(max2 <= max1 * 2,
      s"max occupancy must stay roughly flat at 4x corpus ($max1 -> $max2)")
    assert(max2 <= 4 * 8, s"max occupancy far above target: $max2")
  }

  test("mapSideFineClusters matches the join-based corpusScaledClusters row for row") {
    // the q51/q61/q85 single-persist build vs the join-based reference
    // form: identical membership — same composite cluster id, same
    // occupancy-derived mask, for every vector. This is the claim that
    // lets the map-side form inherit the join form's DuckDB twins.
    val e = graft.Tables.spread(graft.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val cent = Pipeline.kMeansCentroids(e)
    val viaMap = Pipeline.mapSideFineClusters(e, cent, 8)
      .select("vec_id", "cluster", "mask").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (fine, release) = Pipeline.corpusScaledClustersWithRelease(e, cent, 8)
    val viaJoin =
      try fine.select("vec_id", "cluster", "mask").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      finally release()
    assert(viaMap.keySet == viaJoin.keySet)
    viaMap.foreach { case (id, got) =>
      assert(got == viaJoin(id), s"vec $id: map-side $got vs join ${viaJoin(id)}")
    }
  }

  test("q53 k-means: k scales with the corpus, assignment total, composition with subdivision") {
    val rows = Pipeline.q53KmeansClusters(spark, sfDir).collect()
    val n = graft.Tables.embeddings(spark, sfDir).count()
    // every vector lands in exactly one cluster
    assert(rows.map(_.getLong(1)).sum == n)
    // expected-k threshold seeding: cluster count tracks ceil(n/32)
    // (hash sampling is binomial — allow wide but meaningful bounds)
    val k = math.min(64L, (n + 31) / 32)
    assert(rows.length >= (k / 2).toInt && rows.length <= (k * 2).toInt,
      s"expected ~$k clusters, got ${rows.length}")
    // centroids are unit-scale vectors of the data, not degenerate
    assert(rows.forall(r => r.getDouble(2) > 0.0))
    // the full derived-centroid SemDeDup composition: k-means centroids
    // feed the occupancy-bounded subdivision
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val (fine, release) =
      Pipeline.corpusScaledClustersWithRelease(e, Pipeline.kMeansCentroids(e), 8)
    val occ =
      try fine.groupBy(col("cluster")).count().agg(max(col("count"))).first().getLong(0)
      finally release()
    assert(occ <= 4 * 8, s"composition must bound occupancy, max was $occ")
  }

  test("q61 derived SemDeDup: partition invariant, constructed copies removed without labels") {
    val rows = Pipeline.q61DerivedSemanticDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "n_docs must equal n_removed + n_kept")
    }
    // the whole corpus (base + constructed +1M near-copies) is
    // partitioned across the derived fine clusters
    val nBase = Tables.embeddings(spark, sfDir).count()
    val nCopies = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 9 === 0).count()
    assert(rows.map(_.getLong(1)).sum == nBase + nCopies)
    // label-free composition must still catch the constructed dups:
    // same bar as q51's given-label variant
    val totalRemoved = rows.map(_.getLong(2)).sum
    assert(totalRemoved >= (nCopies * 0.8).toLong,
      s"removed $totalRemoved of $nCopies constructed copies")
  }

  test("q66 deterministic sample: k per stratum, hash-ordered, rerun-stable") {
    val rows = Pipeline.q66DeterministicSample(spark, sfDir).collect()
    val langs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(rows.length == 5 * langs, s"expected 5 per stratum, got ${rows.length}")
    // within each stratum: ranks dense 1..5, hashes non-decreasing
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5), s"$lang ranks")
      val hs = sorted.map(_.getLong(3))
      assert(hs.zip(hs.tail).forall { case (a, b) => a <= b }, s"$lang hash order")
    }
    // deterministic: a rerun (fresh plan) returns the identical sample
    val again = Pipeline.q66DeterministicSample(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q64 heavy hitters: the bounded-memory path reproduces q47's exact answer") {
    val exact = Pipeline.q47VocabTopk(spark, sfDir).collect().toSeq
    val bounded = Pipeline.q64HeavyHitters(spark, sfDir).collect().toSeq
    assert(bounded == exact,
      "Misra-Gries candidates + exact recount must be bit-identical to the full groupBy")
  }

  test("q55 quantized ANN: exact top-1 survives quantized shortlisting for every query") {
    val exact = Pipeline.q25SimilarityTopk(spark, sfDir).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Pipeline.q55QuantizedAnn(spark, sfDir).collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.keySet == exact.keySet)
    byQuery.foreach { case (q, rs) =>
      // the int8 pass may reorder near-ties inside the shortlist, but
      // the true nearest neighbour must never be pruned by it
      assert(rs.map(_.getLong(2)).contains(exact(q)),
        s"query $q lost its exact top-1 ${exact(q)}")
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q56 passage dedup: constructed exact copies make every chunk a duplicate") {
    val rows = Pipeline.q56PassageDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "instances = uniq + dups")
    }
    // every doc_id % 7 == 0 doc with >= 16 tokens re-inserts all its
    // chunks verbatim — dup chunks must at least cover those
    val minDups = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0)
      .select((size(split(col("text"), " ")) / 16).cast("long").as("c"))
      .agg(sum(col("c"))).first().getLong(0)
    assert(rows.map(_.getLong(3)).sum >= minDups,
      s"expected >= $minDups duplicate chunks")
  }

  test("q57 BM25: 10 ranked docs, monotone scores, hits actually contain a query term") {
    val rows = Pipeline.q57Bm25(spark, sfDir).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    val scores = rows.map(_.getDouble(2)).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0))
    val hitIds = rows.map(_.getLong(1)).toSet
    val withTerm = graft.Tables.documents(spark, sfDir)
      .filter(col("text").rlike("\\b(spark|join|window)\\b"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(hitIds.subsetOf(withTerm))
  }

  test("q58 unigram quality: totals cover the corpus, scores negative, outliers bounded") {
    val rows = Pipeline.q58UnigramQuality(spark, sfDir).collect()
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.documents(spark, sfDir).count())
    // log-probabilities are strictly negative; a 2-sigma cut flags a
    // small minority of each stratum
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0)
      assert(r.getLong(3) <= r.getLong(1) / 4,
        s"${r.getString(0)}: ${r.getLong(3)} of ${r.getLong(1)} flagged")
    }
  }

  test("q59 sequence packing: totals cover the corpus, crossing fraction plausible") {
    val rows = Pipeline.q59SequencePacking(spark, sfDir).collect()
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs == graft.Tables.documents(spark, sfDir).count())
    val nTok = rows.map(_.getLong(2)).sum
    val crossing = rows.map(_.getLong(3)).sum
    // each 512-token boundary lands inside at most one document, so
    // crossings are bounded by the sequence count; ~100-token docs
    // make boundary hits common but far from universal
    assert(crossing <= nTok / 512 + 1)
    assert(crossing > 0 && crossing < nDocs)
  }

  test("q59 packing report is bucket-width invariant (licenses corpus-scaling)") {
    // the two-level scan computes GLOBAL prefix sums, so the report
    // must be identical for every width — including widths that slice
    // buckets mid-document run and a width of 1 (every doc its own
    // bucket). This invariance is what lets q59 derive docsPerBucket
    // from the corpus count instead of a constant.
    import org.apache.spark.sql.functions.{col, size, split}
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tok"))
    val ref = Pipeline.packingReport(d, 100L).collect().toSeq
    for (w <- Seq(1L, 7L, 4096L)) {
      val got = Pipeline.packingReport(d, w).collect().toSeq
      assert(got == ref, s"packing report diverged at width $w")
    }
  }

  test("q54 corpus mix: deterministic, strata downsampled toward the smallest") {
    val rows = Pipeline.q54CorpusMix(spark, sfDir).collect()
    val again = Pipeline.q54CorpusMix(spark, sfDir).collect()
    assert(rows.toSeq == again.toSeq, "mix must be deterministic")
    val kept = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val sizes = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = sizes.values.min
    // the smallest stratum keeps everything (threshold = 10^6)
    val smallest = sizes.minBy(_._2)._1
    assert(kept(smallest) == nMin)
    // every stratum lands near the target size (binomial hash sampling:
    // generous ±40% tolerance holds at sf0.001's ~100-doc strata)
    kept.foreach { case (lang, nk) =>
      assert(nk <= sizes(lang))
      assert(math.abs(nk - nMin).toDouble / nMin <= 0.4,
        s"$lang kept $nk, target $nMin")
    }
  }

  test("cluster/seed assignment is layout-invariant: any partitioning yields identical results") {
    // The scaladocs promise "stable across partitionings" — pin it: the
    // same corpus through 1, 3, and 13 partitions must produce the
    // IDENTICAL fine-cluster relation and k-means seed set (hash-derived
    // decisions only, no first()/monotonically_increasing_id leakage).
    def corpus(parts: Int) = {
      val r = new scala.util.Random(7)
      val rows = Seq.tabulate(200)(i => (i.toLong, Seq.fill(64)(r.nextDouble() * 2 - 1)))
      rows.toDF("vec_id", "e").repartition(parts)
    }
    val cent = Seq((0, Seq.fill(64)(1.0)), (1, Seq.fill(64)(-0.5))).toDF("label", "cvec")
    def clusters(parts: Int) = {
      val (fine, release) = Pipeline.corpusScaledClustersWithRelease(corpus(parts), cent, 8)
      try fine.select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally release()
    }
    def centroids(parts: Int) = Pipeline.kMeansCentroids(corpus(parts))
      .select("label").collect().map(_.getLong(0)).toSet
    assert(clusters(1) == clusters(3) && clusters(3) == clusters(13))
    assert(centroids(1) == centroids(3) && centroids(3) == centroids(13))
  }

  test("q31 ranks with the bounded TopK aggregator — no WindowExec in the plan") {
    val plan = Pipeline.q31IvfAnn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "q31 must not funnel candidate lists through a per-query window sort")
  }

  test("q31 IVF probes only the query's cluster and ranks correctly") {
    val rows = Pipeline.q31IvfAnn(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q40 prefix filtering finds every constructed pair above the threshold (exact recall)") {
    val pairs = Pipeline.q40NgramJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Unlike LSH bands (probabilistic), prefix filtering guarantees
    // every pair with J >= t produces a candidate — so recall at the
    // threshold is exact, not statistical. Constructed copies append
    // 3 tokens: bigram J ~= (T-1)/(T+2) >= 0.8 whenever T >= 16 tokens
    // (margin over the exact bound T >= 13 for hash-set dedup noise).
    val expected = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 11 === 0)
      .filter(size(split(col("text"), " ")) >= 16)
      .select(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(expected.nonEmpty)
    assert(expected.subsetOf(pairs), s"missed: ${expected.diff(pairs).take(5)}")
    // and every reported pair really clears the threshold
    assert(Pipeline.q40NgramJaccard(spark, sfDir)
      .collect().forall(_.getDouble(2) >= 0.8))
  }

  test("q41 split is deterministic, complete, and roughly 80/10/10") {
    val a = Pipeline.q41StratifiedSplit(spark, sfDir).collect()
    val b = Pipeline.q41StratifiedSplit(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "split assignment must be deterministic")
    val bySplit = a.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = bySplit.values.sum
    assert(total == Tables.documents(spark, sfDir).count(), "every doc assigned")
    assert(bySplit.keySet == Set("train", "val", "test"))
    // hash buckets are uniform-ish; allow generous tolerance at sf0.001
    assert(bySplit("train").toDouble / total > 0.7)
    assert(bySplit("val").toDouble / total < 0.2)
    assert(bySplit("test").toDouble / total < 0.2)
  }

  test("simhash16 stays within 16 bits; fingerprint within [0, P)") {
    val sh = Pipeline.q28Simhash(spark, sfDir).collect()
    assert(sh.forall { r => val v = r.getLong(1); v >= 0 && v <= 0xFFFF })
    val fp = Pipeline.q29Fingerprint(spark, sfDir).collect()
    assert(fp.forall { r => val v = r.getLong(1); v >= 0 && v < P })
  }

  test("fingerprint is order-sensitive, simhash is frequency-weighted") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      fingerprint(split(col("text"), " ")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("q46 quality gate: verdicts partition the corpus and every rule fires") {
    val rows = Pipeline.q46QualityFilter(spark, sfDir).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total == Tables.documents(spark, sfDir).count())
    val verdicts = rows.map(_.getString(1)).toSet
    assert(verdicts == Set("keep", "too_short", "too_long", "low_diversity", "repetitive"),
      s"rules not all firing: $verdicts")
  }

  test("q47 vocab top-k: 20 rows, monotone counts, df bounded by occurrences") {
    val rows = Pipeline.q47VocabTopk(spark, sfDir).collect()
    assert(rows.length == 20)
    val occ = rows.map(_.getLong(1))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("q48 pii scrub: exactly the injected docs are flagged, bytes removed positive") {
    val rows = Pipeline.q48PiiScrub(spark, sfDir).collect()
    val flagged = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val injected = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 0)
      .groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    injected.foreach { case (lang, n) =>
      assert(flagged.getOrElse(lang, 0L) == n, s"$lang: ${flagged.get(lang)} vs $n")
    }
    rows.filter(r => r.getLong(2) > 0).foreach(r => assert(r.getLong(5) > 0))
  }

  test("q68 repetition: exactly the injected-boilerplate docs are flagged") {
    val rows = Pipeline.q68RepetitionFilter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per-language totals cover the corpus
    val nDocs = rows.map(_.getLong(1)).sum
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(nDocs == corpus.count())
    // flagged = exactly the doc_id % 17 == 0 injection (docs are >= 10
    // tokens, so the twice-appended 12-token prefix always pushes the
    // duplicated fraction over 0.15; the synthetic corpus itself has
    // no 15%-repetition docs)
    val injected = corpus.filter(org.apache.spark.sql.functions
      .col("doc_id") % 17 === 0).count()
    assert(rows.map(_.getLong(4)).sum == injected,
      s"flagged ${rows.map(_.getLong(4)).sum} vs injected $injected")
    // duplicated occurrences are a strict subset of occurrences and
    // the corpus-level fraction is sane
    rows.foreach { r =>
      assert(r.getLong(3) < r.getLong(2))
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) < 0.5)
    }
  }

  test("q72 CDC dedup catches the shifted copies fixed-grid chunking cannot see") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.q72CdcPassageDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val nShifted = corpus.filter(col("doc_id") % 13 === 0).count()
    val cdcDups = rows.map(_.getLong(3)).sum
    // every shifted copy shares its interior chunks with the original:
    // the duplicate count must scale with the injected copies, not
    // just be nonzero
    assert(cdcDups >= nShifted, s"cdc dups $cdcDups vs $nShifted copies")
    // the SAME shifted corpus through q56-style FIXED 16-token grid:
    // every boundary moved by the 3-token prefix, so the copies are
    // (near-)invisible — the structural gap q72 exists to close
    val d = corpus.select(col("lang"), col("doc_id"), col("text"))
    val shifted = d.select(col("lang"), col("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 0)
        .select(col("lang"),
          concat(lit("shifted copy lead "), col("text")).as("text")))
    val tk = shifted.select(col("lang"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 16)
    val fixedDups = tk.select(posexplode(transform(
        sequence(lit(1), (size(col("toks")) / 16).cast("int")),
        i => array_join(slice(col("toks"), (i - 1) * 16 + 1, lit(16)), " ")))
        .as(Seq("pos", "chunk")))
      .groupBy(col("chunk")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1)).head().getLong(0)
    assert(cdcDups > 5 * math.max(fixedDups, 1),
      s"CDC must dominate the fixed grid on shifted copies: " +
        s"cdc=$cdcDups fixed=$fixedDups")
  }

  test("q71 incremental dedup: re-crawls drop, fresh content survives, Bloom under the reference exchange") {
    val rows = Pipeline.q71IncrementalDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    import org.apache.spark.sql.functions.col
    val nFresh = corpus.filter(col("doc_id") % 10 === 3).count()
    val nRecrawl = corpus.filter(col("doc_id") % 23 === 0).count()
    assert(rows.map(_.getLong(1)).sum == nFresh + nRecrawl, "batch size")
    // every verbatim re-crawl is dropped; every salted fresh doc kept
    assert(rows.map(_.getLong(2)).sum == nFresh, "fresh docs survive")
    assert(rows.map(_.getLong(3)).sum == nRecrawl, "re-crawls drop")
    // the corpus-sized reference side must be Bloom-pruned BELOW its
    // exchange (same positional claim as q49's assertion)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = Pipeline.q71IncrementalDedup(spark, sfDir)
    df.count()
    def pruned(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => pruned(a.executedPlan)
      case s: QueryStageExec => pruned(s.plan)
      case e: ShuffleExchangeLike
        if e.children.exists(_.toString.contains("element_at")) => true
      case other => (other.children ++ other.subqueries).exists(pruned)
    }
    assert(pruned(df.queryExecution.executedPlan),
      "no exchange carries the Bloom predicate below it")
  }

  test("q70 bigram quality: totals cover the corpus, scores negative, outliers bounded") {
    val rows = Pipeline.q70BigramQuality(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == n,
      "every document (all are >= 2 tokens) must score")
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0, "mean log-probabilities are negative")
      assert(r.getLong(3) < r.getLong(1), "2-sigma outliers are a minority")
    }
    // the per-language doc counts line up with q58's (same corpus, the
    // two LM scorers cover identical documents)
    val uni = Pipeline.q58UnigramQuality(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(uni(r.getString(0)) == r.getLong(1)))
  }

  test("q49 contamination: bounded by test size and non-zero on straddling dups") {
    val rows = Pipeline.q49Contamination(spark, sfDir).collect()
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    assert(rows.map(_.getLong(2)).sum > 0,
      "constructed exact dups straddling the split must contaminate")
  }

  test("bloomMightContain admits every member (no false negatives) at any width") {
    // The primitive's exactness contract: a false POSITIVE costs a few
    // extra rows in the downstream exact join; a false NEGATIVE would
    // silently drop true matches. Every inserted key must pass, at
    // the widest and the narrowest legal filter.
    import spark.implicits._
    val keys = (0 until 2000).map(i =>
      math.abs((i * 2654435761L + 97) % 2147483647L))
    for (bits <- Seq(5, 12, 24)) {
      val pred = Pipeline.bloomMightContain(keys.toDF("k"), bits)
      val admitted = keys.toDF("k")
        .filter(pred(org.apache.spark.sql.functions.col("k"))).count()
      assert(admitted == keys.length.toLong, s"bits=$bits dropped a member")
    }
    // widths past 2^24 are a plan-literal footgun (a 2^30 filter is a
    // 256 MB array in every serialized task) — rejected at the door
    intercept[IllegalArgumentException] {
      Pipeline.bloomMightContain(keys.toDF("k"), 25)
    }
  }

  test("q49 Bloom pre-filter: false positives cannot change the answer") {
    // Drive the filter width down to 32 bits: with ~thousands of
    // distinct test grams the filter saturates (nearly every bit set),
    // so nearly every train gram is a false positive — the worst case
    // the pre-filter can produce. The exact semi-join behind it must
    // absorb all of them: the report is bit-identical to the
    // production width's.
    val exact = Pipeline.q49Contamination(spark, sfDir).collect().toSeq
    val saturated = Pipeline.contaminationReport(spark, sfDir, bloomBits = 5)
      .collect().toSeq
    assert(saturated == exact,
      s"saturated-Bloom report diverged: $saturated vs $exact")
  }

  test("q49 Bloom pre-filter sits BELOW the train-side exchange") {
    // The scale claim is positional: the corpus-side gram relation must
    // be pruned map-side, i.e. the Bloom membership predicate
    // (element_at over the word-array literal) must appear UNDER a
    // shuffle exchange in the executed plan — pruning after the
    // exchange would still ship every corpus gram. countShuffles-style
    // walk: look for an exchange whose subtree carries the predicate.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = Pipeline.q49Contamination(spark, sfDir)
    df.count()
    def hasBloomPredicate(p: SparkPlan): Boolean =
      p.toString.contains("element_at")
    def exchangesAbovePredicate(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => exchangesAbovePredicate(a.executedPlan)
      case s: QueryStageExec => exchangesAbovePredicate(s.plan)
      case e: ShuffleExchangeLike if e.children.exists(hasBloomPredicate) => true
      case other => (other.children ++ other.subqueries).exists(exchangesAbovePredicate)
    }
    assert(exchangesAbovePredicate(df.queryExecution.executedPlan),
      "no exchange found with the Bloom predicate below it — the " +
        "corpus-gram shuffle is no longer pre-filtered:\n" +
        df.queryExecution.executedPlan.toString.take(4000))
  }

  test("q50 dedup clusters: sizes >= 2, histogram consistent, chains exist") {
    val rows = Pipeline.q50DedupClusters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) >= 2, "a cluster needs at least one edge")
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1),
        "n_docs must equal cluster_size * n_clusters")
    }
    // docs divisible by 77 carry BOTH an exact and a near copy — the
    // component chains to size >= 3 through the shared original
    assert(rows.exists(_.getLong(0) >= 3), "no chained components found")
  }

  /** Count shuffles a query EXECUTES: walk the adaptive final plan, not
    * its toString — InMemoryTableScan prints the whole cached plan
    * (including the cache-fill exchanges, paid once, not per read), so
    * string-counting overstates. Reused exchanges don't re-shuffle. */
  private def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    p match {
      case _: InMemoryTableScanExec => 0
      case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
      case s: QueryStageExec => countShuffles(s.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(countShuffles).sum
      case other =>
        other.children.map(countShuffles).sum +
          other.subqueries.map(countShuffles).sum
    }
  }

  /** The cached physical plans feeding a relation's in-memory scans —
    * how the spec reaches an eagerly-materialized segment's own
    * exchanges (its outer plan is just the cache read). */
  private def findCachedPlans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => findCachedPlans(a.executedPlan)
      case s: QueryStageExec => findCachedPlans(s.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children.flatMap(findCachedPlans) ++
        other.subqueries.flatMap(findCachedPlans)
    }
  }

  /** Execute `df` (so the adaptive final plan forms) and count its
    * exchanges. */
  private def executedShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.count()
    countShuffles(df.queryExecution.executedPlan)
  }

  test("ANN family exchange accounting: the embedding queries shuffle a bounded, known number of times") {
    // The q50 zero-exchange discipline applied to the whole embedding
    // family: each query's executed plan must carry exactly the
    // exchanges its design calls for — a regression here (a lost
    // broadcast, a new repartition, an orderBy creeping into a hot
    // path) multiplies shuffled bytes at 100 TB long before it shows
    // in a small-SF wall clock. Counts are POST-CACHE: the persisted
    // index/membership fills are paid once by construction (asserted
    // by their own specs), so the numbers here are the per-query
    // marginal shuffles.
    val budgets = Map(
      // members ⋈ broadcast(q) → TopK agg pair collapses to ONE
      // exchange + the 50-row result orderBy
      "q31" -> (Pipeline.q31IvfAnn(spark, sfDir), 2),
      // the index-at-rest serve: the members side is a BUCKETED scan
      // (no exchange by layout), so the budget is identical — the
      // TopK agg exchange + the result orderBy; the build, when it
      // runs, is ingest work outside this executed plan
      "q85" -> (Pipeline.q85IndexedAnn(spark, sfDir), 2),
      // multi-probe serve over the same bucketed index: the probe
      // expansion widens only the BROADCAST query side (a Generate on
      // ≤10 rows), so the budget is exactly q85's — the candidate
      // O(occupancy × probes) bound costs zero additional exchanges
      "q118" -> (Pipeline.q118MultiProbeAnn(spark, sfDir), 2),
      // trained-coarse radius-1 serve: same annServe shape as q31 —
      // the Lloyd training runs as separate bounded collect jobs
      // BEFORE the served plan, so the serve itself stays at the TopK
      // agg exchange + the 50-row result orderBy
      "q130" -> (Pipeline.q130TrainedCoarseAnn(spark, sfDir), 2),
      // single-persist design (r11 brief #1a): the mapSideFineClusters
      // membership is the ONE resident relation (cached on the scan
      // partitioning, so both dominance sides exchange on cluster: 2)
      // + the n_docs rollup aggregate (1) + result orderBy (1). The
      // removed set's distinct/groupBy reuse the join's cluster
      // partitioning (no exchange), and the ≤|clusters|-row report
      // join broadcasts. One more small exchange than the old
      // double-persist shape, but the corpus-wide join-back on vec_id
      // is GONE and base is never resident at all
      "q51" -> (Pipeline.q51SemanticDedup(spark, sfDir), 4),
      // quantized shortlist TopK agg + shortlist join-back + exact
      // re-rank TopK agg + result orderBy
      "q55" -> (Pipeline.q55QuantizedAnn(spark, sfDir), 4),
      // q51's exact shape over derived centroids — same dominance
      // plan, same four exchanges (the driver-iterated seed/Lloyd/
      // occupancy passes are plain scans with bounded collects and run
      // at build time, before this executed plan)
      "q61" -> (Pipeline.q61DerivedSemanticDedup(spark, sfDir), 4))
    budgets.foreach { case (name, (df, expected)) =>
      val got = executedShuffles(df)
      assert(got == expected, s"$name: $got exchanges, design says $expected — " +
        "a new exchange multiplies shuffled bytes at scale; a vanished one " +
        "usually means a broadcast quietly replaced a distributed stage")
      info(s"$name executes $got exchanges")
    }
  }

  test("r10 newcomer exchange accounting: q62-q67 shuffle exactly their designed counts") {
    // The q31/q51/q55/q61 accounting pattern extended to the round-10
    // additions (VERDICT r10 §next-6). Counts are the executed
    // marginal exchanges; the design notes say where each one is.
    val budgets = Map(
      // q62/q63: decode is partition-wise AFTER the (payload-free)
      // test-layout spread of the source rows — no shuffle ever
      // carries a decoded byte; then the few-row post-decode rollup
      // (partial agg map-side: decoded features, not payloads, cross)
      // + the few-row result sort
      "q62_audio_stats" -> 3,
      "q63_video_stats" -> 3,
      // q64: two corpus passes by design (candidates, then exact
      // recount — the q60 two-pass discipline; persisting an exploded
      // corpus-sized token relation would be the 100 TB mistake), each
      // paying the test-layout spread repartition (absent on a real
      // cluster where the source arrives partitioned); + the
      // single-partition exchange of ≤ m pre-aggregated candidate
      // buffers; + the exact count-distinct pair, which exchanges ONLY
      // candidate-matching tokens (≤ m keys by construction — asserted
      // separately below). Top-20 is TakeOrdered, no sort exchange.
      "q64_heavy_hitters" -> 5,
      // q65/q67: one hash-aggregate exchange (single-pass co-moments,
      // O(1) state per group) + the 3-row result sort
      "q65_stats_moments" -> 2,
      "q67_regression" -> 2,
      // q66: test-layout spread + per-stratum bounded TopK aggregate
      // (one exchange of ≤ partitions×k rows per language) + result
      // sort of ≤ 5·|lang| rows
      "q66_deterministic_sample" -> 3,
      // q68: spread + the |lang|-row rollup (map-side partials over
      // per-row array math — no gram ever leaves its partition) +
      // result sort
      "q68_repetition_filter" -> 3,
      // q69: q63's shape — payload-free spread, sampled-decode
      // features rollup, few-row sort
      "q69_video_thumbnails" -> 3,
      // q70: the bigram-instance relation is derived three times
      // (LM counts, context counts, scoring join) but AQE reuses the
      // identical exchanges — 3 ACTUAL shuffles, not 9: the instance
      // exchange (reused by all three), the context aggregate, and
      // the result path; the ctx/lm joins land on the reused
      // partitioning
      "q70_bigram_quality" -> 3,
      // q71: post-cache marginal (the narrow batch-digest cache fill
      // pays its spread once, by construction): batch totals agg +
      // reference spread + Bloom-pruned distinct + the anti-join's
      // batch-side exchange + result sort. Was 11 before the digest
      // cache — three full batch re-derivations
      "q71_incremental_dedup" -> 5,
      // q72: the corpus union's two branches project differently
      // (plain + shifted-copy concat), so each pays its test-layout
      // spread (no AQE reuse across distinct subplans; both absent on
      // a real cluster) + the chunk-hash aggregate + the lang rollup
      // + result sort
      "q72_cdc_passage_dedup" -> 5)
    val got = budgets.keys.toSeq.sorted.map(name =>
      name -> executedShuffles(graft.SparkEntry.queries(name)(spark, sfDir)))
    val bad = got.filter { case (n, g) => g != budgets(n) }
    assert(bad.isEmpty, bad.map { case (n, g) =>
      s"$n: $g exchanges, design says ${budgets(n)}" }.mkString("; "))
    got.foreach { case (n, g) => info(s"$n executes $g exchanges") }
    // the q64 recount-side exchange bound: the semi-join's candidate
    // set (what the second exchange keys on) is the aggregator's ≤ m
    // guarantee — verify the candidate relation itself is bounded
    val m = 4096
    val nCands = Pipeline.q64HeavyHitters(spark, sfDir).count()
    assert(nCands <= 20, "q64 emits its top-20 contract")
    val rawCands = graft.Tables.spread(
        graft.Tables.documents(spark, sfDir))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("token"))
      .agg(graft.functions.HeavyHitters.candidates(m,
        org.apache.spark.sql.functions.col("token")))
      .head().getSeq[String](0)
    assert(rawCands.size <= m,
      s"Misra-Gries candidate set ${rawCands.size} exceeds m=$m")
  }

  test("q50 round join: pre-partitioned edge cache eliminates the per-round edge exchange") {
    // The propagation loop's static side is persisted
    // repartition(col("src")) — each round's join must then reuse that
    // partitioning and exchange ONLY the labels side. Broadcast is
    // disabled because at test scale the tiny labels relation would
    // broadcast and hide the exchange accounting that matters at 100 TB.
    def exchanges(sym: org.apache.spark.sql.DataFrame): Int = {
      val labels = sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      val round = sym.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
        .groupBy(col("node")).agg(min(col("label")).as("label"))
      round.collect() // force execution so the ADAPTIVE final plan forms
      countShuffles(round.queryExecution.executedPlan)
    }
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (5L, 6L), (6L, 5L))
        .toDF("src", "dst")
      val part = edges.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flat = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        part.count(); flat.count() // fill both caches
        val withPart = exchanges(part)
        val without = exchanges(flat)
        // partitioned cache: the distinct over src, the join's edge
        // side, AND the labels side (derived from the same cached
        // partitioning) all reuse hash(src) — the join plans with zero
        // exchanges and only the final aggregate shuffles; the
        // unpartitioned cache re-shuffles every one of them
        assert(withPart < without,
          s"pre-partitioned cache must save exchanges ($withPart vs $without)")
        assert(withPart == 1, s"expected only the aggregate exchange, got $withPart")
      } finally { part.unpersist(); flat.unpersist() }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("cmsFrequency: never undercounts; a narrow sketch collides and overcounts; exact side right") {
    // 2000 distinct tokens forced through a 4×64 sketch: every probe
    // shares each of its 4 buckets with ~31 other tokens (P[alone in
    // any row] ≈ e⁻³¹), so overcounts MUST appear — the behavior the
    // 31-token corpus can't exhibit at width 1024. Token i occurs
    // (i mod 7)+1 times, so the exact side is independently checkable.
    val base = spark.range(0, 2000)
      .select(concat(lit("tok"), col("id").cast("string")).as("token"),
        (col("id") % 7 + 1).as("reps"))
    val inst = base
      .select(col("token"), explode(sequence(lit(1L), col("reps"))).as("i"))
      .select("token")
    val probes = base.filter(col("id") % 17 === 0).select("token")
    val rows = Pipeline.cmsFrequency(inst, probes, width = 64L).collect()
    assert(rows.length == 118, "one answer per probe (2000/17 rounded up)")
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2),
        s"CMS undercounted ${r.getString(0)} — structurally impossible")
      val i = r.getString(0).drop(3).toLong
      assert(r.getLong(2) == i % 7 + 1, "exact recount wrong")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
    assert(rows.exists(_.getLong(3) > 0),
      "no probe overcounted — 2000 tokens in 64 buckets must collide")
  }

  test("q73 CMS frequency: every probe answered, estimate dominates the exact count") {
    val rows = Pipeline.q73CmsFrequency(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"undercount on ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
    val nProbes = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 29 === 1)
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(rows.length.toLong == nProbes, "a probe went unanswered")
  }

  test("q74 priority sample: 5 ranked rows per stratum, one tau, estimator = max(weight, tau)") {
    val rows = Pipeline.q74PrioritySample(spark, sfDir).collect()
    val nLangs = Tables.documents(spark, sfDir).select("lang").distinct().count()
    assert(rows.length.toLong == 5L * nLangs)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5), s"$lang ranks")
      assert(rs.map(_.getDouble(5)).distinct.length == 1, s"$lang must carry ONE tau")
      rs.foreach { r =>
        val w = r.getLong(3).toDouble
        val tau = r.getDouble(5)
        assert(tau > 0.0, "every stratum here has > k docs, tau must be the real rank-6 priority")
        // est_weight rounds max(w, rawTau); tau column rounds rawTau —
        // the two roundings agree to ±0.01
        assert(math.abs(r.getDouble(4) - math.max(w, tau)) < 0.011, s"$lang estimator")
      }
    }
  }

  test("priority sampling subset-sum estimator is unbiased over hash salts (DLT property)") {
    // The statistical contract behind q74, checked by independent
    // re-derivation: for ANY fixed stratum, E_u[Σ_{i∈S} max(w_i, τ)]
    // equals the true Σ w_i, with u drawn from the hash. Replicating
    // over 64 salts averages 64 independent realizations — the mean
    // must land near the truth (tolerance = 4× the ~6% expected
    // standard error at k=5, n=193, this weight spread).
    val en = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = en.map(_._2).sum.toDouble
    val k = 5
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ests = (0 until 64).map { salt =>
      val pri = en.map { case (id, w) =>
        (w, w.toDouble * 1.152921504606846976e18 / (h60(s"prio$salt:$id") + 1).toDouble)
      }.sortBy(-_._2)
      val tau = pri(k)._2
      pri.take(k).map { case (w, _) => math.max(w.toDouble, tau) }.sum
    }
    val mean = ests.sum / ests.length
    assert(math.abs(mean - truth) / truth < 0.25,
      s"mean estimate $mean vs truth $truth: priority-sampling unbiasedness violated")
  }

  test("q75 classifier: plan-literal model agrees with an independent local re-derivation") {
    val rows = Pipeline.q75ClassifierFilter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // score every document in plain Scala (MessageDigest directly — no
    // Spark expressions, no shared helper code paths)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val corpus = Tables.documents(spark, sfDir)
      .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1)))
    val expected = corpus.groupBy(_._1).map { case (lang, ds) =>
      val perDoc = ds.map { case (_, text) =>
        val t = text.split(" ", -1).toSeq
        val feats = t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
        val score = feats.map(f =>
          Pipeline.classifierWeights((h60("f:" + f) % 4096).toInt)).sum
        (score, feats.size.toLong)
      }
      lang -> ((perDoc.length.toLong, perDoc.count(_._1 >= 0).toLong,
        perDoc.map(_._1).sum, perDoc.map(_._2).sum))
    }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (nDocs, nKept, sumScore, nFeats) = expected(r.getString(0))
      assert(r.getLong(1) == nDocs, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == nKept, s"${r.getString(0)} n_kept")
      assert(r.getLong(3) == sumScore, s"${r.getString(0)} sum_score")
      assert(math.abs(r.getDouble(4) - sumScore.toDouble / nFeats) < 1e-6)
    }
    // the gate must actually cut: at weight range [-100,100] roughly
    // half the corpus scores negative — all-kept/none-kept would mean
    // the scorer is degenerate
    val (tot, kept) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    assert(kept > 0 && kept < tot, s"degenerate gate: $kept of $tot kept")
  }

  test("q79 source quota: per-source top-k matches a local sort, quota is enforced") {
    val k = 5
    val rows = Pipeline.q79SourceQuota(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val scoredDocs = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "text").collect().map { r =>
        val t = r.getString(2).split(" ", -1).toSeq
        val feats = t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
        (r.getString(0), r.getLong(1),
          feats.map(f => Pipeline.classifierWeights((h60("f:" + f) % 4096).toInt)).sum)
      }
    val expected = scoredDocs.groupBy(_._1).view.mapValues(ds =>
      ds.sortBy { case (_, id, s) => (-s, id) }.take(k)
        .map { case (_, id, s) => (id, s) }.toSeq).toMap
    val got = rows.groupBy(_.getString(0)).view.mapValues(rs =>
      rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, want) =>
      assert(got(src) == want, s"$src: ${got(src)} vs $want")
      assert(got(src).size <= k)
    }
  }

  test("q81 pagerank: fixed-point iterations match an exact local replay, hubs rank first") {
    val rows = Pipeline.q81PageRank(spark, sfDir).collect()
    assert(rows.length == 20)
    // exact integer replay in plain Scala
    val pairs = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ab = li.flatMap { case (ok, sk) =>
      pairs.get(ok).map(ck => (ck * 2, sk * 2 + 1)) }.distinct
    val edges = ab ++ ab.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 6) {
      val in = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (src, dst) =>
        in(dst) = in.getOrElse(dst, 0L) + r(src) / deg(src) }
      r = in.map { case (n, s) => n -> (150000L + 85L * s / 100L) }.toMap
    }
    val want = r.toSeq.sortBy { case (n, rk) => (-rk, n) }.take(20)
    val got = rows.map(x => (x.getLong(0), x.getLong(1)))
    assert(got.toSeq == want, s"top-20 mismatch:\n got $got\n want $want")
    rows.foreach(x => assert(x.getBoolean(2) == (x.getLong(0) % 2 == 1)))
    // suppliers aggregate whole customer neighborhoods: the top of the
    // ranking must actually contain supplier nodes (hub structure)
    assert(rows.take(5).exists(_.getBoolean(2)), "no supplier in top 5")
  }

  test("q81 exchange accounting: iterations are exchange-FREE, lineage bounded at one") {
    val (top, mids, release) = Pipeline.pageRankReport(spark, sfDir)
    try {
      top.count()
      // POST-CACHE (r14 broadcast-rank design): an iteration pays ZERO
      // exchanges — the tiny rank relation is broadcast into the
      // dst-partitioned edge cache, the broadcast join preserves that
      // partitioning, and the groupBy(dst) aggregation is therefore
      // already clustered. Every executed iteration materializes
      // eagerly (the cache fill doubles as the convergence probe), so
      // lineage is bounded at ONE iteration per segment. More than
      // zero exchanges in any segment means the edge cache lost its
      // dst partitioning or a broadcast silently degraded to a
      // shuffle join — both scale regressions this test exists to
      // catch.
      assert(mids.nonEmpty && mids.size <= 6,
        s"expected 1..6 executed iterations, got ${mids.size}")
      // each mid is the PRE-checkpoint iteration plan: re-executing it
      // reads the edge cache + the previous round's checkpoint leaf,
      // so its executed plan IS the segment
      mids.foreach { m =>
        m.write.format("noop").mode("overwrite").save()
        assert(findCachedPlans(m.queryExecution.executedPlan).nonEmpty,
          "iteration is not reading the edge cache")
        val got = countShuffles(m.queryExecution.executedPlan)
        assert(got == 0, s"iteration segment: $got exchanges, design says 0")
      }
      // final top-20: TakeOrdered over the last round's checkpoint
      val got = countShuffles(top.queryExecution.executedPlan)
      assert(got == 0,
        s"q81 final segment: $got exchanges, design says 0 (TakeOrdered on checkpoint)")
      // early exit is only legal at the exact integer fixed point: if
      // fewer than 6 iterations ran, the last one must be a no-op
      if (mids.size < 6) {
        val last = mids.last.select("node", "r", "r0").collect()
        assert(last.forall(r => r.getLong(1) == r.getLong(2)),
          "early exit without an exact fixed point")
      }
    } finally release()
  }

  test("q80 random projection: per-vector distortion matches a local projection, JL mean holds") {
    val rows = Pipeline.q80RandomProjection(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // local re-projection in plain Scala over the raw vectors
    val vecs = Tables.embeddings(spark, sfDir).select("label", "embedding")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val ratios = vecs.map { case (label, x) =>
      val xd = x.map(_.toDouble)
      val y = (0 until 16).map { j =>
        0.25 * xd.indices.foldLeft(0.0)((acc, i) =>
          acc + xd(i) * Pipeline.rpSigns(j)(i))
      }
      val xn2 = xd.foldLeft(0.0)((a, v) => a + v * v)
      (label, y.foldLeft(0.0)((a, v) => a + v * v) / xn2)
    }.filter(!_._2.isNaN)
    val byLabel = ratios.groupBy(_._1)
    assert(rows.length == byLabel.size)
    rows.foreach { r =>
      val rs = byLabel(r.getInt(0)).map(_._2)
      assert(r.getLong(1) == rs.length, s"label ${r.getInt(0)} n_vecs")
      assert(math.abs(r.getDouble(2) -
        math.rint(rs.sum / rs.length * 1e6) / 1e6) < 1e-6)
      assert(r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4))
      val inBand = rs.count(v => v >= 0.5 && v <= 1.5).toLong
      assert(r.getLong(5) == inBand, s"label ${r.getInt(0)} in-band")
    }
    // the JL expected-isometry: corpus-wide mean distortion near 1
    val mean = ratios.map(_._2).sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.1, s"mean distortion $mean far from 1")
  }

  test("q76 duplicate spans: interval union agrees with a brute-force local re-derivation") {
    val rows = Pipeline.q76DuplicateSpans(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute force in plain Scala on gram STRINGS (no hashing at all —
    // agreement also certifies the 60-bit digest introduced no
    // spurious duplicate marks at this corpus size)
    val k = 8
    val boiler = "all rights reserved see our terms of service and privacy policy today"
    val base = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .map { case (id, lang, t) =>
        (id, lang, if (id % 5 == 0) s"$t $boiler" else t) }
    val corpus = base ++ base.filter(_._1 % 13 == 0)
      .map { case (id, lang, t) => (id + 2000000L, lang, t) }
    def grams(t: Array[String]): Seq[(Int, String)] =
      if (t.length < k) Seq.empty
      else t.sliding(k).zipWithIndex.map { case (g, i) => (i, g.mkString(" ")) }.toSeq
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    val docGrams = corpus.map { case (id, lang, t) =>
      val gs = grams(t.split(" ", -1))
      gs.foreach { case (_, g) => counts(g) = counts.getOrElse(g, 0) + 1 }
      (id, lang, t.split(" ", -1).length.toLong, gs)
    }
    val perDoc = docGrams.map { case (id, lang, nTok, gs) =>
      val marked = gs.filter { case (_, g) => counts(g) > 1 }.map(_._1).sorted
      var (covered, spans, end) = (0L, 0L, -1)
      marked.foreach { p =>
        if (p >= end) spans += 1
        covered += (p + k) - math.max(p, end); end = p + k
      }
      (id, lang, nTok, covered, spans)
    }
    val expected = perDoc.groupBy(_._2).map { case (lang, ds) =>
      val dup = ds.filter(_._4 > 0)
      lang -> ((ds.length.toLong, dup.length.toLong, dup.map(_._5).sum,
        dup.map(_._4).sum, ds.map(_._3).sum))
    }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (nDocs, nDupDocs, nSpans, dupTokens, nTokens) = expected(r.getString(0))
      assert(r.getLong(1) == nDocs, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == nDupDocs, s"${r.getString(0)} n_dup_docs")
      assert(r.getLong(3) == nSpans, s"${r.getString(0)} n_spans")
      assert(r.getLong(4) == dupTokens, s"${r.getString(0)} dup_tokens")
      assert(r.getLong(5) == nTokens, s"${r.getString(0)} n_tokens")
      assert(math.abs(r.getDouble(6) -
        math.rint(dupTokens.toDouble / nTokens * 1e6) / 1e6) < 1e-9)
    }
    // the constructed duplication is really found: every fifth doc
    // carries the boilerplate span, every thirteenth a whole-doc copy
    val (tot, dup) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    assert(dup > tot / 5, s"only $dup of $tot docs carry a found span")
  }

  test("q76 exchange accounting: the live span plan shuffles exactly its designed count") {
    // counted on the LIVE plan (duplicateSpansReport) — the public
    // query snapshots ≤ |lang| rows into a local relation (q60's
    // bounded-collect discipline), which would hide the real work
    val (out, release) = Pipeline.duplicateSpansReport(spark, sfDir)
    try {
      out.count()
      val got = countShuffles(out.queryExecution.executedPlan)
      // POST-CACHE (the gram cache's fill, including its two spreads,
      // is paid once by construction): the totals branch's two
      // test-layout spreads (absent on a real cluster) + the
      // gram-digest count partition + the per-document island sort +
      // the ≤|lang| rollup pair (totals and perLang, behind the
      // broadcast left join) + the result sort = 7. The mark join
      // itself adds NOTHING here: AQE broadcasts the >1-digest side at
      // this SF (at corpus scale it grows and the planner flips to a
      // shuffled join on h — the positions side then re-uses the
      // digest partitioning; either physical pick is the right one
      // for its size, which is the point of leaving it to AQE)
      assert(got == 7, s"q76 live plan: $got exchanges, design says 7")
    } finally release()
  }

  test("r11 late-newcomer exchange accounting: q73/q74 shuffle exactly their designed counts") {
    val budgets = Map(
      // q73: three test-layout spreads (sketch corpus pass, recount
      // corpus pass, probe derivation — distinct subplans, no AQE
      // reuse; all absent on a real cluster) + the 4096-key sketch
      // aggregate + the probe distinct + the probe-bounded exact
      // recount + result sort. The estimate side adds NOTHING: it
      // derives from the recount output (already partitioned on
      // token) and the sketch rides a broadcast
      "q73_cms_frequency" -> 7,
      // q74: q66's shape + the weight join-back — two test-layout
      // spreads (the priority pass and the join-back's corpus side
      // prune to different columns, so the subplans differ; both
      // absent on a real cluster) + the per-stratum bounded TopK
      // aggregate + the ≤ 5·|lang|-row result sort. The join-back
      // broadcasts the SAMPLE, so the corpus side never shuffles —
      // at 100 TB the second pass is a map-side scan, not an exchange
      "q74_priority_sample" -> 4,
      // q75: the test-layout spread + the ≤|lang|-row rollup exchange
      // + the result sort — the model rides the plan as a literal, so
      // scoring adds NO exchange (the q26/q46/q68 single-scan shape)
      "q75_classifier_filter" -> 3,
      // q77: ONE events scan — the user_id window partition + the
      // 1-row global rollup; the 3-row explode/sort adds nothing.
      // (The naive per-stage filter-aggregate-join form measured 10:
      // three corpus scans and re-exchanges per stage)
      "q77_funnel" -> 2,
      // q78: ONE events scan — the user_id window partition + the
      // (cohort, offset, user) distinct spread + the (cohort, offset)
      // count + the result range sort; cohort sizes read back from
      // the triangle's own offset-0 rows, NOT a second corpus pass
      "q78_cohort_retention" -> 4,
      // q79: the test-layout spread + the bounded-TopK source
      // exchange (≤ partitions × k rows per source — no WindowExec)
      // + the |source|·k-row result sort
      "q79_source_quota" -> 3,
      // q80: the test-layout spread + the ≤|label|-row rollup + the
      // result sort — the projection matrix is a plan literal, so
      // the 16×64 map adds NO exchange (the q75 single-scan shape)
      "q80_random_projection" -> 3,
      // q82: the value-range-bounded bucket rollup + the shared
      // single-partition exchange serving the ≤ dozen-row global
      // window and the result sort — the scan itself adds nothing
      "q82_histogram" -> 2,
      // q83: the order-key basket rollup + the pair-count exchange
      // (in-row pair expansion adds nothing; top-20 is TakeOrdered)
      "q83_cooccurrence" -> 2,
      // q87: the clean-vocabulary distinct + the ≤|vocab|·2-row
      // result aggregate + its sort — the dirty side and the
      // levenshtein verify are entirely map-side against the
      // broadcast vocabulary
      "q87_fuzzy_join" -> 3,
      // q88 (post-cache, support resident; threshold inlined as a
      // one-row snapshot so edge re-derivations add NOTHING): the
      // degree rollup under each broadcast branch, the wedge-join
      // pair, the participation aggregate and the result sort
      "q88_triangles" -> 6,
      // q89: two median aggregates + the outlier-count aggregate +
      // the result sort + the broadcast subquery stage — event rows
      // only ever shuffle by the scan's own partitioning
      "q89_robust_outliers" -> 5,
      // q90: the per-user window sort, the ≤|types|²-key count, the
      // bounded-relation normalizer window, the result sort
      "q90_transition_matrix" -> 4,
      // q91: the two-distinct expand aggregation pair over digests +
      // the result sort (document text never shuffles — digests do)
      "q91_normalized_dedup" -> 6,
      // q92: ONE user-key exchange shared by window and aggregate
      // (the co-partitioning design point) + the result sort
      "q92_twap" -> 2,
      // q93: the distinct (order, supplier) relation re-derives for
      // each of its three consumers (3 exchanges — it is
      // lineitem-sized, so rescanning beats caching at scale, the
      // q58 instance-relation rationale) + order-total distinct and
      // its one-row aggregate + singles/basket/pair rollups; the
      // rule scoring joins are all broadcast and top-20 is
      // TakeOrdered — neither adds an exchange
      "q93_association_rules" -> 8,
      // q94: the expand-planned multi-distinct aggregate pair (one
      // SCAN, expansion is in-memory row replication) — the
      // six-column profile costs two exchanges of partial states
      // and nothing else; stack and the ≤6-row sort ride the final
      // aggregate's single partition
      "q94_profile" -> 2,
      // q95: the user-key collect exchange + the result sort — the
      // EWMA fold itself is an in-row scan over each user's own
      // history, never a shuffle
      "q95_ewma" -> 2,
      // q96: the per-type window partitioning (all three rank
      // functions share its one sort) + the result sort
      "q96_rank_distribution" -> 2)
    val got = budgets.keys.toSeq.sorted.map(name =>
      name -> executedShuffles(graft.SparkEntry.queries(name)(spark, sfDir)))
    val bad = got.filter { case (n, g) => g != budgets(n) }
    assert(bad.isEmpty, bad.map { case (n, g) =>
      s"$n: $g exchanges, design says ${budgets(n)}" }.mkString("; "))
    got.foreach { case (n, g) => info(s"$n executes $g exchanges") }
  }

  /** Unit-cost Levenshtein, the classic DP — the spec's independent
    * referee for q87 (both engines ship their own native form). */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("q87 fuzzy join: first-token blocking loses no pair vs brute-force all-pairs") {
    val rows = Pipeline.q87FuzzyJoin(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val names = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_name"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val clean = names.map(_._2).distinct
    def corrupt(k: Long, n: String): String = (k % 3) match {
      case 0 => n.dropRight(1)
      case 1 => n + "x"
      case _ => n
    }
    // brute force: EVERY (dirty, clean) pair, no blocking at all —
    // the engine's dual-token blocking must lose nothing against it
    val brute = for {
      (k, n) <- names.toSeq
      dirty = corrupt(k, n)
      cand <- clean
      d = lev(dirty, cand) if d <= 1
    } yield (cand, d)
    val local = brute.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = rows.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == local, s"engine $got\nlocal $local")
    // the feed really contains corrupted rows (d=1 matches exist),
    // including CROSS-FIRST-TOKEN matches that single-key blocking
    // would have lost (cold rod -> old rod)
    assert(rows.exists(_.getInt(1) == 1))
  }

  test("fuzzyMatchDual: space merge/split edits match, multi-shared-block pairs emit exactly once") {
    import spark.implicits._
    // "coldrod" <-> "cold rod" are d = 1 via a space insert/delete:
    // they share NO token, only the space-stripped block (the ADVICE
    // r12 miss). "cold rod x" vs "cold rod y" share BOTH tokens at
    // d = 1 — the pair every block emits, which the priority rule must
    // collapse to exactly one output row (multiset compare catches
    // double emission, not just loss).
    val vocab = Seq("cold rod", "coldrod", "cold rod y", "cold rod x",
      "alpha beta").toDF("name")
    val recs = Seq("cold rod", "coldrod", "cold rod x", "cold  rod", "zzz")
    val got = Pipeline.fuzzyMatchDual(recs.toDF("r"), "r", vocab, "name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val brute = (for {
      r <- recs
      c <- Seq("cold rod", "coldrod", "cold rod y", "cold rod x", "alpha beta")
      d = lev(r, c) if d <= 1
    } yield (r, c, d)).groupBy(identity).view.mapValues(_.size).toMap
    assert(got == brute, s"engine $got\nbrute $brute")
    // the new recall really fired: the token-merge pair is present
    assert(got.contains(("coldrod", "cold rod", 1)))
    assert(got.contains(("cold rod", "coldrod", 1)))
  }

  /** q91's canonicalization, replayed in plain Scala. */
  private def canonical(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim

  test("q91 normalized dedup: counts match a local canonicalization replay, variants collapse") {
    val rows = Pipeline.q91NormalizedDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val corpus = base.map { case (_, l, t) => (l, t) } ++
      base.collect { case (id, l, t) if id % 7 == 0 => (l, t) } ++
      base.collect { case (id, l, t) if id % 13 == 0 =>
        (l, t.toUpperCase.replace(" ", "  ") + " !!")
      }
    val byLang = corpus.groupBy(_._1)
    rows.foreach { r =>
      val docs = byLang(r.getString(0)).map(_._2)
      assert(r.getLong(1) == docs.size)
      assert(r.getLong(2) == docs.distinct.size)
      assert(r.getLong(3) == docs.map(canonical).distinct.size)
      assert(r.getLong(4) == docs.distinct.size - docs.map(canonical).distinct.size)
    }
    // the variant feed is present and the canonical digest collapses it:
    // normalization must find MORE than byte-exact dedup somewhere
    assert(rows.map(_.getLong(4)).sum > 0,
      "canonicalization collapsed nothing — the variant feed is dead")
  }

  // ------------------------------------------------- q100 BPE merges

  /** Reference greedy left-to-right merge — the semantics
    * [[Pipeline.bpeMergePass]] must implement. */
  private def greedyMerge(toks: Seq[String], l: String, r: String): Seq[String] =
    toks.drop(1).foldLeft(toks.take(1).toVector) { (acc, x) =>
      if (acc.nonEmpty && acc.last == l && x == r)
        acc.init :+ (l + " " + r)
      else acc :+ x
    }

  test("bpeMergePass: greedy left-to-right, self-pair runs merge floor(k/2)") {
    val cases = Seq(
      ("a a a a a", "a", "a", Seq("a a", "a a", "a")), // run of 5 → 2 merges
      ("a a a a", "a", "a", Seq("a a", "a a")),
      ("x a b a b y", "a", "b", Seq("x", "a b", "a b", "y")),
      ("a b", "a", "b", Seq("a b")),
      ("b a", "a", "b", Seq("b", "a")), // order matters
      ("solo", "a", "b", Seq("solo"))) // <2 tokens untouched
    for ((text, l, r, want) <- cases) {
      val got = Seq(text).toDF("text")
        .select(Pipeline.bpeMergePass(split(col("text"), " "), l, r).as("t"))
        .collect()(0).getSeq[String](0)
      assert(got == want, s"merge($l,$r) on '$text'")
      assert(got == greedyMerge(text.split(" ").toSeq, l, r))
    }
  }

  test("q100: three learned merges match a driver-side simulation exactly") {
    val got = Pipeline.q100BpeMerges(spark, sfDir).collect()
    assert(got.length == Pipeline.BpeMergeRounds)
    // simulate the whole learn loop in plain Scala on the same corpus
    var corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0).split(" ").toSeq)
    for ((row, it) <- got.zipWithIndex) {
      assert(row.getInt(0) == it + 1)
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for (t <- corpus; i <- 0 until t.length - 1)
        counts((t(i), t(i + 1))) = counts.getOrElse((t(i), t(i + 1)), 0L) + 1
      val (bl, br) = counts.toSeq
        .map { case ((l, r), n) => (-n, l, r) }.min match {
          case (_, l, r) => (l, r)
        }
      val bn = counts((bl, br))
      assert((row.getString(1), row.getString(2), row.getLong(3)) == ((bl, br, bn)),
        s"round ${it + 1} picked the wrong merge")
      corpus = corpus.map(t => greedyMerge(t, bl, br))
      assert(row.getLong(4) == corpus.map(_.length.toLong).sum,
        s"round ${it + 1} tokens_after")
    }
    // monotone: token totals strictly decrease while merges apply
    val totals = got.map(_.getLong(4))
    assert(totals.zip(totals.drop(1)).forall { case (a, b) => b < a })
  }

  test("batched BPE: a disjoint batch in one pass equals sequential rounds, any order") {
    val docs = Seq(
      (1L, "a b c d a b e f"),
      (2L, "e f e f c d"),
      (3L, "a b a b a b"),
      (4L, "solo"),
      (5L, "c d c a b d")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val batch = Seq(("a", "b"), ("c", "d"), ("e", "f"))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val onePass = rows(docs.select(col("doc_id"),
      Pipeline.bpeApplyMerges(col("toks"), batch).as("toks")))
    // sequential corpus rounds, original order
    val seqRounds = rows(batch.foldLeft(docs) { case (d, (l, r)) =>
      d.select(col("doc_id"), Pipeline.bpeMergePass(col("toks"), l, r).as("toks"))
    })
    assert(onePass == seqRounds)
    // any permutation of the disjoint batch rewrites identically
    batch.permutations.foreach { p =>
      assert(rows(docs.select(col("doc_id"),
        Pipeline.bpeApplyMerges(col("toks"), p).as("toks"))) == onePass,
        s"order $p diverged")
    }
    // and the driver-side reference agrees
    val ref = Map(
      1L -> Seq("a b", "c d", "a b", "e f"),
      2L -> Seq("e f", "e f", "c d"),
      3L -> Seq("a b", "a b", "a b"),
      4L -> Seq("solo"),
      5L -> Seq("c d", "c", "a b", "d"))
    assert(onePass == ref)
  }

  test("q104: fertility reconciles with q100's final round and the raw corpus") {
    val merges = Pipeline.q100BpeMerges(spark, sfDir).collect()
    val fert = Pipeline.q104TokenizerFertility(spark, sfDir).collect()
    // after-totals across languages = the learn loop's final count
    assert(fert.map(_.getLong(3)).sum ==
      merges.maxBy(_.getInt(0)).getLong(4))
    // before-totals = the raw corpus, untouched by the loop
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .collect()(0).getLong(0)
    assert(fert.map(_.getLong(2)).sum == raw)
    // merges only ever shrink: compression ≥ 1 everywhere, > 1 somewhere
    fert.foreach(r => assert(r.getDouble(4) >= 1.0, r.toString))
    assert(fert.exists(_.getDouble(4) > 1.0))
  }

  // -------------------------------------------------- q101 PQ ADC ANN

  test("q101: shape, rank order, and exact-recall flags are coherent") {
    val rows = Pipeline.q101PqAnn(spark, sfDir).collect()
    val qids = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 97 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(qids.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == qids, "every query reports, none invented")
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5), s"q$q ranks")
      // ADC distance non-decreasing in rank; ties impossible to invert
      val d = sorted.map(_.getLong(3))
      assert(d.zip(d.drop(1)).forall { case (a, b) => a <= b }, s"q$q order")
      // self never reported
      assert(!rs.exists(_.getLong(2) == q), s"q$q self-match")
    }
    // ADC must carry real signal: across all queries, the quantized
    // top-5 recovers at least one member of the exact top-5
    assert(rows.count(_.getBoolean(4)) > 0, "zero recall — ADC is noise")
  }

  // ------------------------------------------- q102 source dup matrix

  test("q102: diagonal cells, every expected mirrored-feed cell, exact mass") {
    val rows = Pipeline.q102SourceDupMatrix(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val diag = rows.filter(r => r.getString(0) == r.getString(1))
    val off = rows.filter(r => r.getString(0) != r.getString(1))
    // %7 same-source re-crawls must surface on the diagonal,
    // %19 next-source mirrors off it
    assert(diag.nonEmpty, "no same-source duplicate cells")
    assert(off.nonEmpty, "no cross-source duplicate cells")
    // every %19 mirror is an EXACT text copy into the next source in
    // rank order, so each source holding a %19 doc must surface its
    // rotation cell (organic cross-source near-dups may add others)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ranked = base.map(_._2).distinct.sorted
    val next = ranked.zip(ranked.drop(1) :+ ranked.head).toMap
    val expected = base.filter(_._1 % 19 == 0).map(_._2).distinct
      .map(s => (Seq(s, next(s)).min, Seq(s, next(s)).max)).toSet
    val cells = rows.map(r => (r.getString(0), r.getString(1))).toSet
    for (c <- expected)
      assert(cells(c), s"missing rotation cell $c")
    // exact integer mass: avg = sum/1e4/n at 6 decimals, and every
    // verified pair clears the 0.5 jaccard cut
    for (r <- rows) {
      val (n, s4, avg) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(n > 0 && s4 >= n * 5000, s"cell below the jaccard cut: $r")
      assert(math.abs(avg - BigDecimal(s4 / 10000.0 / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
  }
  // ------------------------------------------------ q106 snapshot diff

  test("q106: classification reconciles with the mutation rules exactly") {
    val rows = Pipeline.q106SnapshotDiff(spark, sfDir).collect()
    // per-language identities of a full-outer diff
    rows.foreach { r =>
      val (v1, v2, add, rem, mod, same) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(v1 == rem + mod + same, r.toString)
      assert(v2 == add + mod + same, r.toString)
    }
    // totals recomputed from the mutation rules on the raw corpus
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.map(_.getLong(1)).sum == ids.length.toLong)
    assert(rows.map(_.getLong(3)).sum == ids.count(_ % 11 == 0).toLong,
      "added = the re-keyed %11 copies")
    assert(rows.map(_.getLong(4)).sum == ids.count(_ % 13 == 0).toLong,
      "removed = the dropped %13 ids")
    assert(rows.map(_.getLong(5)).sum ==
      ids.count(i => i % 7 == 0 && i % 13 != 0).toLong,
      "modified = revised %7 ids that were not dropped")
    assert(rows.map(_.getLong(6)).sum ==
      ids.count(i => i % 7 != 0 && i % 13 != 0).toLong,
      "unchanged = everything else")
  }
  // -------------------------------------------------- q107 IVF-PQ

  test("q107: every hit shares its query's fine cluster; ranks coherent") {
    val rows = Pipeline.q107IvfPqAnn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // rebuild the membership the query composed over
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val cluster = Pipeline.mapSideFineClusters(e,
        Pipeline.labelCentroids(spark, sfDir), Pipeline.ClusterTargetOccupancy)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byQ = rows.groupBy(_.getLong(0))
    for ((q, rs) <- byQ) {
      assert(q < 10, s"unexpected query $q")
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length), s"q$q ranks")
      assert(sorted.length <= 5)
      val d = sorted.map(_.getLong(3))
      assert(d.zip(d.drop(1)).forall { case (a, b) => a <= b }, s"q$q order")
      rs.foreach { r =>
        assert(r.getLong(2) != q, s"q$q self-match")
        assert(cluster(r.getLong(2)) == cluster(q),
          s"q$q hit ${r.getLong(2)} escaped the coarse stage")
      }
    }
    // the PQ ranking must retain exact-candidate signal
    assert(rows.count(_.getBoolean(4)) > 0, "zero within-cluster recall")
  }
  test("bpe learn loop ends early on a pair-free corpus instead of throwing") {
    val base = Seq((1L, Seq("solo")), (2L, Seq("x"))).toDF("doc_id", "toks")
    val (rounds, _, release) = Pipeline.bpeLearnRounds(base)
    release()
    assert(rounds.isEmpty, "no adjacent pair exists - nothing to learn")
  }

  test("pqSeeds refuses an empty corpus rather than minting null codes") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "e")
    intercept[IllegalArgumentException] { Pipeline.pqSeeds(empty) }
  }

  test("pq Lloyd training reduces quantization error and never grows it per round") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    def totalQerr(seeds: Seq[(Long, Seq[Double])]): Long =
      Pipeline.pqCodes(e, seeds).agg(sum(col("qerr_micro")))
        .collect()(0).getLong(0)
    val seeded = Pipeline.pqHashSeeds(e)
    val trained = Pipeline.pqSeeds(e)
    // structure preserved: same labels, same order, same dims
    assert(trained.map(_._1) == seeded.map(_._1))
    assert(trained.forall(_._2.length == seeded.head._2.length))
    // training must strictly beat the raw seeds on the corpus it
    // trained on (this is the entire point of VERDICT r13 §next-3)
    val e0 = totalQerr(seeded)
    val eT = totalQerr(trained)
    assert(eT < e0, s"trained qerr $eT !< seeded qerr $e0")
    // Lloyd monotonicity (mod the 6-decimal rounding): one more round
    // never makes it materially worse — guard against an assignment /
    // update mismatch that would oscillate
    val eT1 = totalQerr(Pipeline.pqLloydRound(e, trained))
    assert(eT1 <= eT + (eT / 100),
      s"extra round grew qerr $eT -> $eT1 (>1%): assignment/update mismatch")
  }
  test("q109: residual hits stay in their query's cluster; encoding differs from q107") {
    val rows = Pipeline.q109IvfPqResidual(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val cluster = Pipeline.mapSideFineClusters(e,
        Pipeline.labelCentroids(spark, sfDir), Pipeline.ClusterTargetOccupancy)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((q, rs) <- rows.groupBy(_.getLong(0))) {
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length), s"q$q ranks")
      val d = sorted.map(_.getLong(3))
      assert(d.zip(d.drop(1)).forall { case (a, b) => a <= b }, s"q$q order")
      rs.foreach { r =>
        assert(r.getLong(2) != q)
        assert(cluster(r.getLong(2)) == cluster(q),
          s"q$q hit ${r.getLong(2)} escaped the coarse stage")
      }
    }
    assert(rows.count(_.getBoolean(4)) > 0, "zero within-cluster recall")
    // the residual basis must actually change the quantization: same
    // candidate spaces, different ADC geometry
    val raw = Pipeline.q107IvfPqAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val res = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(raw != res, "residual encoding collapsed onto the raw encoding")
  }
  test("q110: yield curve reconciles with the corpus arithmetic") {
    val rows = Pipeline.q110DedupYield(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0 until 5))
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    // doc totals: base corpus + the %7 re-crawls, split by id mod 5
    val allIds = ids ++ ids.filter(_ % 7 == 0).map(_ + 1000000L)
    for ((b, n, nn, dup, y) <- rows) {
      assert(n == allIds.count(_ % 5 == b).toLong, s"batch $b count")
      assert(n == nn + dup, s"batch $b partition")
      assert(math.abs(y - nn.toDouble / n) < 1e-6)
    }
    // every re-crawled copy is a duplicate SOMEWHERE (its digest's
    // first batch claims the original or the copy, never both)
    assert(rows.map(_._4).sum == ids.count(_ % 7 == 0).toLong,
      "total duplicates = the injected re-crawls")
    assert(rows.map(_._3).sum == ids.length.toLong,
      "total first occurrences = distinct documents")
  }
  test("q111: keepers are real members with the max length, tail variants win") {
    val rows = Pipeline.q111ClusterKeepers(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // replicate the corpus rule on the driver: id -> text length
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val len = (base.map { case (id, t) => id -> t.length.toLong } ++
      base.filter(_._1 % 7 == 0).map { case (id, t) =>
        (id + 1000000L) -> t.length.toLong } ++
      base.filter(_._1 % 11 == 0).map { case (id, t) =>
        (id + 2000000L) -> (t.length + " extra token tail".length).toLong }).toMap
    for ((label, size, keepId, keepLen) <- rows) {
      // a component exists only where an edge does
      assert(size >= 2, s"cluster $label size $size")
      // the keeper is a genuine corpus document with exactly that length
      assert(len(keepId) == keepLen, s"cluster $label keeper length")
      // the label is the min id, so the keeper never precedes it
      assert(keepId >= label, s"cluster $label keeper $keepId")
    }
    assert(rows.map(_._3).distinct.length == rows.length, "keeper reused")
    // quality-aware selection is OBSERVABLE: some cluster keeps its
    // longer +tail variant over the shorter original it duplicates
    assert(rows.exists(r => r._3 >= 2000000L),
      "no tail variant ever out-kept its original - selection is id-blind")
  }

  test("train-once: q101 banks the trained codebook at rest, bit-identical to a retrain") {
    Pipeline.q101PqAnn(spark, sfDir).collect()
    val idx = Pipeline.bankedTable("pq", sfDir)
    assert(spark.catalog.tableExists(idx),
      "q101 served without leaving the index at rest")
    // the stored codebook must equal a deterministic in-session
    // retrain EXACTLY (parquet doubles round-trip) — this is what
    // lets the serve path skip the training scans with no oracle edit
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    assert(Pipeline.storedPqSeeds(spark, idx) == Pipeline.pqSeeds(e),
      "stored codebook != deterministic retrain")
  }

  test("q115: token drift reconciles with an exact driver-side recomputation") {
    val rows = Pipeline.q115TokenDrift(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    assert(rows.nonEmpty)
    // replicate both crawls and the exact integer TV on the driver
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def counts(docs: Seq[(String, String)]): Map[String, Map[String, Long]] =
      docs.groupBy(_._1).map { case (l, ds) =>
        l -> ds.flatMap(_._2.split(" ")).groupBy(identity)
          .map { case (t, o) => t -> o.length.toLong }
      }
    val cv1 = counts(base.map(d => (d._2, d._3)).toSeq)
    val cv2 = counts((base.filter(_._1 % 13 != 0).map(d =>
        (d._2, if (d._1 % 7 == 0) d._3 + " rev2" else d._3)) ++
      base.filter(_._1 % 11 == 0).map(d => (d._2, d._3))).toSeq)
    assert(rows.keySet == cv1.keySet)
    for (l <- rows.keySet) {
      val (m1, m2) = (cv1(l), cv2.getOrElse(l, Map.empty[String, Long]))
      val (t1, t2) = (m1.values.sum, m2.values.sum)
      val vocab = m1.keySet ++ m2.keySet
      val num = vocab.toSeq.map(t => math.abs(
        m1.getOrElse(t, 0L) * t2 - m2.getOrElse(t, 0L) * t1)).sum
      val tv = BigDecimal(num.toDouble / (t1.toDouble * t2.toDouble * 2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (g1, g2, gv1, gv2, gNew, gLost, gTv) = rows(l)
      assert((g1, g2) == (t1, t2), s"$l totals")
      assert((gv1, gv2) == (m1.size.toLong, m2.size.toLong), s"$l vocab")
      assert(gNew == (m2.keySet -- m1.keySet).size.toLong, s"$l new")
      assert(gLost == (m1.keySet -- m2.keySet).size.toLong, s"$l lost")
      assert(math.abs(gTv - tv) < 1e-12, s"$l tv $gTv vs $tv")
      assert(gTv >= 0.0 && gTv <= 1.0)
    }
    // the mutation rules guarantee SOME drift overall
    assert(rows.values.map(_._7).sum > 0.0, "zero drift everywhere")
  }

  test("q115: TV numerator is exact where raw int64 products wrap (counts near 2^63)") {
    // token counts at the extreme-scale edge the scaladoc names: totals
    // T ~ 9.2·10^18 (int64 max), per-token counts up to 10^18 — every
    // cross product n·T is far past 2^63, so the OLD int64 numerator
    // wraps silently while the decimal(38,0) path must stay exact
    val cases = Seq(
      // one-sided mass: term = n1·t2 ≈ 9.2·10^36, far past 2^63
      (1000000000000000000L, 0L, 1L, 9223372036854775807L),
      // near-cancelling giants: both products ≈ 8.5·10^37 (the decimal
      // ceiling region), difference still past 2^63
      (9223372036854775807L, 9223372036854775806L,
        9223372036854775807L, 9223372036854775804L),
      (7L, 7L, 4611686018427387904L, 4611686018427387904L), // equal → 0
      (123456789012345678L, 1L, 9000000000000000000L, 8999999999999999999L))
    import spark.implicits._
    val df = cases.toDF("n1", "n2", "t1", "t2")
      .select(Pipeline.tvNumeratorTerm(col("n1"), col("n2"),
        col("t1"), col("t2")).as("term"))
    val got = df.collect()
    var pastInt64 = 0
    cases.zip(got).foreach { case ((n1, n2, t1, t2), r) =>
      val exact = (BigInt(n1) * BigInt(t2) - BigInt(n2) * BigInt(t1)).abs
      assert(BigInt(r.getDecimal(0).toBigInteger) == exact,
        s"term($n1,$n2,$t1,$t2)")
      if (exact > BigInt(Long.MaxValue)) pastInt64 += 1
    }
    // the fixture must actually exercise the past-int64 range the lift
    // exists for (an int64 expression here throws under ANSI / wraps
    // with ANSI off — either way not this exact value)
    assert(pastInt64 >= 2, s"fixture too small: $pastInt64 terms past 2^63")
    // the summed numerator (the aggregate q115 actually runs) is exact too
    val summed = cases.toDF("n1", "n2", "t1", "t2")
      .agg(sum(Pipeline.tvNumeratorTerm(col("n1"), col("n2"),
        col("t1"), col("t2"))).as("num")).collect().head.getDecimal(0)
    val expSum = cases.map { case (n1, n2, t1, t2) =>
      (BigInt(n1) * BigInt(t2) - BigInt(n2) * BigInt(t1)).abs }.sum
    assert(BigInt(summed.toBigInteger) == expSum, "summed numerator")
  }

  test("q116: length deciles reconcile with a driver-side sort, monotone within language") {
    val rows = Pipeline.q116LengthDrift(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def dec(lens: Seq[Long], k: Int): Long = {
      val vs = lens.sorted
      vs(((vs.length - 1) * k / 10).toInt)
    }
    val l1 = base.map(d => (d._2, d._3.length.toLong)).toSeq
    val l2 = (base.filter(_._1 % 13 != 0).map(d =>
        (d._2, (if (d._1 % 7 == 0) d._3 + " rev2" else d._3).length.toLong)) ++
      base.filter(_._1 % 11 == 0).map(d => (d._2, d._3.length.toLong))).toSeq
    val by1 = l1.groupBy(_._1); val by2 = l2.groupBy(_._1)
    for ((lang, decile, n1, n2, lv1, lv2, shift) <- rows) {
      assert(n1 == by1(lang).length.toLong && n2 == by2(lang).length.toLong)
      assert(lv1 == dec(by1(lang).map(_._2).toSeq, decile), s"$lang d$decile v1")
      assert(lv2 == dec(by2(lang).map(_._2).toSeq, decile), s"$lang d$decile v2")
      assert(shift == lv2 - lv1)
    }
    // 9 deciles per language, non-decreasing within each version
    for ((lang, rs) <- rows.groupBy(_._1)) {
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 9), s"$lang deciles")
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sorted.toSeq, s"$lang v1 order")
      assert(sorted.map(_._6).toSeq == sorted.map(_._6).sorted.toSeq, s"$lang v2 order")
    }
  }

  test("q117: centroid drift is bounded, counts reconcile, unmoved labels stay put") {
    val rows = Pipeline.q117EmbeddingDrift(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("CAST(vec_id AS LONG) AS v", "CAST(label AS LONG) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // counts reconcile with the mutation rules exactly
    val by = base.groupBy(_._2)
    for ((label, n1, n2, cosC, nr) <- rows) {
      assert(n1 == by(label).length.toLong, s"label $label n_v1")
      assert(n2 == by(label).count(_._1 % 13 != 0).toLong, s"label $label n_v2")
      // the mutation rules move means measurably (a label mean has
      // magnitude ~sigma/sqrt(n), so dropping 1/13 of its vectors
      // shifts the DIRECTION appreciably) but can never flip a
      // centroid to the opposite hemisphere or rescale it wildly —
      // and the report must RESOLVE the drift, not report all-1.0
      assert(cosC > 0.5 && cosC <= 1.0, s"label $label cos $cosC")
      assert(nr > 0.5 && nr < 2.0, s"label $label norm ratio $nr")
    }
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // drift is visible somewhere: at least one label's centroid moved
    assert(rows.exists(r => r._4 < 1.0 || r._5 != 1.0), "no drift resolved")
  }

  test("q114: probe radius 1 dominates radius 0 in candidates AND recall") {
    val rows = Pipeline.q114AnnRecallSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1), "exactly radii 0 and 1")
    val Seq(r0, r1) = rows.toSeq
    // same query set both rows
    assert(r0._2 == r1._2 && r0._2 > 0)
    // radius-1 probes strictly contain the home cluster, so both the
    // candidate count and the exact-top-5 hit count dominate
    assert(r1._3 >= r0._3, s"candidates shrank: ${r0._3} -> ${r1._3}")
    assert(r1._5 >= r0._5, s"recall shrank: ${r0._5} -> ${r1._5}")
    // multi-probe must genuinely widen the search somewhere
    assert(r1._3 > r0._3, "radius 1 scanned nothing beyond the home cluster")
    // the derived ratios reconcile with the integer counts exactly
    for ((_, nq, nc, avg, nh, rec) <- rows) {
      assert(math.abs(avg - BigDecimal(nc.toDouble / nq)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      assert(math.abs(rec - BigDecimal(nh.toDouble / (nq * 5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      assert(nh <= nq * 5)
    }
  }

  test("q116 sketch path: GK deciles honor the rank-error contract, join-back verified") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    // the shared crawl-version rules, rebuilt for the join-back
    val v1 = docsDf.select(col("lang"), length(col("text")).cast("long").as("len"))
    val v2 = docsDf.filter(col("doc_id") % 13 =!= 0)
      .select(col("lang"),
        length(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).cast("long").as("len"))
      .unionByName(docsDf.filter(col("doc_id") % 11 === 0)
        .select(col("lang"), length(col("text")).cast("long").as("len")))
    val exact = Pipeline.q116LengthDrift(spark, sfDir)
    for (acc <- Seq(100, 100000)) {
      val rep = Pipeline.lengthDriftSketch(spark, sfDir, acc)
      assert(rep.schema == exact.schema, "sketch/exact schema drift")
      assert(rep.count() == exact.count())
      // per-version rank check: BROADCAST the ≤9·|lang| report rows
      // back onto the length relation, count elements strictly below /
      // at-or-below each reported decile — GK promises the reported
      // value's rank within eps*n of the target rank
      def rankCheck(v: org.apache.spark.sql.DataFrame, lenCol: String): Unit = {
        val checks = v
          .join(broadcast(rep.select(col("lang"), col("decile"), col(lenCol))),
            Seq("lang"))
          .groupBy(col("lang"), col("decile"), col(lenCol))
          .agg(sum(when(col("len") < col(lenCol), 1L).otherwise(0L)).as("below"),
            sum(when(col("len") <= col(lenCol), 1L).otherwise(0L)).as("at_or_below"),
            count(lit(1)).as("n"))
          .collect()
        assert(checks.nonEmpty)
        checks.foreach { r =>
          val (lang, dec) = (r.getString(0), r.getInt(1))
          val (below, atOrBelow, n) = (r.getLong(3), r.getLong(4), r.getLong(5))
          val target = n.toDouble * dec / 10.0
          val tol = n.toDouble / acc + 1.0
          assert(below <= target + tol,
            s"$lenCol $lang d$dec acc=$acc: rank-below $below > $target + $tol")
          assert(atOrBelow >= target - tol,
            s"$lenCol $lang d$dec acc=$acc: rank-at-or-below $atOrBelow < $target - $tol")
        }
      }
      rankCheck(v1, "len_v1")
      rankCheck(v2, "len_v2")
      // integer-valued: every reported decile is a genuine corpus length
      val lens1 = v1.select("len").distinct().as[Long].collect().toSet
      rep.select("len_v1").as[Long].collect()
        .foreach(l => assert(lens1(l), s"sketch emitted non-corpus length $l"))
    }
    // counts agree with the exact path exactly (only ranks are approximate)
    val exCounts = exact.select("lang", "decile", "n_v1", "n_v2").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    Pipeline.lengthDriftSketch(spark, sfDir).select("lang", "decile", "n_v1", "n_v2")
      .collect().foreach { r =>
        assert(exCounts((r.getString(0), r.getInt(1))) == ((r.getLong(2), r.getLong(3))))
      }
  }

  test("q118: radius-1 serve dominates q85's radius-0 per rank, same index") {
    val r0 = Pipeline.q85IndexedAnn(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val r1 = Pipeline.q118MultiProbeAnn(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(r1.nonEmpty)
    // same query set, full top-5 per query both sides
    assert(r0.keySet.map(_._1) == r1.keySet.map(_._1), "query sets differ")
    assert(r1.keySet == r1.keySet.map(_._1).flatMap(q => (1 to 5).map(q -> _)),
      "not a full top-5 per query")
    // radius-1 candidates ⊇ radius-0's (the home cluster is always
    // probed), so the k-th best score can only improve at every rank
    r1.foreach { case ((q, rk), (_, c1)) =>
      val c0 = r0((q, rk))._2
      assert(c1 >= c0, s"query $q rank $rk: radius-1 cosine $c1 < radius-0 $c0")
    }
    // and somewhere the wider probe genuinely found a better neighbour
    // (at this SF the q114 sweep shows recall 4.3x — a strict win must
    // surface in at least one rank's score)
    assert(r1.exists { case (k, (_, c1)) => c1 > r0(k)._2 },
      "radius 1 never improved any rank — probe expansion inert")
  }

  test("q130: trained-coarse radius-1 serve dominates its radius-0 form per rank") {
    import org.apache.spark.sql.functions.{col, transform}
    // rebuild the SAME trained membership (kMeansCentroids is
    // deterministic: hash-threshold seeds + round-6 Lloyd means) and
    // serve it at radius 0 — the baseline q130 must dominate, because
    // radius-1 candidates contain radius-0's by construction
    val e = Tables.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val members = Pipeline.mapSideFineClusters(e,
      Pipeline.kMeansCentroids(e), Pipeline.ClusterTargetOccupancy)
      .persist()
    members.count()
    val r0 = Pipeline.annServe(members, 0).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val r1 = Pipeline.q130TrainedCoarseAnn(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    members.unpersist(blocking = false)
    assert(r1.nonEmpty)
    assert(r0.keySet.map(_._1) == r1.keySet.map(_._1), "query sets differ")
    assert(r1.keySet == r1.keySet.map(_._1).flatMap(q => (1 to 5).map(q -> _)),
      "not a full top-5 per query")
    r1.foreach { case ((q, rk), (_, c1)) =>
      val c0 = r0((q, rk))._2
      assert(c1 >= c0, s"query $q rank $rk: radius-1 cosine $c1 < radius-0 $c0")
    }
  }

  test("q133: hybrid RRF — shape, integer fusion arithmetic, leg re-derivations") {
    val out = Pipeline.q133HybridRrf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size == 10, s"expected 10 queries, got ${byQuery.size}")
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"query $q ranks not 1..k")
      sorted.foreach { case (_, _, doc, rrf, srk, drk) =>
        assert(doc != q, s"query $q retrieved itself")
        assert(srk >= 0 && srk <= 20 && drk >= 0 && drk <= 20)
        assert(srk > 0 || drk > 0, s"query $q doc $doc in neither leg")
        // the fused score is pure integer arithmetic over the leg ranks
        val expect = (if (srk > 0) 1000000L / (60 + srk) else 0L) +
          (if (drk > 0) 1000000L / (60 + drk) else 0L)
        assert(rrf == expect, s"query $q doc $doc rrf $rrf != $expect")
      }
      // rows are ordered by (rrf desc, doc_id)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
          s"query $q fused order violated at ranks ${a._2},${b._2}")
      }
    }
    // dense-leg cross-check: wherever the fused output surfaces a
    // dense_rank == 1 row, it must be the locally-computed exact
    // cosine argmax (round-6, id tiebreak) for that query
    val vecs = graft.Tables.spread(graft.Tables.embeddings(spark, sfDir))
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.lazyZip(b).map(_ * _).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var checked = 0
    byQuery.foreach { case (q, rows) =>
      rows.find(_._6 == 1).foreach { case (_, _, doc, _, _, _) =>
        val best = vecs.keys.filter(_ != q)
          .map(v => (v, cos6(vecs(q), vecs(v))))
          .minBy { case (v, c) => (-c, v) }._1
        assert(doc == best, s"query $q dense rank-1 $doc != local argmax $best")
        checked += 1
      }
    }
    assert(checked > 0, "no dense rank-1 rows surfaced — fusion inert")
  }

  test("q135: retrieval eval — query universe, twin accounting, union bound") {
    import org.apache.spark.sql.functions.col
    val rows = Pipeline.q135RetrievalEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("sparse", "dense", "hybrid"))
    assert(rows("sparse")._1 == 20 && rows("dense")._1 == 20 && rows("hybrid")._1 == 10)
    // one query universe: documents ∩ embeddings at %33
    val docIds = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val vecIds = graft.Tables.spread(graft.Tables.embeddings(spark, sfDir))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // the bounded audit panel: first 64 %33 ids (EvalPanelCap)
    val qids = (docIds & vecIds).filter(id => id % 33 == 0 && id < 2112)
    rows.values.foreach { case (_, nq, nf, h1, mrr) =>
      assert(nq == qids.size.toLong, s"query universe $nq != ${qids.size}")
      assert(nf <= nq && h1 <= nf && mrr <= 1000000L)
      assert((mrr > 0) == (nf > 0))
    }
    // every ±0.2% embedding twin must surface in the exact-cosine
    // top-20 — the dense leg's found count IS the planted-vector count
    val vectorTwins = qids.count(_ % 99 == 0).toLong
    assert(rows("dense")._3 == vectorTwins,
      s"dense found ${rows("dense")._3} != planted ${vectorTwins}")
    // fused candidates are a subset of the legs' union
    assert(rows("hybrid")._3 <= rows("sparse")._3 + rows("dense")._3)
  }

  test("q138: at-rest hybrid — fusion arithmetic, sparse leg identical, IVF leg only prunes") {
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    val rest = collect6(Pipeline.q138HybridAtRest(spark, sfDir))
    val exact = collect6(Pipeline.q133HybridRrf(spark, sfDir))
    assert(rest.map(_._1).distinct.length == 10)
    rest.foreach { case (q, _, doc, rrf, srk, drk) =>
      assert(doc != q && srk <= 20 && drk <= 20 && (srk > 0 || drk > 0))
      val expect = (if (srk > 0) 1000000L / (60 + srk) else 0L) +
        (if (drk > 0) 1000000L / (60 + drk) else 0L)
      assert(rrf == expect, s"query $q doc $doc fusion arithmetic")
    }
    // the index-served sparse leg is ROW-IDENTICAL to the in-session
    // one (q86==q57 property): where both outputs surface a (query,
    // doc) with a sparse rank, the ranks agree
    val exactBy = exact.map(t => (t._1, t._3) -> t).toMap
    rest.foreach { case (q, _, doc, _, srk, drk) =>
      exactBy.get((q, doc)).foreach { case (_, _, _, _, esrk, edrk) =>
        if (srk > 0 && esrk > 0)
          assert(srk == esrk, s"query $q doc $doc: sparse rank moved at rest")
        // IVF candidates ⊆ the exact leg's universe: fewer competitors,
        // so a doc surviving the pruning can only rank BETTER or equal
        if (drk > 0 && edrk > 0)
          assert(drk <= edrk, s"query $q doc $doc: IVF rank $drk > exact $edrk")
      }
    }
  }

  test("q139: pruned eval — structural bounds, radius-1 lossless on twins vs q135") {
    val pruned = Pipeline.q139PrunedEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(pruned.keySet == Set("dense_ivf", "hybrid_ivf"))
    val exact = Pipeline.q135RetrievalEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    pruned.values.foreach { case (nq, nf, h1, mrr) =>
      assert(nq == exact("dense")._1, "query universes differ")
      assert(nf <= nq && h1 <= nf && mrr <= 1000000L)
    }
    // the measured claim on this corpus: a ±0.2% twin lands within one
    // sub-bucket flip of its original, so radius-1 pruning loses NO
    // twin the exact leg found — the dense metrics are identical
    assert(pruned("dense_ivf") == exact("dense"),
      s"radius-1 pruning moved the twin metrics: ${pruned("dense_ivf")} vs ${exact("dense")}")
    // the pruned hybrid can differ from exact only through deep-leg
    // candidate differences — never by losing a found twin entirely
    assert(pruned("hybrid_ivf")._2 >= exact("dense")._2,
      "pruned hybrid found fewer twins than its own dense leg")
  }

  test("q136: fusion-weight grid — (2,2) is plain RRF, pure weights match their legs") {
    val grid = Pipeline.q136FusionWeights(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(grid.keySet == Set((4, 0), (3, 1), (2, 2), (1, 3), (0, 4)))
    val q135r = Pipeline.q135RetrievalEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    // (2,2) is a positive scaling of plain RRF — identical ranking,
    // identical metrics to q135's hybrid row
    assert(grid((2, 2)) == q135r("hybrid"),
      s"(2,2) ${grid((2, 2))} != plain RRF ${q135r("hybrid")}")
    // a pure weight ranks zero-scored other-leg docs below every
    // positive score, so its fused top-10 is the leg's own top-10:
    // hits@1 match the leg, found counts are bounded by the leg's @20
    assert(grid((4, 0))._3 == q135r("sparse")._3, "(4,0) hits@1 != sparse leg")
    assert(grid((0, 4))._3 == q135r("dense")._3, "(0,4) hits@1 != dense leg")
    assert(grid((4, 0))._2 <= q135r("sparse")._2 && grid((0, 4))._2 <= q135r("dense")._2)
    grid.values.foreach { case (nq, nf, h1, mrr) =>
      assert(nq == grid.head._2._1 && nf <= nq && h1 <= nf && mrr <= 1000000L)
    }
  }

  test("q142: occupancy histogram equals a full driver-side re-derivation of the gate key") {
    val rows = Pipeline.q142GateCapacity(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // independent re-derivation: canonical md5 + the canonical-token
    // 16-bit simhash, per doc, driver-side (MessageDigest arithmetic)
    val P = 2147483647L
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def canon(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    def sig(s: String): Long = {
      val hs = canon(s).split(" ", -1).map(t => ((h60(t) % P) + P) % P)
      (0 until 16).map { b =>
        val votes = hs.map(x => if (((x >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << b else 0L
      }.sum
    }
    val docs = graft.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val bySig = docs.map(t => (sig(t), canon(t))).groupBy(_._1)
    val want = bySig.values
      .map(g => (g.map(_._2).distinct.length, g.length))
      .groupBy(_._1).map { case (nd, gs) =>
        nd -> ((gs.size.toLong, gs.map(_._2.toLong).sum, (nd - 1).toLong * gs.size))
      }
    assert(rows == want, s"$rows vs $want")
    // totals reconcile: every doc in exactly one signature class
    assert(rows.values.map(_._2).sum == docs.length.toLong)
  }

  test("q143: width sweep — both collapse counts monotone in bits, 16-bit row equals q142's totals") {
    val rows = Pipeline.q143WidthSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Pipeline.GateWidths)
    // denominators are width-independent
    assert(rows.map(_._2).distinct.length == 1)
    assert(rows.map(_._4).distinct.length == 1 && rows.head._4 > 0)
    // sig at width w is the low-w-bit prefix of the wider signature
    // (per-bit votes don't see the width), so equality at a wider
    // width IMPLIES equality at a narrower one — both collapse
    // counts must be monotone non-increasing in bits
    rows.sliding(2).foreach { case Array(narrow, wide) =>
      assert(wide._3 <= narrow._3, s"false drops not monotone: $rows")
      assert(wide._5 <= narrow._5, s"planted collapse not monotone: $rows")
    }
    // the 16-bit row IS q142's audit: same key, same corpus, same unit
    val q142Total = Pipeline.q142GateCapacity(spark, sfDir).collect()
      .map(_.getLong(3)).sum
    assert(rows.head._3 == q142Total,
      s"16-bit false drops ${rows.head._3} != q142 total $q142Total")
  }

  test("q144: banded sweep — (1,16) reconciles with q143's 16-bit row, banding trades collapse for recall") {
    val rows = Pipeline.q144BandedGateSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6)))).toMap
    assert(rows.keySet == Pipeline.GateBandConfigs.toSet)
    // denominators are config-independent
    assert(rows.values.map(_._1).toSeq.distinct.length == 1)
    assert(rows.values.map(_._3).toSeq.distinct.length == 1 &&
      rows.values.head._3 > 0)
    // bands = 1 IS the single-signature gate: the one-hop collapse
    // rule is exact there (every non-min digest of a signature group
    // has a smaller sharer), so the row must equal q143's bits = 16
    // row on all four counts
    val q143r = Pipeline.q143WidthSweep(spark, sfDir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows((1, 16)) == q143r(16),
      s"(1,16) ${rows((1, 16))} != q143@16 ${q143r(16)}")
    // OR-banding at the same 16 total bits: a full-signature match
    // implies both band matches, so (2,8) collapse counts dominate
    // (1,16)'s on BOTH axes — the recall is what the lever buys, the
    // false collapse is what it costs
    assert(rows((2, 8))._4 >= rows((1, 16))._4, "banding must not lose recall")
    assert(rows((2, 8))._2 >= rows((1, 16))._2)
    // (4,7) splits (2,8)'s band 0 further: a band-0(8) match implies a
    // band-0(7) match, and a 28-bit full match implies everything —
    // the only other provable nesting in the grid
    assert(rows((4, 7))._4 >= rows((1, 16))._4)
  }

  test("q146: the consistent replay reconciles cleanly everywhere; ids_unique flags exactly the touched shards") {
    val rows = Pipeline.q146ExportReconcile(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getAs[Boolean]("counts_equal"),
        r.getAs[Boolean]("checksum_equal"),
        r.getAs[Boolean]("ids_unique"),
        r.getAs[Long]("n_docs_bytes"),
        r.getAs[Long]("n_distinct_ids")))).toMap
    // the shards a %17 document routes to — the replayed batch's reach
    val touched = graft.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 17 === 0)
      .select(org.apache.spark.sql.functions.pmod(
        Pipeline.shardKey(org.apache.spark.sql.functions.col("doc_id")),
        org.apache.spark.sql.functions.lit(8L)).cast("int"))
      .collect().map(_.getInt(0)).toSet
    assert(touched.nonEmpty, "fixture degenerate: no replayed shard")
    rows.foreach { case (shard, (countsEq, ckEq, idsUniq, nBytes, nDistinct)) =>
      // window (b) is CONSISTENT: counts and checksums reconcile
      assert(countsEq && ckEq, s"shard $shard must reconcile cleanly")
      assert(idsUniq == !touched(shard),
        s"shard $shard ids_unique $idsUniq, touched ${touched(shard)}")
      assert((nBytes > nDistinct) == touched(shard))
    }
  }

  test("q147: gate sweep nests across bands and rows; (4,4) reconciles with q131") {
    val rows = Pipeline.q147VerifiedGateSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Pipeline.GateVerifiedConfigs.toSet)
    // one exact truth, every config
    assert(rows.values.map(_._1).toSeq.distinct.length == 1 &&
      rows.values.head._1 > 0)
    // candidates/hits nest across BANDS at fixed r (bands 0..b-1 are a
    // prefix of 0..b'-1) and across R at fixed bands (an r-row band
    // match implies its prefix slice's match)
    def cand(k: (Int, Int)) = rows(k)._2
    def hits(k: (Int, Int)) = rows(k)._3
    assert(cand((2, 4)) >= cand((1, 4)) && hits((2, 4)) >= hits((1, 4)))
    assert(cand((4, 4)) >= cand((2, 4)) && hits((4, 4)) >= hits((2, 4)))
    assert(cand((2, 2)) >= cand((1, 2)) && hits((2, 2)) >= hits((1, 2)))
    assert(cand((1, 2)) >= cand((1, 4)) && hits((1, 2)) >= hits((1, 4)))
    // (4,4) uses the whole signature: it IS q131's (4,4) banding
    val q131r = Pipeline.q131BandingSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows((4, 4)) == q131r((4, 4)),
      s"(4,4) ${rows((4, 4))} != q131 ${q131r((4, 4))}")
  }

  test("max-score sparse leg equals the unpruned derivation row-for-row, including degenerate panels") {
    import spark.implicits._
    // ensure the inverted index is banked (the q138 path does)
    Pipeline.q138HybridAtRest(spark, sfDir).collect()
    val inv = Pipeline.bankedTable("inv", sfDir)
    val postings = spark.table(inv)
    val stats = spark.table(inv + "_stats")
    // q138's panel PLUS the degenerate paths: a query with no corpus
    // terms (drops entirely both sides) and a two-term query (fewer
    // than k candidates in phase 1 → θ = 0 → the unpruned universe)
    val corpusQs = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    val extras = Seq(
      (900001L, "zzznotaterm qqqneither"),
      (900002L, spark.table(inv).select("t").head().getString(0) +
        " zzznotaterm")).toDF("query_id", "text")
    val queries = corpusQs.unionByName(extras)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pruned = rows(Pipeline.sparseLegFromPostingsMaxScore(
      queries, postings, stats))
    val full = rows(Pipeline.sparseLegFromPostings(
      queries, postings, stats))
    assert(pruned == full,
      s"max-score diverged: missing ${full.diff(pruned)}, " +
        s"extra ${pruned.diff(full)}")
    assert(full.nonEmpty)
  }

  test("sparse-leg plan knob: both settings serve identical rows; default is the unpruned plan") {
    import spark.implicits._
    Pipeline.q138HybridAtRest(spark, sfDir).collect()
    val inv = Pipeline.bankedTable("inv", sfDir)
    val postings = spark.table(inv)
    val stats = spark.table(inv + "_stats")
    val queries = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val off = rows(Pipeline.sparseLegAdaptive(queries, postings, stats))
    val on = rows(Pipeline.sparseLegAdaptive(queries, postings, stats,
      maxScorePrune = true))
    assert(off == on, "the knob may move a growth curve, never a row")
    // the default must be the measured winner (the unpruned plan)
    assert(off == rows(Pipeline.sparseLegFromPostings(queries, postings, stats)))
    assert(off.nonEmpty)
  }

  test("q149: cap sweep's infinite-cap rows reconcile with q147; loss and state are monotone in cap") {
    val rows = Pipeline.q149VerifiedCapSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(8), r.getLong(9)))).toMap
    assert(rows.keySet == (for {
      (b, r) <- Pipeline.GateCapConfigs; c <- Pipeline.GateCaps
    } yield (b, r, c)).toSet)
    val q147r = Pipeline.q147VerifiedGateSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(4)))).toMap
    Pipeline.GateCapConfigs.foreach { case (b, r) =>
      val (nTruth147, nHits147) = q147r((b, r))
      // cap = ∞: every distance predicate vacuous — n_servable equals
      // q147's hit count on the same truth, zero loss
      val (nT, nH, nS, lost, entInf, bytesInf) =
        rows((b, r, Int.MaxValue))
      assert(nT == nTruth147 && nH == nHits147 && nS == nH && lost == 0L,
        s"($b,$r) infinite-cap row diverged from q147: $nH vs $nHits147")
      // servable hits and state grow monotonically with cap, toward
      // the ∞ anchors
      val byCap = Pipeline.GateCaps.map(c => rows((b, r, c)))
      byCap.sliding(2).foreach { case Seq(lo, hi) =>
        assert(lo._3 <= hi._3, s"($b,$r) servable not monotone")
        assert(lo._5 <= hi._5 && lo._6 <= hi._6,
          s"($b,$r) state not monotone")
      }
      assert(byCap.last._5 == entInf && byCap.last._6 == bytesInf)
      // a starved cap must actually lose hits somewhere, or the axis
      // prices nothing on this corpus
      ()
    }
    // the starvation end shows real loss for at least one config
    assert(Pipeline.GateCapConfigs.exists { case (b, r) =>
      rows((b, r, 1))._4 > 0L
    }, "cap = 1 lost nothing anywhere: fixture degenerate")
  }

  test("q141: membership is wave-split-invariant, full order equals q122, appended order moved") {
    val rows = Pipeline.q141AppendManifest(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))).toMap
    val q122 = Pipeline.q122ShardManifest(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(rows.keySet == q122.keySet)
    rows.foreach { case (shard,
        (nDocs, nToks, ckA, ckF, headA, headF, orderEq)) =>
      val (eDocs, eToks, eCk, eHead) = q122(shard)
      // membership columns can't see WHEN a document arrived
      assert(nDocs == eDocs && nToks == eToks, s"shard $shard membership")
      // the full-re-export ordering IS q122's
      assert(ckF == eCk && headF == eHead, s"shard $shard full order")
      assert(orderEq == (ckA == ckF))
      assert(headA % 2 == 0, s"shard $shard head must be a wave-0 doc")
    }
    // an append preserves resident bytes instead of re-shuffling, so
    // SOME shard's appended order must differ from the re-export's
    assert(rows.values.exists(!_._7), "every shard order-equal: fixture degenerate")
  }

  test("q140: coverage fusion beats every static grid point on one axis without losing the other") {
    val rows = Pipeline.q140CoverageFusion(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(rows.keySet == Set("hybrid_coverage", "hybrid_rrf"))
    val (covQ, covFound, covH1, covMrr) = rows("hybrid_coverage")
    val (plQ, plFound, plH1, plMrr) = rows("hybrid_rrf")
    assert(covQ == plQ, "both methods grade the same panel")
    // the plain row is q135's hybrid row verbatim (same fixture, same
    // legs, same fusion)
    val q135r = Pipeline.q135RetrievalEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(rows("hybrid_rrf") == q135r("hybrid"))
    // the brief's acceptance bar, in corpus-independent form:
    // hits@1 >= the BEST static grid point's, found-in-depth >= plain
    // RRF's — i.e. it beats every q136 static weight on at least one
    // axis without losing the other (and MRR must not regress either)
    val grid = Pipeline.q136FusionWeights(spark, sfDir).collect()
      .map(r => (r.getLong(4), r.getLong(3)))
    assert(covH1 >= grid.map(_._1).max,
      s"coverage hits@1 $covH1 < best static ${grid.map(_._1).max}")
    assert(covFound >= plFound,
      s"coverage found $covFound < plain RRF's $plFound")
    assert(covH1 >= plH1 && covMrr >= plMrr,
      s"coverage must dominate plain: ($covH1, $covMrr) vs ($plH1, $plMrr)")
  }

  test("q134: weighted budget mix — rates re-derived from effective masses, caps coherent") {
    val rows = Pipeline.q134WeightedBudgetMix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    // full driver-side re-derivation of every language's rate from the
    // report's own effective masses (the q126 rounding idiom)
    val sqrtMicro = rows.map { case (lang, _, _, eff, _, _, _) =>
      lang -> BigDecimal(BigDecimal(math.sqrt(eff / 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    val denom = sqrtMicro.values.sum.toDouble
    val effTotal = rows.map(_._4).sum
    val bMicro = effTotal * 7 / 8
    rows.foreach { case (lang, nDocs, raw, eff, rate, nKept, effKept) =>
      val expect = BigDecimal(BigDecimal(
        math.min(1.0, (bMicro.toDouble / eff) * (sqrtMicro(lang) / denom)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(rate == expect, s"$lang: rate $rate != re-derived $expect")
      assert(eff <= raw * 1000000L, s"$lang: effective exceeds raw")
      assert(nKept <= nDocs && effKept <= eff)
      if (rate == 1000000L) assert(nKept == nDocs, s"$lang: saturated but cut")
    }
    // both cap paths must be live on this corpus: some language
    // saturates (its whole mass fits) and some is genuinely cut
    assert(rows.exists(_._5 == 1000000L), "no saturated language")
    assert(rows.exists(_._5 < 1000000L), "no cut language — budget inert")
  }

  test("q132: soft-dedup weights reconcile with q50's cluster histogram") {
    val rows = Pipeline.q132SoftDedupWeights(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nDocs, nDown, raw, eff, ret) =>
      assert(nDown <= nDocs, s"$lang: more down-weighted than docs")
      assert(eff <= raw * 1000000L, s"$lang: effective mass exceeds raw")
      // a language with no duplicated docs keeps its mass EXACTLY;
      // one with any must lose some (floor division of size>1 strictly
      // shrinks any doc with >= 1 token, and corpus docs are non-empty)
      if (nDown == 0)
        assert(eff == raw * 1000000L && ret == 1.0, s"$lang: lossless lang lost mass")
      else assert(eff < raw * 1000000L, s"$lang: duplicated lang lost nothing")
      assert(ret > 0.0 && ret <= 1.0)
    }
    // docs sitting in size>1 components, counted from q50's histogram
    // over the SAME corpus/chain, must equal the down-weighted total
    val q50Down = Pipeline.q50DedupClusters(spark, sfDir).collect()
      .filter(_.getLong(0) > 1L).map(_.getLong(2)).sum
    assert(rows.map(_._3).sum == q50Down,
      s"down-weighted ${rows.map(_._3).sum} != q50 clustered docs $q50Down")
  }

  test("q131: banding sweep — truth fixed, candidates/hits nest across configs, q24 pairs are truth") {
    val rows = Pipeline.q131BandingSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq((16, 1), (8, 2), (4, 4), (2, 8)), "config rows wrong or misordered")
    // one exact truth denominator for every row
    assert(rows.map(_._3).distinct.length == 1 && rows.head._3 > 0)
    // an r-row band match implies both half-band matches, so candidate
    // sets (and therefore hits) nest as rows_per_band doubles
    rows.sliding(2).foreach { case Array(fine, coarse) =>
      assert(fine._4 >= coarse._4,
        s"candidates not monotone: ${fine._1} bands ${fine._4} < ${coarse._1} bands ${coarse._4}")
      assert(fine._5 >= coarse._5, "hits not monotone across bandings")
    }
    rows.foreach { case (_, _, t, c, h) =>
      assert(h <= t && h <= c, "hits exceed truth or candidates")
    }
    // every q24 verified pair is a true >=0.5 pair — the production
    // (4,4) config can never out-find the exact ground truth
    val q24n = Pipeline.q24NearDupMinhash(spark, sfDir).count()
    assert(q24n <= rows.head._3, s"q24 found $q24n pairs > truth ${rows.head._3}")
  }

  test("q131 sampled stratum: recall estimate within a 99% CI of the exact recall at sf0.1") {
    // the brief's bar is sf0.1 — the SF where the stratum holds enough
    // truth pairs for the CI to mean something
    val dir = "/root/testdata/sf0.1"
    val exact = Pipeline.q131BandingSweep(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(5))))
      .toMap
    // mod 2 ⇒ ~half the documents, ~quarter of the truth pairs — the
    // truth join's explode and verify both shrink by mod²
    val sampled = Pipeline.q131SampledSweep(spark, dir, 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(4),
        r.getDouble(5)))).toMap
    assert(sampled.keySet == exact.keySet)
    sampled.foreach { case (cfg, (nTruthS, _, estRecall)) =>
      val (nTruthFull, exactRecall) = exact(cfg)
      assert(nTruthS > 0 && nTruthS < nTruthFull,
        s"$cfg: stratum truth $nTruthS vs full $nTruthFull")
      // binomial 99% CI on the stratum estimate (z = 2.576), floored
      // at one pair's worth of mass for tiny strata — the harness's
      // stated accuracy contract
      val p = math.max(estRecall, exactRecall)
      val ci = math.max(2.576 * math.sqrt(p * (1.0 - p) / nTruthS.toDouble),
        1.5 / nTruthS.toDouble)
      assert(math.abs(estRecall - exactRecall) <= ci,
        s"$cfg: |${estRecall} - ${exactRecall}| > CI $ci (n_s=$nTruthS)")
    }
  }

  test("q131 harness: exact truth equals brute-force all-pairs Jaccard on a fixture") {
    import spark.implicits._
    val P = 2147483647L
    // three heavily-overlapping variants of one 24-token document, one
    // lightly-overlapping edit, and two unrelated documents
    val baseToks = (1 to 24).map(i => s"w$i")
    val docs = Seq(
      1L -> baseToks.mkString(" "),
      2L -> (baseToks :+ "tail").mkString(" "),                  // near-dup of 1
      3L -> baseToks.updated(11, "CHANGED").mkString(" "),       // near-dup of 1,2
      4L -> (baseToks.take(8) ++ (1 to 16).map(i => s"x$i")).mkString(" "), // light overlap
      5L -> (1 to 24).map(i => s"y$i").mkString(" "),
      6L -> (1 to 24).map(i => s"z$i").mkString(" "))
    def hashMod(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      val v = java.lang.Long.parseLong(hex, 16)
      ((v % P) + P) % P
    }
    def hs(text: String): Set[Long] = {
      val t = text.split(" ")
      (0 to t.length - 3).map(i => hashMod(t.slice(i, i + 3).mkString(" "))).toSet
    }
    val sets = docs.map { case (id, t) => id -> hs(t) }.toMap
    // the exact integer form of jaccard >= 1/2 (ADVICE r17): no
    // rounding on either engine, so brute force and harness agree on
    // borderline pairs by construction
    val bruteTruth = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = (sets(a) & sets(b)).size
      if 3 * inter >= sets(a).size + sets(b).size
    } yield (a, b)).toSet
    assert(bruteTruth.contains((1L, 2L)) && bruteTruth.contains((1L, 3L)),
      "fixture lost its planted near-dups")
    assert(!bruteTruth.exists(p => p._1 == 5L || p._2 == 5L), "unrelated doc leaked into truth")
    val out = Pipeline.bandingSweep(docs.toDF("doc_id", "text")).collect()
    // the prefix-filter truth must equal brute force EXACTLY — that is
    // the harness's honesty claim (exact denominator, no sampling)
    out.foreach(r => assert(r.getLong(2) == bruteTruth.size.toLong,
      s"truth ${r.getLong(2)} != brute-force ${bruteTruth.size}"))
  }

  test("probeExpand: probe sets nest by radius, all ids distinct, exact sizes") {
    import spark.implicits._
    // mask with b=4 active low bits plus a cluster id carrying a coarse
    // label above bit 32 — flips must never touch the coarse part
    val b = 4
    val cluster = 7L * 4294967296L + 5L
    val qrel = Seq((42L, cluster, (1L << b) - 1L))
      .toDF("query_id", "cluster", "mask")
      .withColumn("qe", typedLit(Seq(1.0, 0.0)))
    def probes(r: Int): Seq[Long] =
      Pipeline.probeExpand(qrel, r).select("cluster").collect().map(_.getLong(0)).toSeq
    val Seq(p0, p1, p2) = Seq(0, 1, 2).map(probes)
    assert(p0 == Seq(cluster))
    assert(p1.size == 1 + b && p2.size == 1 + b + b * (b - 1) / 2)
    assert(p1.distinct.size == p1.size && p2.distinct.size == p2.size)
    assert(p0.toSet.subsetOf(p1.toSet) && p1.toSet.subsetOf(p2.toSet))
    // every probe keeps the coarse label and stays inside the mask
    (p1 ++ p2).foreach { p =>
      assert(p >> 32 == cluster >> 32, s"probe $p left the coarse cluster")
      assert(((p ^ cluster) & ~((1L << b) - 1L)) == 0L,
        s"probe $p flipped an inactive bit")
    }
  }

  test("q120: multi-probe IVF-PQ dominates q107's home-cluster ADC per rank") {
    def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Long] =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    val home = rows(Pipeline.q107IvfPqAnn(spark, sfDir))
    val probedR = Pipeline.q120MultiProbeIvfPq(spark, sfDir)
    val probed = rows(probedR)
    assert(probed.nonEmpty)
    // full top-5 per query, ADC non-decreasing down each query's ranks
    val byQ = probed.keySet.groupBy(_._1)
    byQ.foreach { case (q, ks) =>
      assert(ks.map(_._2) == (1 to 5).toSet, s"query $q ranks ${ks.map(_._2)}")
      val seq = (1 to 5).map(rk => probed((q, rk)))
      assert(seq == seq.sorted, s"query $q ADC not sorted: $seq")
    }
    // the probed candidate set contains the home cluster's, so the
    // k-th best ADC distance can only improve (smaller) at every rank
    assert(home.keySet == probed.keySet, "query sets differ")
    probed.foreach { case (k @ (q, rk), adc) =>
      assert(adc <= home(k),
        s"query $q rank $rk: probed ADC $adc > home-only ${home(k)}")
    }
    // and the wider probe genuinely found a closer code somewhere
    assert(probed.exists { case (k, adc) => adc < home(k) },
      "radius 1 never improved any ADC rank — probe expansion inert")
    // the recall flag stays meaningful: some hits, graded per rank
    assert(probedR.collect().exists(_.getBoolean(4)), "zero exact-top-5 hits")
  }

  test("q121: residual multi-probe dominates q109 per rank with ONE table per query") {
    def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Long] =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    val home = rows(Pipeline.q109IvfPqResidual(spark, sfDir))
    val probed = rows(Pipeline.q121MultiProbeResidual(spark, sfDir))
    assert(probed.nonEmpty && home.keySet == probed.keySet)
    // probes share the query's coarse cell, so the single residual
    // table is exact across the probe set and the wider candidate
    // pool can only improve every rank's ADC distance
    probed.foreach { case (k @ (q, rk), adc) =>
      assert(adc <= home(k),
        s"query $q rank $rk: probed ADC $adc > home-only ${home(k)}")
    }
    assert(probed.exists { case (k, adc) => adc < home(k) },
      "radius 1 never improved any residual ADC rank")
  }

  test("q122 shard manifest: exact local re-derivation, full cover, token balance") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val P = 2147483647L
    val corpus = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val keyed = corpus.map { case (id, text) =>
      (id, text.split(" ", -1).length.toLong, h60("shard:" + id)) }
    val expected = keyed.groupBy(_._3 % 8).map { case (shard, ds) =>
      val ordered = ds.sortBy { case (id, _, sk) => (sk, id) }
      val checksum = ordered.zipWithIndex
        .map { case ((_, _, sk), i) => BigInt(i + 1) * (sk % P) % P }
        .sum % P
      shard.toInt -> ((ds.length.toLong, ds.map(_._2).sum,
        checksum.toLong, ordered.head._1))
    }
    val rows = Pipeline.q122ShardManifest(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, toks, ck, head) = expected(r.getInt(0))
      assert(r.getLong(1) == n, s"shard ${r.getInt(0)} n_docs")
      assert(r.getLong(2) == toks, s"shard ${r.getInt(0)} n_tokens")
      assert(r.getLong(3) == ck, s"shard ${r.getInt(0)} order_checksum")
      assert(r.getLong(4) == head, s"shard ${r.getInt(0)} head_doc_id")
    }
    // full cover (every doc in exactly one shard) + hash-uniformity
    // token balance: no shard empty, none dominating
    assert(rows.map(_.getLong(1)).sum == corpus.length)
    val t = rows.map(_.getLong(2))
    assert(t.min > 0 && t.max < 3 * t.min, s"token skew: ${t.toSeq}")
  }

  test("q137 curriculum manifest: local re-derivation, q122 membership, order moved") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val P = 2147483647L
    val corpus = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val keyed = corpus.map { case (id, text) =>
      val toks = text.split(" ", -1).length.toLong
      (id, toks, math.min(9L, toks / 64).toInt, h60("shard:" + id))
    }
    // the curriculum order: (tier asc, key, id) — tiers must be
    // nondecreasing by construction, and the checksum must match the
    // engine's over exactly this order
    val expected = keyed.groupBy(_._4 % 8).map { case (shard, ds) =>
      val ordered = ds.sortBy { case (id, _, tier, sk) => (tier, sk, id) }
      assert(ordered.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
      val checksum = ordered.zipWithIndex
        .map { case ((_, _, _, sk), i) => BigInt(i + 1) * (sk % P) % P }
        .sum % P
      shard.toInt -> ((ds.length.toLong, ds.map(_._2).sum,
        ds.map(_._3).distinct.length.toLong, ds.map(_._3).min,
        ds.map(_._3).max, checksum.toLong))
    }
    val rows = Pipeline.q137CurriculumManifest(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, toks, nt, ft, lt, ck) = expected(r.getInt(0))
      assert(r.getLong(1) == n && r.getLong(2) == toks, s"shard ${r.getInt(0)} membership")
      assert(r.getLong(3) == nt && r.getInt(4) == ft && r.getInt(5) == lt,
        s"shard ${r.getInt(0)} tier span")
      assert(r.getLong(6) == ck, s"shard ${r.getInt(0)} curriculum checksum")
    }
    // assignment is q122's: membership identical, only ORDER moved —
    // and somewhere it genuinely moved (a multi-tier shard re-sorts)
    val q122r = Pipeline.q122ShardManifest(spark, sfDir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { r =>
      val (n, toks, _) = q122r(r.getInt(0))
      assert(r.getLong(1) == n && r.getLong(2) == toks,
        s"shard ${r.getInt(0)}: curriculum changed MEMBERSHIP")
    }
    assert(rows.exists(r => r.getLong(6) != q122r(r.getInt(0))._3),
      "curriculum never changed any shard's order")
  }

  test("q125 packed shards: local packing re-derivation in shuffled order, q122 consistency") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val corpus = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = corpus.map { case (id, text) =>
      (id, text.split(" ", -1).length.toLong, h60("shard:" + id)) }
      .groupBy(_._3 % 8).map { case (shard, ds) =>
        val ordered = ds.sortBy { case (id, _, sk) => (sk, id) }
        var fin = 0L; var crossing = 0L
        ordered.foreach { case (_, n, _) =>
          val start = fin; fin += n
          if (start / 512 != (fin - 1) / 512) crossing += 1
        }
        val nSeqs = (fin + 511) / 512
        shard.toInt -> ((ds.length.toLong, fin, nSeqs, crossing,
          BigDecimal(fin.toDouble / (nSeqs * 512))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    val rows = Pipeline.q125PackedShards(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, toks, seqs, crossing, util) = expected(r.getInt(0))
      assert(r.getLong(1) == n, s"shard ${r.getInt(0)} n_docs")
      assert(r.getLong(2) == toks, s"shard ${r.getInt(0)} n_tokens")
      assert(r.getLong(3) == seqs, s"shard ${r.getInt(0)} n_seqs")
      assert(r.getLong(4) == crossing, s"shard ${r.getInt(0)} n_crossing")
      assert(math.abs(r.getDouble(5) - util) < 1e-9, s"shard ${r.getInt(0)} utilization")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
    // composes with the shard export: same routing, same per-shard totals
    val manifest = Pipeline.q122ShardManifest(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap == manifest)
  }

  test("q129 epoch orders: epoch 0 is q122's manifest, epoch 1 is an independent permutation") {
    val rows = Pipeline.q129EpochOrders(spark, sfDir).collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(r =>
        r.getInt(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap).toMap
    assert(rows.keySet == Set(0, 1))
    // epoch 0 = the q122 manifest bit-for-bit (shared derivation)
    val q122 = Pipeline.q122ShardManifest(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(0) == q122)
    // epochs cover the same corpus (global totals equal) but re-draw
    // assignment and order (per-shard membership and checksums move)
    assert(rows(0).values.map(_._1).sum == rows(1).values.map(_._1).sum)
    assert(rows(0).values.map(_._2).sum == rows(1).values.map(_._2).sum)
    assert(rows(0) != rows(1), "epoch 1 reproduced epoch 0 — seeds not independent")
    assert(rows(0).keySet.exists(s => rows(0)(s)._3 != rows(1)(s)._3),
      "no shard's order checksum moved across epochs")
  }

  test("q123 temperature mix: sqrt-rate thresholds exact, min language fully kept, local recount") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val corpus = Tables.documents(spark, sfDir)
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = corpus.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nMin = counts.values.min
    val expected = counts.map { case (lang, n) =>
      val thr = (BigDecimal(math.sqrt(nMin.toDouble / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
      val kept = corpus.count { case (l, id) =>
        l == lang && h60("temp:" + id) % 1000000 < thr }
      lang -> ((n, kept.toLong, thr))
    }
    val rows = Pipeline.q123TemperatureMix(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, kept, thr) = expected(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == kept, s"${r.getString(0)} n_kept")
      assert(r.getLong(3) == thr, s"${r.getString(0)} keep_rate_micro")
    }
    // the smallest language keeps everything (rate exactly 1) and the
    // α = 1/2 rate dominates the uniform-to-min (α = 0, q54) rate
    val minLang = counts.minBy(c => (c._2, c._1))._1
    val rMin = rows.find(_.getString(0) == minLang).get
    assert(rMin.getLong(3) == 1000000L && rMin.getLong(2) == rMin.getLong(1))
    counts.foreach { case (lang, n) =>
      assert(expected(lang)._3 >= nMin * 1000000 / n, s"$lang rate below uniform-min") }
  }

  test("q126 token-budget mix: exact local rates, nested sampling vs q123, saturation both ways") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val corpus = Tables.documents(spark, sfDir)
      .select("lang", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val byLang = corpus.groupBy(_._1)
    val tLang = byLang.view.mapValues(_.map(_._3).sum).toMap
    val sqrtMicro = tLang.view.mapValues(t =>
      (BigDecimal(math.sqrt(t.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong).toMap
    val denom = sqrtMicro.values.sum
    val tTotal = tLang.values.sum
    val b = tTotal * 7 / 8
    val rate = tLang.map { case (l, t) =>
      l -> (BigDecimal(math.min(1.0,
        (b.toDouble / t) * (sqrtMicro(l).toDouble / denom)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
    }
    val expected = byLang.map { case (l, ds) =>
      val kept = ds.filter { case (_, id, _) => h60("temp:" + id) % 1000000 < rate(l) }
      l -> ((ds.length.toLong, tLang(l), rate(l),
        kept.length.toLong, kept.map(_._3).sum))
    }
    val rows = Pipeline.q126TokenBudgetMix(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, toks, rt, kept, keptToks) = expected(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == toks, s"${r.getString(0)} n_tokens")
      assert(r.getLong(3) == rt, s"${r.getString(0)} rate_micro")
      assert(r.getLong(4) == kept, s"${r.getString(0)} n_kept")
      assert(r.getLong(5) == keptToks, s"${r.getString(0)} tokens_kept")
    }
    // the least(1, ·) cap must be exercised BOTH ways: some stratum
    // saturates (keeps everything), some is genuinely budget-cut
    assert(rate.values.exists(_ == 1000000L), s"no saturated stratum: $rate")
    assert(rate.values.exists(_ < 1000000L), s"no budget-cut stratum: $rate")
    // nested sampling: q123 and q126 share the membership draw, so per
    // language the lower-rate mix's kept set is a SUBSET of the
    // higher-rate mix's — verified on the actual kept-id sets
    val nMin = byLang.view.mapValues(_.length.toLong).values.min
    byLang.foreach { case (l, ds) =>
      val r123 = (BigDecimal(math.sqrt(nMin.toDouble / ds.length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
      val keep123 = ds.filter(d => h60("temp:" + d._2) % 1000000 < r123).map(_._2).toSet
      val keep126 = ds.filter(d => h60("temp:" + d._2) % 1000000 < rate(l)).map(_._2).toSet
      if (r123 <= rate(l)) assert(keep123.subsetOf(keep126), s"$l not nested")
      else assert(keep126.subsetOf(keep123), s"$l not nested")
    }
    // single-shot semantics: kept tokens track the budget — the
    // EXPECTED total is Σ_l min(T_l, B·q_l) ≤ B; the realized draw
    // fluctuates by sampling noise, so the envelope carries 20% slack
    val keptTotal = rows.map(_.getLong(5)).sum
    assert(keptTotal <= b * 12 / 10, s"kept $keptTotal far over budget $b")
    assert(keptTotal >= b * 5 / 10, s"kept $keptTotal far under budget $b")
  }

  test("q128 radius-2 sweep: dominates radius 1, reproduces q114's rows, bounded expansion") {
    // sf0.1: the one test corpus whose fine clusters carry ≥ 2 active
    // bits, so the two-bit flips actually exist (at sf0.001/sf0.01
    // b = 1 and radius 2 degenerates to radius 1 — by construction,
    // asserted below on the small corpus too)
    val big = "/root/testdata/sf0.1"
    val rows = Pipeline.q128RecallSweepR2(spark, big).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(rows.keySet == Set(0, 1, 2))
    // candidate sets nest by construction (probe ids strictly widen),
    // and hits = |candidates ∩ exact top-5| is monotone in the set
    assert(rows(1)._1 > rows(0)._1 && rows(2)._1 > rows(1)._1, s"candidates not widening: $rows")
    assert(rows(1)._2 >= rows(0)._2 && rows(2)._2 >= rows(1)._2, s"recall decreased: $rows")
    // radii 0/1 are byte-for-byte q114's sweep (same harness, same
    // expansion) — the two published tables cannot drift apart
    val q114 = Pipeline.q114AnnRecallSweep(spark, big).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(rows(0) == q114(0) && rows(1) == q114(1))
    // the radius-2 expansion is bounded: ≤ (1 + b + b(b−1)/2) probes
    // per query over ≤ 32 active bits → candidates stay O(occupancy·probes)
    val b = 32.0
    assert(rows(2)._1 <= rows(0)._1 * (1 + b + b * (b - 1) / 2),
      "radius-2 candidates exceed the probe bound")
    // single-active-bit corpus: radius 2 = radius 1 exactly
    val small = Pipeline.q128RecallSweepR2(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(small(2) == small(1), s"b=1 corpus: $small")
  }

  test("q127 doc chunking: local ceil-div re-derivation, token conservation, split docs exist") {
    val corpus = Tables.documents(spark, sfDir)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val expected = corpus.groupBy(_._1).map { case (l, ds) =>
      val chunks = ds.flatMap { case (_, n) =>
        val nc = (n + 63) / 64
        (0L until nc).map(i => math.min(64L, n - i * 64))
      }
      l -> ((ds.length.toLong, ds.count(_._2 > 64).toLong,
        chunks.length.toLong, chunks.count(_ == 64L).toLong, chunks.sum))
    }
    val rows = Pipeline.q127DocChunking(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, split, nc, full, toks) = expected(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == split, s"${r.getString(0)} n_split_docs")
      assert(r.getLong(3) == nc, s"${r.getString(0)} n_chunks")
      assert(r.getLong(4) == full, s"${r.getString(0)} n_full_chunks")
      assert(r.getLong(5) == toks, s"${r.getString(0)} n_tokens")
      assert(r.getDouble(6) ==
        BigDecimal(toks.toDouble / (nc * 64))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"${r.getString(0)} chunk_fill")
    }
    // chunking conserves tokens and the fixture actually splits docs
    assert(rows.map(_.getLong(5)).sum == corpus.map(_._2).sum)
    assert(rows.map(_.getLong(2)).sum > 0, "no doc exceeded the chunk width")
  }

  test("waterfillRates: exact budget consumption, fixpoint saturation, single-shot agreement") {
    val tokens = Map("en" -> 5000L, "de" -> 1000L, "fr" -> 400L, "zh" -> 100L)
    val w = tokens.view.mapValues(t => math.round(math.sqrt(t.toDouble) * 1000)).toMap
    // no saturation: waterfill equals the single-shot formula
    val small = Pipeline.waterfillRates(tokens, w, budget = 1000L)
    val wSum = w.values.sum
    tokens.foreach { case (l, t) =>
      val singleShot = (BigDecimal(1000.0 * w(l) / wSum / t)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
      assert(small(l) == singleShot, s"$l single-shot mismatch")
    }
    // saturating budget: zh (and possibly fr) cap at 1; the freed
    // budget lands on the others and expectation consumes it EXACTLY
    val b = 4000L
    val mid = Pipeline.waterfillRates(tokens, w, b)
    assert(mid("zh") == 1000000L)
    val consumed = tokens.map { case (l, t) => mid(l).toDouble / 1e6 * t }.sum
    assert(math.abs(consumed - b) < tokens.size * 0.01,
      s"waterfill consumed $consumed of budget $b")
    // the single-shot form UNDERSHOOTS the same budget (unused
    // saturated share not redistributed) — the reason waterfill exists
    val ssConsumed = tokens.map { case (l, t) =>
      math.min(1.0, b.toDouble * w(l) / wSum / t) * t }.sum
    assert(ssConsumed < consumed - 1)
    // infeasible budget: everything saturates
    val all = Pipeline.waterfillRates(tokens, w, budget = 10000L)
    assert(all.values.forall(_ == 1000000L))
    // monotone in budget, pointwise
    val lo = Pipeline.waterfillRates(tokens, w, 2000L)
    tokens.keys.foreach(l => assert(lo(l) <= mid(l), s"$l not monotone"))
  }

  test("waterfillRates property: random strata — caps respected, feasible budgets consumed exactly, never exceeded") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val strataGen = for {
      n <- Gen.choose(1, 12)
      toks <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
      ws <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
      frac <- Gen.choose(1, 99)
    } yield {
      val names = (0 until n).map(i => s"s$i")
      (names.zip(toks).toMap, names.zip(ws).toMap,
        toks.sum * frac / 100)
    }
    val prop = Prop.forAll(strataGen) { case (tokens, w, budget) =>
      val rates = Pipeline.waterfillRates(tokens, w, budget)
      val total = tokens.values.sum
      val consumed = tokens.map { case (l, t) => rates(l).toDouble / 1e6 * t }.sum
      val capped = rates.values.forall(r => r >= 0L && r <= 1000000L)
      val exact =
        if (budget >= total) rates.values.forall(_ == 1000000L)
        // feasible: consumed == budget up to round-6 quantization per stratum
        else math.abs(consumed - budget) <= tokens.size * (tokens.values.max / 1e6 + 1)
      capped && exact && consumed <= total + 1e-6
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("q124 split decontam: leaked = train side of cross-split verified pairs, independently re-derived") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    // independent pair source: the q24 surface over the same corpus
    val pairs = Pipeline.q24NearDupMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def isTrain(id: Long): Boolean = h60("split:" + id) % 100 < 80
    val leaked = pairs.flatMap { case (a, b) =>
      (isTrain(a), isTrain(b)) match {
        case (true, false) => Some(a)
        case (false, true) => Some(b)
        case _             => None
      }
    }.toSet
    val langOf = Tables.documents(spark, sfDir).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def lang(id: Long): String = langOf(if (id >= 1000000L) id - 1000000L else id)
    val corpusIds = langOf.keys.toSeq ++
      langOf.keys.filter(_ % 11 == 0).map(_ + 1000000L)
    val expected = corpusIds.groupBy(lang).map { case (l, ids) =>
      val train = ids.filter(isTrain)
      l -> ((train.size.toLong, (ids.size - train.size).toLong,
        train.count(leaked).toLong))
    }
    val rows = Pipeline.q124SplitDecontam(spark, sfDir).collect()
    assert(rows.length == expected.size)
    var totalLeaked = 0L
    rows.foreach { r =>
      val (nTrain, nEval, nLeaked) = expected(r.getString(0))
      assert(r.getLong(1) == nTrain, s"${r.getString(0)} n_train")
      assert(r.getLong(2) == nEval, s"${r.getString(0)} n_eval")
      assert(r.getLong(3) == nLeaked, s"${r.getString(0)} n_leaked")
      assert(r.getLong(4) == nTrain - nLeaked, s"${r.getString(0)} n_train_kept")
      totalLeaked += r.getLong(3)
    }
    assert(totalLeaked > 0,
      "fixture produced no cross-split leakage - the gate is untested")
  }

  test("q119/trained coarse: Lloyd routing beats pure-SRP at equal candidate budget on a clustered fixture") {
    // deterministic clustered fixture: 8 blobs near the origin with
    // noise comparable to the center spread, so random hyperplanes CUT
    // through blobs (SRP splits true neighbours) while Lloyd-trained
    // centroids recover the blob structure
    val rnd = new scala.util.Random(13L)
    val (dims, blobs, perBlob) = (64, 8, 64)
    val centers = Seq.fill(blobs)(Seq.fill(dims)(rnd.nextGaussian()))
    val rows = for (b <- 0 until blobs; i <- 0 until perBlob) yield
      ((b.toLong * perBlob + i),
        centers(b).map(c => c + rnd.nextGaussian() * 0.5))
    val e = rows.toDF("vec_id", "e")
    def sweep(cent: org.apache.spark.sql.DataFrame): Map[Int, (Long, Double, Double)] =
      Pipeline.annRecallSweep(e, cent).collect()
        .map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3), r.getDouble(5)))
        .toMap
    val trained = sweep(Pipeline.kMeansCentroids(e))
    // pure-SRP baseline: a degenerate single-centroid coarse stage —
    // every bit of routing structure comes from the hyperplanes
    val mean = (0 until dims)
      .map(d => rows.map(_._2(d)).sum / rows.length).toSeq
    val srp = sweep(Seq((0L, mean)).toDF("label", "cvec"))
    // equal candidate budget by construction: both subdivide to the
    // same target occupancy — verify the budgets actually landed close
    val (tCand, sCand) = (trained(0)._1, srp(0)._1)
    assert(tCand > 0 && sCand > 0)
    assert(tCand <= sCand * 2 && sCand <= tCand * 2,
      s"budgets diverged: trained $tCand vs srp $sCand")
    // training must buy recall at that budget — strictly, on both radii
    assert(trained(0)._3 > srp(0)._3,
      s"radius 0: trained ${trained(0)._3} <= srp ${srp(0)._3}")
    assert(trained(1)._3 > srp(1)._3,
      s"radius 1: trained ${trained(1)._3} <= srp ${srp(1)._3}")
    info(f"radius-0 recall: trained ${trained(0)._3}%.3f (${tCand} cands) " +
      f"vs pure-SRP ${srp(0)._3}%.3f (${sCand} cands)")
  }

  test("q113: funnel stages are complete, ordered, and monotone per language") {
    val rows = Pipeline.q113CurationFunnel(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val names = rows.map(r => r._1 -> r._2).distinct.sortBy(_._1)
    assert(names.map(_._1).toSeq == (0 to 5),
      s"expected stages 0..5, got ${names.map(_._1).mkString(",")}")
    assert(names.map(_._2).toSeq == Seq("ingest", "quality_gate",
      "canonical_dedup", "near_dup_keeper", "decontam", "mixing_quota"))
    // stage 0 reconciles with the reinsertion corpus arithmetic
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ingest = rows.filter(_._1 == 0).map(r => r._3 -> r._4).toMap
    val expect = base.groupBy(_._2).map { case (l, ds) =>
      l -> (ds.length + ds.count(_._1 % 7 == 0) + ds.count(_._1 % 11 == 0)).toLong
    }
    assert(ingest == expect, "stage-0 corpus counts")
    // every stage only ever DROPS documents: per-language counts are
    // non-increasing down the funnel (absent = 0)
    val byLang = rows.groupBy(_._3)
    for ((lang, rs) <- byLang) {
      val byStage = rs.map(r => r._1 -> r._4).toMap
      for (s <- 1 to 5)
        assert(byStage.getOrElse(s, 0L) <= byStage.getOrElse(s - 1, Long.MaxValue),
          s"$lang stage $s grew: $byStage")
    }
    // the funnel must demonstrably cut somewhere: total survivors at
    // stage 5 strictly below ingest
    assert(rows.filter(_._1 == 5).map(_._4).sum <
      rows.filter(_._1 == 0).map(_._4).sum)
  }
}
