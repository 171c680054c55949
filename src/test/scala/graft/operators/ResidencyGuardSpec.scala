package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.GraftTestAccess
import org.apache.spark.sql.functions.col

/** The residency guard: every registered query, run to completion at
  * sf0.001, must leave nothing behind in the session — no relation in
  * the CacheManager, no new persisted RDD, no new catalog table other
  * than a banked-index memo — unless it is pinned below with its
  * reason. The pin list RATCHETS: a query that starts leaving something
  * fails the guard, and so does a pinned query that stops (take it off
  * the list). Plus one failure injected into a real operator after its
  * residents are materialized: the failure must propagate and nothing
  * may stay cached. */
class ResidencyGuardSpec extends SparkSpec {

  /** What each query is still allowed to leave, and why. */
  private val Pinned: Map[String, String] = {
    val base = "verifiedNearDupPairs' shingle-hash base, kept because later q24 calls reuse it"
    def lazyRead(what: String) = s"$what, read by the lazily returned plan"
    Map(
      "q24_near_dup_minhash" -> base,
      "q50_dedup_clusters" -> base,
      "q102_source_dup_matrix" -> base,
      "q111_cluster_keepers" -> (base + "; " + lazyRead("the detached component labels")),
      "q113_curation_funnel" -> base,
      "q124_split_decontam" -> base,
      "q132_soft_dedup_weights" -> base,
      "q134_weighted_budget_mix" -> base,
      "q30_embedding_near_dup" -> lazyRead("the bucketed signature cache"),
      "q31_ivf_ann" -> lazyRead("the IVF membership (exchange budget)"),
      "q40_ngram_jaccard" -> lazyRead("the df-ordered hash checkpoint"),
      "q49_contamination" -> lazyRead("the gram-hash cache (exchange budget)"),
      "q51_semantic_dedup" -> lazyRead("the fine membership (exchange budget)"),
      "q53_kmeans_clusters" -> lazyRead("the centroid cache"),
      "q55_quantized_ann" -> lazyRead("the quantized index (exchange budget)"),
      "q57_bm25" -> lazyRead("the term-frequency cache"),
      "q58_unigram_quality" -> lazyRead("the per-document log-prob cache"),
      "q59_sequence_packing" -> lazyRead("the tokenized corpus cache"),
      "q61_derived_semantic_dedup" -> lazyRead("the fine membership (exchange budget)"),
      "q70_bigram_quality" -> lazyRead("the per-document log-prob cache (exchange budget)"),
      "q71_incremental_dedup" -> lazyRead("the batch key cache (exchange budget)"),
      "q88_triangles" -> lazyRead("the co-order support cache (exchange budget)"))
  }

  /** Banked-index memos: built once per corpus, kept on purpose. */
  private val BankedKinds = Seq("ivf", "inv", "bpe", "pq", "ivfpq", "tcivf", "pqres")

  private def tables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet

  private def clean(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** What `run` leaves in the session, or None if nothing. */
  private def leftBy(run: => Unit): Option[String] = {
    clean()
    val (rdds0, tables0) = (spark.sparkContext.getPersistentRDDs.keySet, tables())
    run
    val relations = GraftTestAccess.cachedRelations(spark)
    val rdds = (spark.sparkContext.getPersistentRDDs.keySet -- rdds0).size
    val newTables = (tables() -- tables0)
      .filterNot(t => BankedKinds.exists(k => t.startsWith(Pipeline.bankedTable(k, sfDir))))
    clean()
    if (relations == 0 && rdds == 0 && newTables.isEmpty) None
    else Some(s"relations=$relations rdds=$rdds tables=${newTables.toSeq.sorted.mkString(",")}")
  }

  test("every query releases what it acquires, except the pinned list") {
    val t0 = System.nanoTime()
    val left = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      leftBy(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        .map(name -> _)
    }.toMap
    info(f"${SparkEntry.queries.size} queries in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    left.toSeq.sorted.foreach { case (q, what) => info(s"$q leaves $what") }
    val newLeaks = left.keySet -- Pinned.keySet
    val fixed = Pinned.keySet -- left.keySet
    assert(newLeaks.isEmpty, s"queries leaving residents: ${newLeaks.toSeq.sorted.map(q => s"$q (${left(q)})")}")
    assert(fixed.isEmpty, s"pinned queries that no longer leave anything (unpin them): ${fixed.toSeq.sorted}")
  }

  test("a failure after the first resident is materialized propagates and releases everything") {
    // a negative rows-per-band makes the candidate job's band slice throw
    // — after the sweep's base, signatures and truth are all persisted
    // and materialized
    val corpus = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val released = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = { released.incrementAndGet(); () }
    }
    var thrown: Throwable = null
    val left = leftBy {
      spark.sparkContext.addSparkListener(l)
      try thrown = intercept[Exception](Pipeline.bandingSweepOver(corpus, Seq((1, -1))))
      finally {
        GraftTestAccess.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    }
    assert(Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("length")), thrown)
    assert(released.get() >= 3, s"only ${released.get()} residents were released")
    assert(left.isEmpty, s"the failed sweep left $left")
  }
}
