package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.GraftTestAccess

/** The session's generated-class cache holds the curation queries'
  * working set (`Sessions.codegenCacheMaxEntries`): once warm, a pass
  * of the `curation_heavy` list compiles no new source. */
class CodegenCacheSpec extends SparkSpec {

  private val curation = Seq("q24_near_dup_minhash", "q97_image_dedup",
    "q85_indexed_ann", "q118_multi_probe_ann")

  /** AQE numbers whole-stage classes in the order their stages
    * materialize (`GeneratedIteratorForCodegenStage<N>`), so one plan
    * can yield the same source under a different N. */
  private def stageFree(source: String): String = source.replaceAll("CodegenStage\\d+", "CodegenStage")

  test("a warm pass of the curation queries compiles no new source") {
    def run(q: String): Unit = SparkEntry.queries(q)(spark, sfDir).collect()
    // the first pass builds the banked indexes, the second runs warm
    for (_ <- 1 to 2; q <- curation) run(q)
    assert(GraftTestAccess.codegenCacheMaxEntries() == Sessions.codegenCacheMaxEntries,
      "CodeGenerator was first used before the shared session applied its cache size")

    val known = GraftTestAccess.codegenCachedSources().map(stageFree).toSet
    val report = curation.map { q =>
      val before = GraftTestAccess.codegenCachedSources()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(q)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val added = GraftTestAccess.codegenCachedSources().diff(before)
      assert(compiles == added.size,
        s"$q: $compiles compiles but ${added.size} new cache entries (an eviction?)")
      (q, compiles, added.count(s => !known(stageFree(s))))
    }
    info(report.map { case (q, c, n) => s"$q: $c compiles, $n new sources" }.mkString("; "))
    for ((q, compiles, fresh) <- report) {
      assert(fresh == 0, s"$q compiled $fresh sources the warm passes had not")
      if (q == "q85_indexed_ann" || q == "q118_multi_probe_ann")
        assert(compiles == 0, s"$q compiled $compiles classes on a warm call")
    }
  }
}
