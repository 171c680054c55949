package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components for duplicate-cluster assignment
  * at 100 TB scale.
  *
  * [[Pipeline.q50DedupClusters]] uses plain min-label propagation —
  * rounds bounded by the component DIAMETER, the right tool for
  * near-dup graphs, which are shallow by construction (original ↔
  * copies). This object supplies the complement for deep or
  * path-shaped graphs (diameter ~ n in the worst case): the
  * alternating large-star / small-star algorithm of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (SoCC'14), which
  * converges in O(log² n) rounds regardless of diameter. Every round
  * is a groupBy + join on the (shrinking) edge relation — no
  * neighborhood materialized as an array, no driver-side graph state;
  * the convergence probe is an aggregate-only anti-join emptiness
  * check.
  *
  * Both operators label every node with its component's MINIMUM node
  * id, so their outputs are directly comparable (GraphSpec asserts
  * equality against an independent union-find oracle).
  */
object Graph {

  /** Connected components by alternating star contractions.
    *
    * @param r     the caller's scope: the returned labels are a
    *              checkpoint held in it (every round's relations are
    *              released before returning, or by the scope if a round
    *              throws)
    * @param edges undirected edge relation with two long columns
    *              `src`, `dst` (self-loops and duplicates tolerated)
    * @return one row per node appearing in `edges`: (node, label)
    *         where label = min node id of its component
    */
  def connectedComponentsStar(r: Residents, edges: DataFrame): DataFrame = {
    // canonical directed form: every edge points big -> small, one row
    // per undirected pair. Each round ends in an EAGER localCheckpoint:
    // the round's plan references the previous round's relation several
    // times (sym's two branches, both star joins, the convergence
    // diff), so without lineage truncation the logical plan grows
    // exponentially in the round count — analysis alone OOMs around
    // round ~15. Checkpointing bounds every round's plan to one round's
    // operators (the same idiom GraphX/ALS use for iterative lineage).
    var e = r.checkpoint(edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var eCount = e.count()
    val isolated = edges.filter(col("src") === col("dst"))
      .select(col("src").as("node")).distinct()

    var converged = false
    var rounds = 0
    // O(log² n) worst-case round bound (Kiveris et al. Thm 1); 60
    // covers any realistic corpus, and non-convergence THROWS below —
    // a partially-contracted edge set would silently mislabel nodes
    val maxRounds = 60
    while (!converged && rounds < maxRounds) {
      // LARGE-STAR over symmetric neighborhoods: every node u links its
      // strictly-larger neighbors to m = min(Γ(u) ∪ {u}).
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // r21: the large-star round output is a LAZY persist, not an
      // eager checkpoint — `next`'s own materialization computes it
      // once and its two readers (mSmall + the small-star join) hit
      // the cache, saving one job per round; `next`'s eager
      // checkpoint still truncates the round's lineage (large
      // derives from `e`, a checkpointed LogicalRDD root, so plan
      // depth stays bounded per round).
      val large = r.persist(sym.join(mLarge, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct(), org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // SMALL-STAR on the canonical (big -> small) form: every node u
      // links its smaller neighbors and itself to their minimum.
      val mSmall = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = r.checkpoint(large.join(mSmall, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mSmall.select(col("u"), col("m").as("v")))
        .distinct())
      // fixpoint = identical canonical edge sets. r21: ONE probe job
      // — both relations are distinct by construction, so "next ⊆ e"
      // is "every next row finds its e row" (count(inE) == count(*)
      // over a multiplicity-1 left join), and with equal counts that
      // is set equality — the same decision the former count() +
      // except().isEmpty pair made in two jobs, minus except's extra
      // distinct exchange.
      val probe = next.join(e.withColumn("inE", lit(1)), Seq("u", "v"), "left")
        .agg(count(lit(1)).as("n"), count(col("inE")).as("m")).head()
      val nextCount = probe.getLong(0)
      converged = nextCount == eCount && probe.getLong(1) == nextCount
      r.release(large)
      r.release(e)
      e = next
      eCount = nextCount
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds " +
          s"($eCount canonical edges remain) — labels would be partial")
    // at the fixpoint every edge is (member -> component min): centers
    // label themselves, members take their star center. The labels are
    // MATERIALIZED (eager checkpoint) so the final round's edge blocks
    // can be released before returning.
    val labels = r.checkpoint(
      e.select(col("u").as("node"), col("v").as("label"))
        .union(e.select(col("v").as("node"), col("v").as("label")))
        .union(isolated.select(col("node"), col("node").as("label")))
        .groupBy(col("node")).agg(min(col("label")).as("label")))
    r.release(e)
    labels
  }

  /** Triangle participation over the STRONG-TIE co-order supplier
    * graph: supplier pairs whose co-order support exceeds the
    * corpus-derived mean + 2σ threshold (no tuned constant — the same
    * derived-bound discipline as q58's outlier cut; the raw co-order
    * graph is near-complete and its triangles degenerate to the
    * supplier-triple count). Each triangle credits all three vertices;
    * output is every supplier in ≥1 strong triangle with its count.
    *
    * Scale posture (100 TB): the classic compact-forward bound — edges
    * ORIENT from the (degree, id)-smaller endpoint to the larger, so
    * every triangle is enumerated exactly once from its lowest-degree
    * apex and the wedge join generates O(Σ deg_out²) ≤ O(m^1.5)
    * candidate rows instead of the unbounded Σ deg² of an unoriented
    * self-join (on a star graph: m wedges instead of m²). The edge
    * relation is persisted once (it feeds the degree aggregate, both
    * wedge sides, and the closing semi-join); support counting is the
    * q83 in-row pair expansion — bounded by basket width, never a
    * lineitem self-join. The closing check is a broadcast-free
    * shuffle semi-join on the canonical pair key. */
  def q88Triangles(spark: SparkSession, dir: String): DataFrame = {
    val sets = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
    // r22: the native ordered_pairs pass (see q83) — identical pairs
    val support = sets.select(explode(
      graft.expressions.PairFunctions.orderedPairs(col("ss"))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n"))
    // the SUPPORT relation is what's worth keeping resident: it costs
    // two lineitem-wide aggregates and feeds the threshold subquery
    // AND every edge read below (≤|supplier-pair| fixed-width rows —
    // the Pipeline narrow-cache rationale), session-scoped like q31's
    // index (the bench's clearCache reclaims it). Edges re-derive from
    // it as a map-side broadcast-threshold filter — no second pass.
    val supportC = support
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    supportC.count() // eager internal-row materialization (the q31 idiom)
    // ONE-row bounded snapshot (the Relational.scala sketch-collect
    // acceptance): the threshold is a single double over the resident
    // support cache; inlining it as a literal makes every edge
    // re-derivation below a pure map over the cache — a broadcast
    // subquery here would replay its one-row aggregate once per edge
    // consumer (five in this plan) for no information gain
    // empty/singleton support makes avg/stddev_samp NULL — an absent
    // threshold means no edge can be "anomalously strong", so the
    // strong graph (and the whole report) is empty rather than an NPE
    val thrRow = supportC.agg(
      round(avg(col("n")) + lit(2.0) * stddev_samp(col("n")), 6))
      .head()
    val thr =
      if (thrRow.isNullAt(0)) Double.PositiveInfinity else thrRow.getDouble(0)
    val edges = supportC.filter(col("n") > thr)
      .select(col("s1"), col("s2"))
    val deg = edges.select(explode(array(col("s1"), col("s2"))).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("deg"))
      // orient by (degree, id): lower endpoint -> higher endpoint.
      // Degrees BROADCAST: ≤ one row per strong-graph node, orders of
      // magnitude below the edge relation (at extreme node counts the
      // same plan degrades gracefully to a shuffle join — drop the
      // hint, nothing else changes)
      val oriented = edges
        .join(broadcast(deg.select(col("s").as("s1"), col("deg").as("d1"))), "s1")
        .join(broadcast(deg.select(col("s").as("s2"), col("deg").as("d2"))), "s2")
        .select(
          when(struct(col("d1"), col("s1")) < struct(col("d2"), col("s2")),
            struct(col("s1").as("lo"), col("s2").as("hi")))
            .otherwise(struct(col("s2").as("lo"), col("s1").as("hi")))
            .as("e"))
        .select(col("e.lo").as("u"), col("e.hi").as("v"))
      // wedges from each apex u; canonical (a < b) closing pair
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.u") === col("e2.u"))
        .filter(col("e1.v") < col("e2.v"))
        .select(col("e1.v").as("a"), col("e2.v").as("b"),
          col("e1.u").as("apex"))
      val closed = wedges.join(
        edges.select(col("s1").as("a"), col("s2").as("b")),
        Seq("a", "b"), "left_semi")
      closed.select(explode(array(col("a"), col("b"), col("apex")))
          .as("s_suppkey"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("s_suppkey"))
  }
}
