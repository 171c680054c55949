package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Alternating-star connected components vs an independent
  * driver-side union-find oracle. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Plain union-find with path compression — the independent oracle;
    * labels every node with its component minimum. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-root invariant: unions always attach the larger root under
    // the smaller, so find() IS the component minimum
    nodes.map(n => n -> find(n)).toMap
  }

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Residents { res => Graph.connectedComponentsStar(res, edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap }

  test("random graph: labels match union-find exactly") {
    val rnd = new scala.util.Random(20260812L)
    val edges = Seq.fill(350)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    assert(labelsOf(edges) == unionFind(edges))
  }

  test("deep path graph converges (the case diameter-bounded propagation can't do in O(log) rounds)") {
    // a 400-node path has diameter 399: min-label propagation needs
    // ~400 rounds; alternating star must finish inside the 40-round cap
    val path = (0L until 399L).map(i => (i, i + 1))
    val got = labelsOf(path)
    assert(got.size == 400 && got.values.forall(_ == 0L))
  }

  test("self-loops, duplicate and reversed edges, isolated nodes") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L), (9L, 9L))
    val got = labelsOf(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 9L -> 9L))
  }

  test("two stars joined by a bridge merge to one component") {
    val a = (101L to 110L).map(i => (100L, i))
    val b = (201L to 210L).map(i => (200L, i))
    val edges = a ++ b :+ ((110L, 210L): (Long, Long))
    val got = labelsOf(edges)
    assert(got.values.toSet == Set(100L))
  }

  test("q88 triangles: participation matches a brute-force enumeration of the strong graph") {
    // sf0.01: the smallest scale whose strong-tie graph has triangles
    // (at sf0.001 the mean+2σ cut leaves zero edges — an empty result
    // would vacuously pass)
    val dir = "/root/testdata/sf0.01"
    val rows = Graph.q88Triangles(spark, dir).collect()
    assert(rows.nonEmpty, "strong graph unexpectedly triangle-free")
    // strong edges replayed locally: distinct (order, supplier) pairs,
    // support per canonical pair, mean+2σ cut — the query's own
    // derivation, independently in driver-side Scala
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val support = li.groupBy(_._1).values.flatMap { g =>
      val ss = g.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- i + 1 until ss.size) yield (ss(i), ss(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ns = support.values.map(_.toDouble).toSeq
    val mean = ns.sum / ns.size
    val sd = math.sqrt(ns.map(x => (x - mean) * (x - mean)).sum / (ns.size - 1))
    val thr = BigDecimal(mean + 2 * sd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // NOTE: Map#collect over tuple results rebuilds a MAP (collapsing
    // by first element) — filter + keySet keeps the pair set intact
    val strong = support.filter(_._2 > thr).keySet
    // brute-force triangles by id order over the strong edge set
    val nodes = strong.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val part = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if strong((nodes(i), nodes(j)))
      k <- j + 1 until nodes.size
      if strong((nodes(j), nodes(k))) && strong((nodes(i), nodes(k)))
    } Seq(nodes(i), nodes(j), nodes(k)).foreach(n => part(n) += 1)
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == part.toMap, s"engine $got\nlocal ${part.toMap}")
    // every participant really is a supplier from the edge set
    assert(got.keySet.subsetOf(nodes.toSet))
  }

  test("q88 triangles: a support relation too small for a threshold yields empty, not an NPE") {
    // one order with one supplier -> zero co-occurrence pairs, so
    // avg/stddev_samp are NULL: the absent threshold must read as "no
    // edge is anomalously strong" (empty report), not a head/getDouble
    // crash (ADVICE r12)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q88_empty")
      .toString
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val one = li.select(col("l_orderkey"), col("l_suppkey")).limit(1)
    li.join(one, Seq("l_orderkey", "l_suppkey"), "left_semi")
      .write.parquet(s"$tmp/lineitem.parquet")
    assert(Graph.q88Triangles(spark, tmp).collect().isEmpty)
  }
}
