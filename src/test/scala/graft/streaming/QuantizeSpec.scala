package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.Pipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class QuantizeSpec extends SparkSpec {

  test("streaming PQ encode equals the batch fold against the stored codebook, stateless") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // a persisted index to read the frozen codebook from
    val idx = Pipeline.bankedTable("pq", sfDir)
    if (!spark.catalog.tableExists(idx))
      Pipeline.q103IndexedPqAnn(spark, sfDir).collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .limit(64).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])]
    val query = Quantize.encodeWithStoredCodebook(spark, idx,
        in.toDF().toDF("vec_id", "e"))
      .writeStream.format("memory").queryName("quantize_mem")
      .outputMode("append").start()
    try {
      in.addData(vecs.toSeq)
      query.processAllAvailable()
      val streamed = spark.table("quantize_mem").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
      // batch truth 1: the shared fold over a static frame
      val seeds = Pipeline.storedPqSeeds(spark, idx)
      val batch = Quantize.encode(vecs.toSeq.toDF("vec_id", "e"), seeds)
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
      assert(streamed == batch, "stream/batch encode diverged")
      // batch truth 2: vectors that are IN the index must stream-encode
      // to their at-rest codes — the gate emits exactly what the build
      // wrote
      val stored = spark.table(idx)
        .filter(col("vec_id").isin(vecs.map(_._1): _*))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
      assert(streamed == stored, "gate diverged from the index at rest")
      // stateless: no state operator in the progress at all
      assert(query.lastProgress.stateOperators.isEmpty,
        "the quantize gate must not hold state")
    } finally query.stop()
  }

  test("driftByWindow: stationary window quiet, shifted window trips the flag") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val idx = Pipeline.bankedTable("pq", sfDir)
    if (!spark.catalog.tableExists(idx))
      Pipeline.q103IndexedPqAnn(spark, sfDir).collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(offsetH: Int) = new java.sql.Timestamp(t0.getTime + offsetH * 3600000L)
    val in = MemoryStream[(Long, Seq[Double], java.sql.Timestamp)]
    val query = Quantize.driftByWindow(spark, idx,
        in.toDF().toDF("vec_id", "e", "ts"))
      .writeStream.format("memory").queryName("drift_mem")
      .outputMode("append").start()
    try {
      // window A: the build corpus verbatim — by construction its
      // average error IS the build average
      in.addData(vecs.toSeq.map { case (id, e) => (id, e, at(0)) })
      query.processAllAvailable()
      // window B: 10x-scaled vectors — ~100x the quantization error
      in.addData(vecs.toSeq.map { case (id, e) =>
        (id + 1000000L, e.map(_ * 10.0), at(2)) })
      query.processAllAvailable()
      // far-future sentinel closes both windows
      in.addData(Seq((9999999L, vecs.head._2, at(24 * 400))))
      query.processAllAvailable()
      val rows = spark.table("drift_mem").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4)))
        .sortBy(_._1.getTime)
      assert(rows.length == 2, s"expected both closed windows, got $rows")
      val (a, b) = (rows(0), rows(1))
      assert(a._2 == vecs.length.toLong && b._2 == vecs.length.toLong)
      // stationary window reproduces the build average exactly and
      // stays quiet
      assert(a._3 == a._4, s"stationary avg ${a._3} != build ${a._4}")
      assert(!a._5)
      // drifted window trips the rebuild flag
      assert(b._3 > b._4 * 2 && b._5, s"shifted window must flag: $b")
    } finally query.stop()
  }

  test("windowed centroid drift: an on-baseline window reads ~1.0, a negated window reads -1.0") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the labelCentroids derivation, inlined (operators-private)
    val baseline = Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("cavg"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cavg")))).as("tmp"))
      .selectExpr("label", "transform(tmp, s -> s.cavg) AS cvec")
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("CAST(label AS LONG) AS label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double], Long)]
    val docs = in.toDF().toDF("label", "e", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Quantize.centroidDriftByWindow(docs, "ts", "10 seconds",
        "0 seconds", baseline)
      .writeStream.format("memory").queryName("cdrift_mem")
      .outputMode("append").start()
    try {
      // window [0,10): the exact build corpus -> per-label means equal
      // the baseline centroids (same round-6 discipline) -> cos ~ 1;
      // window [10,20): every vector negated -> cos = -1 exactly
      in.addData(vecs.map { case (l, e) => (l, e, 1L) }.toSeq)
      in.addData(vecs.map { case (l, e) => (l, e.map(-_), 12L) }.toSeq)
      in.addData((vecs.head._1, vecs.head._2, 60L)) // close both windows
      query.processAllAvailable()
      val got = spark.table("cdrift_mem").collect().map(r =>
        (r.getAs[java.sql.Timestamp]("window_start").getTime / 1000L,
          r.getAs[Long]("label")) ->
          (r.getAs[Long]("n"), r.getAs[Double]("centroid_cos"))).toMap
      val labels = vecs.map(_._1).distinct
      for (l <- labels) {
        val n = vecs.count(_._1 == l).toLong
        assert(got((0L, l))._1 == n, s"label $l window-0 count")
        assert(got((0L, l))._2 >= 0.999998, s"label $l on-baseline cos ${got((0L, l))._2}")
        assert(got((10L, l))._1 == n, s"label $l window-10 count")
        assert(got((10L, l))._2 == -1.0, s"label $l negated cos ${got((10L, l))._2}")
      }
    } finally query.stop()
  }
}
