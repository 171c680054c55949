package graft.streaming

import graft.SparkSpec
import graft.operators.{Layout, Pipeline}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

object IndexMaintainSpec {
  /** Driver-side drift-report recorder (companion-object queue so the
    * foreachBatch closure survives — the ExportSpec idiom). */
  val driftSink =
    new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]()
}

/** Streaming index maintenance: the three banked-index appends bound
  * to streams — streamed installments must equal the batch append
  * sequence of the same waves, restarts must never double-append, and
  * the drift tripwires must fire per delivered batch. */
class IndexMaintainSpec extends SparkSpec {

  private lazy val vecs: Seq[(Long, Seq[Double])] =
    graft.Tables.spread(graft.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  test("streamed PQ append equals the batch append sequence; drift tripwire fires on a shifted stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (even, odd) = vecs.partition(_._1 % 2 == 0)
    // the shifted stream: x10-scaled vectors are far from the frozen
    // codewords, so appended quantization error must trip the rebuild
    // flag (the LayoutSpec drift fixture, streamed)
    val shifted = odd.map { case (id, e) => (id + 7000000L, e.map(_ * 10.0)) }
    val (w0, w1) = shifted.splitAt(shifted.length / 2)
    // two identical builds: A takes the stream, B the batch sequence
    Pipeline.buildPqIndex(even.toDF("vec_id", "e"), "graft_im_pq_a")
    Pipeline.buildPqIndex(even.toDF("vec_id", "e"), "graft_im_pq_b")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_impq_").toString
    IndexMaintainSpec.driftSink.clear()
    val in = MemoryStream[(Long, Seq[Double])]
    val query = IndexMaintain.pqAppendWriter(
        in.toDF().toDF("vec_id", "e"), "graft_im_pq_a", ckpt,
        onDrift = r => { IndexMaintainSpec.driftSink.add(r.collect().toSeq); () })
      .start()
    try {
      in.addData(w0.toSeq: _*); query.processAllAvailable()
      in.addData(w1.toSeq: _*); query.processAllAvailable()
    } finally query.stop()
    Pipeline.pqIndexAppend(spark, "graft_im_pq_b", w0.toDF("vec_id", "e"))
    Pipeline.pqIndexAppend(spark, "graft_im_pq_b", w1.toDF("vec_id", "e"))
    // the streamed index IS the batch append sequence's: same code
    // rows (exact ints), same stats sidecar
    def codeRows(name: String) = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(codeRows("graft_im_pq_a") == codeRows("graft_im_pq_b"),
      "streamed code relation != batch append sequence's")
    def stats(name: String) = spark.table(name + "_stats").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stats("graft_im_pq_a") == stats("graft_im_pq_b"))
    // one drift report per delivered batch; the final one must agree
    // with the batch-side report AND flag the rebuild
    val reports = IndexMaintainSpec.driftSink.toArray.toSeq
    assert(reports.size == 2, s"drift reports: ${reports.size}")
    val last = reports.last.asInstanceOf[Seq[Row]]
    val batchReport = Pipeline.pqIndexDriftReport(spark, "graft_im_pq_b")
      .collect().toSeq
    assert(last.toString == batchReport.toString,
      s"streamed drift report $last vs batch $batchReport")
    assert(last.head.getAs[Boolean]("needs_rebuild"),
      "x10-shifted appends must trip the rebuild flag")
  }

  test("streamed IVF append equals the batch append sequence; occupancy report rides every batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val shared = Pipeline.bankedTable("ivf", sfDir)
    if (!spark.catalog.tableExists(shared))
      Pipeline.q85IndexedAnn(spark, sfDir).collect()
    // private copies: A takes the stream, B the batch sequence
    Layout.writeIvfIndex(spark.table(shared),
      spark.table(shared + "_routing"), "graft_im_ivf_a", 32)
    Layout.writeIvfIndex(spark.table(shared),
      spark.table(shared + "_routing"), "graft_im_ivf_b", 32)
    // appended vectors: corpus copies under fresh ids (routing must
    // reproduce the source's cluster — the batch append's own proof)
    val fresh = vecs.filter(_._1 % 5 == 0)
      .map { case (id, e) => (id + 8000000L, e) }
    val (w0, w1) = fresh.splitAt(fresh.length / 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_imivf_").toString
    IndexMaintainSpec.driftSink.clear()
    val in = MemoryStream[(Long, Seq[Double])]
    val query = IndexMaintain.ivfAppendWriter(
        in.toDF().toDF("vec_id", "e"), "graft_im_ivf_a", ckpt,
        onDrift = r => { IndexMaintainSpec.driftSink.add(r.collect().toSeq); () })
      .start()
    try {
      in.addData(w0.toSeq: _*); query.processAllAvailable()
      in.addData(w1.toSeq: _*); query.processAllAvailable()
    } finally query.stop()
    Pipeline.indexAppend(spark, "graft_im_ivf_b", w0.toDF("vec_id", "e"))
    Pipeline.indexAppend(spark, "graft_im_ivf_b", w1.toDF("vec_id", "e"))
    def memberRows(name: String) = spark.table(name)
      .select("vec_id", "cluster", "mask").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(memberRows("graft_im_ivf_a") == memberRows("graft_im_ivf_b"),
      "streamed membership != batch append sequence's")
    val reports = IndexMaintainSpec.driftSink.toArray.toSeq
    assert(reports.size == 2, s"occupancy reports: ${reports.size}")
    assert(reports.last.asInstanceOf[Seq[Row]].toString ==
      Pipeline.indexOccupancyReport(spark, "graft_im_ivf_b")
        .collect().toSeq.toString)
  }

  test("streamed inverted-index append equals the batch sequence: postings exact, stats within float replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docRows = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 2000)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (even, odd) = docRows.partition(_._1 % 2 == 0)
    val (w0, w1) = odd.splitAt(odd.length / 2)
    Pipeline.buildInvIndex(spark, "graft_im_inv_a", even.toDF("doc_id", "text"))
    Pipeline.buildInvIndex(spark, "graft_im_inv_b", even.toDF("doc_id", "text"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_iminv_").toString
    val in = MemoryStream[(Long, String)]
    val query = IndexMaintain.invAppendWriter(
        in.toDF().toDF("doc_id", "text"), "graft_im_inv_a", ckpt).start()
    try {
      in.addData(w0.toSeq: _*); query.processAllAvailable()
      in.addData(w1.toSeq: _*); query.processAllAvailable()
    } finally query.stop()
    Pipeline.invIndexAppend(spark, "graft_im_inv_b", w0.toDF("doc_id", "text"))
    Pipeline.invIndexAppend(spark, "graft_im_inv_b", w1.toDF("doc_id", "text"))
    def postings(name: String) = spark.table(name).collect()
      .map(r => (r.getAs[String]("t"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("dl"), r.getAs[Double]("tf"))).toSet
    assert(postings("graft_im_inv_a") == postings("graft_im_inv_b"),
      "streamed postings != batch append sequence's")
    // corpus stats: nn exact; avgdl merges per-batch double averages,
    // so batch/stream agree to float-fold tolerance
    def stats(name: String) = spark.table(name + "_stats").collect().head
    val (sa, sb) = (stats("graft_im_inv_a"), stats("graft_im_inv_b"))
    assert(sa.getDouble(0) == sb.getDouble(0))
    assert(math.abs(sa.getDouble(1) - sb.getDouble(1)) < 1e-9,
      s"avgdl ${sa.getDouble(1)} vs ${sb.getDouble(1)}")
  }

  test("restart never double-appends: deliverOnce markers guard the replayed batch") {
    import spark.implicits._
    val (even, odd) = vecs.partition(_._1 % 2 == 0)
    Pipeline.buildPqIndex(even.toDF("vec_id", "e"), "graft_im_pq_r")
    val before = spark.table("graft_im_pq_r").count()
    val root = java.nio.file.Files.createTempDirectory("graft_imrs_")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    def addFile(name: String, rows: Seq[(Long, Seq[Double])]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        (rows.map { case (id, e) => s"$id|${e.mkString(",")}" }
          .mkString("\n") + "\n").getBytes("UTF-8"))
    def startQuery() = {
      val parts = split(col("value"), "\\|")
      val rows = spark.readStream.text(inDir.toString)
        .select(parts.getItem(0).cast("long").as("vec_id"),
          split(parts.getItem(1), ",").cast("array<double>").as("e"))
      IndexMaintain.pqAppendWriter(rows, "graft_im_pq_r", ckpt).start()
    }
    val w0 = odd.filter(_._1 % 4 == 1)
      .map { case (id, e) => (id + 9000000L, e) }
    val w1 = odd.filter(_._1 % 4 == 3)
      .map { case (id, e) => (id + 9500000L, e) }
    // the writer appends through foreachBatch's CLONED session, which
    // refreshes ITS relation cache, not this reader session's — a
    // polling reader refreshes before counting (standard Spark catalog
    // behavior for any cross-session table append)
    def freshCount(): Long = {
      spark.catalog.refreshTable("graft_im_pq_r")
      spark.table("graft_im_pq_r").count()
    }
    val q1 = startQuery()
    try {
      addFile("f1.txt", w0)
      val deadline = System.currentTimeMillis() + 60000
      while (freshCount() < before + w0.length &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      awaitCheckpointQuiesced(ckpt)
    } finally q1.stop()
    assert(freshCount() == before + w0.length)
    val q2 = startQuery()
    try {
      addFile("f2.txt", w1)
      val deadline = System.currentTimeMillis() + 60000
      while (freshCount() < before + w0.length + w1.length &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      awaitCheckpointQuiesced(ckpt)
    } finally q2.stop()
    // exactly once across the restart: every appended id appears once
    val appended = spark.table("graft_im_pq_r")
      .filter(col("vec_id") >= 9000000L).select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    assert(appended.length == w0.length + w1.length,
      s"double-append: ${appended.length} vs ${w0.length + w1.length}")
    assert(appended.distinct.length == appended.length)
    assert(new java.io.File(s"$ckpt/delivered").listFiles()
      .exists(_.getName.endsWith(".done")), "replay markers missing")
  }

  test("duplicate audit flags a replayed append exactly; rebuild clears it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (half, rest) = vecs.partition(_._1 % 2 == 0)
    Pipeline.buildPqIndex(half.toDF("vec_id", "e"), "graft_im_audit_pq")
    def audit() = Pipeline.indexDuplicateAudit(spark, "graft_im_audit_pq",
        Seq("vec_id"), "pq_codes").collect().head
    // clean build: unique
    assert(audit().getAs[Boolean]("keys_unique"))
    // a legitimate append stays unique; the SAME batch again (the
    // replay window: crash between append and marker) breaks it by
    // exactly the batch size
    Pipeline.pqIndexAppend(spark, "graft_im_audit_pq",
      rest.toDF("vec_id", "e"))
    assert(audit().getAs[Boolean]("keys_unique"))
    Pipeline.pqIndexAppend(spark, "graft_im_audit_pq",
      rest.toDF("vec_id", "e"))
    val flagged = audit()
    assert(!flagged.getAs[Boolean]("keys_unique"))
    assert(flagged.getAs[Long]("n_dup_rows") == rest.length.toLong,
      s"dup rows ${flagged.getAs[Long]("n_dup_rows")} vs ${rest.length}")
    // the normal response to a flag: rebuild (Overwrite) — audit
    // returns to all-clear
    Pipeline.buildPqIndex(vecs.toDF("vec_id", "e"), "graft_im_audit_pq")
    val cleared = audit()
    assert(cleared.getAs[Boolean]("keys_unique") &&
      cleared.getAs[Long]("n_rows") == vecs.length.toLong)
  }
}
