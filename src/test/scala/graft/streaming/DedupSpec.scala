package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

object DedupSpec {
  /** Independent re-derivation of the verified gate's key chain from
    * MessageDigest up (no shared Spark columns) — the fixture-search
    * and parity helpers for the bootstrap/eviction tests. */
  val Pm = 2147483647L
  def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }
  def phm(s: String): Long = h60(s) % Pm
  def hsOf(text: String): Seq[Long] =
    text.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
      .map(_.mkString(" ")).toSeq.distinct.map(phm).sorted
  def bucketOf(hs: Seq[Long]): Long =
    phm((0 until 16).map(h => hs.map(x =>
      ((2L * h + 1) * x + 12289L * h) % Pm).min).take(4).mkString(","))
  def interOf(a: Seq[Long], b: Seq[Long]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1 else j += 1
    }
    n
  }

  /** Recorder for the restart test — a companion-object queue so the
    * foreachBatch closure survives serialization (EngineSpec idiom). */
  val restartSink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  val embRestartSink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val imgRestartSink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val ingestRestartSink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
}

/** Streaming dedup through the state store: keep-first semantics,
  * watermark-bounded state, and exactly-once across a checkpoint
  * restart on the RocksDB provider. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup: first occurrence kept, in-horizon dups dropped, horizon evicts state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)] // (doc_id, text, epoch sec)
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupExact(docs, "text", "ts", "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("dedup_mem")
      .outputMode("append").start()
    def ids = spark.table("dedup_mem").as[Long].collect().sorted.toSeq
    try {
      // same content under three ids in one batch: only the first passes
      in.addData((1L, "alpha beta", 1L), (2L, "alpha beta", 2L), (3L, "gamma delta", 3L))
      query.processAllAvailable()
      assert(ids == Seq(1L, 3L), s"got $ids")
      // a duplicate in a later batch, still inside the horizon: dropped
      in.addData((4L, "alpha beta", 5L))
      query.processAllAvailable()
      assert(ids == Seq(1L, 3L), s"got $ids")
      // push the watermark far past first-seen + horizon, then re-send:
      // state was evicted, so the re-arrival is re-admitted — the
      // documented horizon contract (bounded state on an infinite
      // stream), not a bug
      in.addData((5L, "unrelated text", 100L))
      query.processAllAvailable()
      in.addData((6L, "alpha beta", 95L))
      query.processAllAvailable()
      assert(ids == Seq(1L, 3L, 5L, 6L), s"got $ids")
    } finally query.stop()
  }

  test("normalized dedup: formatting variants collapse at the gate, batch q91 canonical agreement") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupNormalized(docs, "text", "ts", "1 hour")
      .select("doc_id")
      .writeStream.format("memory").queryName("dedup_norm_mem")
      .outputMode("append").start()
    try {
      // the q91 variant shape: upper-case, doubled spaces, trailing
      // punctuation — byte-distinct, canonically identical
      in.addData((1L, "alpha beta gamma", 1L),
        (2L, "ALPHA  BETA  GAMMA !!", 2L),
        (3L, "alpha, beta. gamma", 3L),
        (4L, "a genuinely different document", 4L))
      query.processAllAvailable()
      val ids = spark.table("dedup_norm_mem").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 4L), s"got $ids")
      // batch agreement: the gate's canonical digest IS q91's — the
      // set of survivors equals one doc per batch-canonical form
      val canon = graft.functions.TextFunctions.canonicalText(col("text"))
      val batchForms = Seq((1L, "alpha beta gamma"),
        (2L, "ALPHA  BETA  GAMMA !!"), (3L, "alpha, beta. gamma"),
        (4L, "a genuinely different document"))
        .toDF("doc_id", "text").select(md5(canon.cast("binary")))
        .distinct().count()
      assert(batchForms == ids.length.toLong)
    } finally query.stop()
  }

  test("simhash near-dup dedup: token-level near-copies collapse, distinct docs pass") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupSimhash(docs, "text", "ts", "1 hour")
      .select("doc_id")
      .writeStream.format("memory").queryName("dedup_sim_mem")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again " * 4
      // a near-copy duplicating one token keeps the same weighted bit
      // votes' signs; an unrelated doc flips them
      in.addData((1L, base, 1L), (2L, base + " the", 2L),
        (3L, "completely different content with other words entirely", 3L))
      query.processAllAvailable()
      val ids = spark.table("dedup_sim_mem").as[Long].collect().sorted.toSeq
      assert(ids.contains(1L) && ids.contains(3L), s"got $ids")
      assert(!ids.contains(2L), s"near-copy must collapse onto doc 1's signature: $ids")
    } finally query.stop()
  }

  test("embedding near-dup dedup: SRP collapse, batch bucket agreement, horizon eviction") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic fixture: v2 is a positive scaling of v1 — identical
    // dot signs against ANY hyperplane, so collapse is certain, not
    // probabilistic; v3 is an independent vector
    val v1 = Seq.tabulate(64)(i => math.sin(i + 1.0))
    val v2 = v1.map(_ * 1.0002)
    val v3 = Seq.tabulate(64)(i => math.cos(3.0 * i + 1.0))
    // batch/stream agreement: the expected kept set comes from the
    // BATCH operator's buckets (same hyperplanes, same bits)
    val batchBuckets = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
      .select(col("vec_id"), graft.operators.Pipeline.srpBucket(
        transform(col("embedding"), x => x.cast("double")), 16).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchBuckets(1L) == batchBuckets(2L), "scaled copy must share the bucket")
    assert(batchBuckets(1L) != batchBuckets(3L), "independent vector must not")
    val in = MemoryStream[(Long, Seq[Double], Long)]
    val docs = in.toDF().toDF("vec_id", "embedding", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupEmbedding(docs, "embedding", "ts", "10 seconds")
      .select("vec_id")
      .writeStream.format("memory").queryName("dedup_emb_mem")
      .outputMode("append").start()
    def ids = spark.table("dedup_emb_mem").as[Long].collect().sorted.toSeq
    try {
      in.addData((1L, v1, 1L), (3L, v3, 2L))
      query.processAllAvailable()
      assert(ids == Seq(1L, 3L), s"got $ids")
      // the near-copy arrives in a later batch, inside the horizon:
      // collapses onto doc 1's signature exactly as the batch buckets say
      in.addData((2L, v2, 4L))
      query.processAllAvailable()
      assert(ids == Seq(1L, 3L), s"near-copy must collapse: $ids")
      // horizon contract: watermark passes first-seen + horizon, state
      // evicts, a re-arrival is re-admitted (the documented trade)
      in.addData((4L, Seq.tabulate(64)(i => math.sin(2.0 * i + 0.5)), 100L))
      query.processAllAvailable()
      in.addData((5L, v2, 95L))
      query.processAllAvailable()
      assert(ids == Seq(1L, 3L, 4L, 5L), s"got $ids")
    } finally query.stop()
  }

  test("embedding dedup state survives a restart on RocksDB") {
    val root = java.nio.file.Files.createTempDirectory("graft-embdedup-restart")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    val v1 = Seq.tabulate(64)(i => math.sin(i + 1.0))
    val v3 = Seq.tabulate(64)(i => math.cos(3.0 * i + 1.0))
    val v5 = Seq.tabulate(64)(i => math.sin(2.0 * i + 0.5))
    def enc(v: Seq[Double]) = v.mkString(",")
    def addFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def startQuery() = StateStores.withRocksDB(spark) {
      val parts = split(col("value"), "\\|")
      val docs = spark.readStream.text(inDir.toString)
        .select(parts.getItem(0).cast("long").as("vec_id"),
          split(parts.getItem(1), ",").cast("array<double>").as("embedding"),
          parts.getItem(2).cast("long").cast("timestamp").as("ts"))
      Dedup.dedupEmbedding(docs, "embedding", "ts", "1 hour")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("vec_id").collect()
            .foreach(r => DedupSpec.embRestartSink.add(r.getLong(0)))
        }
        .start()
    }
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what " +
        s"(sink: ${DedupSpec.embRestartSink.asScala.toSeq})")
    }
    DedupSpec.embRestartSink.clear()
    // phase 1: v1 passes, its scaled in-batch copy is dropped
    val q1 = startQuery()
    try {
      addFile("f1.txt", Seq(s"1|${enc(v1)}|1", s"2|${enc(v1.map(_ * 1.0002))}|2",
        s"3|${enc(v3)}|3"))
      await(DedupSpec.embRestartSink.asScala.toSet == Set(1L, 3L), "phase-1 rows")
    } finally q1.stop()
    // phase 2: restart — a scaled copy of phase 1's vector must STILL
    // collapse (recovered RocksDB state), a fresh vector passes
    val q2 = startQuery()
    try {
      addFile("f2.txt", Seq(s"4|${enc(v1.map(_ * 1.0001))}|5", s"5|${enc(v5)}|6"))
      await(DedupSpec.embRestartSink.asScala.toSet.contains(5L), "phase-2 row")
      val seen = DedupSpec.embRestartSink.asScala.toSet
      assert(!seen.contains(4L),
        s"duplicate re-emitted after restart — state lost: $seen")
      assert(!seen.contains(2L), s"phase-1 duplicate resurfaced: $seen")
    } finally q2.stop()
  }

  test("image dedup gates: batch q97 parity on the same corpus (exact groups, perceptual signatures)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the REAL batch corpus — twins, variants, genuine PNG bytes —
    // streamed through both gates; survivor counts must equal what
    // batch q97 reports over the identical files (one derivation,
    // two modes)
    val files = graft.operators.Multimodal
      .imageCorpus(spark, sfDir).collect()
      .map(f => (f.mediaId, f.payload, 1L + f.mediaId % 7))
    val batch = graft.operators.Multimodal.q97ImageDedup(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nGroups = batch.filter(_._1 == "exact").map(_._3).sum
    val nDhash = batch.filter(_._1 == "ahash").head._4
    val in = MemoryStream[(Long, Array[Byte], Long)]
    val docs = in.toDF().toDF("media_id", "payload", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val qe = Dedup.dedupImageExact(docs, "payload", "ts", "1 hour")
      .select("media_id")
      .writeStream.format("memory").queryName("img_exact_mem")
      .outputMode("append").start()
    val qp = Dedup.dedupImagePerceptual(docs, "payload", "ts", "1 hour")
      .select("media_id")
      .writeStream.format("memory").queryName("img_perc_mem")
      .outputMode("append").start()
    try {
      in.addData(files.toIndexedSeq)
      qe.processAllAvailable(); qp.processAllAvailable()
      val exactKept = spark.table("img_exact_mem").count()
      val percKept = spark.table("img_perc_mem").count()
      assert(exactKept == nGroups,
        s"exact gate kept $exactKept, batch has $nGroups digest groups")
      assert(percKept == nDhash,
        s"perceptual gate kept $percKept, batch has $nDhash distinct dHashes")
      // and the perceptual gate is strictly stronger on this corpus:
      // every twin AND every d=0 variant collapses
      assert(percKept <= exactKept)
    } finally { qe.stop(); qp.stop() }
  }

  test("perceptual image dedup state survives a restart on RocksDB") {
    val root = java.nio.file.Files.createTempDirectory("graft-imgdedup-restart")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    def addFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    // payloads derive in-plan from (base_id, variant) through the REAL
    // PNG encoder, so the recovered state is exercised by genuine
    // decode + hash work, not canned bytes
    val png = udf { (base: Long, variant: Boolean) =>
      graft.operators.Multimodal.encodeGrayPng(base, variant)
    }
    def startQuery() = StateStores.withRocksDB(spark) {
      val parts = split(col("value"), "\\|")
      val docs = spark.readStream.text(inDir.toString)
        .select(parts.getItem(0).cast("long").as("media_id"),
          png(parts.getItem(1).cast("long"),
            parts.getItem(2).cast("boolean")).as("payload"),
          parts.getItem(3).cast("long").cast("timestamp").as("ts"))
      Dedup.dedupImagePerceptual(docs, "payload", "ts", "1 hour")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("media_id").collect()
            .foreach(r => DedupSpec.imgRestartSink.add(r.getLong(0)))
        }
        .start()
    }
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what " +
        s"(sink: ${DedupSpec.imgRestartSink.asScala.toSeq})")
    }
    DedupSpec.imgRestartSink.clear()
    // phase 1: base 1 passes, its byte-identical twin drops, base 3 passes
    val q1 = startQuery()
    try {
      addFile("f1.txt", Seq("1|1|false|1", "2|1|false|2", "3|3|false|3"))
      await(DedupSpec.imgRestartSink.asScala.toSet == Set(1L, 3L), "phase-1 rows")
    } finally q1.stop()
    // phase 2: restart — another copy of image 1 must STILL collapse
    // (recovered RocksDB state), a fresh image passes
    val q2 = startQuery()
    try {
      addFile("f2.txt", Seq("4|1|false|5", "5|5|false|6"))
      await(DedupSpec.imgRestartSink.asScala.toSet.contains(5L), "phase-2 row")
      val seen = DedupSpec.imgRestartSink.asScala.toSet
      assert(!seen.contains(4L),
        s"duplicate re-emitted after restart — state lost: $seen")
      assert(!seen.contains(2L), s"phase-1 duplicate resurfaced: $seen")
    } finally q2.stop()
  }

  test("passage dedup: repeated chunks collapse across documents, fresh chunks survive") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupPassages(docs, "text", "ts", "1 hour", chunkTokens = 4)
      .select("doc_id", "chunk_idx", "chunk")
      .writeStream.format("memory").queryName("dedup_pass_mem")
      .outputMode("append").start()
    def rows = spark.table("dedup_pass_mem").as[(Long, Int, String)]
      .collect().sorted.toSeq
    try {
      // doc 1: two distinct chunks; doc too short for a chunk: silent
      in.addData((1L, "a b c d e f g h", 1L), (2L, "tiny", 2L))
      query.processAllAvailable()
      assert(rows == Seq((1L, 0, "a b c d"), (1L, 1, "e f g h")), s"got $rows")
      // doc 3 copies doc 1's first chunk (boilerplate) + adds a fresh
      // one: only the fresh chunk survives — the partial-copy catch
      in.addData((3L, "a b c d x y z w", 5L))
      query.processAllAvailable()
      assert(rows == Seq((1L, 0, "a b c d"), (1L, 1, "e f g h"),
        (3L, 1, "x y z w")), s"got $rows")
      // batch agreement: distinct surviving chunks == the batch
      // operator's distinct chunk hashes over the same corpus
      val batch = Seq((1L, "a b c d e f g h"), (2L, "tiny"), (3L, "a b c d x y z w"))
        .toDF("doc_id", "text")
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 4)
        .select(posexplode(transform(
          sequence(lit(1), (size(col("toks")) / 4).cast("int")),
          i => array_join(slice(col("toks"), (i - 1) * 4 + 1, lit(4)), " ")))
          .as(Seq("p", "chunk")))
        .select("chunk").distinct().as[String].collect().toSet
      assert(rows.map(_._3).toSet == batch, "stream survivors must equal batch distinct chunks")
    } finally query.stop()
  }

  test("CDC passage dedup stream: a SHIFTED re-arriving passage still collapses (batch parity)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val passage = Seq.tabulate(40)(i => s"body$i").mkString(" ")
    val docs = Seq(
      (1L, passage, 10L),                                // original
      (2L, s"brand new lead tokens $passage", 20L),      // shifted copy
      (3L, Seq.tabulate(30)(i => s"other$i").mkString(" "), 30L)) // unrelated
    // ground truth from the SHARED batch derivation: first arrival
    // (doc order) per chunk text survives
    val batchChunks = graft.operators.Pipeline.cdcChunkExplode(
        docs.toDF("doc_id", "text", "sec"), "text")
      .select("doc_id", "chunk").collect().map(r => (r.getLong(0), r.getString(1)))
    val expectKept = batchChunks.groupBy(_._2)
      .valuesIterator.map(_.minBy(_._1)).toSet
    val in = MemoryStream[(Long, String, Long)]
    val stream = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupPassagesCdc(stream, "text", "ts", "1 hour")
      .select("doc_id", "chunk")
      .writeStream.format("memory").queryName("cdc_dedup_mem")
      .outputMode("append").start()
    try {
      // one micro-batch per doc: deterministic first-arrival order
      docs.foreach { d => in.addData(d); query.processAllAvailable() }
      val got = spark.table("cdc_dedup_mem").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expectKept, s"stream $got vs batch-derived $expectKept")
      // the structural claim: the shifted copy's INTERIOR chunks
      // deduped against the original — doc 2 must have lost chunks
      val doc2All = batchChunks.count(_._1 == 2L)
      val doc2Kept = got.count(_._1 == 2L)
      assert(doc2Kept < doc2All,
        s"shifted copy must collapse interior chunks ($doc2Kept of $doc2All kept)")
      assert(got.count(_._1 == 1L) == batchChunks.count(_._1 == 1L),
        "the original keeps every chunk")
    } finally query.stop()
  }

  test("streaming curation agrees with batch row-for-row (one definition, two modes)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, "short doc"), // too_short
      (2L, Seq.tabulate(40)(i => s"tok$i").mkString(" ")), // keep
      (3L, ("the same pair " * 30).trim), // repetitive/low_diversity
      (4L, "mail me at someone@mail.example or see http://site.example/x " +
        Seq.tabulate(30)(i => s"w$i").mkString(" ")),
      (5L, null)) // malformed record: must gate out, not pass as keep
    // batch verdicts + scrub over a plain DataFrame
    val batchDF = rows.toDF("doc_id", "text")
    val expVerdicts = Curation.withQualityVerdict(batchDF, "text")
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expScrub = Curation.piiScrub(batchDF, "text")
      .select("doc_id", "text", "n_pii").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    // the SAME operators over a stream
    val in = MemoryStream[(Long, String)]
    val streamed = Curation.piiScrub(
      Curation.withQualityVerdict(in.toDF().toDF("doc_id", "text"), "text"), "text")
    val query = streamed.writeStream.format("memory").queryName("curation_mem")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("curation_mem").collect()
        .map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[String]("verdict"), r.getAs[String]("text"), r.getAs[Int]("n_pii"))))
        .toMap
      assert(got.keySet == expVerdicts.keySet)
      got.foreach { case (id, (v, t, n)) =>
        assert(v == expVerdicts(id), s"doc $id verdict: $v vs ${expVerdicts(id)}")
        assert((t, n) == expScrub(id), s"doc $id scrub mismatch")
      }
      assert(got(1L)._1 == "too_short" && got(2L)._1 == "keep")
      assert(got(4L)._3 == 2 && got(4L)._2.contains("<EMAIL>") && got(4L)._2.contains("<URL>"))
      // null text: gated out (NOT keep), zero PII, text stays null
      assert(got(5L)._1 == "too_short" && got(5L)._2 == null && got(5L)._3 == 0)
    } finally query.stop()
  }

  test("streaming markup extraction agrees with a plain-scala replay (one derivation, two modes)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsRows = Seq(
      (1L, "en", Seq.tabulate(30)(i => s"word$i").mkString(" ")),
      (2L, "de", "tiny"), // both body halves short → every line drops
      (3L, "fr", ("alpha beta gamma delta " * 8).trim))
    val pages = graft.operators.Pipeline.markupPages(
        docsRows.toDF("doc_id", "lang", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // independent plain-scala replay of the tag-strip + rule cascade
    def cleanLine(l: String) = l.replaceAll("<[^>]*>", "").trim
    def links(l: String) = "(?i)<a[ \t>]".r.findAllIn(l).size
    def keep(l: String) = {
      val c = cleanLine(l)
      c.length >= 25 && links(l) < 2 && !c.toLowerCase.contains("copyright")
    }
    val exp = pages.map { case (id, _, html) =>
      val ls = html.split("\n", -1).toSeq
      val kept = ls.filter(keep).map(cleanLine)
      id -> (kept.mkString(" "), ls.length, ls.count(l => !keep(l)),
        kept.map(_.length.toLong).sum)
    }.toMap
    val in = MemoryStream[(Long, String, String)]
    val streamed = Curation.markupExtract(
      in.toDF().toDF("doc_id", "lang", "html"), "html")
    val query = streamed.writeStream.format("memory").queryName("markup_mem")
      .outputMode("append").start()
    try {
      in.addData(pages: _*)
      query.processAllAvailable()
      val got = spark.table("markup_mem").collect().map(r =>
        r.getAs[Long]("doc_id") -> (r.getAs[String]("text"),
          r.getAs[Int]("n_lines"), r.getAs[Int]("n_dropped_lines"),
          r.getAs[Long]("extracted_chars"))).toMap
      assert(got.keySet == exp.keySet)
      got.foreach { case (id, g) =>
        assert(g == exp(id), s"doc $id: $g vs ${exp(id)}") }
      // doc 1: both body paragraphs survive; the four boilerplate
      // lines (nav, heading, menu, footer) all drop
      assert(got(1L)._3 == 4 && got(1L)._1.nonEmpty)
      // doc 2 ("tiny"): nothing survives the short-line rule
      assert(got(2L)._1 == "" && got(2L)._3 == 6)
    } finally query.stop()
  }

  test("bootstrapped dedup: batch history drops statelessly, stream-internal dups still hit state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val historyDoc = Seq.tabulate(25)(i => s"old$i").mkString(" ")
    val fresh = Seq.tabulate(25)(i => s"new$i").mkString(" ")
    // the artifact a nightly batch persists: distinct canonical digests
    val history = Dedup.historicalDigests(
      Seq(historyDoc).toDF("text"), "text")
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupNormalized(
        docs, "text", "ts", "10 minutes", history = Some(history))
      .writeStream.format("memory").queryName("boot_mem")
      .outputMode("append").start()
    try {
      in.addData(
        // case variant of HISTORY content: canonical digest matches →
        // dropped by the stream-static anti-join, never costs state
        (1L, historyDoc.toUpperCase, 1L),
        (2L, fresh, 2L),                  // genuinely new: kept
        (3L, fresh.toUpperCase, 3L))      // stream-internal dup: state drops it
      query.processAllAvailable()
      val got = spark.table("boot_mem").collect().map(_.getLong(0)).toSet
      assert(got == Set(2L), s"got $got")
      // exactly ONE stateful operator — the bootstrap join added none —
      // and its state holds only the KEPT stream doc, never history
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 1, s"state ops: ${ops.length}")
      assert(ops.head.numRowsTotal == 1, s"state rows: ${ops.head.numRowsTotal}")
    } finally query.stop()
  }

  test("composed ingest gate: extract -> gate -> scrub -> dedup in one append chain") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val good = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    val caseVariant = good.toUpperCase // same canonical digest as `good`
    val short = "tiny text" // fails the short-line rule, then the gate
    val pii = Seq.tabulate(28)(i => s"w$i").mkString(" ") +
      " mail me@site.example now"
    val in = MemoryStream[(Long, String, Long)] // (doc_id, html, epoch sec)
    val pages = in.toDF().toDF("doc_id", "html", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.ingestGate(pages, "html", "ts", "10 minutes")
    val query = out.writeStream.format("memory").queryName("ingest_mem")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, s"<p>$good</p>", 1L), (2L, s"<p>$caseVariant</p>", 2L),
        (3L, s"<p>$short</p>", 3L), (4L, s"<p>$pii</p>", 4L))
      query.processAllAvailable()
      val got = spark.table("ingest_mem").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      // doc 3: every line fails extraction, the empty text fails the
      // gate; doc 2: the case variant collapses onto doc 1's canonical
      // digest (within one batch the first arrival wins); doc 4:
      // survives with its email redacted and counted
      assert(got.keySet == Set(1L, 4L), s"got ${got.keySet}")
      assert(got(4L).getAs[Int]("n_pii") == 1)
      assert(got(4L).getAs[String]("text").contains("<EMAIL>"))
      assert(!got(4L).getAs[String]("text").contains("site.example"))
      // extraction metadata rides through the whole chain
      assert(got.values.forall(_.getAs[Int]("n_lines") == 1))
      assert(got(1L).getAs[String]("text") == good)
      // the composition's ONLY stateful operator is the dedup stage
      val stateOps = query.lastProgress.stateOperators
      assert(stateOps.length == 1, s"expected 1 state op, got ${stateOps.length}")
    } finally query.stop()
  }

  test("decontamination verdict: map-side predicate agrees with the batch semi-join, Bloom FPs harmless") {
    import graft.functions.TextFunctions.{portableHashMod, wordShingles}
    val evalDocs = Seq(
      "the held out benchmark question about astronomy and physics answers",
      "a second eval prompt carrying its own eight token span here").toDF("text")
    val evalGrams = graft.operators.Pipeline.wordGramHashes(evalDocs, "text")
    val corpus = Seq(
      // embeds eval doc 1's tokens 2-9 as a full 8-gram → contaminated
      (1L, "prefix words held out benchmark question about astronomy and physics trailing tail"),
      // shares 7 consecutive tokens only (one substituted) → clean
      (2L, "prefix words held out benchmark question about astronomy XX physics trailing tail"),
      (3L, "a completely unrelated document with plenty of tokens to shingle over"),
      (4L, null.asInstanceOf[String]), // no grams, never contaminated
      (5L, "short doc")) // < 8 tokens, no grams
      .toDF("doc_id", "text")
    // batch truth: the q113-stage-4 semi-join on the same gram hashes
    val batchTruth = corpus
      .select(col("doc_id"),
        explode(wordShingles(split(col("text"), " "), 8)).as("gram"))
      .select(col("doc_id"), portableHashMod(col("gram")).as("h"))
      .join(evalGrams, Seq("h"), "left_semi")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(batchTruth == Set(1L), s"fixture broken: $batchTruth")
    def verdicts(bloomBits: Int): Map[Long, Boolean] = {
      val pred = graft.operators.Pipeline.contaminationPredicate(
        evalGrams, bloomBits)
      corpus.withColumn("c", pred(col("text")))
        .select("doc_id", "c").as[(Long, Boolean)].collect().toMap
    }
    val got = verdicts(20)
    assert(got.filter(_._2).keySet == batchTruth, s"verdicts $got")
    assert(!got(4L) && !got(5L))
    // a deliberately SATURATED Bloom (2^5 bits, FP-ridden): the exact
    // binary-search confirm means verdicts cannot move
    assert(verdicts(5) == got, "Bloom false positives flipped a verdict")
  }

  test("composed ingest gate with decontamination: contaminated page drops at ingest, still one state op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the eval artifact a nightly batch would persist (wordGramHashes)
    val evalText = Seq.tabulate(10)(i => s"evaltok$i").mkString(" ")
    val evalGrams = graft.operators.Pipeline.wordGramHashes(
      Seq(evalText).toDF("text"), "text")
    val good = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    // passes extraction and the quality gate, but embeds eval tokens
    // 0..7 as a full 8-gram → must die at the decontamination stage
    val contaminated = (Seq.tabulate(11)(i => s"pre$i") ++
      Seq.tabulate(8)(i => s"evaltok$i") ++
      Seq.tabulate(11)(i => s"post$i")).mkString(" ")
    // shares only 7 consecutive eval tokens → survives
    val nearMiss = (Seq.tabulate(11)(i => s"pre$i") ++
      Seq.tabulate(7)(i => s"evaltok$i") ++
      Seq.tabulate(12)(i => s"post$i")).mkString(" ")
    val in = MemoryStream[(Long, String, Long)] // (doc_id, html, epoch sec)
    val pages = in.toDF().toDF("doc_id", "html", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.ingestGate(pages, "html", "ts", "10 minutes",
      Some(evalGrams))
    val query = out.writeStream.format("memory").queryName("ingest_decon_mem")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, s"<p>$good</p>", 1L), (2L, s"<p>$contaminated</p>", 2L),
        (3L, s"<p>$nearMiss</p>", 3L))
      query.processAllAvailable()
      val got = spark.table("ingest_decon_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(1L, 3L), s"got $got")
      // decontamination added ZERO state: the dedup digests remain the
      // composition's only stateful operator
      val stateOps = query.lastProgress.stateOperators
      assert(stateOps.length == 1, s"expected 1 state op, got ${stateOps.length}")
    } finally query.stop()
  }

  test("near-dup ingest gate: lightly-edited re-crawl drops at ingest, one state op per dedup stage") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a 30-token page, a one-token mid-document edit of it (the
    // re-crawl copy a canonical digest structurally misses), a case
    // variant (the exact stage's job), and a distinct page
    val base = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    val edited = Seq.tabulate(30)(i => if (i == 12) "edit0" else s"tok$i")
      .mkString(" ")
    val distinct = Seq.tabulate(30)(i => s"zzz$i").mkString(" ")
    // fixture sanity, via the SHARED derivation: the edit collapses
    // onto base's signature, the distinct page does not
    val sigs = Seq(base, edited, distinct).toDF("text")
      .select(Dedup.nearDupSignature(col("text"))).as[Long].collect()
    assert(sigs(0) == sigs(1) && sigs(0) != sigs(2), "fixture drifted")
    val in = MemoryStream[(Long, String, Long)] // (doc_id, html, epoch sec)
    val pages = in.toDF().toDF("doc_id", "html", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.ingestGate(pages, "html", "ts", "10 minutes",
      nearDup = true)
    val query = out.writeStream.format("memory").queryName("neardup_mem")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, s"<p>$base</p>", 1L),
        (2L, s"<p>${base.toUpperCase}</p>", 2L), // exact stage drops it
        (3L, s"<p>$edited</p>", 3L),             // near stage drops it
        (4L, s"<p>$distinct</p>", 4L))           // genuinely new: kept
      query.processAllAvailable()
      val got = spark.table("neardup_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(1L, 4L), s"got $got")
      // exactly one stateful operator per enabled dedup stage — the
      // documented bound. Exact-stage state: 3 digests (base, edited,
      // distinct — the case variant collapsed); near-stage state: 2
      // signatures (base, distinct — edited collapsed). Dropped
      // documents cost only the stage that admitted them.
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 2, s"state ops: ${ops.length}")
      assert(ops.map(_.numRowsTotal).sum == 5,
        s"state rows: ${ops.map(_.numRowsTotal).toSeq}")
      // batch q113 parity on the same corpus: the page the gate
      // dropped as a near-dup is exactly a pair the nightly funnel's
      // LSH+verify stage (q113 stage 3 / q24's derivation) confirms —
      // the gate catches AT INGEST what batch would catch at night
      val batchPairs = graft.operators.Pipeline.verifiedNearDupPairs(
          Seq((1L, base), (3L, edited), (4L, distinct)).toDF("doc_id", "text"))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(batchPairs == Set((1L, 3L)), s"batch pairs: $batchPairs")
    } finally query.stop()
  }

  test("near-dup history bootstrap: paraphrase of an already-ingested batch page drops statelessly") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val histDoc = Seq.tabulate(30)(i => s"old$i").mkString(" ")
    val histEdit = Seq.tabulate(30)(i => if (i == 1) "new1" else s"old$i")
      .mkString(" ")
    val fresh = Seq.tabulate(30)(i => s"fresh$i").mkString(" ")
    // both artifacts a nightly batch persists beside the corpus: the
    // exact stage's canonical digests AND the near stage's signatures
    val corpus = Seq(histDoc).toDF("text")
    val exactHist = Dedup.historicalDigests(corpus, "text")
    val nearHist = Dedup.historicalNearSignatures(corpus, "text")
    val in = MemoryStream[(Long, String, Long)]
    val pages = in.toDF().toDF("doc_id", "html", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.ingestGate(pages, "html", "ts", "10 minutes",
      history = Some(exactHist), nearDup = true,
      nearDupHistory = Some(nearHist))
    val query = out.writeStream.format("memory").queryName("nearboot_mem")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, s"<p>$histEdit</p>", 1L), // paraphrase of HISTORY: dropped
        (2L, s"<p>$fresh</p>", 2L))    // genuinely new: kept
      query.processAllAvailable()
      val got = spark.table("nearboot_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(2L), s"got $got")
      // both bootstrap joins are stateless: two state ops (one per
      // stage). The paraphrase is canonical-DISTINCT from history, so
      // it passes the exact stage (costing one digest there) and dies
      // at the near stage's stateless history anti-join — exact holds
      // 2 rows (paraphrase + fresh), near holds only the kept fresh
      // doc; history itself never enters either store
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 2, s"state ops: ${ops.length}")
      assert(ops.map(_.numRowsTotal).sum == 3,
        s"state rows: ${ops.map(_.numRowsTotal).toSeq}")
    } finally query.stop()
  }

  test("banded near-dup gate: catches an edit the full signature misses, one state op per band") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    // pos-0 'edit1': the full 30-bit signature DIFFERS from base's but
    // the low band matches — the single-signature gate misses it, the
    // banded gate catches it (fixture verified against the shared
    // derivation below)
    val editBandCatch = ("edit1" +: Seq.tabulate(29)(i => s"tok${i + 1}"))
      .mkString(" ")
    // pos-0 'edit9': NEITHER band matches — passes even banded
    // (banding is a recall lever, not a catch-all)
    val editPass = ("edit9" +: Seq.tabulate(29)(i => s"tok${i + 1}"))
      .mkString(" ")
    val distinct = Seq.tabulate(30)(i => s"zzz$i").mkString(" ")
    // fixture sanity via the shared derivation
    val sigs = Seq(base, editBandCatch, editPass, distinct).toDF("text")
      .select(Dedup.nearDupSignatureAt(col("text"), 30)).as[Long].collect()
    def bandsOf(s: Long) = (s & 0x7FFFL, (s >> 15) & 0x7FFFL)
    val (b0, b1) = bandsOf(sigs(0))
    assert(sigs(1) != sigs(0) && bandsOf(sigs(1))._1 == b0,
      "fixture drifted: band-catch edit")
    assert(bandsOf(sigs(2))._1 != b0 && bandsOf(sigs(2))._2 != b1,
      "fixture drifted: pass edit")
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupNearBanded(docs, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("nearband_mem")
      .outputMode("append").start()
    try {
      in.addData((1L, base, 1L), (2L, editBandCatch, 2L),
        (3L, editPass, 3L), (4L, distinct, 4L))
      query.processAllAvailable()
      val got = spark.table("nearband_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(1L, 3L, 4L), s"got $got")
      // one watermark-bounded state operator per band
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 2, s"state ops: ${ops.length}")
    } finally query.stop()
  }

  test("composed banded gate: parity with the standalone stage, one state op per band plus the exact stage") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the standalone banded fixture, wrapped as pages: base, an edit
    // only the banded stage catches, an edit even banding misses, a
    // case variant (the exact stage's drop), and a distinct page
    val base = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    val editBandCatch = ("edit1" +: Seq.tabulate(29)(i => s"tok${i + 1}"))
      .mkString(" ")
    val editPass = ("edit9" +: Seq.tabulate(29)(i => s"tok${i + 1}"))
      .mkString(" ")
    val distinct = Seq.tabulate(30)(i => s"zzz$i").mkString(" ")
    val in = MemoryStream[(Long, String, Long)]
    val pages = in.toDF().toDF("doc_id", "html", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.ingestGate(pages, "html", "ts", "10 minutes",
      nearDup = true, nearDupBits = 15, nearDupBands = 2)
    val query = out.writeStream.format("memory").queryName("bandgate_mem")
      .outputMode("append").start()
    try {
      // one micro-batch per document: keep-FIRST within a single batch
      // is partition-order luck, across batches it is the contract
      Seq(
        (1L, s"<p>$base</p>", 1L),
        (2L, s"<p>${base.toUpperCase}</p>", 2L), // exact stage drops it
        (3L, s"<p>$editBandCatch</p>", 3L),      // banded stage drops it
        (4L, s"<p>$editPass</p>", 4L),           // passes even banding
        (5L, s"<p>$distinct</p>", 5L)
      ).foreach { row => in.addData(row); query.processAllAvailable() }
      val got = spark.table("bandgate_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(1L, 4L, 5L), s"got $got")
      // PARITY with the standalone stage on the post-exact stream:
      // dedupNearBanded over the canonical-distinct survivors keeps
      // exactly the same ids (the composition adds nothing to the
      // banded semantics)
      val standaloneIn = MemoryStream[(Long, String, Long)]
      val sq = Dedup.dedupNearBanded(
          standaloneIn.toDF().toDF("doc_id", "text", "sec")
            .withColumn("ts", col("sec").cast("timestamp")),
          "text", "ts", "10 minutes")
        .writeStream.format("memory").queryName("bandalone_mem")
        .outputMode("append").start()
      try {
        Seq((1L, base, 1L), (3L, editBandCatch, 3L),
          (4L, editPass, 4L), (5L, distinct, 5L))
          .foreach { row => standaloneIn.addData(row); sq.processAllAvailable() }
        val alone = spark.table("bandalone_mem").collect()
          .map(_.getAs[Long]("doc_id")).toSet
        assert(alone == got, s"composed $got vs standalone $alone")
      } finally sq.stop()
      // exactly 1 + bands watermark-bounded state operators: the
      // canonical-digest stage plus one per band (spec contract of
      // ingestGate's nearDupBands)
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 3, s"state ops: ${ops.length}")
    } finally query.stop()
  }

  test("banded history bootstrap: a band-matching edit of batch history drops statelessly; shape guard holds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val histDoc = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    // band-0 of the 30-bit signature survives this edit (the standalone
    // fixture's property, re-verified below)
    val histEdit = ("edit1" +: Seq.tabulate(29)(i => s"tok${i + 1}"))
      .mkString(" ")
    val fresh = Seq.tabulate(30)(i => s"fresh$i").mkString(" ")
    val sigs = Seq(histDoc, histEdit).toDF("text")
      .select(Dedup.nearDupSignatureAt(col("text"), 30)).as[Long].collect()
    assert(sigs(0) != sigs(1) && (sigs(0) & 0x7FFFL) == (sigs(1) & 0x7FFFL),
      "fixture drifted")
    val corpus = Seq(histDoc).toDF("text")
    val exactHist = Dedup.historicalDigests(corpus, "text")
    val bandHist = Dedup.historicalNearBandKeys(corpus, "text")
    val in = MemoryStream[(Long, String, Long)]
    val pages = in.toDF().toDF("doc_id", "html", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.ingestGate(pages, "html", "ts", "10 minutes",
      history = Some(exactHist), nearDup = true,
      nearDupHistory = Some(bandHist), nearDupBits = 15, nearDupBands = 2)
    val query = out.writeStream.format("memory").queryName("bandboot_mem")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, s"<p>$histEdit</p>", 1L), // band-matches HISTORY: dropped
        (2L, s"<p>$fresh</p>", 2L))    // genuinely new: kept
      query.processAllAvailable()
      val got = spark.table("bandboot_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(2L), s"got $got")
      // all three bootstrap joins are STATELESS: 1 + 2 state ops; the
      // edit passes the exact stage (1 digest), dies at band 0's
      // history anti-join (no band state), fresh registers both bands
      val ops = query.lastProgress.stateOperators
      assert(ops.length == 3, s"state ops: ${ops.length}")
      assert(ops.map(_.numRowsTotal).sum == 4,
        s"state rows: ${ops.map(_.numRowsTotal).toSeq}")
    } finally query.stop()
    // shape guard: a single-signature artifact handed to the banded
    // stage (or vice versa) must fail loudly at composition time
    val wrong = Dedup.historicalNearSignatures(corpus, "text")
    val e = intercept[IllegalArgumentException](
      Curation.ingestGate(pages, "html", "ts", "10 minutes",
        nearDup = true, nearDupHistory = Some(wrong), nearDupBits = 15,
        nearDupBands = 2))
    assert(e.getMessage.contains("historicalNearBandKeys"))
    // config guard: a banded artifact from ANOTHER (bands, bandBits)
    // point would anti-join keys that can never match — the bootstrap
    // silently inert; the stamped config fails it loudly instead
    val mismatched = Dedup.historicalNearBandKeys(corpus, "text",
      bands = 2, bandBits = 8)
    val e2 = intercept[IllegalArgumentException](
      Curation.ingestGate(pages, "html", "ts", "10 minutes",
        nearDup = true, nearDupHistory = Some(mismatched),
        nearDupBits = 15, nearDupBands = 2))
    assert(e2.getMessage.contains("never match"))
    // width guard: enabling bands at the single-signature default
    // width (2 x 16 > 31) fails in the gate's OWN vocabulary
    val e3 = intercept[IllegalArgumentException](
      Curation.ingestGate(pages, "html", "ts", "10 minutes",
        nearDup = true, nearDupBands = 2))
    assert(e3.getMessage.contains("nearDupBands"))
  }

  test("verified near-dup gate: stream verdicts equal an independent keep-first simulation; every drop exactly verified") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val P = 2147483647L
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def phm(s: String): Long = h60(s) % P
    // independent re-derivation of the gate's whole key chain from
    // MessageDigest up (no shared Spark columns): shingles → sorted
    // distinct hashes → 16-hash MinHash → md5 band bucket
    def hsOf(text: String): Seq[Long] =
      text.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSeq.distinct.map(phm).sorted
    def bucketOf(hs: Seq[Long], band: Int, r: Int): Long =
      phm((0 until 16).map(h => hs.map(x =>
          ((2L * h + 1) * x + 12289L * h) % P).min)
        .slice(band * r, band * r + r).mkString(","))
    def inter(a: Seq[Long], b: Seq[Long]): Long = {
      var i = 0; var j = 0; var n = 0L
      while (i < a.length && j < b.length) {
        val c = java.lang.Long.compare(a(i), b(j))
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1 else j += 1
      }
      n
    }
    val base = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 120).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val corpus = base ++
      base.filter(_._1 % 7 == 0).map { case (id, t) => (id + 1000000L, t) } ++
      base.filter(_._1 % 11 == 0)
        .map { case (id, t) => (id + 2000000L, t + " extra token tail") }
    // sec starts at 1: an event at the INITIAL watermark (0) is
    // filtered as late before any stateful operator sees it
    val arrivals = corpus.zipWithIndex
      .map { case ((id, t), i) => (id, t, i.toLong + 1L) }
      .filter(a => hsOf(a._2).nonEmpty)
    // the straight-line truth: keep-first with exact verification per
    // (band=0, bucket), arrival order
    val registry = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ListBuffer[(Long, Seq[Long])]]
    val want = scala.collection.mutable.Map.empty[Long, (Boolean, Long)]
    arrivals.foreach { case (id, text, _) =>
      val hs = hsOf(text)
      val bucket = bucketOf(hs, 0, 4)
      val entries = registry.getOrElseUpdate(bucket,
        scala.collection.mutable.ListBuffer.empty)
      entries.find { case (_, khs) =>
        3L * inter(khs, hs) >= khs.length + hs.length } match {
        case Some((keeper, _)) => want(id) = (false, keeper)
        case None => entries += ((id, hs)); want(id) = (true, -1L)
      }
    }
    assert(want.values.count(!_._1) >= base.count(_._1 % 7 == 0),
      "fixture degenerate: identical copies (J = 1) must all drop")
    // the stream, three installments
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.nearVerifiedVerdicts(docs, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L)
      .writeStream.format("memory").queryName("nearver_mem")
      .outputMode("append").start()
    try {
      arrivals.grouped((arrivals.size / 3).max(1)).foreach { g =>
        in.addData(g: _*); query.processAllAvailable()
      }
      val got = spark.table("nearver_mem").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("kept"), r.getAs[Long]("dup_of")))).toMap
      assert(got == want.toMap,
        s"stream diverged from simulation: ${
          (got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      // PRECISION, the gate's whole point: every drop names a keeper
      // the exact t = 1/2 predicate confirms — zero false collapse
      val textOf = corpus.toMap
      got.collect { case (id, (false, keeper)) =>
        val (a, b) = (hsOf(textOf(id)), hsOf(textOf(keeper)))
        assert(3L * inter(a, b) >= a.length + b.length,
          s"unverified drop: $id vs $keeper")
      }
      assert(query.lastProgress.stateOperators.length == 1)
    } finally query.stop()
  }

  test("verified near-dup gate: horizon eviction re-admits; bands are OR-recall with per-band verdicts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    val filler = Seq.tabulate(30)(i => s"flr$i").mkString(" ")
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    // horizon 600 s
    val query = Dedup.nearVerifiedVerdicts(docs, "doc_id", "text", "ts",
        horizonMs = 600000L)
      .writeStream.format("memory").queryName("nearevict_mem")
      .outputMode("append").start()
    try {
      Seq((1L, a, 1L), (2L, a, 5L), (3L, filler, 2000L), (4L, a, 2005L))
        .foreach { row => in.addData(row); query.processAllAvailable() }
      val got = spark.table("nearevict_mem").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
      // 2 drops against 1's registration inside the horizon; by doc
      // 4's batch the watermark (2000 − 600) has evicted it → re-admit
      assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true),
        s"got $got")
    } finally query.stop()
    // bands = 2: one verdict per (doc, band); an identical copy drops
    // in EVERY band (J = 1 collides everywhere), any-band reduces
    val in2 = MemoryStream[(Long, String, Long)]
    val docs2 = in2.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val q2 = Dedup.nearVerifiedVerdicts(docs2, "doc_id", "text", "ts",
        horizonMs = 600000L, bands = 2, rowsPerBand = 4)
      .writeStream.format("memory").queryName("nearband2_mem")
      .outputMode("append").start()
    try {
      Seq((1L, a, 1L), (2L, a, 2L), (3L, filler, 3L))
        .foreach { row => in2.addData(row); q2.processAllAvailable() }
      val rows = spark.table("nearband2_mem").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
          r.getAs[Boolean]("kept")))
      assert(rows.groupBy(_._1).forall(_._2.length == 2),
        s"one verdict per band expected: ${rows.toSeq}")
      def anyBandDup(id: Long) = rows.exists(r => r._1 == id && !r._3)
      assert(!anyBandDup(1L) && anyBandDup(2L) && !anyBandDup(3L))
      assert(rows.count(r => r._1 == 2L && !r._3) == 2,
        "an identical copy must drop in every band")
    } finally q2.stop()
  }

  test("near-dup gate stage agrees with a batch keep-first over the same signatures") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // arrival order IS doc_id order, so streaming keep-first must
    // equal the batch min-id-per-signature rule — the batch/stream
    // parity contract every dedup twin in this suite carries
    val docs = Seq(
      1L -> Seq.tabulate(30)(i => s"tok$i").mkString(" "),
      2L -> Seq.tabulate(30)(i => if (i == 12) "edit0" else s"tok$i").mkString(" "),
      3L -> Seq.tabulate(30)(i => s"zzz$i").mkString(" "),
      4L -> Seq.tabulate(30)(i => s"qqq$i").mkString(" "))
    val batch = docs.toDF("doc_id", "text")
    val batchKept = batch
      .withColumn("sig", Dedup.nearDupSignature(col("text")))
      .withColumn("keep", col("doc_id") ===
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))))
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val in = MemoryStream[(Long, String, Long)]
    val stream = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.dedupNearSignature(stream, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("nearparity_mem")
      .outputMode("append").start()
    try {
      in.addData(docs.map { case (id, t) => (id, t, id) }: _*)
      query.processAllAvailable()
      val streamKept = spark.table("nearparity_mem").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(streamKept == batchKept, s"$streamKept vs $batchKept")
      assert(batchKept == Set(1L, 3L, 4L), s"fixture drifted: $batchKept")
    } finally query.stop()
  }

  test("windowed OOV rate against a static vocabulary: exact counts per closed window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vocab = Seq("alpha", "beta", "gamma").toDF("token")
    val in = MemoryStream[(Long, String, Long)] // (doc_id, text, epoch sec)
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val out = Curation.windowedOovRate(docs, "text", "ts",
      "10 seconds", "5 seconds", vocab)
    val query = out.writeStream.format("memory").queryName("oov_mem")
      .outputMode("append").start()
    try {
      // window [0,10): 5 known + 1 unknown instance; [10,20): all novel
      in.addData((1L, "alpha beta alpha", 1L), (2L, "gamma novel1 beta", 3L),
        (3L, "novel2 novel2 novel3", 12L))
      query.processAllAvailable()
      // advance the watermark far enough to close both windows
      in.addData((4L, "alpha", 60L))
      query.processAllAvailable()
      val got = spark.table("oov_mem").collect().map(r =>
        r.getAs[java.sql.Timestamp]("window_start").getTime / 1000L ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
            r.getAs[Double]("oov_share"))).toMap
      assert(got.contains(0L) && got.contains(10L), s"got ${got.keySet}")
      assert(got(0L) == ((6L, 1L, BigDecimal(1.0 / 6.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)), s"${got(0L)}")
      assert(got(10L) == ((3L, 3L, 1.0)), s"${got(10L)}")
    } finally query.stop()
  }

  test("streaming bigram scoring against a static LM snapshot agrees with the batch formula") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // "nightly" corpus → LM snapshot via the shared batch derivation
    val corpus = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown cat sleeps under the warm sun",
      "a slow green turtle walks past the quick brown fox")
      .toDF("text")
    val lm = graft.operators.Pipeline.bigramLm(corpus, "text")
    val lmMap = lm.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val oov = math.log(1.0 / 16.0) // ln(1/V) for the fixture vocabulary
    // arriving docs: one fully in-vocabulary, one with OOV bigrams
    val arrivals = Seq(
      (1L, "the quick brown fox"),
      (2L, "purple elephants the quick"))
    def expected(text: String): (Long, Double) = {
      val toks = text.split(" ")
      val lps = toks.sliding(2).map(_.mkString(" "))
        .map(bg => lmMap.getOrElse(bg, oov)).toSeq
      (lps.size.toLong,
        BigDecimal(lps.sum / lps.size).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val in = MemoryStream[(Long, String)]
    val query = Curation.scoreBigramsAgainstLm(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id", lm, oov)
      .writeStream.format("memory").queryName("lm_score_mem")
      .outputMode("update").start()
    try {
      in.addData(arrivals: _*)
      query.processAllAvailable()
      val got = spark.table("lm_score_mem").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      arrivals.foreach { case (id, text) =>
        assert(got(id) == expected(text), s"doc $id: ${got(id)} vs ${expected(text)}")
      }
      // scoring itself is join-only; the one state operator is the
      // per-doc mean (the update-mode aggregation)
      assert(query.lastProgress.stateOperators.nonEmpty)
    } finally query.stop()
  }

  test("streaming repetition verdict agrees with batch row-for-row (q68's shared definition)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boiler = Seq.tabulate(12)(i => s"tok$i").mkString(" ")
    val rows = Seq(
      (1L, Seq.tabulate(40)(i => s"w$i").mkString(" ")), // unique grams: clean
      (2L, s"$boiler $boiler $boiler"),                  // pure boilerplate: flagged
      (3L, "one two"),                                   // < 3 tokens: g=0, unflagged
      (4L, null.asInstanceOf[String]))                   // null: unflagged, frac 0
    val batch = Curation.withRepetitionVerdict(rows.toDF("doc_id", "text"), "text")
      .select("doc_id", "rep_frac", "rep_flagged").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val in = MemoryStream[(Long, String)]
    val query = Curation.withRepetitionVerdict(
        in.toDF().toDF("doc_id", "text"), "text")
      .select("doc_id", "rep_frac", "rep_flagged")
      .writeStream.format("memory").queryName("rep_verdict_mem")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("rep_verdict_mem").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got(2L)._2 && got(2L)._1 > 0.5, "boilerplate doc must flag")
      assert(!got(1L)._2 && got(1L)._1 == 0.0)
      assert(!got(3L)._2 && got(3L)._1 == 0.0)
      assert(!got(4L)._2 && got(4L)._1 == 0.0)
      // stateless: composes before any stateful stage
      assert(query.lastProgress == null ||
        query.lastProgress.stateOperators.isEmpty)
    } finally query.stop()
  }

  test("streaming classifier score agrees with batch row-for-row (q75's shared model)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one"),                        // single token: unigram only, no bigrams
      (4L, null.asInstanceOf[String]))    // null: score null, kept false
    val batch = Curation.withClassifierScore(rows.toDF("doc_id", "text"), "text")
      .select("doc_id", "clf_score", "clf_kept").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getBoolean(2))).toMap
    val in = MemoryStream[(Long, String)]
    val query = Curation.withClassifierScore(
        in.toDF().toDF("doc_id", "text"), "text")
      .select("doc_id", "clf_score", "clf_kept")
      .writeStream.format("memory").queryName("clf_mem")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("clf_mem").collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getBoolean(2))).toMap
      assert(got == batch, s"stream $got vs batch $batch")
      // the model is real: a known doc's score re-derives locally from
      // the plan-literal weights (the q75 spec's derivation, one row)
      def h60(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
      }
      val t = rows.head._2.split(" ").toSeq
      val feats = t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val want = feats.map(f =>
        graft.operators.Pipeline.classifierWeights((h60("f:" + f) % 4096).toInt)).sum
      assert(got(1L)._1.contains(want), s"doc 1 score ${got(1L)._1} vs local $want")
      assert(got(4L)._1.isEmpty && !got(4L)._2, "null text: null score, not kept")
      // stateless: composes before any stateful stage
      assert(query.lastProgress == null ||
        query.lastProgress.stateOperators.isEmpty)
    } finally query.stop()
  }

  test("running source quota parity: the stream's final kept set equals batch q79's") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.Row
    // batch truth on the real documents table
    val batch = graft.operators.Pipeline.q79SourceQuota(spark, sfDir).collect()
      .groupBy(_.getString(0)).map { case (src, rs) =>
        src -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      }
    val docRows = graft.Tables.documents(spark, sfDir)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val in = MemoryStream[(String, Long, String)]
    val query = Curation.runningSourceQuota(
        in.toDF().toDF("source", "doc_id", "text"),
        "text", "source", "doc_id", k = 5)
      .writeStream.format("memory").queryName("quota_mem")
      .outputMode("update").start()
    try {
      // two installments split mid-corpus: the k-buffers must converge
      // to the batch answer regardless of arrival grouping
      val (a, b) = docRows.splitAt(docRows.length / 2)
      in.addData(a.toSeq); query.processAllAvailable()
      in.addData(b.toSeq); query.processAllAvailable()
      val got = spark.table("quota_mem").collect()
        .groupBy(_.getString(0)).map { case (src, rows) =>
          src -> rows.last.getSeq[Row](1)
            .map(s => (s.getLong(0), s.getDouble(1).toLong)).toSeq
        }
      assert(got.keySet == batch.keySet)
      batch.foreach { case (src, want) =>
        assert(got(src) == want, s"$src: stream ${got(src)} vs batch $want")
      }
      assert(query.lastProgress.stateOperators.nonEmpty)
    } finally query.stop()
  }

  test("windowed histogram parity: finalized buckets equal a batch binning of the same window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // (cents, epoch-sec): two windows of values + a late straggler
    val rows = Seq(
      (1234500L, 1L), (2234500L, 3L), (1239900L, 5L),   // window [0,10)
      (50000L, 12L), (1500000L, 14L), (1600000L, 15L),  // window [10,20)
      (9990000L, 31L))                                  // advances watermark
    val in = MemoryStream[(Long, Long)]
    val data = in.toDF().toDF("cents", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Curation.windowedHistogram(data, "cents", "ts",
        windowLen = "10 seconds", horizon = "5 seconds", width = 1000000L)
      .writeStream.format("memory").queryName("hist_mem")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      query.processAllAvailable()
      in.addData((1L, 60L)) // push the watermark past both windows
      query.processAllAvailable()
      val got = spark.table("hist_mem").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(2), r.getLong(3)))
        .toSet
      // batch truth: bucket = cents div width per window
      val want = rows.groupBy(_._2 / 10).flatMap { case (w, vs) =>
        vs.map(_._1 / 1000000L).groupBy(identity)
          .map { case (b, xs) => (w * 10, b, xs.size.toLong) }
      }.filter(_._1 < 30).toSet // only watermark-finalized windows
      assert(got.intersect(want) == want, s"missing: ${want.diff(got)}; got $got")
      // bounded state: bucket cardinality per window ≤ value range/width
      assert(got.forall(_._2 <= 10L))
    } finally query.stop()
  }

  test("windowed approx-distinct: streamed HLL estimate equals the batch estimate exactly, q36 contract holds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the real events table, replayed in two arbitrary installments —
    // HLL registers are max-merged, so batching cannot move the
    // estimate; one tumbling window per day of event time
    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("tsm"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val in = MemoryStream[(Long, String, Long)]
    val data = in.toDF().toDF("user_id", "event_type", "tsm")
      .withColumn("ts", (col("tsm") / 1000).cast("timestamp"))
    val query = Curation.windowedApproxDistinct(data, "user_id", "event_type",
        "ts", windowLen = "1 day", horizon = "1 hour")
      .writeStream.format("memory").queryName("hll_mem")
      .outputMode("append").start()
    try {
      val (first, second) = events.splitAt(events.length / 2)
      in.addData(first.toSeq)
      query.processAllAvailable()
      in.addData(second.toSeq)
      query.processAllAvailable()
      // a far-future closer finalizes every data window
      in.addData((1L, "closer", events.map(_._3).max + 200L * 86400000L))
      query.processAllAvailable()
      val got = spark.table("hll_mem").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(2)) -> r.getLong(3))
        .toMap
      // batch truth on identical rows: the same HLL estimate per
      // (window, group) — EXACT equality, plus q36's 5% accuracy
      // contract vs the exact distinct count
      val batch = events.toSeq.toDF("user_id", "event_type", "tsm")
        .withColumn("ts", (col("tsm") / 1000).cast("timestamp"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("n_approx"),
          countDistinct(col("user_id")).as("n_exact"))
        .collect()
        .map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3))))
        .toMap
      // every batch window that the watermark finalized must match
      val finalized = got.keySet
      assert(finalized.nonEmpty && finalized.subsetOf(batch.keySet))
      assert(finalized == batch.keySet,
        s"unfinalized windows: ${batch.keySet.diff(finalized)}")
      finalized.foreach { k =>
        val (bApprox, bExact) = batch(k)
        assert(got(k) == bApprox,
          s"window $k: streamed HLL ${got(k)} vs batch HLL $bApprox")
        assert(math.abs(got(k) - bExact) <= bExact * 0.05,
          s"window $k: estimate ${got(k)} outside 5% of exact $bExact")
      }
    } finally query.stop()
  }

  test("trending terms: per-window Misra-Gries candidates, heavy tokens survive, windows finalize") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Curation.trendingTerms(docs, "text", "ts",
        windowLen = "10 seconds", horizon = "5 seconds", m = 8)
      .writeStream.format("memory").queryName("trending_mem")
      .outputMode("append").start()
    try {
      // window [0,10): "alpha" dominates; long tail forces eviction
      val tail1 = (0 until 40).map(i => s"w$i").mkString(" ")
      in.addData((1L, ("alpha " * 30).trim + " " + tail1, 2L))
      // window [10,20): "beta" dominates
      in.addData((2L, ("beta " * 25).trim + " " + tail1, 12L))
      query.processAllAvailable()
      // push the watermark past both windows so they finalize
      in.addData((3L, "closer", 40L))
      query.processAllAvailable()
      val rows = spark.table("trending_mem").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getSeq[String](2)).toMap
      assert(rows.keySet == Set(0L, 10L), s"windows: ${rows.keySet}")
      assert(rows(0L).contains("alpha") && !rows(0L).contains("beta"),
        s"window 0: ${rows(0L)}")
      assert(rows(10L).contains("beta"), s"window 10: ${rows(10L)}")
      assert(rows.values.forall(_.size <= 8), "buffer bound must hold per window")
    } finally query.stop()
  }

  test("trending terms parity: every q64 exact top-k token survives in the finalized stream candidates") {
    // THE batch/stream parity row for the heavy-hitter twins (VERDICT
    // r10 §missing-2): same fixture (the sf0.001 documents table), same
    // m as q64, one event-time window covering the whole corpus — the
    // streamed Misra-Gries candidates must contain every token of the
    // batch operator's EXACT top-20 (whose counts exceed N/(m+1), so
    // survival is the aggregator's guarantee, not luck).
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchTop = graft.operators.Pipeline.q64HeavyHitters(spark, sfDir)
      .select("token").collect().map(_.getString(0)).toSet
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), 2L)).toSeq
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Curation.trendingTerms(docs, "text", "ts",
        windowLen = "10 seconds", horizon = "5 seconds", m = 4096)
      .writeStream.format("memory").queryName("trending_parity_mem")
      .outputMode("append").start()
    try {
      in.addData(fixture: _*)
      query.processAllAvailable()
      in.addData((-1L, "closer", 40L)) // advance the watermark: finalize
      query.processAllAvailable()
      val windows = spark.table("trending_parity_mem").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getSeq[String](2)).toMap
      assert(windows.contains(0L), s"corpus window missing: ${windows.keySet}")
      val cands = windows(0L).toSet
      val missing = batchTop -- cands
      assert(missing.isEmpty,
        s"exact top-k tokens missing from stream candidates: $missing")
    } finally query.stop()
  }

  test("dedup state survives a restart on RocksDB (exactly-once across checkpoint recovery)") {
    // memory sinks don't replay from checkpoints — record through
    // foreachBatch into a shared queue (EngineSpec restart idiom);
    // RocksDB provider pinned at query start via StateStores.
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-restart")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    def addFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def startQuery() = StateStores.withRocksDB(spark) {
      val parts = split(col("value"), "\\|")
      val docs = spark.readStream.text(inDir.toString)
        .select(parts.getItem(0).cast("long").as("doc_id"),
          parts.getItem(1).as("text"),
          parts.getItem(2).cast("long").cast("timestamp").as("ts"))
      Dedup.dedupExact(docs, "text", "ts", "1 hour")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("doc_id", "text").collect()
            .foreach(r => DedupSpec.restartSink.add(r.getLong(0) -> r.getString(1)))
        }
        .start()
    }
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what " +
        s"(sink: ${DedupSpec.restartSink.asScala.toSeq})")
    }
    DedupSpec.restartSink.clear()
    // phase 1: "alpha" passes, its in-batch duplicate is dropped
    val q1 = startQuery()
    try {
      addFile("f1.txt", Seq("1|alpha content|1", "2|alpha content|2", "3|beta content|3"))
      await(DedupSpec.restartSink.asScala.map(_._1).toSet == Set(1L, 3L), "phase-1 rows")
      // genuinely on RocksDB: provider-specific metrics in the progress.
      // POLLED: foreachBatch hands rows over before the batch's progress
      // event is published, so the metric can lag the sink — the first
      // await returning does not mean lastProgress is populated yet.
      def rocksdbSeen = q1.recentProgress
        .flatMap(_.stateOperators.flatMap(_.customMetrics.keySet.asScala))
        .exists(_.toLowerCase.contains("rocksdb"))
      await(rocksdbSeen, "rocksdb state metrics in query progress")
    } finally q1.stop()
    // phase 2: restart from the checkpoint — a duplicate of phase 1's
    // content must STILL be dropped (recovered state), a new doc passes
    val q2 = startQuery()
    try {
      addFile("f2.txt", Seq("4|alpha content|5", "5|delta content|6"))
      await(DedupSpec.restartSink.asScala.map(_._1).toSet.contains(5L), "phase-2 row")
      val seen = DedupSpec.restartSink.asScala.map(_._1).toSet
      assert(!seen.contains(4L),
        s"duplicate re-emitted after restart — state lost: $seen")
      assert(!seen.contains(2L), s"phase-1 duplicate resurfaced: $seen")
    } finally q2.stop()
  }

  test("composed ingest gate survives a RocksDB restart (recovered dedup state, stateless stages replay clean)") {
    // the composed chain's only state is the dedup stage's — a restart
    // must recover IT while the stateless extract/gate/scrub stages
    // simply recompute; a canonical duplicate of a pre-restart page
    // must still be dropped by the recovered digests
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-restart")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    def addFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val good = Seq.tabulate(30)(i => s"tok$i").mkString(" ")
    def startQuery() = StateStores.withRocksDB(spark) {
      val parts = split(col("value"), "\\|")
      val pages = spark.readStream.text(inDir.toString)
        .select(parts.getItem(0).cast("long").as("doc_id"),
          parts.getItem(1).as("html"),
          parts.getItem(2).cast("long").cast("timestamp").as("ts"))
      Curation.ingestGate(pages, "html", "ts", "1 hour")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("doc_id", "text").collect()
            .foreach(r => DedupSpec.ingestRestartSink.add(
              r.getLong(0) -> r.getString(1)))
        }
        .start()
    }
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what " +
        s"(sink: ${DedupSpec.ingestRestartSink.asScala.toSeq})")
    }
    DedupSpec.ingestRestartSink.clear()
    // phase 1: one good page kept; its gated sibling never emits
    val q1 = startQuery()
    try {
      addFile("f1.txt", Seq(s"1|<p>$good</p>|1", "2|<p>tiny</p>|2"))
      await(DedupSpec.ingestRestartSink.asScala.map(_._1).toSet == Set(1L),
        "phase-1 row")
    } finally q1.stop()
    // phase 2: restart — the CASE VARIANT of phase 1's page shares its
    // canonical digest and must be dropped by the RECOVERED state; a
    // genuinely new page passes through the whole recomputed chain
    val fresh = Seq.tabulate(30)(i => s"new$i").mkString(" ")
    val q2 = startQuery()
    try {
      addFile("f2.txt", Seq(s"3|<p>${good.toUpperCase}</p>|5", s"4|<p>$fresh</p>|6"))
      await(DedupSpec.ingestRestartSink.asScala.map(_._1).toSet.contains(4L),
        "phase-2 row")
      val seen = DedupSpec.ingestRestartSink.asScala.map(_._1).toSet
      assert(!seen.contains(3L),
        s"canonical duplicate re-admitted after restart — state lost: $seen")
      assert(!seen.contains(2L), s"gated page resurfaced: $seen")
      assert(DedupSpec.ingestRestartSink.asScala.find(_._1 == 4L)
        .exists(_._2 == fresh), "extraction mangled the new page's text")
    } finally q2.stop()
  }

  test("windowed CMS parity: the finalized stream sketch answers probes exactly like batch q73") {
    // The bounded-sketch pair's parity row: same fixture (sf0.001
    // documents), same hash family (Pipeline.cmsCells), one event-time
    // window covering the corpus — probing the STREAMED sketch must
    // reproduce the batch operator's estimate for every probe token,
    // and the per-window sketch must respect its d·width row bound.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batch = graft.operators.Pipeline.q73CmsFrequency(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), 2L)).toSeq
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Curation.windowedCmsSketch(docs, "text", "ts",
        windowLen = "10 seconds", horizon = "5 seconds")
      .writeStream.format("memory").queryName("cms_mem")
      .outputMode("append").start()
    try {
      in.addData(fixture: _*)
      query.processAllAvailable()
      in.addData((-1L, "closer", 40L)) // advance the watermark: finalize
      query.processAllAvailable()
      val sketch = spark.table("cms_mem")
        .filter(col("window_start") === lit("1970-01-01 00:00:00").cast("timestamp"))
      assert(sketch.count() <= 4 * 1024,
        "per-window sketch exceeded its d*width bound")
      val probes = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 29 === 1)
        .select(explode(split(col("text"), " ")).as("token")).distinct()
      val streamed = Curation.cmsProbe(sketch, probes)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed.keySet == batch.keySet, "probe coverage differs")
      val off = streamed.filter { case (t, n) => batch(t) != n }
      assert(off.isEmpty, s"stream/batch estimates diverge: $off")
    } finally query.stop()
  }

  test("running priority sample parity: the stream's final sample equals batch q74's") {
    // q74's streaming twin: the whole fixture through the update-time
    // bounded TopK state — the final (k+1)-item buffer per stratum
    // must carry exactly the batch sample (ranks AND ids) and the same
    // tau, because both sides compute the identical division-only
    // priority. Complete mode: the memory table IS the current state.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchRows = graft.operators.Pipeline.q74PrioritySample(spark, sfDir).collect()
    val batchSample = batchRows.groupBy(_.getString(0))
      .map { case (lang, rs) =>
        lang -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val batchTau = batchRows.map(r => r.getString(0) -> r.getDouble(5)).toMap
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val in = MemoryStream[(String, Long, Long)]
    val docs = in.toDF().toDF("lang", "doc_id", "n_chars")
    val query = Curation.runningPrioritySample(docs, "lang", "doc_id", "n_chars", k = 5)
      .writeStream.format("memory").queryName("prio_mem")
      .outputMode("complete").start()
    try {
      // two installments: the sample must be correct AFTER the second
      // even though the state saw the stream in pieces
      val (a, b) = fixture.splitAt(fixture.size / 2)
      in.addData(a: _*)
      query.processAllAvailable()
      in.addData(b: _*)
      query.processAllAvailable()
      val got = spark.table("prio_mem").collect().map { r =>
        val items = r.getSeq[org.apache.spark.sql.Row](1)
        r.getString(0) -> (items.take(5).map(_.getLong(0)),
          items.lift(5).map(_.getDouble(1)).getOrElse(0.0))
      }.toMap
      assert(got.keySet == batchSample.keySet, "strata differ")
      batchSample.foreach { case (lang, ids) =>
        assert(got(lang)._1 == ids,
          s"$lang sample diverges: stream ${got(lang)._1} vs batch $ids")
        assert(math.abs(BigDecimal(got(lang)._2).setScale(2,
            BigDecimal.RoundingMode.HALF_UP).toDouble - batchTau(lang)) < 1e-9,
          s"$lang tau diverges")
      }
      // bounded state: one buffer per stratum
      val p = query.lastProgress
      assert(p.stateOperators.nonEmpty, "expected a stateful aggregation")
    } finally query.stop()
  }

  test("audio/video dedup gates: batch parity on the q98/q99 corpora (shared derivations)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // AUDIO: survivors of the gain gate == distinct energy fingerprints
    // over the corpus (byte twins share their base's fp, and batch
    // q98's gain stage counts exactly the fp groups over reps)
    val audio = graft.operators.Multimodal
      .audioDedupCorpus(spark, sfDir).collect()
      .map(f => (f.mediaId, f.payload, 1L + f.mediaId % 7))
    val q98 = graft.operators.Multimodal.q98AudioDedup(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nFp = q98.filter(_._1 == "gain").map(_._3).sum
    val inA = MemoryStream[(Long, Array[Byte], Long)]
    val docsA = inA.toDF().toDF("media_id", "payload", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val qa = Dedup.dedupAudioGain(docsA, "payload", "ts", "1 hour")
      .select("media_id")
      .writeStream.format("memory").queryName("audio_gain_mem")
      .outputMode("append").start()
    try {
      inA.addData(audio.toIndexedSeq)
      qa.processAllAvailable()
      val kept = spark.table("audio_gain_mem").count()
      assert(kept == nFp,
        s"audio gate kept $kept, batch q98 has $nFp fingerprint groups")
    } finally qa.stop()
    // VIDEO: survivors of the frame-set gate == distinct sorted key
    // sets (twins collapse; trimmed variants keep their smaller set)
    val video = graft.operators.Multimodal
      .videoDedupCorpus(spark, sfDir).collect()
      .map(f => (f.mediaId, f.payload, 1L + f.mediaId % 7))
    val nSets = graft.operators.Multimodal
      .videoFrameSignatures(graft.operators.Multimodal
        .videoDedupCorpus(spark, sfDir)).collect()
      .groupBy(_.getLong(0))
      .values.map(_.map(_.getLong(2)).sorted.toSeq).toSet.size
    val inV = MemoryStream[(Long, Array[Byte], Long)]
    val docsV = inV.toDF().toDF("media_id", "payload", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val qv = Dedup.dedupVideoFrameSet(docsV, "payload", "ts", "1 hour")
      .select("media_id")
      .writeStream.format("memory").queryName("video_set_mem")
      .outputMode("append").start()
    try {
      inV.addData(video.toIndexedSeq)
      qv.processAllAvailable()
      val kept = spark.table("video_set_mem").count()
      assert(kept == nSets,
        s"video gate kept $kept, corpus has $nSets distinct frame-key sets")
    } finally qv.stop()
  }

  test("verified gate bootstrap: planted near-dup of a corpus document drops in batch 1; parity with the corpus-prepended stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def doc(prefix: String) =
      Seq.tabulate(30)(i => s"$prefix$i").mkString(" ")
    val corpusDocs = Seq(1L -> doc("res"), 2L -> doc("old"), 3L -> doc("bse"))
    val corpus = corpusDocs.toDF("doc_id", "text")
    val hist = Dedup.historicalVerifiedKeepers(corpus, "doc_id", "text", asOfMs = 0L)
    // the artifact is the gate's own state shape, config-stamped
    assert(hist.columns.toSet == Set("band", "bucket", "doc_id", "hs",
      "tsm", "bands", "rows_per_band", "bucket_cap"))
    assert(hist.count() == 3) // three distinct docs, no corpus-internal dups
    // arrivals: a light edit of corpus doc 2 (J > 1/2) CHOSEN via the
    // independent key re-derivation to land in the keeper's band
    // bucket (a one-band gate catches an edited copy w.p. ~J^4 — the
    // q147-priced recall; the test needs the deterministic branch),
    // one fresh doc, and an exact copy of corpus doc 1
    val oldHs = DedupSpec.hsOf(doc("old"))
    val edited = (0 until 30).iterator.map { k =>
      Seq.tabulate(30)(i => if (i == k) s"new$k" else s"old$i")
        .mkString(" ")
    }.find { t =>
      val ths = DedupSpec.hsOf(t)
      DedupSpec.bucketOf(ths) == DedupSpec.bucketOf(oldHs) &&
        3L * DedupSpec.interOf(oldHs, ths) >= oldHs.length + ths.length
    }.getOrElse(fail("no same-bucket >= 1/2-Jaccard edit in 30 tries"))
    val arrivals = Seq((10L, edited, 1L), (11L, doc("frs"), 2L),
      (12L, doc("res"), 3L))
    val in = MemoryStream[(Long, String, Long)]
    val docsDf = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.nearVerifiedVerdicts(docsDf, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L, history = Some(hist))
      .writeStream.format("memory").queryName("verboot_mem")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*) // ONE batch — zero state warm-up
      query.processAllAvailable()
      val got = spark.table("verboot_mem").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("kept"), r.getAs[Long]("dup_of")))).toMap
      // batch 1 already verifies against the resident corpus: the
      // edit and the exact copy drop NAMING their corpus keepers
      assert(got == Map(10L -> ((false, 2L)), 11L -> ((true, -1L)),
        12L -> ((false, 1L))), s"got $got")
    } finally query.stop()
    // parity: an un-bootstrapped gate fed (corpus, then arrivals)
    // issues the identical verdicts for the arrival ids
    val in2 = MemoryStream[(Long, String, Long)]
    val docs2 = in2.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val q2 = Dedup.nearVerifiedVerdicts(docs2, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L)
      .writeStream.format("memory").queryName("verboot2_mem")
      .outputMode("append").start()
    try {
      in2.addData(corpusDocs.map { case (id, t) => (id, t, 1L) }: _*)
      q2.processAllAvailable()
      in2.addData(arrivals.map { case (id, t, s) => (id, t, s + 1L) }: _*)
      q2.processAllAvailable()
      val sim = spark.table("verboot2_mem").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("kept"), r.getAs[Long]("dup_of")))).toMap
        .filter(_._1 >= 10L)
      assert(sim == Map(10L -> ((false, 2L)), 11L -> ((true, -1L)),
        12L -> ((false, 1L))), s"simulation diverged: $sim")
    } finally q2.stop()
    // config guard: an artifact from another (bands, rowsPerBand,
    // cap) point fails loudly at composition time
    val wrongCap = Dedup.historicalVerifiedKeepers(corpus, "doc_id",
      "text", asOfMs = 0L, bucketCap = 8)
    val e = intercept[IllegalArgumentException](
      Dedup.nearVerifiedVerdicts(docsDf, "doc_id", "text", "ts",
        horizonMs = 1000L, history = Some(wrongCap)))
    assert(e.getMessage.contains("never matches"), e.getMessage)
    val legacy = hist.drop("bucket_cap")
    val e2 = intercept[IllegalArgumentException](
      Dedup.nearVerifiedVerdicts(docsDf, "doc_id", "text", "ts",
        horizonMs = 1000L, history = Some(legacy)))
    assert(e2.getMessage.contains("stamping"), e2.getMessage)
  }

  test("verified-history append: one wave folds in; the merged artifact bootstraps drops for both waves") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def doc(prefix: String) =
      Seq.tabulate(30)(i => s"$prefix$i").mkString(" ")
    val corpus = Seq(1L -> doc("res"), 2L -> doc("old")).toDF("doc_id", "text")
    val hist = Dedup.historicalVerifiedKeepers(corpus, "doc_id", "text",
      asOfMs = 1000L)
    // wave B: one fresh doc + one exact copy of a RESIDENT doc — the
    // fold must verify-drop the copy, not register it
    val wave = Seq(5L -> doc("nwv"), 6L -> doc("res")).toDF("doc_id", "text")
    val merged = Dedup.historicalVerifiedKeepersAppend(hist, wave,
      "doc_id", "text", asOfMs = 2000L)
    val rows = merged.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("tsm")).toMap
    assert(rows == Map(1L -> 1000L, 2L -> 1000L, 5L -> 2000L),
      s"merged artifact wrong: $rows")
    assert(merged.columns.toSet == Set("band", "bucket", "doc_id", "hs",
      "tsm", "bands", "rows_per_band", "bucket_cap"))
    // the merged artifact bootstraps a gate that drops near-dups of
    // BOTH waves in batch 1: an in-bucket edit of resident doc 2 (the
    // bootstrap test's deterministic fixture search) and an exact
    // copy of appended doc 5
    val oldHs = DedupSpec.hsOf(doc("old"))
    val edited = (0 until 30).iterator.map { k =>
      Seq.tabulate(30)(i => if (i == k) s"new$k" else s"old$i")
        .mkString(" ")
    }.find { t =>
      val ths = DedupSpec.hsOf(t)
      DedupSpec.bucketOf(ths) == DedupSpec.bucketOf(oldHs) &&
        3L * DedupSpec.interOf(oldHs, ths) >= oldHs.length + ths.length
    }.getOrElse(fail("no same-bucket >= 1/2-Jaccard edit in 30 tries"))
    val in = MemoryStream[(Long, String, Long)]
    val docsDf = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.nearVerifiedVerdicts(docsDf, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L, history = Some(merged))
      .writeStream.format("memory").queryName("verapp_mem")
      .outputMode("append").start()
    try {
      in.addData((10L, edited, 3L), (11L, doc("frs"), 4L),
        (12L, doc("nwv"), 5L))
      query.processAllAvailable()
      val got = spark.table("verapp_mem").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("kept"), r.getAs[Long]("dup_of")))).toMap
      assert(got == Map(10L -> ((false, 2L)), 11L -> ((true, -1L)),
        12L -> ((false, 5L))), s"got $got")
    } finally query.stop()
    // event-order guard: a wave at or before the newest resident
    // keeper is registration-order-ambiguous vs a from-scratch
    // derivation (same-instant ties interleave by docId there) and
    // must fail loudly - both strictly-before and the tie itself
    val e = intercept[IllegalArgumentException](
      Dedup.historicalVerifiedKeepersAppend(hist, wave, "doc_id", "text",
        asOfMs = 500L))
    assert(e.getMessage.contains("strictly"), e.getMessage)
    val eTie = intercept[IllegalArgumentException](
      Dedup.historicalVerifiedKeepersAppend(hist, wave, "doc_id", "text",
        asOfMs = 1000L))
    assert(eTie.getMessage.contains("strictly"), eTie.getMessage)
    // a pre-stamp artifact hits the friendly re-derive message, not
    // an AnalysisException from the config read (review r20)
    val ePre = intercept[IllegalArgumentException](
      Dedup.historicalVerifiedKeepersAppend(hist.drop("bucket_cap"),
        wave, "doc_id", "text", asOfMs = 2000L))
    assert(ePre.getMessage.contains("historicalVerifiedKeepers"),
      ePre.getMessage)
    // an empty artifact has no config stamp to read
    val e2 = intercept[IllegalArgumentException](
      Dedup.historicalVerifiedKeepersAppend(hist.limit(0), wave,
        "doc_id", "text", asOfMs = 2000L))
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
  }

  test("verified-history append: the FIFO cut continues across the wave boundary at cap = 1") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import DedupSpec.{hsOf, bucketOf, interOf}
    // the eviction test's superset fixture: same band bucket, J < 1/2
    val baseDoc = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val bHs = hsOf(baseDoc)
    val evictor = (0 until 10000).iterator.map { k =>
      baseDoc + " " + Seq.tabulate(42)(i => s"ext${k}_$i").mkString(" ")
    }.find { t =>
      val ths = hsOf(t)
      bucketOf(ths) == bucketOf(bHs) &&
        3L * interOf(bHs, ths) < bHs.length + ths.length
    }.getOrElse(fail("no same-bucket non-dup variant within 10000 tries"))
    val histA = Dedup.historicalVerifiedKeepers(
      Seq(1L -> baseDoc).toDF("doc_id", "text"), "doc_id", "text",
      asOfMs = 1000L, bucketCap = 1)
    val merged = Dedup.historicalVerifiedKeepersAppend(histA,
      Seq(2L -> evictor).toDF("doc_id", "text"), "doc_id", "text",
      asOfMs = 2000L)
    // cap-1 continuity: wave B's registration FIFO-forgot wave A's
    assert(merged.select("doc_id").collect().map(_.getLong(0)).toSeq
      == Seq(2L), "the appended evictor must be the sole keeper")
    // and the gate agrees: a copy of the evictor drops naming 2, a
    // copy of the evicted base re-admits (kept) — the q149-priced trade
    val in = MemoryStream[(Long, String, Long)]
    val docsDf = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val query = Dedup.nearVerifiedVerdicts(docsDf, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L, bucketCap = 1, history = Some(merged))
      .writeStream.format("memory").queryName("verappfifo_mem")
      .outputMode("append").start()
    try {
      in.addData((9L, evictor, 3L), (10L, baseDoc, 4L))
      query.processAllAvailable()
      val got = spark.table("verappfifo_mem").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("kept"), r.getAs[Long]("dup_of")))).toMap
      assert(got == Map(9L -> ((false, 2L)), 10L -> ((true, -1L))),
        s"got $got")
    } finally query.stop()
  }

  test("verifiedKeeps packages the any-band reduction with first-drop-wins provenance") {
    import spark.implicits._
    // hand-built verdicts: doc 1 kept in both bands; doc 2 dropped in
    // band 1 only; doc 3 dropped in both (first-drop-wins: band 0's
    // keeper names the provenance)
    val verdicts = Seq(
      (1L, 0, 100L, true, -1L), (1L, 1, 100L, true, -1L),
      (2L, 0, 200L, true, -1L), (2L, 1, 200L, false, 7L),
      (3L, 1, 300L, false, 9L), (3L, 0, 300L, false, 8L))
      .toDF("doc_id", "band", "event_ms", "kept", "dup_of")
    val got = Dedup.verifiedKeeps(verdicts).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("event_ms"), r.getAs[Boolean]("kept"),
          r.getAs[Long]("dup_of")))).toMap
    assert(got == Map(1L -> ((100L, true, -1L)), 2L -> ((200L, false, 7L)),
      3L -> ((300L, false, 8L))), s"got $got")
  }

  test("verified gate: bucketCap FIFO eviction re-admits a late dup of the evicted keeper") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the companion object's independent key-chain re-derivation (the
    // simulation test's chain) FINDS a same-bucket, non-half-Jaccard
    // pair: a base doc and a variant sharing enough tokens to collide
    // in the 4-hash band w.p. ~J^4 but strictly below the t = 1/2
    // verify bar (one chain, review r20 — three drifting copies would
    // let a production key change silently break the fixture search)
    import DedupSpec.{hsOf, bucketOf, interOf => inter}
    val baseDoc = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val bHs = hsOf(baseDoc)
    // deterministic search: rewrite the TAIL so J ~ 0.6 (above the
    // band-collision range, below none) until the bucket matches and
    // the exact predicate says NOT a dup
    val evictor = (0 until 10000).iterator.map { k =>
      // a SUPERSET document: all 38 base shingles present plus 42
      // k-fresh ones, so J = 38/80 < 1/2 (never a verified dup) while
      // the bucket matches whenever the fresh shingles' transformed
      // hashes stay above the base's four minima — ~(38/80)⁴ ≈ 5% per
      // try, deterministic over 10000 tries. (A fixed-region rewrite
      // CANNOT work here: the base's minhash argmins would have to
      // avoid the rewritten region for every k at once.)
      baseDoc + " " + Seq.tabulate(42)(i => s"ext${k}_$i").mkString(" ")
    }.find { t =>
      val ths = hsOf(t)
      bucketOf(ths) == bucketOf(bHs) &&
        3L * inter(bHs, ths) < bHs.length + ths.length
    }.getOrElse(fail("no same-bucket non-dup variant within 10000 tries"))
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    // cap = 1: the evictor's registration FIFO-forgets the base doc
    val q1 = Dedup.nearVerifiedVerdicts(docs, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L, bucketCap = 1)
      .writeStream.format("memory").queryName("capevict_mem")
      .outputMode("append").start()
    try {
      Seq((1L, baseDoc, 1L), (2L, evictor, 2L), (3L, baseDoc, 3L))
        .foreach { r => in.addData(r); q1.processAllAvailable() }
      val got = spark.table("capevict_mem").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
      // doc 3 is an EXACT copy of doc 1, yet re-admits: the cap
      // forgot its keeper — the recall loss q149 prices per cap
      assert(got == Map(1L -> true, 2L -> true, 3L -> true), s"got $got")
    } finally q1.stop()
    // cap = 2 control: the keeper survives, the copy drops
    val in2 = MemoryStream[(Long, String, Long)]
    val docs2 = in2.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val q2 = Dedup.nearVerifiedVerdicts(docs2, "doc_id", "text", "ts",
        horizonMs = 3600L * 1000L, bucketCap = 2)
      .writeStream.format("memory").queryName("capevict2_mem")
      .outputMode("append").start()
    try {
      Seq((1L, baseDoc, 1L), (2L, evictor, 2L), (3L, baseDoc, 3L))
        .foreach { r => in2.addData(r); q2.processAllAvailable() }
      val got = spark.table("capevict2_mem").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("kept"), r.getAs[Long]("dup_of")))).toMap
      assert(got == Map(1L -> ((true, -1L)), 2L -> ((true, -1L)),
        3L -> ((false, 1L))), s"got $got")
    } finally q2.stop()
  }

  test("anti-join history appends equal a from-scratch derivation over the union") {
    import spark.implicits._
    val a = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .filter(col("doc_id") < 100).select("text")
    val b = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .filter(col("doc_id") >= 100 && col("doc_id") < 200).select("text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    // single-signature: set-union semantics, width from the stamp
    val appended = Dedup.historicalNearSignaturesAppend(
      Dedup.historicalNearSignatures(a, "text", bits = 20), b, "text")
    assert(rows(appended) ==
      rows(Dedup.historicalNearSignatures(a.unionByName(b), "text",
        bits = 20)))
    // banded: same, config from the stamp
    val appendedB = Dedup.historicalNearBandKeysAppend(
      Dedup.historicalNearBandKeys(a, "text", bands = 3, bandBits = 9),
      b, "text")
    assert(rows(appendedB) ==
      rows(Dedup.historicalNearBandKeys(a.unionByName(b), "text",
        bands = 3, bandBits = 9)))
    // empty artifacts have no stamp to read
    val e = intercept[IllegalArgumentException](
      Dedup.historicalNearSignaturesAppend(
        Dedup.historicalNearSignatures(a, "text").limit(0), b, "text"))
    assert(e.getMessage.contains("EMPTY"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Dedup.historicalNearBandKeysAppend(
        Dedup.historicalNearBandKeys(a, "text").limit(0), b, "text"))
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
  }

  test("direct stage callers get the same history-config guards as the gate") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq("alpha beta gamma").toDF("text")
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    // width mismatch on the single-signature stage (ADVICE r19: the
    // artifact now carries its bits and every entry point checks)
    val h20 = Dedup.historicalNearSignatures(corpus, "text", bits = 20)
    assert(h20.columns.contains("bits"))
    val e1 = intercept[IllegalArgumentException](
      Dedup.dedupNearSignature(docs, "text", "ts", "10 minutes",
        history = Some(h20), bits = 16))
    assert(e1.getMessage.contains("never match"), e1.getMessage)
    // config mismatch on the banded stage, called DIRECTLY (not
    // through ingestGate — the r19 gap this closes)
    val hb = Dedup.historicalNearBandKeys(corpus, "text",
      bands = 2, bandBits = 8)
    val e2 = intercept[IllegalArgumentException](
      Dedup.dedupNearBanded(docs, "text", "ts", "10 minutes",
        bands = 2, bandBits = 15, history = Some(hb)))
    assert(e2.getMessage.contains("never match"), e2.getMessage)
    // a pre-stamp artifact fails loudly instead of anti-joining keys
    // that can never match
    val legacy = corpus.select(
      Dedup.nearDupSignature(col("text")).as("near_sig"))
    val e3 = intercept[IllegalArgumentException](
      Dedup.dedupNearSignature(docs, "text", "ts", "10 minutes",
        history = Some(legacy)))
    assert(e3.getMessage.contains("stamping"), e3.getMessage)
    // matched configs compose cleanly (and the stamped column never
    // reaches the join — the stage selects only the key)
    Dedup.dedupNearSignature(docs, "text", "ts", "10 minutes",
      history = Some(Dedup.historicalNearSignatures(corpus, "text")))
    Dedup.dedupNearBanded(docs, "text", "ts", "10 minutes",
      bands = 2, bandBits = 8, history = Some(hb))
    ()
  }

  test("verified gate keys equal the reference shingle/MinHash/bucket derivation, and q147's bucket") {
    import graft.functions.TextFunctions.{minhashSignature, portableHashMod, wordShingles}
    val (bands, r) = (2, 4)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(Seq[(Long, String)]((-1L, null), (-2L, "two tokens"),
        (-3L, "a b c a b c a b c")).toDF("doc_id", "text"))
      .withColumn("ts", timestamp_millis(lit(0L)))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getSeq[Long](3)))
      .toSet
    val gate = rows(Dedup.verifiedBandKeyed(docs, "doc_id", "text", "ts",
      bands, r).select("band", "bucket", "docId", "hs"))
    // the interpreted spellings: zip_with shingles + md5 hash, the
    // 16-hash array_min MinHash, and the slice-join-hash bucket
    val sigs = docs
      .select(col("doc_id"), array_sort(array_distinct(transform(
        wordShingles(split(col("text"), " "), 3),
        t => portableHashMod(t)))).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("msig", minhashSignature(col("hs"), 16))
    val ref = rows(sigs.select(posexplode(array((0 until bands).map(b =>
        portableHashMod(array_join(transform(
          slice(col("msig"), b * r + 1, r), x => x.cast("string")), ","))): _*))
        .as(Seq("band", "bucket")), col("doc_id"), col("hs"))
      .select(col("band").cast("int"), col("bucket"), col("doc_id"), col("hs")))
    assert(gate.nonEmpty)
    assert(gate == ref)
    // a null text and a text under 3 tokens have no key; repeated
    // shingles collapse to the 3 distinct ones
    assert(!gate.exists(g => g._3 == -1L || g._3 == -2L))
    assert(gate.filter(_._3 == -3L).map(_._4) ==
      Set(DedupSpec.hsOf("a b c a b c a b c")))
    assert(DedupSpec.hsOf("a b c a b c a b c").size == 3)
    // q147's band bucket at (bands, r) is the gate's bucket
    val q147 = graft.operators.Pipeline.allConfigBands(sigs, Seq((bands, r)))
      .select(col("b"), col("bsig"), col("doc_id")).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
    assert(q147 == gate.map(g => (g._1, g._2, g._3)))
  }

}
