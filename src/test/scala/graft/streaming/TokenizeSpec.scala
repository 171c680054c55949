package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class TokenizeSpec extends SparkSpec {

  test("streaming BPE apply equals the batch fold on the same docs, stateless") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // a merge table with a chained second round (the learned pair can
    // itself be a merge-produced token) and a self-pair
    val merges = Seq(("a", "b"), ("a b", "c"), ("x", "x"))
    val docsIn = Seq(
      (1L, "a b c d"),        // both chained merges fire → "a b c", "d"
      (2L, "a b a b c"),      // greedy: first "a b" stays, second chains
      (3L, "x x x x x"),      // self-pair run of 5 → 2 merges + tail
      (4L, "c a b"),          // order matters: no "a b c" without prefix
      (5L, "solo"))
    val in = MemoryStream[(Long, String)]
    val query = Tokenize.applyMerges(
        in.toDF().toDF("doc_id", "text"), "text", merges)
      .select("doc_id", "toks", "n_toks")
      .writeStream.format("memory").queryName("tokenize_mem")
      .outputMode("append").start()
    try {
      in.addData(docsIn)
      query.processAllAvailable()
      val streamed = spark.table("tokenize_mem").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      // batch truth: the SAME shared fold over a static frame
      val batch = Tokenize.applyMerges(
          docsIn.toDF("doc_id", "text"), "text", merges)
        .select("doc_id", "toks").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(streamed == batch, s"stream $streamed\nbatch $batch")
      // pinned semantics, not just parity
      assert(streamed(1L) == Seq("a b c", "d"))
      assert(streamed(2L) == Seq("a b", "a b c"))
      assert(streamed(3L) == Seq("x x", "x x", "x"))
      assert(streamed(4L) == Seq("c", "a b"))
      assert(streamed(5L) == Seq("solo"))
      // stateless: no state operator in the progress at all
      assert(query.lastProgress.stateOperators.isEmpty,
        "the tokenizer gate must not hold state")
    } finally query.stop()
  }

  test("banked BPE apply: the stream tokenizes with the stored merge table, statelessly") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stored = graft.operators.Layout.readMerges(spark,
      graft.operators.Pipeline.ensureBpeMerges(spark, sfDir)).map(m => (m._2, m._3))
    assert(stored.nonEmpty, "the learner found no merges on the fixture corpus")
    val docsIn = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").limit(20).as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val query = Tokenize.applyBankedMerges(
        in.toDF().toDF("doc_id", "text"), "text", spark, sfDir)
      .select("doc_id", "toks")
      .writeStream.format("memory").queryName("tokenize_banked_mem")
      .outputMode("append").start()
    try {
      in.addData(docsIn)
      query.processAllAvailable()
      val streamed = spark.table("tokenize_banked_mem").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val batch = Tokenize.applyMerges(docsIn.toDF("doc_id", "text"), "text", stored)
        .select("doc_id", "toks").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(streamed.size == docsIn.size)
      assert(streamed == batch, s"stream $streamed\nbatch $batch")
      // the stored merges fire on the corpus they were learned from
      assert(docsIn.exists { case (id, t) => streamed(id).size < t.split(" ").length })
      assert(query.lastProgress.stateOperators.isEmpty,
        "the tokenizer gate must not hold state")
    } finally query.stop()
  }
}
