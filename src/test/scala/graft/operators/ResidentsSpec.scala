package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, GraftTestAccess}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The resident scope every batch operator persists and checkpoints
  * through: release order, early release and detach, release when the
  * body throws, and registration from two concurrent [[Pipeline.par2]]
  * branches — plus par2's own wait-for-both contract. */
class ResidentsSpec extends SparkSpec {
  private val Level = StorageLevel.MEMORY_AND_DISK

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** The RDD ids unpersisted while `body` runs, in release order. */
  private def unpersists(body: => Unit): Seq[Int] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = { ids.add(e.rddId); () }
    }
    GraftTestAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      GraftTestAccess.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(ids).asScala.toSeq
  }

  test("residents are released newest first when the scope ends") {
    def rddOf(cp: DataFrame): Int =
      cp.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.head
    var order = Seq.empty[Int]
    val got = unpersists {
      Residents { r =>
        val a = r.checkpoint(spark.range(10).toDF())
        val before = spark.sparkContext.getPersistentRDDs.keySet
        r.persist(spark.range(20).toDF(), Level).count()
        val b = (spark.sparkContext.getPersistentRDDs.keySet -- before).head
        val c = r.checkpoint(spark.range(30).toDF())
        order = Seq(rddOf(c), b, rddOf(a))
      }
    }
    assert(got.filter(order.contains) == order)
  }

  test("a detached relation stays cached; a second release does nothing") {
    val kept = spark.range(7).toDF()
    val freed = spark.range(8).toDF()
    try {
      Residents { r =>
        r.persist(kept, Level).count()
        r.persist(freed, Level).count()
        r.detach(kept)
        r.release(freed)
        assert(!cached(freed))
        // another owner caches it again: the spent release and the
        // scope's end must both leave that owner's copy alone
        freed.persist(Level)
        r.release(freed)
      }
      assert(cached(kept), "a detached relation belongs to the caller")
      assert(cached(freed), "a second release freed another owner's cache")
    } finally { kept.unpersist(); freed.unpersist() }
  }

  test("residents are released when the body throws") {
    val df = spark.range(9).toDF()
    var cp: DataFrame = null
    val e = intercept[IllegalStateException] {
      Residents { r =>
        r.persist(df, Level).count()
        cp = r.checkpoint(spark.range(11).toDF())
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(df))
    val cpRdds = cp.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
    assert(cpRdds.nonEmpty &&
      cpRdds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "the checkpoint's blocks outlived the failed scope")
  }

  test("two par2 branches register in one scope concurrently; every resident is released") {
    val dfs = (1 to 80).map(i => spark.range(i).toDF())
    val (left, right) = dfs.splitAt(40)
    Residents { r =>
      Pipeline.par2(left.foreach(r.persist(_, Level)), right.foreach(r.persist(_, Level)))
      assert(dfs.forall(cached))
    }
    assert(dfs.forall(df => !cached(df)), "a concurrent registration was lost")
  }

  test("par2 returns only after the other branch has finished when one branch throws") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Pipeline.par2({ Thread.sleep(500); done.set(true); 1 },
        throw new IllegalStateException("fb"))
    }
    assert(e.getMessage == "fb")
    assert(done.get(), "par2 returned while its other branch was still running")
    // both fail: the first branch's failure, the other suppressed
    val both = intercept[IllegalStateException] {
      Pipeline.par2(throw new IllegalStateException("fa"),
        throw new IllegalStateException("fb"))
    }
    assert(both.getMessage == "fa" && both.getSuppressed.map(_.getMessage).toSeq == Seq("fb"))
  }
}
