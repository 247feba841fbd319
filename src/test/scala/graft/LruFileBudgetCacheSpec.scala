package graft

import graft.warehouse.{LruFileBudgetCache, SparkWarehouse}
import org.apache.spark.sql.functions._

/** The one budgeted driver cache: eviction order and the insert that
  * is never evicted, the on-evict callback, the bounded admission memo,
  * and — through a warehouse — that an over-budget sidecar is sized once
  * per sidecar generation however often it is read.
  */
class LruFileBudgetCacheSpec extends SparkSpec {

  private def cache(budget: Long, evicted: collection.mutable.Buffer[Long]) =
    new LruFileBudgetCache[String, Long](() => budget, identity,
      v => { evicted += v; () })

  test("eviction drops least-recently-used entries, never the one just " +
    "inserted") {
    val evicted = collection.mutable.Buffer.empty[Long]
    val c = cache(10L, evicted)
    c.put("a", 4L); c.put("b", 4L)
    assert(c.get("a") == 4L) // a is now more recent than b
    c.put("c", 2L)
    assert(c.resident == ((3, 10L)))
    c.put("d", 1L) // over by one: the eldest (b) goes
    assert(c.get("b") == 0L && c.get("a") == 4L) // order now c, d, a
    assert(c.resident == ((3, 7L)))
    // alone over budget: everything else goes, the new entry stays
    c.put("huge", 50L)
    assert(c.resident == ((1, 50L)))
    assert(c.get("huge") == 50L)
    assert(evicted.toSeq == Seq(4L, 2L, 1L, 4L))
  }

  test("the on-evict callback runs once per evicted entry, and never for " +
    "remove, removeIf or a replaced value") {
    val evicted = collection.mutable.Buffer.empty[Long]
    val c = cache(10L, evicted)
    (1L to 100L).foreach(i => c.put(s"k$i", 1L))
    assert(c.resident == ((10, 10L)))
    assert(evicted.size == 90)
    c.put("k100", 1L) // replace in place
    c.remove("k99")
    c.removeIf(_ == "k98")
    assert(evicted.size == 90)
    assert(c.resident == ((8, 8L)))
  }

  test("the admission memo is keyed by fingerprint and budget and keeps " +
    "its most recent 1024 entries") {
    val c = cache(10L, collection.mutable.Buffer.empty[Long])
    c.admit("fp0", 10L, (Seq(0), 3L))
    assert(c.admission("fp0", 10L) == Some((Seq(0), 3L)))
    assert(c.admission("fp0", 11L).isEmpty)
    (1 to 1024).foreach(i => c.admit(s"fp$i", 10L, (Nil, 0L)))
    assert(c.admission("fp0", 10L).isEmpty, "the eldest admission survived")
    assert(c.admission("fp1024", 10L) == Some((Nil, 0L)))
  }

  test("an over-budget stats sidecar costs one sizing action per sidecar " +
    "generation across repeated reads") {
    val sps = spark; import sps.implicits._
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.toString), identity)
    val wh = new SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-lru-sizing").toString)
    unwrap(wh.load("t", (0L until 4000L).map(i => (i, s"n$i"))
      .toDF("id", "name").repartition(4)))
    unwrap(wh.analyzeStats("t"))
    assert(unwrap(wh.get("t")).count() == 4000L) // warm the scan index

    // SQL actions whose plan reads the stats sidecar: with the sidecar
    // refused, only its sizing aggregate does
    val sidecarActions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("_graft_stats") =>
          sidecarActions.incrementAndGet(); ()
        case _ => ()
      }
    }
    def reads(n: Int): Int = {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      sidecarActions.set(0)
      (1 to n).foreach { _ =>
        assert(unwrap(wh.get("t")).filter(col("id") < 100L).count() == 100L)
      }
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      sidecarActions.get()
    }
    val conf = "spark.graft.statsCache.maxBytes"
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set(conf, "128")
      assert(reads(3) == 1, "refused sidecar re-sized on repeated reads")
      assert(wh.statsCacheResident == ((0, 0L)))
      assert(reads(3) == 0)
      // a new budget is a new admission decision: sized once more
      spark.conf.set(conf, "256")
      assert(reads(3) == 1)
      // a new sidecar generation is sized once more, too
      unwrap(wh.load("t", Seq((5000L, "x")).toDF("id", "name").coalesce(1)))
      unwrap(wh.analyzeStats("t"))
      assert(reads(3) == 1)
      assert(reads(3) == 0)
      assert(wh.statsCacheResident == ((0, 0L)))
    } finally {
      spark.conf.unset(conf)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
