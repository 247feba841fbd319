package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** A local filesystem under its own scheme that records every directory
  * listing, so a spec can read a warehouse through it and see what a
  * verb lists. Registered under `graftlscount://` via Hadoop conf in
  * [[MergeOnReadSpec]].
  */
class ListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftlscount"
  override def getUri: java.net.URI = java.net.URI.create("graftlscount:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    ListCountingFs.listed.add(p.toString)
    super.listStatus(p)
  }
}

object ListCountingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Deletion vectors are entries of the generation that commits them:
  * CDC sees merge-on-read changes, a vector commit never loses a delete
  * to a concurrent rewrite, reads list nothing under `_graft_dv/`, and
  * no crash inside `updateWhereMor` shows both versions of a row.
  */
class MergeOnReadSpec extends SparkSpec {

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
    e.fold(err => fail(err.message), identity)

  /** ids 0–99 with v = 10·id, loaded into `t`. */
  private def seeded(dir: String) = {
    val wh = new graft.warehouse.SparkWarehouse(spark, dir)
    unwrap(wh.load("t", spark.range(0, 100).select(col("id"),
      (col("id") * 10L).as("v")).repartition(2)))
    wh
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("CDC reports every merge-on-read delete and update, bag and keyed") {
    val wh = seeded(tmpDir("mor-cdc"))
    val g0 = wh.currentGeneration("t").get
    unwrap(wh.deleteWhereMor("t", col("id") < 5L))
    unwrap(wh.deleteWhereMor("t", col("id") === 50L))
    unwrap(wh.updateWhereMor("t", Map("v" -> lit(-1L)), col("id") === 60L))
    val g1 = wh.currentGeneration("t").get
    val feed = unwrap(wh.changesBetween("t", g0, g1)).select("id", "v",
      "change_type").collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSet
    val deleted = ((0L until 5L) :+ 50L :+ 60L).map(i => (i, i * 10L, "delete"))
    assert(feed == (deleted :+ ((60L, -1L, "insert"))).toSet)
    val keyed = unwrap(wh.changesBetweenKeyed("t", g0, g1, Seq("id")))
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(keyed == (((0L until 5L) :+ 50L).map(i => (i, i * 10L, "delete")) ++
      Seq((60L, 600L, "update_preimage"), (60L, -1L, "update_postimage"))).toSet)
    // each MoR verb committed one generation, and its span shows it alone
    assert(g1 - g0 == 3L)
    assert(unwrap(wh.changesBetween("t", g1 - 1, g1)).count() == 2L)
    // a fold changes no row
    unwrap(wh.compact("t", 1))
    assert(unwrap(wh.changesBetween("t", g1, wh.currentGeneration("t").get))
      .count() == 0L)
  }

  test("a delete parked before its commit while a compact commits is " +
    "refused or applied, never lost") {
    val dir = tmpDir("mor-race-del")
    val wh = seeded(dir)
    val other = new graft.warehouse.SparkWarehouse(spark, dir)
    var compacted: Either[graft.warehouse.WarehouseError, Unit] = null
    wh.testHook = {
      case "append:files-final" =>
        wh.testHook = null
        compacted = other.compact("t", 1)
      case _ => ()
    }
    val deleted = wh.deleteWhereMor("t", col("id") < 5L)
    assert(wh.testHook == null, "the delete never reached its commit")
    assert(compacted != null && compacted.isRight)
    val left = unwrap(wh.get("t")).filter(col("id") < 5L).count()
    assert(if (deleted.isRight) left == 0L else left == 5L,
      s"delete returned $deleted and left $left of 5 rows")
    assert(unwrap(wh.get("t")).count() == (if (deleted.isRight) 95L else 100L))
  }

  test("a compact parked before its commit while a delete commits keeps " +
    "the delete") {
    val dir = tmpDir("mor-race-compact")
    val wh = seeded(dir)
    val other = new graft.warehouse.SparkWarehouse(spark, dir)
    var deleted: Either[graft.warehouse.WarehouseError, Unit] = null
    wh.testHook = {
      case "rewrite:files-final" =>
        wh.testHook = null
        deleted = other.deleteWhereMor("t", col("id") < 5L)
      case _ => ()
    }
    wh.compact("t", 1)
    assert(wh.testHook == null, "the compact never reached its commit")
    assert(deleted != null && deleted.isRight)
    val fresh = new graft.warehouse.SparkWarehouse(spark, dir)
    assert(unwrap(fresh.get("t")).filter(col("id") < 5L).count() == 0L)
    assert(unwrap(fresh.get("t")).count() == 95L)
  }

  test("get on a table with deletion vectors runs no Spark job and lists " +
    "nothing under _graft_dv/") {
    val dir = tmpDir("mor-get")
    val wh = seeded(dir)
    unwrap(wh.deleteWhereMor("t", col("id") % 7 === 0L))
    unwrap(wh.updateWhereMor("t", Map("v" -> lit(-1L)), col("id") === 1L))
    spark.sparkContext.hadoopConfiguration.set("fs.graftlscount.impl",
      classOf[ListCountingFs].getName)
    val counted = new graft.warehouse.SparkWarehouse(spark,
      s"graftlscount://$dir")
    unwrap(counted.get("t")) // cold: the scan's schema is cached here
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      ListCountingFs.listed.clear()
      val j0 = jobs.get()
      val df = unwrap(counted.get("t"))
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      assert(jobs.get() - j0 == 0, s"get ran ${jobs.get() - j0} jobs")
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    val dvListings = ListCountingFs.listed.iterator().asScala
      .filter(_.contains("_graft_dv")).toList
    assert(dvListings.isEmpty, s"get listed $dvListings")
    assert(rows(df) == (0L until 100L).filter(_ % 7 != 0)
      .map(i => (i, if (i == 1L) -1L else i * 10L)).toSet)
  }

  test("no crash point inside updateWhereMor leaves both versions of a " +
    "row visible") {
    val probe = seeded(tmpDir("mor-crash-probe"))
    val points = scala.collection.mutable.LinkedHashSet.empty[String]
    probe.testHook = p => { points += p; () }
    unwrap(probe.updateWhereMor("t", Map("v" -> lit(-1L)), col("id") === 60L))
    probe.testHook = null
    assert(points.nonEmpty, "updateWhereMor passed no fault point")
    points.foreach { point =>
      val dir = tmpDir("mor-crash")
      val wh = seeded(dir)
      val loaded = wh.currentGeneration("t").get
      wh.testFaultPoint = point
      try wh.updateWhereMor("t", Map("v" -> lit(-1L)), col("id") === 60L)
      catch { case _: graft.warehouse.SparkWarehouse.SimulatedCrash => () }
      wh.testFaultPoint = null
      // the live view, and every generation the crash left committed
      val fresh = new graft.warehouse.SparkWarehouse(spark, dir)
      val views = unwrap(fresh.get("t")) +:
        unwrap(fresh.generations("t")).filter(_ >= loaded)
          .map(g => unwrap(fresh.getAsOf("t", g)))
      views.foreach { df =>
        val v60 = df.filter(col("id") === 60L).select("v").collect()
          .map(_.getLong(0)).toSeq
        assert(v60 == Seq(600L) || v60 == Seq(-1L),
          s"crash at $point shows id 60 as $v60")
      }
    }
  }
}
