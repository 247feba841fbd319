package graft.tools

import graft.Tables
import graft.warehouse.SparkWarehouse
import org.apache.spark.sql.functions._

/** r18 optimization probe: per-stage wall time and Spark job count of
  * the op-gate fixture pipeline (load → analyzeStats → analyzeBloom →
  * scanPruned → append load), at bench scale (sf0.1, local[32]) — stage
  * attribution for OPTIMIZATION_r18.md.
  * `runMain graft.tools.OpProbe`
  */
object OpProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val t0s = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (sys.env.contains("OPPROBE_TRACE")) {
          val stages = js.stageInfos.map(si =>
            s"${si.name}(${si.numTasks})").mkString(" | ")
          t0s.put(js.jobId, (System.nanoTime(), stages))
        }
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val v = t0s.remove(je.jobId)
        if (v != null) println(f"[opprobe]     job ${je.jobId}: " +
          f"${(System.nanoTime() - v._1) / 1e9}%.3fs  ${v._2}")
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        { tasks.incrementAndGet(); () }
    })

    def t[A](label: String)(body: => A): A = {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      val j0 = jobs.get(); val k0 = tasks.get()
      val t0 = System.nanoTime()
      val r = body
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      println(f"[opprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.3fs " +
        s"jobs=${jobs.get() - j0} tasks=${tasks.get() - k0}")
      r
    }

    def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => throw new RuntimeException(err.message), identity)

    (1 to 2).foreach { round =>
      println(s"=== round $round ===")
      val wh = new SparkWarehouse(spark,
        java.nio.file.Files.createTempDirectory("graft-opprobe").toString)
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

      // --- the verbs end to end (load sizes, cuts and writes its chunks
      // in one job, so it has no internal stage to time separately)
      t("wh.load")(ok(wh.load("probe_t", li.repartition(8))))
      t("analyzeStats")(ok(wh.analyzeStats("probe_t")))
      t("analyzeBloom")(ok(wh.analyzeBloom("probe_t", Seq("l_orderkey"))))
      t("scanPruned+count") {
        ok(wh.scanPruned("probe_t", col("l_orderkey") === 1L)).count()
      }
      // a second table: append-style load cost without create
      t("wh.load#2 (same table, append)")(ok(wh.load("probe_t", li.repartition(8))))
    }
    spark.stop()
  }
}
