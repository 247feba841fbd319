package graft.tools

import graft.Tables
import graft.warehouse.SparkWarehouse
import org.apache.spark.sql.functions._

/** Micro-probe for the append cost at GATE scale: times the pieces of
  * one small `load` (the write job, the move, the manifest commit) so a
  * fixed per-verb regression is attributable to a specific step instead
  * of argued from whole-gate medians.
  */
object AppendProbe {
  private def timed[A](thunk: () => A): Double = {
    val t0 = System.nanoTime()
    thunk()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.sessionBuilder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => throw new RuntimeException(err.message), identity)
    val data = spark.range(0, 50000)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))

    // A: full load verb
    val whA = new SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("probe-a").toString)
    unwrap(whA.load("t", data)) // warm: create + schema + JIT
    val loadTimes = (1 to 8).map(_ => timed(() => unwrap(whA.load("t", data))))

    // B: the bare Spark append write, no warehouse bookkeeping
    val rawDir = java.nio.file.Files.createTempDirectory("probe-b").toString
    data.write.mode("append").parquet(s"$rawDir/t")
    val rawTimes = (1 to 8).map(_ => timed(() =>
      data.write.mode("append").parquet(s"$rawDir/t")))

    // C: the bare staged write (Overwrite to a fresh tmp dir), no moves
    val stagedTimes = (1 to 8).map { i =>
      timed(() => data.write.mode("overwrite").parquet(s"$rawDir/stage$i"))
    }

    // D: update(append) — appendDataFiles + meta + view, NO chunker
    val whD = new SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("probe-d").toString)
    unwrap(whD.update("t", data))
    val updTimes = (1 to 8).map(_ => timed(() => unwrap(whD.update("t", data))))

    // F: deleteWhere at gate scale, with a Spark-job counter — if the
    // r15 swap path schedules an extra job vs r14, this names it
    val whF = new SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("probe-f").toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val delTimes = (1 to 6).map { i =>
      unwrap(whF.drop("t"))
      unwrap(whF.load("t", spark.range(0, 150000)
        .select(col("id"), (col("id") % 97).as("k"))))
      spark.sparkContext.addSparkListener(jl)
      val j0 = jobs.get()
      val t = timed(() => unwrap(whF.deleteWhere("t", col("k") === 5)))
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      val dj = jobs.get() - j0
      spark.sparkContext.removeSparkListener(jl)
      println(f"[probe] deleteWhere rep$i sec=$t%.3f jobs=$dj")
      t
    }

    def fmt(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"[probe] delete_where_median=${fmt(delTimes)}%.3f")
    println(f"[probe] update_append_median=${fmt(updTimes)}%.3f")
    println(f"[probe] load_verb_median=${fmt(loadTimes)}%.3f " +
      f"raw_append_median=${fmt(rawTimes)}%.3f " +
      f"staged_write_median=${fmt(stagedTimes)}%.3f")
    println("[probe] raw load " + loadTimes.map(t => f"$t%.3f").mkString(","))
    spark.stop()
  }
}
