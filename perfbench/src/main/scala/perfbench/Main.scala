package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.warehouse.{SparkWarehouse, WarehouseError}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, root: String, spans: String,
                      cores: Int, inject: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("root"), m.getOrElse("spans", ""),
      m.getOrElse("cores", "4").toInt, m.getOrElse("inject", ""))
  }
}

final class OpFailed(msg: String) extends RuntimeException(msg)

sealed trait OpClass
object OpClass {
  /** Returns stored data and commits nothing. */
  case object Read extends OpClass
  /** Commits a generation. */
  case object Write extends OpClass
  /** Any other public call: inference, analyze, curation steps. */
  case object Step extends OpClass
}

/** State of one run: the session, the tracer, the op timings and the
  * verdicts of the checks. Every call into the program goes through
  * [[op]], which times it, counts it as attempted or failed, and wraps it
  * in a span.
  */
final class Run(val args: Args, val spark: SparkSession, val tracer: Tracer) {
  var timing = false
  val readMs = ArrayBuffer.empty[Double]
  val writeMs = ArrayBuffer.empty[Double]
  var completed = 0L
  var failed = 0L
  var warmFailed = 0L
  /** Bytes of user input the warehouse accepted (JSON-serialised size). */
  var inputBytes = 0L
  val failures = ArrayBuffer.empty[String]
  val rng = new scala.util.Random(args.seed)

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }

  /** Whether this run feeds its verifier the named wrong result. */
  def inject(name: String): Boolean = args.inject == name

  def ok[A](e: Either[WarehouseError, A]): A =
    e.fold(err => throw new OpFailed(err.toString), identity)

  def op[A](cls: OpClass, layer: String, verb: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(layer, verb) {
        tracer.note(cls match {
          case OpClass.Read => "read"; case OpClass.Write => "write"
          case OpClass.Step => "step"
        }, 1)
        body
      })
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $layer.$verb failed: ${e.getMessage}")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!timing) { if (out.isEmpty) warmFailed += 1 }
    else if (out.isEmpty) failed += 1
    else {
      completed += 1
      cls match {
        case OpClass.Read => readMs += ms
        case OpClass.Write => writeMs += ms
        case OpClass.Step => ()
      }
    }
    out
  }

  /** Counts the last operation, which returned, as failed: its result
    * is wrong. Kept for a fault that shows on every run, on inputs that
    * do not depend on the seed.
    */
  def wrongResult(what: String): Unit = {
    System.err.println(s"[perfbench] WRONG RESULT: $what")
    if (timing) { completed -= 1; failed += 1 }
  }

  /** Time the run spent in its own checks; it is not part of the timed
    * phase's seconds.
    */
  var pausedNs = 0L

  /** Runs one of the benchmark's checks in the middle of the timed
    * phase.
    */
  def checking(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Exception => check(false, s"check raised ${e.getMessage}") }
    finally pausedNs += System.nanoTime() - t0
  }

  /** Client-side input generation: traced, never inside an op's time. */
  def gen[A](body: => A): A = tracer.span("bench", "generate")(body)

  /** Collects a read's rows; a traced run first forces the physical plan
    * in its own span, so planning and execution are timed apart.
    */
  def rows(df: DataFrame): Array[Row] = {
    if (tracer.enabled) tracer.span("spark", "plan")(df.queryExecution.executedPlan)
    val r = df.collect()
    tracer.note("rows", r.length)
    r
  }
}

/** A workload: base tables, untimed warm-up, rounds of timed calls, and
  * the checks of the final state.
  */
trait Workload {
  /** Set-ups per run; the median is reported. */
  def setupReps: Int = 3
  /** Client-side inputs, made once per run from the seed. */
  def generate(): Unit
  /** The base tables, in a fresh warehouse. */
  def setup(wh: SparkWarehouse): Unit
  /** Every operation type once, untimed. */
  def warm(): Unit
  /** One round: the same multiset of operations every time. */
  def round(): Unit
  /** Checks of the final state, against a computation made apart from
    * the program.
    */
  def verify(): Unit
  def tables: Seq[String]
}

object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val b = graft.Tables.sessionBuilder(s"local[${a.cores}]", a.cores)
      .config("spark.local.dir", s"${a.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.root}/spark-warehouse")
      .config("spark.driver.host", "localhost")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new CountingListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(a.trace, spark.sparkContext, listener)
    val run = new Run(a, spark, tracer)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = a.workload match {
      case "serve" => new Serve(run)
      case "curate" => new Curate(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tGen = System.nanoTime()
    w.generate()
    System.err.println(f"[perfbench] inputs took ${(System.nanoTime() - tGen) / 1e9}%.1f s")

    // set-up is repeated and its median reported; the last warehouse is
    // the one the timed phase uses
    val setupTimes = ArrayBuffer.empty[Double]
    var wh: SparkWarehouse = null
    for (rep <- 1 to w.setupReps) {
      if (rep > 1) deleteTree(Paths.get(a.root, s"wh${rep - 1}"))
      run.inputBytes = 0L
      val t0 = System.nanoTime()
      wh = new SparkWarehouse(spark, s"${a.root}/wh$rep")
      tracer.span("bench", "setup")(w.setup(wh))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val whRoot = Paths.get(a.root, s"wh${w.setupReps}")

    val tWarm = System.nanoTime()
    w.warm()
    System.err.println(f"[perfbench] warm-up took ${(System.nanoTime() - tWarm) / 1e9}%.1f s")
    ManagementFactory.getMemoryMXBean.gc()
    val c0 = tracer.counts()
    val gc0 = Jvm.gcMs
    run.timing = true
    val t0 = System.nanoTime()
    run.pausedNs = 0L
    while ((System.nanoTime() - t0 - run.pausedNs) < a.seconds * 1000000000L) w.round()
    val wallS = (System.nanoTime() - t0 - run.pausedNs) / 1e9
    run.timing = false
    val tEnd = System.nanoTime()
    val c1 = tracer.counts()
    val gc1 = Jvm.gcMs
    val heapMb = Jvm.retainedHeapBytes / 1048576.0
    val caches = Seq(wh.statsCacheResident, wh.bloomCacheResident,
      wh.manifestCacheResident, wh.scanIndexCacheResident)
    val layout = if (a.trace) w.tables.map { t =>
      (wh.get(t).map(_.inputFiles.length).getOrElse(0),
        wh.generations(t).map(_.size).getOrElse(0))
    } else Nil

    val tVerify = System.nanoTime()
    w.verify()
    System.err.println(f"[perfbench] final checks took ${(System.nanoTime() - tVerify) / 1e9}%.1f s, " +
      f"checks in the timed phase ${run.pausedNs / 1e9}%.1f s")
    run.check(run.warmFailed == 0, s"${run.warmFailed} warm-up operations failed")
    val stored = duBytes(whRoot)
    val attempted = run.completed + run.failed

    val e2e = Seq(
      ("setup_s", sessionS + median(setupTimes.toSeq), "s"),
      ("ops_per_s", run.completed / wallS, "1/s"),
      ("read_p50_ms", median(run.readMs.toSeq), "ms"),
      ("write_p50_ms", median(run.writeMs.toSeq), "ms"),
      ("stored_bytes_per_input_byte",
        stored.toDouble / math.max(1L, run.inputBytes), "ratio"),
      ("retained_heap_mb", heapMb, "MB"))
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} session=${sessionS}s " +
      s"setups=${setupTimes.mkString(",")} ops=${run.completed} " +
      s"reads=${run.readMs.size} writes=${run.writeMs.size} wall=${wallS}s")

    val metrics =
      if (!a.trace) e2e
      else {
        if (a.spans.nonEmpty) tracer.writeTo(Paths.get(a.spans))
        Layers.metrics(tracer.spans.toSeq, t0, tEnd, c1 - c0, gc1 - gc0,
          run.completed, wallS, a.cores, caches, layout)
      }
    val correct = run.failures.isEmpty
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${run.failed}, "metrics": {$body}}""")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }
}
