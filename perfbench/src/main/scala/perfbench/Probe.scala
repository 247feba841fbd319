package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path, RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark-side counts, from a listener the benchmark registers. */
final class CountingListener extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }
}

/** The local file system with every metadata and data operation
  * counted. A traced run installs it as `fs.file.impl`, so the counts
  * cover every call the warehouse makes through Hadoop, without any
  * change to the program. Scheme and semantics are those of
  * [[LocalFileSystem]].
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def isParquet(p: Path) = p.getName.endsWith(".parquet")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    if (isParquet(f)) parquetOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    if (isParquet(f)) parquetCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
  val parquetOpens = new AtomicLong
  val parquetCreates = new AtomicLong
}

/** One reading of every counter; deltas of two readings are a call's
  * counts.
  */
final case class Counts(jobs: Long, tasks: Long, taskRunMs: Long,
                        shuffleBytes: Long, recordsRead: Long,
                        fsReads: Long, fsWrites: Long, fsLists: Long,
                        parquetOpens: Long, parquetCreates: Long,
                        bytesWritten: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    taskRunMs - o.taskRunMs, shuffleBytes - o.shuffleBytes,
    recordsRead - o.recordsRead, fsReads - o.fsReads, fsWrites - o.fsWrites,
    fsLists - o.fsLists, parquetOpens - o.parquetOpens,
    parquetCreates - o.parquetCreates, bytesWritten - o.bytesWritten,
    gcMs - o.gcMs)
  def fsOps: Long = fsReads + fsWrites + fsLists
  def toJson: String =
    s""""jobs":$jobs,"tasks":$tasks,"task_run_ms":$taskRunMs,""" +
      s""""shuffle_bytes":$shuffleBytes,"records_read":$recordsRead,""" +
      s""""fs_reads":$fsReads,"fs_writes":$fsWrites,"fs_lists":$fsLists,""" +
      s""""parquet_opens":$parquetOpens,"parquet_creates":$parquetCreates,""" +
      s""""bytes_written":$bytesWritten,"gc_ms":$gcMs"""
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after forced full collections. Spark's context cleaner
    * frees broadcast and shuffle blocks asynchronously once a collection
    * has found them unreachable, so collections are repeated with short
    * pauses until the reading stops falling.
    */
  def retainedHeapBytes: Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = Long.MaxValue - 1
    var tries = 0
    while (used < last && tries < 5) {
      last = used
      mem.gc()
      Thread.sleep(200)
      used = mem.getHeapMemoryUsage.getUsed
      tries += 1
    }
    math.min(used, last)
  }
}

final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, counts: Counts,
                      extra: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around each call into a layer's public functions, kept in
  * memory and written out when the run ends. Disabled, it only runs the
  * body.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext,
                   listener: CountingListener) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[(Int, scala.collection.mutable.Map[String, Double])] = Nil
  private var nextId = 0

  def counts(): Counts = {
    if (enabled) org.apache.spark.perfbench.ListenerBusDrain(sc)
    val fsBytes = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
    Counts(listener.jobs.get, listener.tasks.get, listener.taskRunMs.get,
      listener.shuffleBytes.get, listener.recordsRead.get,
      CountingFileSystem.reads.get, CountingFileSystem.writes.get,
      CountingFileSystem.lists.get, CountingFileSystem.parquetOpens.get,
      CountingFileSystem.parquetCreates.get, fsBytes, Jvm.gcMs)
  }

  /** Runs `body` inside a span. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val extra = scala.collection.mutable.Map.empty[String, Double]
      val c0 = counts()
      val t0 = System.nanoTime()
      open = (id, extra) :: open
      val out = try body finally open = open.tail
      val t1 = System.nanoTime()
      spans += Span(id, parent, layer, name, t0, t1, counts() - c0, extra.toMap)
      out
    }

  /** Adds a figure known only inside the call (rows returned, bytes
    * accepted) to the innermost open span.
    */
  def note(key: String, value: Double): Unit =
    open.headOption.foreach(_._2(key) = value)

  def writeTo(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""")
        .append(s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""")
        .append(s.counts.toJson)
      s.extra.foreach { case (k, v) => sb.append(s""","$k":$v""") }
      sb.append("}\n")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
