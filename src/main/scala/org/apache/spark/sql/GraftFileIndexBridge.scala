package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation,
  PartitionDirectory}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** In-package access for wrapping a scan's `FileIndex` — the standard
  * extension point (Delta/Iceberg's device) for file-level data
  * skipping: `FileSourceStrategy` hands every `FileIndex.listFiles`
  * call the PUSHED partition and data filters, and the contract
  * explicitly allows the index to return only files that may contain
  * matching rows. Wrapping the index makes zone-map pruning transparent
  * to EVERY query path — DataFrame filters, SQL over registered views,
  * DML predicate scans — with Catalyst's own pushdown (PushedFilters,
  * partition pruning) intact underneath. Like
  * [[GraftColumnBridge]], this lives in the spark.sql package because
  * Spark 4 keeps the needed constructors `private[sql]`.
  */
object GraftFileIndexBridge {

  /** `df` with every `HadoopFsRelation`'s location wrapped by `wrap`.
    * The relation's schema/output attributes are untouched, so the
    * rebuilt plan resolves identically — only file LISTING changes.
    */
  def mapFileIndex(df: DataFrame)(wrap: FileIndex => FileIndex): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
        lr.copy(relation = fsRel.copy(location = wrap(fsRel.location))(session))
    }
    classic.Dataset.ofRows(session, plan)
  }

  /** Files actually read by `df`'s scans: executes the plan and sums
    * the driver-side `numFiles` metric of every file scan. The
    * listing-level `inputFiles` cannot see index pruning (it lists
    * without filters by contract) — this is the observable. Descends
    * into `AdaptiveSparkPlanExec`/query stages (both are `collect`
    * leaves that hide their real subtree), so plans with exchanges —
    * joins, aggregates under AQE — report their scans instead of 0.
    */
  def filesRead(df: DataFrame): Long = {
    val qe = df.queryExecution
    qe.executedPlan.executeCollect()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[execution.FileSourceScanExec,
        java.lang.Boolean]())
    def visit(p: execution.SparkPlan): Unit = p.foreach {
      case s: execution.FileSourceScanExec => seen.add(s)
      case a: execution.adaptive.AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: execution.adaptive.QueryStageExec => visit(q.plan)
      case r: execution.exchange.ReusedExchangeExec => visit(r.child)
      case _ =>
    }
    visit(qe.executedPlan)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }

  /** Rows produced by `df`'s file scans: executes the plan and sums
    * every file scan's `numOutputRows` metric — the parallel-safe
    * observable for "how much changed data did this plan actually
    * read" (a plan that references one scan twice pays it twice and
    * reports it twice). Descends into AQE stages like [[filesRead]].
    */
  def rowsScanned(df: DataFrame): Long = {
    val qe = df.queryExecution
    qe.executedPlan.executeCollect()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[execution.FileSourceScanExec,
        java.lang.Boolean]())
    def visit(p: execution.SparkPlan): Unit = p.foreach {
      case s: execution.FileSourceScanExec => seen.add(s)
      case a: execution.adaptive.AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: execution.adaptive.QueryStageExec => visit(q.plan)
      case r: execution.exchange.ReusedExchangeExec => visit(r.child)
      case _ =>
    }
    visit(qe.executedPlan)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  /** Re-tag a batch DataFrame as a STREAMING one — the contract a
    * DSv1 `Source.getBatch` result must satisfy (`MicroBatchExecution`
    * asserts `isStreaming`). Same device `FileStreamSource` uses:
    * wrap the plan's `InternalRow` RDD via `internalCreateDataFrame(
    * ..., isStreaming = true)`; the RDD is lazy, so nothing executes
    * until the micro-batch runs.
    */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    session.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse, for tests that drive a `Source.getBatch` directly:
    * re-wrap a streaming-tagged [[asStreamingFrame]] result as a batch
    * frame so it can be counted/collected outside a streaming query.
    * (Executing the streaming frame's own plan would trip the
    * batch-execution checker, so the underlying RDD is re-wrapped
    * instead.)
    */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        session.internalCreateDataFrame(
          lr.rdd.asInstanceOf[org.apache.spark.rdd.RDD[
            org.apache.spark.sql.catalyst.InternalRow]],
          df.schema, isStreaming = false)
      case other => throw new IllegalArgumentException(
        s"asBatchFrame expects an asStreamingFrame result, got " +
          other.getClass.getSimpleName)
    }
  }

  /** Parquet scan over an EXPLICIT file inventory — zero directory
    * listing at plan time. The given statuses seed the `FileIndex`'s
    * status cache, so the stock `InMemoryFileIndex` (partition
    * discovery, partition-type inference, pushed-filter listing — all
    * identical to `spark.read.parquet(root)`) builds without touching
    * the filesystem; the merged data schema is either the caller's
    * cached copy or inferred NOW from the given footers (mergeSchema
    * semantics — one distributed footer job, which the caller caches
    * per manifest generation). This is the scan-planning half of the
    * warehouse's live-file manifest: at 100k+ files it converts every
    * warm `get()` from an O(files) recursive listing plus footer merge
    * into a pure driver-memory plan build. Statuses must carry EXACT
    * byte lengths (footer reads seek to len-8).
    *
    * Returns (index, merged data schema); [[manifestFrame]] assembles
    * the DataFrame. Kept separate so the caller can cache the index
    * (driver-memory resident, like Spark's own shared status cache)
    * and rebuild cheap per-query frames from it.
    */
  def manifestIndex(spark: SparkSession, root: Path,
                    files: Seq[FileStatus],
                    cachedDataSchema: Option[StructType])
      : (FileIndex, StructType) = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val arr = files.toArray
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        if (path == root) Some(arr) else None
      override def putLeafFiles(path: Path,
                                leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("mergeSchema" -> "true")
    // identity equality: the stock index equals any other over the same
    // root, so two seeded scans of different file lists under one root
    // (two generations, or two sets of deletion-vector files) would
    // canonicalize alike and one plan could reuse the other's exchange
    val index = new InMemoryFileIndex(session, Seq(root), options, None, cache) {
      override def equals(other: Any): Boolean = this eq other.asInstanceOf[AnyRef]
      override def hashCode(): Int = System.identityHashCode(this)
    }
    val dataSchema = cachedDataSchema.getOrElse {
      new ParquetFileFormat().inferSchema(session, options, index.allFiles())
        .getOrElse(throw new IllegalStateException(
          s"unable to infer parquet schema under $root"))
    }
    (index, dataSchema)
  }

  /** `base` merged with the footers of `files`, in order — what the
    * `mergeSchema` footer job of [[manifestIndex]] computes over a file
    * list that starts with the files `base` was merged from and ends
    * with `files` (the merge folds footers left to right). The added
    * footers are read on the driver with the same reader and converter
    * settings that job uses, so an append costs no Spark job, and no
    * footer behind `base` is read again.
    */
  def mergeFooterSchemas(spark: SparkSession, base: StructType,
                         files: Seq[FileStatus]): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    val hadoopConf = session.sessionState.newHadoopConf()
    // the job's reader, corrupt-file skipping included
    def footer(st: FileStatus): Option[Footer] =
      try Some(new Footer(st.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, hadoopConf),
        ParquetMetadataConverter.NO_FILTER)))
      catch {
        case _: java.io.IOException | _: RuntimeException
            if conf.ignoreCorruptFiles => None
      }
    org.apache.spark.util.ThreadUtils
      .parmap(files, "graft-footer-read", 8)(footer).flatten
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .foldLeft(base)(_.merge(_, conf.caseSensitiveAnalysis))
  }

  /** A DataFrame over a [[manifestIndex]] result, with the index
    * optionally re-wrapped (the pruning index hook). Mirrors
    * `DataSource.resolveRelation`'s relation assembly: nullable data
    * schema, the index's inferred partition schema, no bucket spec.
    * The format VERIFIES each file's on-disk length against the
    * manifest-seeded status at open (see
    * [[GraftVerifyingParquetFileFormat]]) so a stale manifest can
    * never yield a silently empty or partial read.
    */
  def manifestFrame(spark: SparkSession, index: FileIndex,
                    dataSchema: StructType,
                    wrap: FileIndex => FileIndex): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val rel = HadoopFsRelation(wrap(index), index.partitionSchema,
      dataSchema.asNullable, None, new GraftVerifyingParquetFileFormat,
      Map("mergeSchema" -> "true"))(session)
    classic.Dataset.ofRows(session, LogicalRelation(rel))
  }
}

/** Parquet format whose reader asserts, at task open, that each file's
  * LIVE length equals the length its split was planned from. Closes the
  * one silent hole in manifest-served reads: an out-of-band writer that
  * REPLACES a data file under the same name with different-length
  * content leaves the manifest's recorded length stale — the real
  * footer still parses (footer reads stat the live file), but every
  * row-group midpoint then falls outside the stale `[0, manifestLen)`
  * split and the scan returns 0 rows WITHOUT ERROR. The manifest
  * contract is "fails loudly, never silently wrong" (removals already
  * fail with FILE_NOT_EXIST); this check extends that to same-name
  * replacement: length drift throws with a heal hint instead of
  * serving an empty result. Cost: one executor-side `getFileStatus`
  * per split, next to the footer read the task pays anyway —
  * distributed, never a driver wall.
  */
final class GraftVerifyingParquetFileFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val base = super.buildReaderWithPartitionValues(sparkSession,
      dataSchema, partitionSchema, requiredSchema, filters, options,
      hadoopConf)
    val confBc = GraftVerifyingParquetFileFormat.cachedConf(sparkSession,
      hadoopConf)
    file => {
      // a missing file already fails loudly inside the reader; only the
      // same-name replacement (stat succeeds, length drifted) needs us
      val p = file.toPath
      val live = p.getFileSystem(confBc.value.value).getFileStatus(p)
      if (live.getLen != file.fileSize)
        throw new java.io.IOException(
          s"graft manifest length drift on $p: planned from " +
            s"${file.fileSize} bytes but the live file has " +
            s"${live.getLen} — the file was replaced out-of-band after " +
            "its generation was committed. Restore the original file: " +
            "the committed generation, not the directory, defines the " +
            "table, so a replaced file is never adopted in place (reads " +
            "never silently serve a stale-length file)")
      base(file)
    }
  }
}

object GraftVerifyingParquetFileFormat {
  // ONE broadcast Hadoop conf per (SparkContext, conf content)
  // (advisor r15 + r16 findings): the per-reader-build broadcast
  // accumulated driver/executor churn on every scan, but caching the
  // CONTEXT's base conf dropped per-query/session Hadoop options
  // (spark.hadoop overrides, per-session object-store credentials)
  // from the executor-side verification stat. The cache is therefore
  // keyed by the PASSED conf's content fingerprint — one broadcast
  // per distinct configuration, reused across every scan that shares
  // it — and entries of stopped contexts are evicted on access.
  // Bounded LRU (r18, advisor finding): every distinct conf CONTENT —
  // e.g. per-session object-store credentials, the motivating case —
  // previously leaked a driver+executor broadcast for the context's
  // lifetime. Eviction must NOT destroy() (r19, advisor finding): a
  // reader closure built by buildReaderWithPartitionValues captures the
  // broadcast for the lifetime of its scan, and streaming/cached plans
  // reuse it across micro-batches — destroying an evicted-but-in-flight
  // broadcast fails every later task of that scan with "Attempted to
  // use Broadcast after it was destroyed". Eviction instead unpersists
  // the executor copies (tasks re-fetch from the driver on next use)
  // and drops the strong reference; ContextCleaner destroys the
  // broadcast for good once no scan references it.
  private val confCache = new graft.warehouse.LruFileBudgetCache[
    (org.apache.spark.SparkContext, Long),
    org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration]](
    () => 64L, _ => 1L,
    b => try b.unpersist(blocking = false) catch { case _: Exception => () })

  private def confFingerprint(
      conf: org.apache.hadoop.conf.Configuration): Long = {
    var h1 = 0L; var h2 = 0L
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      val x = (e.getKey + "\u0000" + e.getValue).hashCode.toLong
      h1 += x * 0x9e3779b97f4a7c15L
      h2 ^= java.lang.Long.rotateLeft(x, (x & 63).toInt)
    }
    h1 ^ java.lang.Long.rotateLeft(h2, 32)
  }

  /** Test/ops hook: broadcasts resident in the conf cache. */
  def confCacheResident: Int = confCache.resident._1

  /** Public for the r18 LRU-bound spec (the broadcast cache is
    * otherwise reached only through scan construction).
    */
  def cachedConf(spark: SparkSession,
                 hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration] = {
    val sc = spark.sparkContext
    confCache.synchronized {
      confCache.removeIf(_._1.isStopped)
      val key = (sc, confFingerprint(hadoopConf))
      val hit = confCache.get(key) // touches LRU order
      if (hit != null) hit
      else {
        val b = sc.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf))
        confCache.put(key, b)
        b
      }
    }
  }
}

/** Data-skipping `FileIndex`: delegates to `base` and drops, from
  * each `listFiles` answer, the files whose stored per-file metadata —
  * zone-map bounds ([[graft.warehouse.Skipping.ColStats]]) and/or
  * per-column Bloom filters — PROVE no row can satisfy the conjunction
  * of the pushed data filters ([[graft.warehouse.Skipping.mayMatch]] —
  * conservative: files without metadata and unprovable predicates
  * always read). `meta` is consulted lazily per listing, so the
  * sidecars' current state (re-analyzed, dropped by a rewrite) always
  * wins; it must never throw. Driver-side only, like every `FileIndex`.
  */
final class GraftPruningFileIndex(
    base: FileIndex,
    meta: () => Option[graft.warehouse.Skipping.PruneMeta])
  extends FileIndex {

  override def rootPaths: Seq[Path] = base.rootPaths
  override def partitionSchema: StructType = base.partitionSchema
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long = base.sizeInBytes
  override def metadataOpsTimeNs: Option[Long] = base.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val dirs = base.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty) dirs
    else meta() match {
      case None => dirs
      case Some(pm) =>
        val cond = graft.warehouse.Skipping.canonicalize(
          dataFilters.reduce(And(_, _)))
        dirs.map { pd =>
          pd.copy(files = pd.files.filter { f =>
            val uri = f.fileStatus.getPath.toUri.toString
            pm.prefixes.collectFirst {
              case p if uri.startsWith(p + "/") => uri.substring(p.length + 1)
            } match {
              case Some(rel) => graft.warehouse.Skipping.mayMatch(cond,
                pm.stats.getOrElse(rel, Map.empty),
                pm.blooms.getOrElse(rel, Map.empty))
              case None => true // outside the known root: must read
            }
          })
        }
    }
  }
}
