package graft.ingest

import graft.warehouse.{RowOversize, WarehouseError}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Size-bounded, order-preserving chunking — `chunks`
  * (`src/load_datawarehouse/data.py:227-317`).
  *
  * Contract (SURVEY §4 "hard cap, not target"):
  *  - every chunk's serialized size ≤ `sizeLimit` (default 20 MiB,
  *    `BIGQUERY_JSON_BYTES_LIMIT`, bigquery/config.py:2);
  *  - concatenating chunks in chunk order reproduces the input order
  *    exactly (round-trip test, test/test_load_datawarehouse.py:192-200);
  *  - a single row larger than the limit is an error
  *    (`WarehouseRowOversize`, data.py:304-307).
  *
  * The reference minimizes Python JSON serializations with sampling +
  * bisection (≤6 iterations). On Spark the exact per-row size is one
  * codegen'd column, so there is no estimation: one [[GreedyCut]] per
  * ordered partition packs rows greedily, and chunks never span
  * partitions. Three entry points share that rule:
  *
  *  - `partitionChunkOrdinals` — each row's chunk ordinal within its
  *    partition, computed inside whatever job consumes the frame. The
  *    warehouse load cuts with it inside its write job (one file per
  *    (partition, ordinal)): no statistics pass, no cached input, no
  *    shuffle; row count and largest row come from the same job.
  *  - `greedyChunkIds` — globally numbered chunk ids plus (rows, chunks)
  *    up front: one statistics pass over a cached input, then the
  *    assignment, for callers that need the ids or the counts before
  *    they consume the rows (the JDBC load, the packing gates).
  *  - `bandedChunkIds` — banded variant: fixed byte boundaries at
  *    multiples of `sizeLimit` over the global running sum (computed by
  *    the same partition-offset composition — never a single-partition
  *    window). A chunk here is "rows whose start offset falls in the same
  *    limit-sized band" (file-split semantics, like
  *    `spark.sql.files.maxPartitionBytes`); a row straddling a boundary
  *    belongs to the band its start falls in, so bands can overshoot by
  *    at most one row — callers that need the hard cap use a greedy
  *    variant.
  */
object Chunker {

  /** 20 MiB — BIGQUERY_JSON_BYTES_LIMIT (bigquery/config.py:2). */
  val DefaultSizeLimit: Long = 20L * (1L << 20)

  /** The greedy rule, one instance per ordered partition: a row opens a
    * new chunk when it is the partition's first or when adding it would
    * take the open chunk past `limit`. `next` returns the row's chunk
    * ordinal within the partition (0-based); a row larger than the limit
    * gets a chunk of its own (callers refuse it by the row's size).
    */
  final class GreedyCut(limit: Long) {
    private var chunk = -1L
    private var acc = 0L
    def next(size: Long): Long = {
      if (chunk < 0L || acc + size > limit) { chunk += 1L; acc = size }
      else acc += size
      chunk
    }
    /** Chunks opened so far. */
    def chunks: Long = chunk + 1L
  }

  /** Chunk assignment result: the chunked frame plus the statistics the
    * scan already produced (so callers never re-scan to count), and the
    * handle to release the cached input once the chunked frame has been
    * consumed.
    */
  final case class Chunked(df: DataFrame, rows: Long, chunks: Long) {
    private[Chunker] var cached: Option[DataFrame] = None
    def unpersist(): Unit = cached.foreach(_.unpersist())
  }

  // size extraction from an InternalRow, dispatched ONCE on the declared
  // type (null sizes fail loudly — `getLong` on a null slot would read 0
  // silently, where the previous external-row form NPE'd)
  private def sizeGetter(dt: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.catalyst.InternalRow, Int) => Long = {
    import org.apache.spark.sql.types._
    val read: (org.apache.spark.sql.catalyst.InternalRow, Int) => Long =
      dt match {
        case ByteType    => (r, i) => r.getByte(i).toLong
        case ShortType   => (r, i) => r.getShort(i).toLong
        case IntegerType => (r, i) => r.getInt(i).toLong
        case LongType    => (r, i) => r.getLong(i)
        // fractional size estimates truncate via longValue — the
        // pre-r18 Number.longValue() contract for external callers
        // (r19, advisor finding)
        case FloatType   => (r, i) => r.getFloat(i).toLong
        case DoubleType  => (r, i) => r.getDouble(i).toLong
        case d: DecimalType =>
          (r, i) => r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.longValue()
        case other => throw new IllegalArgumentException(
          s"chunking size column must be numeric, got ${other.simpleString}")
      }
    (r, i) =>
      if (r.isNullAt(i)) throw new IllegalArgumentException(
        "chunking size column contains a null")
      else read(r, i)
  }

  /** Exact greedy chunk ids. Input must carry a `sizeCol` (bytes per row);
    * rows are processed in the DataFrame's current partition order after
    * an optional `sortWithinPartitions(orderCols)`. Emits `_chunk` (Long,
    * globally increasing in row order) or RowOversize if any single row
    * exceeds the limit.
    *
    * Exactly one materialization of the input: it is cached, then ONE
    * statistics pass per partition collects (chunk count, row count, max
    * row size) — a few longs per partition — and the assignment pass
    * reads the cache. Caching also guarantees both passes see identical
    * partitioning (a recomputed nondeterministic upstream could otherwise
    * misalign the offsets).
    *
    * r18: both passes run at the INTERNAL-row level. The previous
    * `Dataset.rdd` form deserialized every row to external objects in
    * BOTH passes and re-serialized the assignment's output
    * (`createDataFrame`) — per guide §1.4 that conversion is pure
    * overhead the real pipeline never needs. The stats pass now reads a
    * one-column projection of the cache (only the size longs are
    * touched) and the assignment appends `_chunk` via an
    * `UnsafeProjection` over the cached rows — same algorithm, same
    * chunk ids, no external rows anywhere (ChunkerSpec pins output
    * equality).
    */
  def greedyChunkIds(df: DataFrame, sizeCol: String, sizeLimit: Long = DefaultSizeLimit,
                     orderCols: Seq[Column] = Nil): Either[WarehouseError, Chunked] = {
    val ordered =
      (if (orderCols.nonEmpty) df.sortWithinPartitions(orderCols: _*) else df)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizeIdx = ordered.schema.fieldIndex(sizeCol)
    val getSize = sizeGetter(ordered.schema(sizeIdx).dataType)

    // single stats pass: (chunks, rows, maxRowSize) per partition, read
    // from a one-column projection of the cache (narrow projections
    // preserve per-partition row order, so both passes see identical
    // sequences)
    val stats: Seq[(Int, (Long, Long, Long))] =
      ordered.select(col(sizeCol)).queryExecution.toRdd
        .mapPartitionsWithIndex { (pid, it) =>
          val cut = new GreedyCut(sizeLimit)
          var rows = 0L
          var maxSz = 0L
          it.foreach { row =>
            val s = getSize(row, 0)
            rows += 1L
            if (s > maxSz) maxSz = s
            cut.next(s)
          }
          Iterator.single(pid -> ((cut.chunks, rows, maxSz)))
        }.collect().toSeq

    val maxRow = stats.map(_._2._3).maxOption.getOrElse(0L)
    if (maxRow > sizeLimit) {
      ordered.unpersist()
      return Left(RowOversize(maxRow, sizeLimit))
    }
    val totalRows = stats.map(_._2._2).sum
    val totalChunks = stats.map(_._2._1).sum
    val offsets: Map[Int, Long] = {
      var running = 0L
      stats.sortBy(_._1).map { case (pid, (n, _, _)) =>
        val o = pid -> running; running += n; o
      }.toMap
    }

    // assignment pass over the cached input: each partition's chunks
    // are numbered from its offset
    val assigned = withChunkColumn(ordered, sizeIdx, sizeLimit, "_chunk",
      pid => offsets.getOrElse(pid, 0L))
    val out = Chunked(assigned, totalRows, totalChunks)
    out.cached = Some(ordered)
    Right(out)
  }

  /** `df` plus `outCol` (Long): each row's [[GreedyCut]] ordinal within
    * its partition, in the partition's current row order. No job runs
    * here; the cut happens inside whatever job consumes the frame, so a
    * writer that partitions its output by `outCol` gets one file per
    * (input partition, chunk) in the same pass that reads the input.
    * Oversize rows are not refused here: a row larger than the limit
    * gets an ordinal of its own, and the caller compares the largest
    * `sizeCol` it observed against the limit.
    */
  def partitionChunkOrdinals(df: DataFrame, sizeCol: String, sizeLimit: Long,
                             outCol: String): DataFrame =
    withChunkColumn(df, df.schema.fieldIndex(sizeCol), sizeLimit, outCol,
      _ => 0L)

  // appends the greedy chunk number (partition base + ordinal) with an
  // unsafe projection over the input rows, never external rows (the
  // projection's reused output buffer is the standard iterator contract
  // — downstream operators copy when they buffer)
  private def withChunkColumn(df: DataFrame, sizeIdx: Int, sizeLimit: Long,
                              outCol: String, base: Int => Long): DataFrame = {
    val getSize = sizeGetter(df.schema(sizeIdx).dataType)
    val schema = df.schema.add(outCol, "long", nullable = false)
    org.apache.spark.sql.GraftColumnBridge
      .mapPartitionsInternal(df, schema) { (pid, it) =>
        val cut = new GreedyCut(sizeLimit)
        val first = base(pid)
        val chunkVals = new Array[Any](1)
        val chunkRow = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(chunkVals)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(schema)
        it.map { row =>
          chunkVals(0) = first + cut.next(getSize(row, sizeIdx))
          proj(joined(row, chunkRow))
        }
      }
  }

  /** Banded chunk ids over an explicit total order:
    * `floor(startOffset / sizeLimit)` where startOffset is the running
    * byte sum of sizes *before* the row (file-split semantics). Emits the
    * input plus a `_chunk` long column.
    *
    * NOT a global window (a running sum `OVER (ORDER BY …)` with no
    * partition puts every row in one task): range-partition on the
    * order, collect per-partition byte totals (statistics only), and
    * compute each partition's running sum against its exact global byte
    * offset (`Positional`) — the same offset composition
    * `greedyChunkIds` uses, so banding scales with partition count.
    */
  def bandedChunkIds(df: DataFrame, sizeCol: String, orderBy: Seq[Column],
                     sizeLimit: Long = DefaultSizeLimit): DataFrame = {
    val spark = df.sparkSession
    val sizeIdx = df.schema.fieldIndex(sizeCol)
    val r = Positional.ranged(df, orderBy,
      row => row.get(sizeIdx).asInstanceOf[Number].longValue())
    val offsets = r.offsets
    val out = r.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets(pid)
      it.map { row =>
        val s = row.get(sizeIdx).asInstanceOf[Number].longValue()
        val chunk = acc / sizeLimit
        acc += s
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ chunk)
      }
    }
    spark.createDataFrame(out, r.schema.add("_chunk", "long", nullable = false))
  }

  /** Oversize guard as a standalone check (data.py:304-307). */
  def checkNoOversizeRow(df: DataFrame, sizeCol: String,
                         sizeLimit: Long = DefaultSizeLimit): Either[WarehouseError, Unit] = {
    val m = df.agg(max(col(sizeCol))).collect()(0)
    if (!m.isNullAt(0) && m.getAs[Number](0).longValue() > sizeLimit)
      Left(RowOversize(m.getAs[Number](0).longValue(), sizeLimit))
    else Right(())
  }
}
