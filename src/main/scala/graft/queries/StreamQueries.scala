package graft.queries

import graft.streaming.EventStream
import graft.warehouse.SparkWarehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming gate queries: a REAL Structured Streaming execution inside
  * the correctness gate — file-stream source over the stored events
  * parquet, watermarked hourly window aggregation, memory sink — with a
  * DuckDB batch oracle. Stream/batch agreement is the correctness
  * contract of an incremental pipeline.
  */
object StreamQueries {

  /** The file-stream source needs a declared schema; derive it from the
    * stored file's own footer so the gates track the testdata contract
    * (epoch-nanos long vs TIMESTAMP(MICROS)) instead of pinning one schema
    * that silently mis-reads the other encoding. Deliberately NOT cached:
    * a JVM-lifetime memo would keep a stale schema if the testdata were
    * regenerated in-place mid-session — re-creating the silent-drift
    * failure this footer read exists to surface — and one footer read per
    * gate is negligible next to the streaming query itself.
    */
  private def eventsSchema(s: SparkSession, dir: String): StructType =
    s.read.parquet(s"$dir/events.parquet").schema

  /** Sentinel frames are built with `ts` as epoch-nanos long; rewrite `ts`
    * to the stored file's physical type so every staged file in a stream
    * directory parses under the one declared schema.
    */
  private def alignTs(df: DataFrame, target: DataType): DataFrame = target match {
    case LongType         => df
    case TimestampNTZType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
    case TimestampType    =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case other => throw new IllegalStateException(
      s"events.ts has unsupported physical type $other (testdata contract drift?)")
  }

  /** tmpfs-backed scratch dir for stream staging and checkpoints
    * (guide §6, r19): a micro-batch pays offset-log + commit-log +
    * state-delta file I/O as FIXED cost per trigger, and on the ext4
    * /tmp this charged every batch ~100 ms of filesystem metadata
    * latency that has nothing to do with the streaming kernel under
    * test. Falls back to java.io.tmpdir where /dev/shm is absent.
    * Production deployments put checkpoints on durable storage sized
    * for their fault-tolerance contract — the gate measures the
    * kernel, not the durability tier.
    */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** A timed-out stream leaves a PARTIAL sink that looks like an answer;
    * make it an error instead (awaitTermination returns false on timeout).
    * `scratch` dirs (checkpoints, consumed staging) are deleted once the
    * query has terminated cleanly — gate hygiene for the tmpfs scratch
    * space; on failure they are left in place for debugging.
    */
  private[graft] def awaitOrFail(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long,
      scratch: java.nio.file.Path*): Unit = {
    if (!q.awaitTermination(timeoutMs)) {
      try q.stop()
      finally throw new IllegalStateException(
        s"streaming query '${q.name}' still running after $timeoutMs ms; " +
          "partial sink discarded")
    }
    scratch.foreach { p =>
      try {
        import scala.jdk.CollectionConverters._
        // the walk holds an open directory stream until closed
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(f => { java.nio.file.Files.deleteIfExists(f); () })
        finally walk.close()
      } catch { case _: Exception => () }
    }
  }

  /** Stage tick-sentinel files in ONE Spark job (r18): the previous
    * per-sentinel `coalesce(1)` writes scheduled one full Spark job per
    * staged file — pure fixed cost repeated in every streaming gate, on
    * every bench rep. All sentinel rows are written once, partitioned
    * by their target file number, and each part file is copied into the
    * stream directory with its file-order mtime (file order =
    * modification time, oldest first). Byte-equivalent content: same
    * rows, same schema, same one-file-per-micro-batch layout.
    *
    * `files` = (fileNo, rows), each row
    * (event_id, ts epoch-NANOS, user_id, event_type, value, props);
    * `ts` is aligned to the stored file's physical type so the staged
    * directory parses under the one declared schema.
    */
  private def stageSentinels(s: SparkSession,
      tsType: DataType, staged: java.nio.file.Path,
      files: Seq[(Int, Seq[(Long, Long, Long, String, Double, String)])])
      : Unit = {
    import s.implicits._
    val tmp = scratchDir("graft-sentinels")
    val rows = files.flatMap { case (n, rs) =>
      rs.map(r => (n, r._1, r._2, r._3, r._4, r._5, r._6)) }
    alignTs(rows.toDF("__file", "event_id", "ts", "user_id", "event_type",
        "value", "props"), tsType)
      .coalesce(1)
      .write.partitionBy("__file").mode("overwrite").parquet(tmp.toString)
    files.foreach { case (n, _) =>
      val part = new java.io.File(tmp.toString, s"__file=$n").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = staged.resolve(s"$n.parquet")
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(1000000000L + n * 1000000L)
    }
  }

  /** Stage several pre-built DataFrame batches (same schema) into
    * `staged` as numbered stream files — ONE Spark job for all of them
    * (union tagged by target file number, written `partitionBy`), vs
    * one full job per staged file before r18. Content per file is
    * identical to the per-frame writes.
    */
  private def stageFrames(staged: java.nio.file.Path,
                          batches: Seq[(Int, DataFrame)]): Unit = {
    val tmp = scratchDir("graft-frames")
    batches.map { case (n, df) => df.withColumn("__file", lit(n)) }
      .reduce(_ unionByName _)
      .coalesce(1)
      .write.partitionBy("__file").mode("overwrite").parquet(tmp.toString)
    batches.foreach { case (n, _) =>
      val part = new java.io.File(tmp.toString, s"__file=$n").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = staged.resolve(s"$n.parquet")
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(1000000000L + n * 1000000L)
    }
  }

  /** Stage one DataFrame split into numbered stream files by a
    * file-number expression — ONE scan, one job (the per-file filter
    * writes each re-read the source).
    */
  private def stageSplit(staged: java.nio.file.Path, df: DataFrame,
                         fileNo: org.apache.spark.sql.Column,
                         files: Seq[Int]): Unit = {
    val tmp = scratchDir("graft-split")
    df.withColumn("__file", fileNo)
      .coalesce(1)
      .write.partitionBy("__file").mode("overwrite").parquet(tmp.toString)
    files.foreach { n =>
      val part = new java.io.File(tmp.toString, s"__file=$n").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = staged.resolve(s"$n.parquet")
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(1000000000L + n * 1000000L)
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily lowered.
    *
    * A streaming query pins its state-store partition count to the shuffle
    * partition setting at first plan, and every micro-batch then pays a
    * fixed cost per state partition (store open, snapshot, commit). On a
    * production cluster you SIZE this to the executor count; at gate scale
    * (10k events, single JVM) 32 state stores per micro-batch is pure
    * fixed overhead, so the streaming gates plan with a small count. Batch
    * queries in the same session are unaffected — the conf is restored.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` with one session conf set, restoring (or unsetting) it
    * afterwards. A streaming query snapshots the session conf when it
    * starts, so the value holds for every micro-batch of a query started
    * and awaited inside `body`.
    */
  private def withConf[T](s: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prior = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prior match {
      case Some(p) => s.conf.set(key, p)
      case None    => s.conf.unset(key)
    }
  }

  /** The single-sentinel protocol's timeouts fire in the engine's
    * automatic no-data micro-batch, so its gates pin it on whatever
    * the session says.
    */
  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Shared body of s02 / s16: a REAL run of the stateful sessionizer
    * (flatMapGroupsWithState + event-time timeout), staged as three
    * chronologically-ordered files (events + a far-future sentinel
    * tick; the engine's automatic no-data batch is the epilogue) so
    * maxFilesPerTrigger=1 advances the watermark between
    * micro-batches and the timeouts fire. The sink name doubles as the
    * memory-table name, so the two gates never clobber each other.
    */
  private def sessionsGateBody(s: SparkSession, dir: String,
                               sinkName: String): DataFrame = {
    import s.implicits._
    val gapMs = 30L * 60 * 1000
    val schema = eventsSchema(s, dir) // one footer read per gate (r18)
    val staged = scratchDir("graft-s02")
    val ckpt = scratchDir("graft-s02-ckpt")
    // batch 0 = the raw events file, copied as-is (no Spark rewrite);
    // the sentinel uses a fixed far-future timestamp (testdata is
    // bounded to 2024), so no max(ts) pre-pass either. ONE sentinel
    // tick (r19): it advances the watermark past every real event, and
    // the engine's automatic no-data micro-batch (noDataMicroBatches,
    // pinned on below — observed as the trailing rows=0 batch in the
    // r19 floor trace) then fires the event-time timeouts; the second
    // tick batch the gate used to stage did the same work twice.
    val dest0 = staged.resolve("0.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
    dest0.toFile.setLastModified(1000000000L)
    stageSentinels(s, schema("ts").dataType, staged, Seq(
      1 -> Seq((-1L, 2051222400L * 1000000000L, -1L, "tick", 0.0, "{}")))) // 2035-01-01
    withShufflePartitions(s, 4) { withConf(s, NoDataBatches, "true") {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged.toString)
        .transform(graft.Tables.normalizeTs(_))
        .select("event_id", "ts", "user_id", "event_type", "value")
      val sessions = EventStream.sessionize(stream.as[EventStream.Event],
        gapMillis = gapMs, watermarkDelay = "0 seconds")
      val q = sessions.writeStream
        .format("memory")
        .queryName(sinkName)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      awaitOrFail(q, 180000, ckpt, staged)
    } }
    s.table(sinkName)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** The fixed machinery cost every streaming gate pays, isolated: the
    * same staged protocol as [[sessionsGateBody]] (events + one
    * far-future sentinel staged chronologically,
    * maxFilesPerTrigger=1, watermark, 4 state partitions, AvailableNow)
    * around a NOOP stateful kernel (windowed count → noop sink). Bench
    * times this once per run and stamps it into the artifact meta as
    * `stream_floor_sec`, so cross-round s-gate deltas can subtract the
    * floor from artifacts alone — the r9 round's +16% streaming drift
    * (cold per-JVM state-store/codegen init under the fresh-JVM
    * protocol) was attributable only through PERF_NOTES prose.
    */
  def machineryFloor(s: SparkSession, dir: String): Unit = {
    val schema = eventsSchema(s, dir)
    val staged = scratchDir("graft-floor")
    val ckpt = scratchDir("graft-floor-ckpt")
    val dest0 = staged.resolve("0.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
    dest0.toFile.setLastModified(1000000000L)
    stageSentinels(s, schema("ts").dataType, staged, Seq(
      1 -> Seq((-1L, 2051222400L * 1000000000L, -1L, "tick", 0.0, "{}"))))
    withShufflePartitions(s, 4) { withConf(s, NoDataBatches, "true") {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged.toString)
        .transform(graft.Tables.normalizeTs(_))
        .select("event_id", "ts")
      val q = stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .count()
        .writeStream
        .format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      awaitOrFail(q, 120000, ckpt, staged)
    } }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_stream_hourly" -> ((s: SparkSession, dir: String) => {
      // the file-stream source needs a directory: stage the events file
      // into one (at scale the source IS a landing directory)
      val staged = scratchDir("graft-stream")
      val ckpt = scratchDir("graft-s01-ckpt")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      withShufflePartitions(s, 4) {
        val stream = s.readStream
          .schema(eventsSchema(s, dir))
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
        // decimal-cast inside the streaming agg: partial aggregation order
        // must not affect the emitted double
        val agg = stream
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).as("tv"))
        val q = agg
          .select(col("win.start").as("hour_start"), col("event_type"), col("n"),
            col("tv").cast(DecimalType(38, 2)).cast("double").as("total_value"))
          .writeStream
          .format("memory")
          .queryName("s01_stream_hourly_sink")
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s01_stream_hourly_sink")
        .orderBy("event_type", "hour_start")
    }),

    // A REAL run of the stateful sessionizer (flatMapGroupsWithState +
    // event-time timeout) inside the gate, oracled against the batch
    // gaps-and-islands result. The stream is staged as three
    // chronologically-ordered files — the real events plus a far-future
    // sentinel tick for a synthetic user (-1) — and maxFilesPerTrigger=1
    // turns each file into its own micro-batch, so the watermark advances
    // between batches and the event-time timeouts fire, closing every
    // real user's final session (a stream never "ends"; the sentinels
    // model the epilogue ticks a production pipeline gets for free).
    "s02_stream_sessions" -> ((s: SparkSession, dir: String) =>
      sessionsGateBody(s, dir, "s02_stream_sessions_sink")),

    // ---- the SAME custom-state sessionizer run on the RocksDB state
    // store backend — the one-conf escape hatch for state beyond heap
    // (StreamSweep measured it; this gate keeps it from rotting).
    // Result must be hash-identical to s02: the state BACKEND must
    // never change the answer.
    "s16_stream_sessions_rocksdb" -> ((s: SparkSession, dir: String) =>
      withConf(s, "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider") {
        sessionsGateBody(s, dir, "s16_stream_sessions_rocksdb_sink")
      }),

    // ---- sliding (hopping) windows: every event lands in FOUR
    // overlapping 2-hour windows on a 30-minute hop — the overlapping-
    // window shape tumbling s01 cannot express (state per (window,key)
    // is 4× the tumbling count, still bounded by the watermark). DuckDB
    // recomputes the hop arithmetic by exploding k = 0..3.
    "s07_stream_sliding" -> ((s: SparkSession, dir: String) => {
      val staged = scratchDir("graft-s07")
      val ckpt = scratchDir("graft-s07-ckpt")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      withShufflePartitions(s, 4) {
        val stream = s.readStream
          .schema(eventsSchema(s, dir))
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
        val agg = stream
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "2 hours", "30 minutes").as("win"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val q = agg
          .select(col("win.start").as("win_start"), col("event_type"), col("n"))
          .writeStream
          .format("memory")
          .queryName("s07_stream_sliding_sink")
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s07_stream_sliding_sink").orderBy("event_type", "win_start")
    }),

    // Streaming exact dedup (dropDuplicatesWithinWatermark — bounded
    // state): the set of distinct keys a single-pass stream emits must
    // equal the batch DISTINCT. Only the keys are compared (which
    // arrival gets kept per key is scheduling-dependent; the key set is
    // not).
    "s03_stream_dedup" -> ((s: SparkSession, dir: String) => {
      val staged = scratchDir("graft-s03")
      val ckpt = scratchDir("graft-s03-ckpt")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      withShufflePartitions(s, 4) {
        val stream = s.readStream
          .schema(eventsSchema(s, dir))
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
        val q = EventStream.dedupStream(stream)
          .select("user_id", "event_type")
          .writeStream
          .format("memory")
          .queryName("s03_stream_dedup_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s03_stream_dedup_sink")
        .orderBy("user_id", "event_type")
    }),

    // ---- stream-static join: the streaming fact joined to a static
    // in-memory dimension (broadcast per micro-batch — no state store
    // involved), then aggregated per enriched category.
    "s06_stream_static_join" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val staged = scratchDir("graft-s06")
      val ckpt = scratchDir("graft-s06-ckpt")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "growth"),
        ("error", "health")).toDF("event_type", "category")
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(eventsSchema(s, dir))
          .parquet(staged.toString)
        val q = stream.join(broadcast(dim), Seq("event_type"))
          .groupBy($"category")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(18, 2))).as("_tv"))
          .select($"category", $"n",
            $"_tv".cast(DecimalType(38, 2)).cast("double").as("total_value"))
          .writeStream
          .format("memory")
          .queryName("s06_stream_static_join_sink")
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s06_stream_static_join_sink").orderBy("category")
    }),

    // ---- stream-stream inner join (clicks attributed to purchases
    // within a 30-minute lookback): both sides watermarked, the
    // time-range predicate bounds join state — the state store retains
    // only a 30-minute window per key once watermarks advance. The
    // generous gate watermark keeps every match (nothing is late), so
    // the batch join is an exact oracle.
    "s04_stream_join" -> ((s: SparkSession, dir: String) => {
      val staged = scratchDir("graft-s04")
      val ckpt = scratchDir("graft-s04-ckpt")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      withShufflePartitions(s, 4) {
        def side(et: String) = s.readStream.schema(eventsSchema(s, dir))
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
          .filter(col("event_type") === et)
        val p = side("purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "30 days")
        val c = side("click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "30 days")
        val joined = p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"))
        val q = joined.select(col("purchase_id"), col("click_id"), col("user_id"))
          .writeStream
          .format("memory")
          .queryName("s04_stream_join_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s04_stream_join_sink").orderBy("purchase_id", "click_id")
    }),

    // ---- streaming MERGE sink: foreachBatch folds each micro-batch's
    // per-user counts into a warehouse table through the key-based
    // upsert (atomic tmp-write + swap per batch). Two staged files ⇒
    // the merge really runs incrementally across micro-batches; the
    // final table equals the one-shot batch aggregate regardless of
    // batch boundaries (addition commutes), which DuckDB recomputes.
    "s05_stream_upsert" -> ((s: SparkSession, dir: String) => {
      val staged = scratchDir("graft-s05")
      stageSplit(staged, s.read.parquet(s"$dir/events.parquet"),
        pmod(col("event_id"), lit(2)), Seq(0, 1))
      val wh = new SparkWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-s05-wh").toString)
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(eventsSchema(s, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
        // foreachBatch is at-least-once: a batch can be re-delivered after
        // a failure between the sink commit and the checkpoint commit. The
        // increment below is NOT idempotent, so the sink carries the
        // last-applied batchId INSIDE the table itself — the watermark
        // commits in the SAME write as the data, so no crash point can
        // separate "counts updated" from "batch recorded"; a replayed
        // batchId <= the stored watermark is skipped. (A side-channel
        // marker file written after the swap would reopen exactly that
        // window.) The upsert key is a namespaced STRING ("u:<id>" for
        // data rows, "wm" for the watermark), so the watermark lives
        // outside the user_id keyspace entirely — a legitimate negative
        // user_id can neither collide with it nor be dropped.
        // AvailableNow delivers batch ids in order, so a single
        // max-applied watermark suffices.
        val q = stream.select("user_id").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
            val sb = batch.sparkSession
            import sb.implicits._
            val sentinel = Seq(("wm", Option.empty[Long], batchId))
              .toDF("k", "user_id", "n")
            def keyed(df: DataFrame): DataFrame = df.select(
              concat(lit("u:"), col("user_id").cast("string")).as("k"),
              col("user_id"), col("n"))
            val agg = batch.groupBy("user_id").agg(count(lit(1)).as("n"))
            wh.get("user_counts") match {
              case Right(cur) =>
                val applied = cur.filter(col("k") === "wm")
                  .agg(max("n")).collect()(0)
                val maxApplied = if (applied.isNullAt(0)) -1L else applied.getLong(0)
                if (batchId <= maxApplied) () // replayed batch: already folded in
                else {
                  val combined = keyed(cur.filter(col("k") =!= "wm")
                    .select(col("user_id"), col("n").as("_old"))
                    .join(agg.withColumnRenamed("n", "_new"),
                      Seq("user_id"), "full_outer")
                    .select(col("user_id"),
                      (coalesce(col("_old"), lit(0L))
                        + coalesce(col("_new"), lit(0L))).as("n")))
                    .unionByName(sentinel)
                  wh.upsert("user_counts", combined, Seq("k")).fold(
                    e => throw new RuntimeException(e.message), identity)
                }
              case Left(_: graft.warehouse.TableNotFound) =>
                wh.load("user_counts", keyed(agg).unionByName(sentinel)).fold(
                  e => throw new RuntimeException(e.message), _ => ())
              case Left(e) =>
                // ONLY "table absent" may initialize; a transient read
                // error must fail the batch (foreachBatch retries it),
                // not silently reset the accumulated counts
                throw new RuntimeException(e.message)
            }
            ()
          }
          .option("checkpointLocation", staged.resolve("_ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, staged)
      }
      wh.get("user_counts").fold(
        e => throw new RuntimeException(e.message), identity)
        .filter(col("k") =!= "wm") // drop the batch-watermark row
        .select("user_id", "n")
        .orderBy("user_id")
    }),

    // ---- mapGroupsWithState running totals: the one-output-per-key
    // stateful shape (vs s02's flatMapGroupsWithState sessionizer).
    // The stream is staged as two files (event_id parity) so the state
    // provably carries across micro-batches; every batch emits each
    // touched user's UPDATED totals (Update mode), and since n is
    // strictly increasing per user, the max-(n,...) row in the sink is
    // the final state — which must equal the batch aggregate.
    "s08_stream_running_totals" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val staged = scratchDir("graft-s08")
      val ckpt = scratchDir("graft-s08-ckpt")
      stageSplit(staged, s.read.parquet(s"$dir/events.parquet"),
        pmod(col("event_id"), lit(2)), Seq(0, 1))
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(eventsSchema(s, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
          .select("event_id", "ts", "user_id", "event_type", "value")
        val totals = EventStream.runningTotals(stream.as[EventStream.Event])
        val q = totals.writeStream
          .format("memory")
          .queryName("s08_stream_running_totals_sink")
          .outputMode("update")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s08_stream_running_totals_sink")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("last_us"), col("total_cents")))
          .as("_fin"))
        .select(col("user_id"), col("_fin.n_events").as("n_events"),
          col("_fin.last_us").as("last_us"),
          col("_fin.total_cents").as("total_cents"))
        .orderBy("user_id")
    }),

    // ---- LEFT OUTER stream-stream join (s04's inner join emits a row
    // per match; the outer variant must ALSO emit purchases with no
    // click, which the engine can only do once the watermark proves no
    // matching click can still arrive). Two far-future sentinel ticks —
    // one per side so BOTH watermarks advance past every real event —
    // staged as separate files force the state flush; sentinels carry
    // user_id −1 (outside the testdata keyspace) and are filtered from
    // the output.
    // ---- FULL OUTER stream-stream join: completes the join family
    // (s04 inner, s09 left, s13 semi) — unmatched rows on BOTH sides
    // emit once their side's watermark proves no partner can arrive.
    // Same two-sided sentinel epilogue as s09; the row count is
    // matches + purchase-only + click-only, which the batch FULL JOIN
    // replays exactly.
    "s15_stream_full_outer" -> ((s: SparkSession, dir: String) => {
      val schema = eventsSchema(s, dir)
      val staged = scratchDir("graft-s15")
      val ckpt = scratchDir("graft-s15-ckpt")
      val dest0 = staged.resolve("0.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
      dest0.toFile.setLastModified(1000000000L)
      // ONE two-sided sentinel batch (r19): it advances both watermarks
      // past every real event; the engine's automatic no-data
      // micro-batch then runs the eviction that emits the unmatched
      // rows — the second sentinel batch duplicated that work.
      stageSentinels(s, schema("ts").dataType, staged, Seq(
        1 -> Seq( // 2035-01-01
          (-2L, 2051222400L * 1000000000L, -1L, "purchase", 0.0, "{}"),
          (-3L, 2051222400L * 1000000000L, -1L, "click", 0.0, "{}"))))
      withShufflePartitions(s, 4) {
        def side(et: String) = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
          .filter(col("event_type") === et)
        val p = side("purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "0 seconds")
        val c = side("click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "0 seconds")
        val joined = p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"), "full_outer")
        val q = joined
          .select(col("purchase_id"), col("click_id"),
            coalesce(col("user_id"), col("c_user")).as("uid"))
          .writeStream
          .format("memory")
          .queryName("s15_stream_full_outer_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 180000, ckpt, staged)
      }
      s.table("s15_stream_full_outer_sink")
        .filter(col("uid") >= 0) // drop the sentinel rows
        .orderBy("purchase_id", "click_id", "uid")
    }),

    "s09_stream_left_join" -> ((s: SparkSession, dir: String) => {
      val schema = eventsSchema(s, dir)
      val staged = scratchDir("graft-s09")
      val ckpt = scratchDir("graft-s09-ckpt")
      val dest0 = staged.resolve("0.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
      dest0.toFile.setLastModified(1000000000L)
      // BOTH sides' ticks in one file: the stream-stream watermark is
      // the MIN across sides, so the sentinel batch must advance the
      // purchase AND click watermarks together. ONE sentinel batch
      // (r19): it advances both watermarks past every real event, and
      // the engine's automatic no-data micro-batch runs the
      // post-advance eviction that emits the unmatched purchases — the
      // second sentinel batch the gate used to stage re-scanned the
      // full join state a third time for no additional output.
      stageSentinels(s, schema("ts").dataType, staged, Seq(
        1 -> Seq( // 2035-01-01
          (-2L, 2051222400L * 1000000000L, -1L, "purchase", 0.0, "{}"),
          (-3L, 2051222400L * 1000000000L, -1L, "click", 0.0, "{}"))))
      withShufflePartitions(s, 4) {
        def side(et: String) = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
          .filter(col("event_type") === et)
        val p = side("purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "0 seconds")
        val c = side("click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "0 seconds")
        val joined = p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"), "left_outer")
        val q = joined
          .select(col("purchase_id"), col("click_id"), col("user_id"))
          .writeStream
          .format("memory")
          .queryName("s09_stream_left_join_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 180000, ckpt, staged)
      }
      s.table("s09_stream_left_join_sink")
        .filter(col("user_id") >= 0) // drop the sentinel rows
        .orderBy("purchase_id", "click_id")
    }),

    // ---- streaming parquet sink (EventStream.toParquetSink): the
    // warehouse landing path — watermarked hourly aggregation appended
    // to a parquet directory exactly-once (the file sink's manifest
    // commits atomically per batch). Append mode only emits CLOSED
    // windows, so far-future sentinel ticks flush the real windows;
    // the directory read back must equal the batch aggregate.
    "s10_stream_parquet_sink" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val staged = scratchDir("graft-s10")
      val outDir = java.nio.file.Files.createTempDirectory("graft-s10-out")
      val dest0 = staged.resolve("0.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
      dest0.toFile.setLastModified(1000000000L)
      val schema = eventsSchema(s, dir)
      // one sentinel tick (r19): the automatic no-data batch flushes
      // the windows the tick's watermark advance closed
      stageSentinels(s, schema("ts").dataType, staged, Seq(
        1 -> Seq((-1L, 2051222400L * 1000000000L, -1L, "tick", 0.0, "{}")))) // 2035-01-01
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
        val agg = stream
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).as("tv"))
          .select(col("win.start").as("hour_start"), col("event_type"),
            col("n"),
            col("tv").cast(DecimalType(38, 2)).cast("double").as("total_value"))
        val q = EventStream.toParquetSink(agg, outDir.toString,
            staged.resolve("_ckpt").toString)
          .start()
        awaitOrFail(q, 120000, staged)
      }
      s.read.parquet(outDir.toString)
        .filter(col("event_type") =!= "tick") // sentinel epilogue windows
        .orderBy("event_type", "hour_start")
    }),

    // Spark's NATIVE streaming session_window (the built-in stateful
    // session operator — merging session state in the streaming
    // runtime, vs s02's hand-rolled flatMapGroupsWithState): per-user
    // 30-minute-gap sessions aggregated in append mode; sessions flush
    // when the watermark passes their end, so a far-future sentinel
    // ticks drain all state. Must equal the batch gaps-and-islands
    // replay (>= gap starts a new session — session_window semantics).
    "s11_stream_session_window" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val staged = scratchDir("graft-s11")
      val ckpt = scratchDir("graft-s11-ckpt")
      val dest0 = staged.resolve("0.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
      dest0.toFile.setLastModified(1000000000L)
      val schema = eventsSchema(s, dir)
      // one sentinel tick (r19): the automatic no-data batch flushes
      // the sessions the tick's watermark advance closed
      stageSentinels(s, schema("ts").dataType, staged, Seq(
        1 -> Seq((-1L, 2051222400L * 1000000000L, -1L, "tick", 0.0, "{}")))) // 2035-01-01
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
        val agg = stream
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
        val q = agg.writeStream
          .format("memory")
          .queryName("s11_stream_session_window_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 180000, ckpt, staged)
      }
      s.table("s11_stream_session_window_sink")
        .filter(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("longest_session"))
        .orderBy("user_id")
    }),

    // ---- LEFT SEMI stream-stream join: purchases that HAD a click in
    // the preceding 30 minutes, emitted once regardless of how many
    // clicks matched (s04's inner join emits one row per matching
    // click; the semi form is the streaming EXISTS). State bounds and
    // watermark discipline are identical to the inner join's.
    "s13_stream_semi_join" -> ((s: SparkSession, dir: String) => {
      val staged = scratchDir("graft-s13")
      val ckpt = scratchDir("graft-s13-ckpt")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      withShufflePartitions(s, 4) {
        def side(et: String) = s.readStream.schema(eventsSchema(s, dir))
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
          .filter(col("event_type") === et)
        val p = side("purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "30 days")
        val c = side("click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "30 days")
        val joined = p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"), "left_semi")
        val q = joined
          .select(col("purchase_id"), col("user_id"),
            unix_micros(col("p_ts")).as("p_us"))
          .writeStream
          .format("memory")
          .queryName("s13_stream_semi_join_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s13_stream_semi_join_sink").orderBy("purchase_id")
    }),

    // ---- WATERMARK LATE-DATA DROP: every other s-gate sets a watermark
    // generous enough to keep all data; this one proves the engine
    // actually DROPS late rows. Batch 0 = the real events; batch 1 = a
    // far-future tick that advances the watermark past every real
    // window; batch 2 = planted 2024-era COPIES of real events (ids
    // offset by 10^9) that are now hopelessly late, plus a final tick
    // so the post-drop eviction batch runs. Append-mode hourly counts
    // must equal the batch aggregate WITHOUT the planted copies — if
    // the late rows leaked into their (closed) windows, counts double
    // and the oracle hash fails.
    "s14_stream_late_data" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val staged = scratchDir("graft-s14")
      val ckpt = scratchDir("graft-s14-ckpt")
      val dest0 = staged.resolve("0.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), dest0)
      dest0.toFile.setLastModified(1000000000L)
      val tsType = eventsSchema(s, dir)("ts").dataType
      def tick(id: Long, epochSec: Long) = alignTs(
        Seq((id, epochSec * 1000000000L, -1L, "tick", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        tsType)
      stageFrames(staged, Seq(
        1 -> tick(-1L, 2051222400L), // 2035-01-01: closes every window
        // late copies: the first 200 real events again, new ids, same
        // ts — every real window emits in THIS batch (the tick already
        // advanced the watermark past them), the copies are dropped as
        // late, and the tick's own (filtered) window is the only state
        // left, so no trailing tick is needed (r19)
        2 -> s.read.parquet(s"$dir/events.parquet")
          .filter(col("event_id") < 200)
          .withColumn("event_id", col("event_id") + 1000000000L)))
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(eventsSchema(s, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
          .transform(graft.Tables.normalizeTs(_))
        val agg = stream
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("win.start").as("hour_start"), col("event_type"),
            col("n"))
        val q = agg.writeStream
          .format("memory")
          .queryName("s14_stream_late_data_sink")
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt, staged)
      }
      s.table("s14_stream_late_data_sink")
        .filter(col("event_type") =!= "tick")
        .orderBy("event_type", "hour_start")
    }),

    // ---- streaming corpus ingestion with incremental dedup: each
    // micro-batch admits only documents whose md5 fingerprint is in
    // neither the static corpus nor the sink built by EARLIER batches
    // (Dedup.newDocuments per batch, sink grows via warehouse append).
    // Three staged files plant every admission case: corpus copies,
    // fresh docs, an intra-batch twin, cross-BATCH twins, and a late
    // corpus copy. The admission anti-join makes foreachBatch replay
    // NATURALLY idempotent — a redelivered batch's documents are
    // already in the sink, so the append degenerates to empty; no
    // batch-id watermark is needed (contrast s05, whose increment is
    // not idempotent and must carry one).
    "s12_stream_incremental_dedup" -> ((s: SparkSession, dir: String) => {
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val sorted =
        array_join(sort_array(split(col("text"), " ")), " ").as("text")
      val fresh = d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 600000L).as("doc_id"), sorted)
      val batch0 = d.filter(col("doc_id") < 5)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
        .union(fresh.filter(col("doc_id") < 600005L))
        .union(fresh.filter(col("doc_id") === 600000L)
          .select(lit(680000L).as("doc_id"), col("text")))
      val batch1 = fresh.filter(col("doc_id") < 600003L)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(fresh.filter(col("doc_id").between(600005L, 600007L)))
      val batch2 = d.filter(col("doc_id") === 5L)
        .select(lit(500005L).as("doc_id"), col("text"))
        .union(fresh.filter(col("doc_id") === 600005L)
          .select(lit(700005L).as("doc_id"), col("text")))
        .union(fresh.filter(col("doc_id") >= 600008L))
      val staged = scratchDir("graft-s12")
      stageFrames(staged, Seq(0 -> batch0, 1 -> batch1, 2 -> batch2))
      val wh = new SparkWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-s12-wh").toString)
      withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staged.toString)
        val q = stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
            val known = wh.get("admitted") match {
              case Right(sink) => d.unionByName(sink.select("doc_id", "text"))
              case Left(_: graft.warehouse.TableNotFound) => d
              case Left(e) => throw new RuntimeException(e.message)
            }
            val admitted = graft.ext.Dedup.newDocuments(
              known, batch.toDF(), col("doc_id"), col("text"))
            if (!admitted.isEmpty)
              wh.load("admitted", admitted).fold(
                e => throw new RuntimeException(e.message), _ => ())
            ()
          }
          .option("checkpointLocation", staged.resolve("_ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, staged)
      }
      wh.get("admitted").fold(
        e => throw new RuntimeException(e.message), identity)
        .select("doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- streaming CDC source (r17, judge #4): a `graft-cdc` stream
    // tails a warehouse table's generation history — offsets ARE
    // generation numbers in the checkpoint — and a foreachBatch
    // consumer applies each change feed to a REPLICA table (bag apply:
    // replica ∖ deletes ∪ inserts). The replica's final state must
    // hash-match DuckDB's declarative reconstruction of the same
    // mutations (CoW DELETE + append) — stream/batch agreement for the
    // change-data path end to end.
    "s17_stream_cdc" -> ((s: SparkSession, dir: String) => {
      val wh = new SparkWarehouse(s,
        java.nio.file.Files.createTempDirectory("graft-s17-wh").toString)
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      val src = "s17_src"
      val rep = "s17_replica"
      ok(wh.load(src, orders.repartition(4)))
      val g0 = wh.currentGeneration(src)
        .getOrElse(throw new RuntimeException("no generation"))
      // replica starts as a snapshot of generation g0; the stream
      // carries everything after it
      ok(wh.load(rep, ok(wh.get(src))))
      // mutations the stream must replicate: a CoW DELETE and an append
      ok(wh.deleteWhere(src, col("o_orderkey") % 3 === 0))
      ok(wh.load(src, orders.filter(col("o_orderkey") % 7 === 0).select(
        (col("o_orderkey") + 30000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_orderpriority"))))
      withShufflePartitions(s, 4) {
        val ckpt = scratchDir("graft-s17-ckpt")
        val stream = s.readStream.format("graft-cdc")
          .option("warehouse", wh.warehouseDir)
          .option("table", src)
          .option("startingGeneration", g0.toString)
          .load()
        val q = stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
            val ct = "change_type"
            val dels = batch.filter(col(ct) === "delete").drop(ct)
            val ins = batch.filter(col(ct) === "insert").drop(ct)
            val cur = wh.get(rep).fold(
              e => throw new RuntimeException(e.message), identity)
            // bag apply — exceptAll removes exactly one replica row per
            // delete-feed row, the inverse of the bag-difference feed;
            // replaceContent is the snapshot-safe self-derived rewrite
            wh.replaceContent(rep, cur.exceptAll(dels).unionByName(ins)).fold(
              e => throw new RuntimeException(e.message), _ => ())
            ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        awaitOrFail(q, 120000, ckpt)
      }
      ok(wh.get(rep))
        .orderBy("o_orderkey", "o_orderstatus", "o_orderpriority")
    }))

  val oracle: Map[String, String] = Map(
    "s17_stream_cdc" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE NOT (o_orderkey % 3 = 0)
        |UNION ALL
        |SELECT o_orderkey + 30000000 AS o_orderkey, o_orderstatus,
        |       o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey, o_orderstatus, o_orderpriority""".stripMargin,
    // Admission is batch-sequential, but the staging puts every text's
    // minimum id in the earliest batch containing it, so the final sink
    // equals the batch-order-free form: min id per distinct text not
    // already in the corpus.
    "s12_stream_incremental_dedup" ->
      """WITH fresh AS (
        |  SELECT doc_id + 600000 AS doc_id,
        |    array_to_string(list_sort(string_split(text, ' ')), ' ') AS text
        |  FROM documents WHERE doc_id < 10),
        |incoming AS (
        |  SELECT doc_id + 500000 AS doc_id, text
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL SELECT doc_id, text FROM fresh WHERE doc_id < 600005
        |  UNION ALL SELECT 680000, text FROM fresh WHERE doc_id = 600000
        |  UNION ALL SELECT doc_id + 100000, text FROM fresh
        |    WHERE doc_id < 600003
        |  UNION ALL SELECT doc_id, text FROM fresh
        |    WHERE doc_id BETWEEN 600005 AND 600007
        |  UNION ALL SELECT 500005 AS doc_id, text FROM documents
        |    WHERE doc_id = 5
        |  UNION ALL SELECT 700005, text FROM fresh WHERE doc_id = 600005
        |  UNION ALL SELECT doc_id, text FROM fresh WHERE doc_id >= 600008)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text FROM incoming
        |WHERE text NOT IN (SELECT text FROM documents)
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    // same shape as a08 (the batch session_window twin): gap >= 30 min
    // starts a new session
    "s11_stream_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER win IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER win) >= 1800000000
        |           THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |), per_session AS (
        |  SELECT user_id, sid, count(*) AS n_events FROM s GROUP BY user_id, sid
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(max(n_events) AS BIGINT) AS longest_session
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s01_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE)
        |    AS total_value
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY event_type, hour_start""".stripMargin,
    "s02_stream_sessions" ->
      """WITH w AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER win IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER win) > 1800000000
        |           THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM w
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // s16 = s02 on the RocksDB state backend: same oracle by contract
    // (the state BACKEND must never change the answer)
    "s16_stream_sessions_rocksdb" ->
      """WITH w AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER win IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER win) > 1800000000
        |           THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM w
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "s07_stream_sliding" ->
      """SELECT CAST(make_timestamp(
        |    ((epoch_us(ts) // 1800000000) - k) * 1800000000) AS TIMESTAMP)
        |    AS win_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events, range(4) t(k)
        |GROUP BY win_start, event_type
        |ORDER BY event_type, win_start""".stripMargin,
    "s03_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "s06_stream_static_join" ->
      """SELECT CASE event_type
        |    WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
        |    WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
        |    WHEN 'error' THEN 'health' END AS category,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type IN ('click','view','purchase','signup','error')
        |GROUP BY category ORDER BY category""".stripMargin,
    // the planted late copies must NOT appear: the oracle aggregates the
    // stored events only
    "s14_stream_late_data" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY event_type, hour_start""".stripMargin,
    "s13_stream_semi_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS p_us
        |FROM events p
        |WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts)
        |ORDER BY purchase_id""".stripMargin,
    "s04_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "s05_stream_upsert" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s08_stream_running_totals" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  max(epoch_us(ts)) AS last_us,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s15_stream_full_outer" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  coalesce(p.user_id, c.user_id) AS uid
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id, uid""".stripMargin,
    "s09_stream_left_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "s10_stream_parquet_sink" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY event_type, hour_start""".stripMargin)
}
