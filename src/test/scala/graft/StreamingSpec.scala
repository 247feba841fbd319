package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** Structured Streaming semantics: watermarked windows drop late data,
  * sessionization closes on gaps, and the streaming hourly aggregation
  * agrees with its batch replay.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("a hung stream raises instead of yielding a partial sink") {
    // the gate contract: awaitTermination timing out must be an ERROR —
    // a rate source never terminates, so a short await must throw and
    // stop the query rather than hand back whatever the sink holds
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream.format("memory")
      .queryName("hung_stream_sink")
      .outputMode("append")
      .start()
    val e = intercept[IllegalStateException] {
      graft.queries.StreamQueries.awaitOrFail(q, 1500)
    }
    assert(e.getMessage.contains("still running"))
    assert(!q.isActive) // awaitOrFail stopped it before throwing
  }

  test("awaitOrFail closes its scratch walks: 50 calls leak no file " +
    "descriptors") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sc = spark0.sqlContext
    val input = MemoryStream[Int]
    val q = input.toDF().writeStream.format("noop").start()
    q.stop()
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    val fds0 = openFds()
    (0 until 50).foreach { i =>
      val scratch = java.nio.file.Files.createTempDirectory(s"graft-walk-$i")
      val sub = java.nio.file.Files.createDirectories(scratch.resolve("a/b"))
      java.nio.file.Files.write(sub.resolve("f.json"), "{}".getBytes("UTF-8"))
      graft.queries.StreamQueries.awaitOrFail(q, 1000, scratch)
      assert(!java.nio.file.Files.exists(scratch), "scratch not deleted")
    }
    val grown = openFds() - fds0
    assert(grown < 50, s"$grown file descriptors leaked by 50 scratch walks")
  }

  test("sessionize: gap closes a session, totals are exact") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sc = spark0.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(input.toDS(), gapMillis = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    try {
      // user 1: two events 5min apart (one session), then 30min silence,
      // then another event (second session)
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(2, ts("2024-01-01 10:05:00"), 1, "click", 2.0),
        Event(3, ts("2024-01-01 10:35:00"), 1, "view", 3.0),
        Event(4, ts("2024-01-01 10:00:00"), 2, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to time out all sessions
      input.addData(Event(99, ts("2024-01-01 12:00:00"), 9, "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("sessions_out").as[SessionOut].collect()
        .groupBy(_.user_id)
      val u1 = out(1L).sortBy(_.session_start.getTime)
      assert(u1.length == 2)
      assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
      assert(u1(0).session_start == ts("2024-01-01 10:00:00"))
      assert(u1(0).session_end == ts("2024-01-01 10:05:00"))
      assert(u1(1).n_events == 1 && u1(1).total_value == 3.0)
      assert(out(2L).head.n_events == 1 && out(2L).head.total_value == 5.0)
    } finally q.stop()
  }

  test("hourlyAgg drops data later than the watermark") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sc = spark0.sqlContext
    val input = MemoryStream[Event]
    val agg = EventStream.hourlyAgg(input.toDF(), watermarkDelay = "1 hour")
    val q = agg.writeStream.format("memory")
      .queryName("hourly_out").outputMode("append").start()
    try {
      input.addData(Event(1, ts("2024-01-01 10:10:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // push watermark beyond 11:00+1h so the 10:00 window finalizes
      input.addData(Event(2, ts("2024-01-01 12:30:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // this event is 2.5h late — must be dropped, not re-open the window
      input.addData(Event(3, ts("2024-01-01 10:20:00"), 1, "view", 100.0))
      q.processAllAvailable()
      val out = spark.table("hourly_out")
        .collect().map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
      val w10 = out.filter(_._1 == ts("2024-01-01 10:00:00"))
      assert(w10.length == 1)
      assert(w10.head._2 == 1L && w10.head._3 == 1.0, s"late data leaked: ${w10.toSeq}")
    } finally q.stop()
  }

  test("dedupStream keeps first occurrence per (user, type) within watermark") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sc = spark0.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0), // dup
        Event(3, ts("2024-01-01 10:02:00"), 1, "click", 3.0),
        Event(4, ts("2024-01-01 10:03:00"), 2, "view", 4.0))
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n == 3, s"expected 3 deduped rows, got $n")
    } finally q.stop()
  }

  test("streaming hourly agg agrees with batch replay on real events data") {
    val out = graft.queries.StreamQueries.queries("s01_stream_hourly")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val batch = EventStream.hourlyAggBatch(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(out.sortBy(t => (t._2, t._1.getTime)).toSeq ==
      batch.sortBy(t => (t._2, t._1.getTime)).toSeq)
  }

  test("the sessions gate fires its timeouts when the session turns " +
    "no-data micro-batches off") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val gate = graft.queries.StreamQueries.queries("s02_stream_sessions")
    val expected = gate(spark, sf0001).collect().toSeq
    spark.conf.set(key, "false")
    val got = try gate(spark, sf0001).collect().toSeq
      finally spark.conf.unset(key)
    // the last session of the user with the latest event closes only in
    // the no-data batch that follows the sentinel
    assert(expected.nonEmpty)
    assert(got == expected,
      s"${expected.length - got.length} sessions never timed out")
  }

  test("toParquetSink lands the full stream as parquet with a checkpoint") {
    import org.apache.spark.sql.types._
    val staged = java.nio.file.Files.createTempDirectory("graft-sink-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      staged.resolve("events.parquet"))
    // footer-derived, so the test tracks the testdata contract for ts
    val rawSchema = spark.read.parquet(s"$sf0001/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema).parquet(staged.toString)
      .select("event_id", "user_id", "event_type")
    val out = java.nio.file.Files.createTempDirectory("graft-sink-out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-sink-cp").toString
    val q = EventStream.toParquetSink(stream, out, cp).start()
    q.awaitTermination(120000)
    val landed = spark.read.parquet(out)
    assert(landed.count() == Tables(spark, sf0001, "events").count())
    assert(landed.columns.toSeq == Seq("event_id", "user_id", "event_type"))
  }

  test("sink restart from checkpoint is exactly-once across new files") {
    import org.apache.spark.sql.functions._
    // the durability contract a warehouse load path lives on: a stopped
    // stream restarted against the SAME checkpoint must pick up only
    // files it has not committed — no reprocessing, no loss
    val src = java.nio.file.Files.createTempDirectory("graft-restart-src")
    val out = java.nio.file.Files.createTempDirectory("graft-restart-out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-restart-cp").toString
    val ev = Tables(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type")
    val h1 = ev.filter(col("event_id") % 2 === 0)
    val h2 = ev.filter(col("event_id") % 2 =!= 0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, src.resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(src.toString)
      val q = EventStream.toParquetSink(stream, out, cp).start()
      q.awaitTermination(120000)
    }
    stage(h1, "h1")
    runOnce()
    assert(spark.read.parquet(out).count() == h1.count())
    stage(h2, "h2")
    runOnce()
    val landed = spark.read.parquet(out)
    assert(landed.count() == ev.count(), "restart lost or duplicated rows")
    assert(landed.groupBy("event_id").count()
      .filter(col("count") > 1).isEmpty, "an event landed twice")
  }
}
