package graft

import org.apache.spark.sql.functions._

/** Round-19 (optimization round 2) pins:
  *  (1) `graft-cdc` offsets persist the stream's ORIGIN generation
  *      (advisor r18 medium): a replayed first batch — offset logged,
  *      crash before commit — calls `getBatch(start = None, end)` on a
  *      RESTARTED source whose recomputed initialGen is the table's
  *      CURRENT generation; the span must come from the offset's
  *      persisted origin, not the recomputed one, or the first span's
  *      changes are silently lost;
  *  (2) legacy bare-long offsets still parse (checkpoint compat);
  *  (3) conf-broadcast LRU eviction never destroys an in-flight
  *      broadcast (advisor r18 high): an evicted entry's broadcast
  *      stays readable — reader closures capture it for the lifetime
  *      of their scan — while residency stays bounded.
  */
class Round19Spec extends SparkSpec {

  private def tmpWh(prefix: String) = new graft.warehouse.SparkWarehouse(
    spark, java.nio.file.Files.createTempDirectory(prefix).toString)

  private def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
    e.fold(err => fail(err.message), identity)

  /** getBatch returns a streaming-tagged frame (the Source contract);
    * count it the way the engine's sink would — re-tagged as batch.
    */
  private def batchCount(df: org.apache.spark.sql.DataFrame): Long =
    org.apache.spark.sql.GraftFileIndexBridge.asBatchFrame(df).count()

  test("graft-cdc: a replayed FIRST batch on a restarted source replays " +
    "the span from the offset's persisted origin, not the recomputed " +
    "current generation") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r19-cdc-origin")
    val t = "t"
    unwrap(wh.load(t, (0L until 100L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(2)))
    // source A starts at the current generation (the stream's origin)
    val srcA = new graft.streaming.GraftCdcSource(wh, t, None,
      graft.streaming.GraftCdcSource.feedSchema(wh, t))
    // span 1 lands; A emits the offset the engine would log for batch 0
    unwrap(wh.deleteWhere(t, col("id") < 30))
    val off = srcA.getOffset.getOrElse(fail("source A saw no new span"))
    val batchRowsA = batchCount(srcA.getBatch(None, off))
    assert(batchRowsA == 30L, s"batch 0 on the original source carried " +
      s"$batchRowsA rows")
    // CRASH before commit: the engine restarts, constructs a FRESH
    // source (initialGen recomputes to the CURRENT generation — past
    // span 1), and REPLAYS batch 0 from the logged offset json alone
    val replayed = org.apache.spark.sql.execution.streaming.runtime
      .SerializedOffset(off.json)
    val srcB = new graft.streaming.GraftCdcSource(wh, t, None,
      graft.streaming.GraftCdcSource.feedSchema(wh, t))
    val batchRowsB = batchCount(srcB.getBatch(None, replayed))
    assert(batchRowsB == 30L,
      s"replayed batch 0 carried $batchRowsB rows — the restarted " +
        "source shortened the span to its recomputed origin")
  }

  test("graft-cdc: legacy bare-long offsets parse (end only, no origin)") {
    val (origin, end) =
      graft.streaming.GraftCdcSource.CdcOffset.parse("7")
    assert(origin.isEmpty && end == 7L)
    val (o2, e2) = graft.streaming.GraftCdcSource.CdcOffset
      .parse("""{"origin":3,"end":9}""")
    assert(o2.contains(3L) && e2 == 9L)
  }

  test("hist caches: with histCacheRevalidate=true a drop+recreate by " +
    "ANOTHER warehouse instance over the same dir never serves the old " +
    "table's snapshot") {
    val sps = spark; import sps.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r19-histreval").toString
    val whA = new graft.warehouse.SparkWarehouse(spark, dir)
    val whB = new graft.warehouse.SparkWarehouse(spark, dir)
    val t = "t"
    spark.conf.set("spark.graft.manifest.histCacheRevalidate", "true")
    try {
      unwrap(whA.load(t, (0L until 50L).map(i => (i, "old"))
        .toDF("id", "v").repartition(2)))
      unwrap(whA.deleteWhere(t, col("id") < 10)) // retained history
      // instance A warms its hist caches with every retained generation
      unwrap(whA.generations(t)).foreach(g =>
        whA.getAsOf(t, g).foreach(_.count()))
      // instance B — a different warehouse object, same dir — drops and
      // recreates; generation numbers restart
      unwrap(whB.drop(t))
      unwrap(whB.load(t, (0L until 7L).map(i => (i, "new")).toDF("id", "v")))
      unwrap(whB.deleteWhere(t, col("id") < 2)) // fresh retained history
      // A's reads must reflect the NEW table (or fail not-retained) —
      // never the 50-row snapshot its instance-local caches still hold
      unwrap(whA.generations(t)).foreach { g =>
        whA.getAsOf(t, g) match {
          case Right(df) =>
            val n = df.count()
            assert(n <= 7L, s"gen $g served $n rows — a stale cached " +
              "snapshot of the table instance B dropped")
          case Left(_) => () // not retained: acceptable
        }
      }
    } finally spark.conf.unset("spark.graft.manifest.histCacheRevalidate")
  }

  test("hist caches: with histCacheRevalidate=true a slot recreated out " +
    "of band with the same length and its mtime set back is re-read " +
    "(the header nonce is compared)") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r19-histnonce")
    val t = "t"
    spark.conf.set("spark.graft.manifest.histCacheRevalidate", "true")
    try {
      unwrap(wh.load(t, (0L until 50L).map(i => (i, "v")).toDF("id", "v")))
      val g = wh.currentGeneration(t).get
      unwrap(wh.deleteWhere(t, col("id") < 10)) // g is now history
      assert(unwrap(wh.getAsOf(t, g)).count() == 50L) // warms the caches
      // recreate slot g out of band within mtime granularity: same
      // bytes but a new header nonce (same length), old mtime restored
      val slot = java.nio.file.Paths.get(wh.warehouseDir, t,
        "_graft_manifest_hist", f"$g%012d")
      val mtime = java.nio.file.Files.getLastModifiedTime(slot)
      val text = new String(java.nio.file.Files.readAllBytes(slot), "UTF-8")
      val header = text.takeWhile(_ != '\n')
      val toks = header.split(" ")
      assert(toks(1) == "v3", header)
      val nonce = if (toks(3) == "ffffffff") "eeeeeeee" else "ffffffff"
      val recreated = (toks.updated(3, nonce).mkString(" ") +
        text.drop(header.length)).getBytes("UTF-8")
      assert(recreated.length == text.getBytes("UTF-8").length)
      java.nio.file.Files.write(slot, recreated)
      java.nio.file.Files.setLastModifiedTime(slot, mtime)
      val reads0 = wh.histSlotReads.get()
      assert(unwrap(wh.getAsOf(t, g)).count() == 50L)
      assert(wh.histSlotReads.get() > reads0,
        "a recreated slot passed revalidation on (length, mtime) alone")
    } finally spark.conf.unset("spark.graft.manifest.histCacheRevalidate")
  }

  test("analyzeBloom missing-pair sentinels: past the collect cap the " +
    "append takes the distributed path and coverage still completes") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r19-paircap")
    val t = "t"
    // two files whose `v` is ALL NULL in every row: the bloom builder
    // produces no filter for them, so both (rel, v) pairs are missing
    // and need sentinels
    unwrap(wh.load(t, (0L until 100L)
      .map(i => (i, Option.empty[String])).toDF("id", "v").repartition(2)))
    val key = "spark.graft.analyze.maxMissingPairCollect"
    spark.conf.set(key, "1") // 2 missing pairs > cap of 1
    try {
      assert(unwrap(wh.analyzeBloom(t, Seq("v"))) >= 1L)
      // sentinels landed via the distributed path: the incremental
      // re-analyze sees full coverage and rescans nothing
      assert(unwrap(wh.analyzeBloom(t, Seq("v"))) == 0L,
        "capped sentinel append left pairs uncovered — re-analyze rescanned")
    } finally spark.conf.unset(key)
    // and the pruning behavior is sound: a null-filter column never
    // prunes, so an equality probe still scans (returns rows correctly)
    assert(unwrap(wh.scanPruned(t, col("id") === 5L)).count() == 1L)
  }

  test("conf-broadcast LRU eviction keeps evicted broadcasts readable " +
    "(unpersist, not destroy) while residency stays bounded") {
    val base = spark.sessionState.newHadoopConf()
    val first = new org.apache.hadoop.conf.Configuration(base)
    first.set("graft.test.r19.pinned", "v-first")
    val bc = org.apache.spark.sql.GraftVerifyingParquetFileFormat
      .cachedConf(spark, first)
    // flood the cache far past its bound so `first` is evicted
    (0 until 80).foreach { i =>
      val c = new org.apache.hadoop.conf.Configuration(base)
      c.set("graft.test.r19.distinct", s"v$i")
      org.apache.spark.sql.GraftVerifyingParquetFileFormat.cachedConf(spark, c)
    }
    val resident =
      org.apache.spark.sql.GraftVerifyingParquetFileFormat.confCacheResident
    assert(resident <= 64, s"conf cache grew past its bound ($resident)")
    // a reader closure holding the evicted broadcast must still be able
    // to read it — destroy() here failed every later task of the scan
    assert(bc.value.value.get("graft.test.r19.pinned") == "v-first",
      "evicted broadcast was destroyed while still referenced")
  }
}
