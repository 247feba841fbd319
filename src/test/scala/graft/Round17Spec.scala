package graft

import org.apache.spark.sql.functions._

/** A non-atomic scheme for the commit-primitive refusal pin: a local
  * filesystem whose `create(overwrite = false)` is check-then-act —
  * exactly an object store's behavior. Registered under `mock17://`.
  */
class NonAtomicMockFs17 extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock17"
  override def getUri: java.net.URI = java.net.URI.create("mock17:///")
}

/** A user-supplied commit provider (the LogStore-style plug point):
  * delegates to the file primitives — stands in for a coordination-
  * service-backed implementation on an object store.
  */
class DelegatingCommitProvider17 extends graft.warehouse.CommitPrimitive {
  override def name: String = "test-delegate"
  override def atomic: Boolean = true
  // pure Hadoop-API primitives (work on any registered scheme) — what a
  // real coordination-service-backed provider would wrap
  override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path,
                           bytes: Array[Byte]): Boolean =
    graft.warehouse.HdfsCommitPrimitive.putIfAbsent(fs, p, bytes)
  override def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path): Boolean =
    graft.warehouse.HdfsCommitPrimitive.createExclusive(fs, p)
  override def replace(fs: org.apache.hadoop.fs.FileSystem,
                       src: org.apache.hadoop.fs.Path,
                       dst: org.apache.hadoop.fs.Path): Unit =
    graft.warehouse.HdfsCommitPrimitive.replace(fs, src, dst)
}

/** Round-17 pins, following the r16 judge's list and the advisor's
  * findings:
  *  (1) dataChange=false — a row-preserving compact/z-order stamps its
  *      generation header, and changesBetween CANCELS such transitions
  *      at the metadata level: a pure-compaction span reads ZERO data
  *      files; a mixed span scans the real changes' pre-compact
  *      inputs, not the compaction's whole-table churn;
  *  (2) the commit protocol is a pluggable LogStore-shaped primitive:
  *      generation slots are committed WITH their manifest content by
  *      ONE atomic put-if-absent (nothing to steal, no delete-and-
  *      recreate race — burnt numbers are hopped, never reused), and
  *      schemes with no atomic provider REFUSE loudly unless the
  *      caller opts into the single-writer downgrade;
  *  (3) changesBetweenKeyed is fully lazy and single-pass: one action
  *      runs one job with ONE pair of bag-difference aggregates, and
  *      the duplicate-key guard raises from INSIDE the plan;
  *  (4) crash recovery is generation-aware: a crashed rewrite that
  *      never committed leaves orphans that can never go live next to
  *      a later rewrite of the same base (advisor #1), while a
  *      committed-but-unpublished rewrite is healed FORWARD before any
  *      append can rebase onto the stale snapshot and resurrect deleted
  *      rows (advisor #3), and a missing snapshot is rebuilt from the
  *      committed slot;
  *  (5) commit wall-time lives INSIDE the manifest header, so
  *      timestamp time travel survives mtime-rewriting copies;
  *  (6) vacuum never reclaims uncommitted files younger than the
  *      rewrite-lock TTL (an in-flight rewrite's output, advisor #5).
  */
class Round17Spec extends SparkSpec {

  private def tmpWh(prefix: String) = new graft.warehouse.SparkWarehouse(
    spark, java.nio.file.Files.createTempDirectory(prefix).toString)

  private def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
    e.fold(err => fail(err.message), identity)

  private def hfs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rows a plain Spark read of the directory sees once vacuumRetired
    * (past the rewrite-lock TTL) has reclaimed every retired file and
    * orphan: the committed generation alone.
    */
  private def vacuumedDirRows(wh: graft.warehouse.SparkWarehouse,
                              t: String): Long = {
    unwrap(wh.vacuumRetired(t, java.time.Duration.ZERO,
      java.time.Instant.now().plus(java.time.Duration.ofMinutes(31))))
    spark.read.parquet(s"${wh.warehouseDir}/$t").count()
  }

  private def crashed(point: String)(verb: => Any): Unit = {
    val e = intercept[Throwable] { verb }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[graft.warehouse.SparkWarehouse.SimulatedCrash]),
      s"expected a simulated crash at $point, got $e")
  }

  private def msgChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  // ---------------------------------------------------------------
  // (1) dataChange=false: CDC skips row-preserving rewrites
  // ---------------------------------------------------------------

  test("a pure-compaction span reads ZERO data files and returns an " +
    "empty feed; two stacked compactions in one span cancel too") {
    val wh = tmpWh("r17-cdc-compact")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 2000).toDF("id").repartition(4)))
    val g1 = wh.currentGeneration(t).get
    unwrap(wh.compact(t, 2, Seq("id")))
    val g2 = wh.currentGeneration(t).get
    assert(g2 > g1)
    val feed1 = unwrap(wh.changesBetween(t, g1, g2))
    assert(org.apache.spark.sql.GraftFileIndexBridge.filesRead(feed1) == 0L,
      "a pure compact span must read zero data files")
    assert(feed1.count() == 0L)
    // stacked: compact again with a different shape; the span over
    // BOTH compactions still cancels generation by generation
    unwrap(wh.compact(t, 3))
    val g3 = wh.currentGeneration(t).get
    val feed2 = unwrap(wh.changesBetween(t, g1, g3))
    assert(org.apache.spark.sql.GraftFileIndexBridge.filesRead(feed2) == 0L,
      "stacked compactions must cancel to zero files read")
    assert(feed2.count() == 0L)
    // keyed variant over the same span: empty, no failure
    assert(unwrap(wh.changesBetweenKeyed(t, g1, g3, Seq("id"))).count() == 0L)
  }

  test("a mixed span (metadata DELETE + whole-table compact) scans " +
    "ONLY the deleted partition's pre-compact files — the compaction's " +
    "churn is substituted away") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-mixed")
    val t = "t"
    val df = (0L until 2000L).map(i => (i, i % 4)).toDF("id", "p")
      .repartition(4, col("p"))
    unwrap(wh.createPartitioned(t, df, Seq("p")))
    val g1 = wh.currentGeneration(t).get
    val fs = hfs(wh.warehouseDir)
    val p0Files = {
      val dir = new org.apache.hadoop.fs.Path(s"${wh.warehouseDir}/$t/p=0")
      fs.listStatus(dir).count(st => st.getPath.getName.endsWith(".parquet"))
    }
    // metadata-only DROP PARTITION (no files written), then compact
    unwrap(wh.deleteWhere(t, col("p") === 0L))
    unwrap(wh.compact(t, 2))
    val g3 = wh.currentGeneration(t).get
    val feed = unwrap(wh.changesBetween(t, g1, g3))
    val deletes = feed.filter(col("change_type") === "delete")
    val inserts = feed.filter(col("change_type") === "insert")
    assert(inserts.count() == 0L, "a pure delete span must have no inserts")
    assert(deletes.count() == 500L)
    // the partition column reads back as the directory-inferred type
    assert(deletes.agg(max(col("p").cast("long"))).head.getLong(0) == 0L)
    // the compaction's outputs and the surviving partitions' originals
    // are all cancelled: only partition 0's pre-compact files are read
    val read = org.apache.spark.sql.GraftFileIndexBridge.filesRead(
      unwrap(wh.changesBetween(t, g1, g3)))
    assert(read == p0Files.toLong,
      s"expected only partition-0's $p0Files files read, got $read")
  }

  test("a mixed span where rows changed BEFORE the compact still " +
    "hash-matches the uncancelled feed") {
    val wh = tmpWh("r17-cdc-mixed2")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 2000).toDF("id").repartition(4)))
    val g1 = wh.currentGeneration(t).get
    unwrap(wh.deleteWhere(t, col("id") < 500))
    val g2 = wh.currentGeneration(t).get
    val want = unwrap(wh.changesBetween(t, g1, g2))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    unwrap(wh.compact(t, 2, Seq("id")))
    val g3 = wh.currentGeneration(t).get
    val got = unwrap(wh.changesBetween(t, g1, g3))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == want, "compaction inside the span changed the feed")
    assert(got.size == 500 && got.forall(_._2 == "delete"))
  }

  // ---------------------------------------------------------------
  // (2) pluggable commit primitive
  // ---------------------------------------------------------------

  test("a scheme with no atomic commit primitive REFUSES loudly; the " +
    "explicit single-writer downgrade and a user provider both work") {
    val dir = java.nio.file.Files.createTempDirectory("r17-mockfs")
    spark.sparkContext.hadoopConfiguration.set("fs.mock17.impl",
      classOf[NonAtomicMockFs17].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.mock17.impl.disable.cache",
      "true")
    // mock17://<abs path> — the authority-carrying rendering every
    // status URI of the registered scheme round-trips through
    val wh = new graft.warehouse.SparkWarehouse(spark, s"mock17://$dir")
    val refused = wh.load("t", spark.range(0, 10).toDF("id"))
    assert(refused.isLeft, "commit on a non-atomic scheme must refuse")
    assert(refused.left.exists(e =>
      e.message.contains("allowNonAtomic") && e.message.contains("atomic")),
      s"refusal must name the remediation: ${refused.left.map(_.message)}")
    // explicit single-writer downgrade: the commit path itself (slot
    // put-if-absent + derived snapshot replace) now works — driven
    // directly so the pin is on the PROTOCOL, not on the mock scheme's
    // URI-rendering quirks in Spark's parquet writer
    val entry = graft.warehouse.ManifestEntry("part-0.parquet", 123L, 456L)
    spark.conf.set("spark.graft.commit.allowNonAtomic", "true")
    try {
      assert(wh.writeManifestCas("t", Seq(entry), None),
        "downgraded commit must publish")
      assert(wh.currentGeneration("t").exists(_ >= 1L))
    } finally spark.conf.unset("spark.graft.commit.allowNonAtomic")
    // a user-supplied provider (the LogStore plug point) also unlocks it
    spark.conf.set("spark.graft.commit.providerClass",
      classOf[DelegatingCommitProvider17].getName)
    try {
      val wh2 = new graft.warehouse.SparkWarehouse(spark, s"mock17://$dir")
      val before = wh2.currentGeneration("t").getOrElse(0L)
      assert(wh2.writeManifestCas("t", Seq(entry),
        None), "provider-backed commit must publish")
      assert(wh2.currentGeneration("t").exists(_ > before))
    } finally spark.conf.unset("spark.graft.commit.providerClass")
  }

  // ---------------------------------------------------------------
  // (3) lazy single-pass keyed CDC
  // ---------------------------------------------------------------

  test("changesBetweenKeyed is lazy (Right even on duplicate keys) and " +
    "one action scans each changed file set exactly twice — one pair " +
    "of bag-difference aggregates, not a recompute per branch") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-onepass")
    val t = "t"
    unwrap(wh.load(t, (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4)))
    val g1 = wh.currentGeneration(t).get
    unwrap(wh.deleteWhere(t, col("id") < 100))
    unwrap(wh.updateWhere(t, Map("v" -> lit("Z")), col("id") >= 900))
    unwrap(wh.load(t, Seq((5000L, "new")).toDF("id", "v")))
    val g2 = wh.currentGeneration(t).get
    val feed = unwrap(wh.changesBetweenKeyed(t, g1, g2, Seq("id")))
    // the plan references the added set and the removed set twice each
    // (insert-side and delete-side exceptAll) — nothing more
    val addedRows = 900L + 1L   // delete+update rewrite output + append
    val removedRows = 1000L     // the original generation
    val scanned = org.apache.spark.sql.GraftFileIndexBridge.rowsScanned(feed)
    assert(scanned <= 2L * (addedRows + removedRows),
      s"keyed CDC scanned $scanned rows; single-pass bound is " +
        s"${2L * (addedRows + removedRows)}")
    val byType = feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 100L, "update_preimage" -> 100L,
      "update_postimage" -> 100L, "insert" -> 1L), s"got $byType")
    // laziness: duplicate keys return Right; the guard raises on execution
    unwrap(wh.load(t, Seq((6000L, "a"), (6000L, "b")).toDF("id", "v")))
    val g3 = wh.currentGeneration(t).get
    val dup = wh.changesBetweenKeyed(t, g2, g3, Seq("id"))
    assert(dup.isRight, "the keyed verb must be lazy — no eager action")
    val e = intercept[Exception] { dup.toOption.get.collect() }
    assert(msgChain(e).contains("duplicate"), s"wrong failure: ${msgChain(e)}")
  }

  // ---------------------------------------------------------------
  // (4) generation-aware redo-record reconciliation
  // ---------------------------------------------------------------

  test("advisor #1: a SUPERSEDED redo record (a second rewrite of the " +
    "same base committed) is rolled BACK — no view ever serves both " +
    "rewrites' outputs") {
    // the superseded rewrite is one that crashed with its files at
    // their final names and no slot committed; the roll-back is the
    // vacuum of its orphans
    val wh = tmpWh("r17-superseded")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 2000).toDF("id").repartition(4)))
    val gBase = wh.currentGeneration(t).get
    // rewrite R1 crashes before its commit
    wh.testFaultPoint = "rewrite:files-final"
    crashed("rewrite:files-final")(wh.deleteWhere(t, col("id") < 500))
    wh.testFaultPoint = null
    // rewrite R2 of the SAME base commits (another process)
    val wh2 = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    unwrap(wh2.deleteWhere(t, col("id") < 1000))
    val gR2 = wh2.currentGeneration(t).get
    // every view serves R2's result alone — R1's files stay orphans
    val wh3 = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    assert(unwrap(wh3.get(t)).count() == 1000L)
    assert(unwrap(wh3.getAsOf(t, gR2)).count() == 1000L)
    assert(unwrap(wh3.getAsOf(t, gBase)).count() == 2000L)
    val feed = unwrap(wh3.changesBetween(t, gBase, gR2))
    assert(feed.filter(col("change_type") === "delete").count() == 1000L &&
      feed.filter(col("change_type") === "insert").count() == 0L,
      "the change feed saw the superseded rewrite's outputs")
    // the roll-back: past the rewrite-lock TTL vacuum deletes R1's
    // orphans, and the directory holds exactly R2's result
    assert(vacuumedDirRows(wh3, t) == 1000L,
      "superseded outputs were not rolled back")
  }

  test("advisor #3: an append after a crashed-but-committed rewrite " +
    "FIRST heals the manifest forward — the rebase can never " +
    "resurrect the retired rows") {
    val wh = tmpWh("r17-resurrect")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 2000).toDF("id").repartition(4)))
    val gBase = wh.currentGeneration(t).get
    // the rewrite's slot commits, then it crashes before publishing
    // the derived snapshot
    wh.testFaultPoint = "manifest:slot-committed"
    crashed("manifest:slot-committed")(wh.deleteWhere(t, col("id") < 500))
    wh.testFaultPoint = null
    // the snapshot still serves the pre-rewrite generation
    assert(unwrap(wh.get(t)).count() == 2000L)
    // the append's lost claim heals the snapshot forward first: it
    // rebases onto the committed rewrite (1500) plus the appended rows
    // — nothing resurrects
    unwrap(wh.load(t, spark.range(10000, 10100).toDF("id")))
    assert(unwrap(wh.get(t)).count() == 1600L,
      "append rebased onto the stale manifest (deleted rows resurrected)")
    assert(unwrap(wh.get(t)).filter(col("id") < 500).count() == 0L)
    val feed = unwrap(wh.changesBetween(t, gBase, wh.currentGeneration(t).get))
    assert(feed.filter(col("change_type") === "delete").count() == 500L)
    assert(feed.filter(col("change_type") === "insert").count() == 100L)
  }

  test("advisor #1 main path: a rewrite entering after a crashed-but-" +
    "committed rewrite reconciles first and REFUSES its stale plan") {
    val wh = tmpWh("r17-stale-plan")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 2000).toDF("id").repartition(4)))
    wh.testFaultPoint = "manifest:slot-committed"
    crashed("manifest:slot-committed")(wh.deleteWhere(t, col("id") < 500))
    wh.testFaultPoint = null
    // this rewrite's plan pins the PRE-crash generation's files; the
    // in-lock heal publishes the committed rewrite first, so the plan
    // is stale and must be refused (not silently double-applied)
    val res = wh.deleteWhere(t, col("id") >= 1500)
    assert(res.isLeft && res.left.exists(_.message.contains("no longer " +
      "current")), s"expected a stale-plan refusal, got $res")
    // the retry (fresh plan) sees the healed 1500-row table
    unwrap(wh.deleteWhere(t, col("id") >= 1500))
    assert(unwrap(wh.get(t)).count() == 1000L)
    assert(unwrap(wh.get(t)).agg(min(col("id"))).head.getLong(0) == 500L)
  }

  test("crash between the slot commit and the derived-snapshot " +
    "publish: the commit is durable, and the NEXT writer heals the " +
    "snapshot forward before building on it") {
    val wh = tmpWh("r17-slot-crash")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 100).toDF("id")))
    val g1 = wh.currentGeneration(t).get
    wh.testFaultPoint = "manifest:slot-committed"
    val crashed = intercept[Throwable] {
      wh.load(t, spark.range(100, 200).toDF("id"))
    }
    wh.testFaultPoint = null
    assert(Iterator.iterate(crashed)(_.getCause).takeWhile(_ != null)
      .take(10).exists(_.isInstanceOf[
        graft.warehouse.SparkWarehouse.SimulatedCrash]),
      s"unexpected failure: $crashed")
    // the slot committed (generation durable) but the derived snapshot
    // still serves g1 — a consistent OLD view, never a torn one
    val wh2 = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    assert(wh2.currentGeneration(t).contains(g1))
    // the next writer loses its claim for g1+1 (the crashed writer owns
    // it), heals the snapshot forward from the slot, rebases, and
    // commits on top — BOTH writers' rows visible, no heal verb needed
    unwrap(wh2.load(t, spark.range(200, 250).toDF("id")))
    assert(unwrap(wh2.get(t)).count() == 250L,
      "the crashed writer's committed slot was lost or double-applied")
    assert(wh2.currentGeneration(t).exists(_ >= g1 + 2))
  }

  test("slot-only recovery: after a crash between the slot commit and " +
    "the snapshot publish, a missing _graft_manifest is rebuilt from the " +
    "slot and get serves the NEW generation") {
    val wh = tmpWh("r17-slot-only")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 100).toDF("id")))
    val g1 = wh.currentGeneration(t).get
    wh.testFaultPoint = "manifest:slot-committed"
    crashed("manifest:slot-committed")(
      wh.load(t, spark.range(100, 200).toDF("id")))
    wh.testFaultPoint = null
    val mp = new org.apache.hadoop.fs.Path(s"${wh.warehouseDir}/$t/_graft_manifest")
    val fs = hfs(wh.warehouseDir)
    assert(fs.delete(mp, false))
    // a fresh instance (no cached generation): the slot is the commit
    val wh2 = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    assert(unwrap(wh2.get(t)).count() == 200L,
      "the committed slot was not served")
    assert(wh2.currentGeneration(t).contains(g1 + 1))
    assert(fs.exists(mp), "the derived snapshot was not rebuilt")
    // and writers build on it
    unwrap(wh2.load(t, spark.range(200, 250).toDF("id")))
    assert(unwrap(wh2.get(t)).count() == 250L)
    assert(unwrap(wh2.getAsOf(t, g1)).count() == 100L)
  }

  test("a reader rebuilding a missing snapshot while a writer publishes " +
    "the next generation leaves the snapshot at the writer's generation") {
    val wh = tmpWh("r17-repair-race")
    val t = "t"
    unwrap(wh.load(t, spark.range(0, 100).toDF("id")))
    val g1 = wh.currentGeneration(t).get
    val fs = hfs(wh.warehouseDir)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"${wh.warehouseDir}/$t/_graft_manifest"), false))
    val reader = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    val writer = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    // the writer commits g1+1 and publishes its snapshot after the
    // reader checked the (absent) snapshot and before it replaces it
    reader.testHook = {
      case "manifest:repair-checked" =>
        reader.testHook = null
        unwrap(writer.load(t, spark.range(100, 200).toDF("id")))
      case _ => ()
    }
    assert(unwrap(reader.get(t)).count() == 200L,
      "the reader served the generation it rebuilt over the writer's")
    assert(reader.testHook == null, "the race window was never reached")
    val fresh = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    assert(fresh.currentGeneration(t).contains(g1 + 1),
      "the snapshot was left at the superseded generation")
    assert(unwrap(fresh.get(t)).count() == 200L)
  }

  // ---------------------------------------------------------------
  // (5) in-band commit time
  // ---------------------------------------------------------------

  test("timestamp time travel survives an mtime-rewriting copy: the " +
    "commit epoch lives inside the header, not in the filesystem") {
    val wh = tmpWh("r17-mtime")
    val t = "t"
    val base = 1600000000000L
    var tick = 0L
    wh.commitClock = () => { tick += 60000L; base + tick }
    unwrap(wh.load(t, spark.range(0, 100).toDF("id")))
    val m1 = base + tick // after load 1's commit(s)
    unwrap(wh.load(t, spark.range(100, 200).toDF("id")))
    val m2 = base + tick
    unwrap(wh.deleteWhere(t, col("id") < 50))
    val m3 = base + tick
    // simulate a distcp/backup restore: every file's mtime is NOW
    def touchAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(touchAll)
      f.setLastModified(System.currentTimeMillis()); ()
    }
    touchAll(new java.io.File(s"${wh.warehouseDir}/$t"))
    val wh2 = new graft.warehouse.SparkWarehouse(spark, wh.warehouseDir)
    def at(ms: Long) = unwrap(wh2.getAsOf(t, java.time.Instant.ofEpochMilli(ms)))
    assert(at(m1).count() == 100L)
    assert(at(m2).count() == 200L)
    assert(at(m3 + 3600000L).count() == 150L)
    val early = wh2.getAsOf(t, java.time.Instant.ofEpochMilli(base))
    assert(early.isLeft, "an instant before every commit must fail fast")
  }

  // ---------------------------------------------------------------
  // streaming CDC source (judge #4)
  // ---------------------------------------------------------------

  test("graft-cdc stream: a foreachBatch replica applying each " +
    "generation's feed converges to the source across delete + append " +
    "+ compact; the compaction contributes NOTHING to the feed") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-stream")
    val src = "src"
    val rep = "rep"
    unwrap(wh.load(src, (0L until 500L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(4)))
    val g0 = wh.currentGeneration(src).get
    unwrap(wh.load(rep, unwrap(wh.get(src))))
    // mutations the stream must replicate — including a compact, which
    // must flow through as ZERO change rows (dataChange=false)
    unwrap(wh.deleteWhere(src, col("id") % 5 === 0))
    unwrap(wh.compact(src, 2, Seq("id")))
    unwrap(wh.load(src, Seq((9000L, "new1"), (9001L, "new2"))
      .toDF("id", "v")))
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = java.nio.file.Files.createTempDirectory("r17-cdc-ckpt")
    val q = spark.readStream
      .format(classOf[graft.streaming.GraftCdcSourceProvider].getName)
      .option("warehouse", wh.warehouseDir)
      .option("table", src)
      .option("startingGeneration", g0.toString)
      .load()
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val dels = batch.filter(col("change_type") === "delete")
            .drop("change_type")
          val ins = batch.filter(col("change_type") === "insert")
            .drop("change_type")
          applied.addAndGet(batch.count())
          val cur = unwrap(wh.get(rep))
          unwrap(wh.replaceContent(rep,
            cur.exceptAll(dels).unionByName(ins)))
          ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream timed out")
    val repRows = unwrap(wh.get(rep)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val srcRows = unwrap(wh.get(src)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(repRows == srcRows, "replica diverged from source")
    // the feed carried exactly the 100 deletes + 2 inserts — the
    // compaction's whole-table churn contributed zero rows
    assert(applied.get() == 102L,
      s"feed carried ${applied.get()} rows; a compaction leaked churn")
  }

  test("graft-cdc checkpoint cursor: a restarted stream resumes at the " +
    "committed generation — each span applied EXACTLY once") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-restart")
    val src = "src"
    val rep = "rep"
    unwrap(wh.load(src, (0L until 300L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(3)))
    val g0 = wh.currentGeneration(src).get
    unwrap(wh.load(rep, unwrap(wh.get(src))))
    val ckpt = java.nio.file.Files.createTempDirectory("r17-restart-ckpt")
    val appliedRows = new java.util.concurrent.atomic.AtomicLong(0L)
    def drainOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.GraftCdcSourceProvider].getName)
        .option("warehouse", wh.warehouseDir)
        .option("table", src)
        .option("startingGeneration", g0.toString)
        .load()
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val dels = batch.filter(col("change_type") === "delete")
              .drop("change_type")
            val ins = batch.filter(col("change_type") === "insert")
              .drop("change_type")
            appliedRows.addAndGet(batch.count())
            val cur = unwrap(wh.get(rep))
            unwrap(wh.replaceContent(rep,
              cur.exceptAll(dels).unionByName(ins)))
            ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream timed out")
    }
    // span 1: a CoW delete, drained by the first stream run
    unwrap(wh.deleteWhere(src, col("id") < 100))
    drainOnce()
    assert(appliedRows.get() == 100L, s"span 1 carried ${appliedRows.get()}")
    // span 2 lands while no stream is running; the restarted stream
    // must resume at the CHECKPOINTED cursor (g0 is stale by now — a
    // re-read from it would re-apply span 1's deletes and corrupt)
    unwrap(wh.load(src, (5000L until 5050L).map(i => (i, "late"))
      .toDF("id", "v")))
    drainOnce()
    assert(appliedRows.get() == 150L,
      s"restart re-applied an already-committed span (${appliedRows.get()})")
    val repRows = unwrap(wh.get(rep)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val srcRows = unwrap(wh.get(src)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(repRows == srcRows, "replica diverged across the restart")
  }

  test("graft-cdc keyed mode coalesces a same-key delete+insert into " +
    "update preimage/postimage rows per batch") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-keyed-stream")
    val src = "src"
    unwrap(wh.load(src, Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    val g0 = wh.currentGeneration(src).get
    unwrap(wh.updateWhere(src, Map("v" -> lit("Z")), col("id") === 2L))
    unwrap(wh.load(src, Seq((3L, "c")).toDF("id", "v")))
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, String, String)]()
    val ckpt = java.nio.file.Files.createTempDirectory("r17-keyed-ckpt")
    val q = spark.readStream
      .format(classOf[graft.streaming.GraftCdcSourceProvider].getName)
      .option("warehouse", wh.warehouseDir)
      .option("table", src)
      .option("startingGeneration", g0.toString)
      .option("keys", "id")
      .load()
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          batch.collect().foreach(r =>
            seen.add((r.getLong(0), r.getString(1), r.getString(2))))
          ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream timed out")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(
      (2L, "b", "update_preimage"),
      (2L, "Z", "update_postimage"),
      (3L, "c", "insert")), s"got ${seen.asScala.toSet}")
  }

  test("graft-cdc stream fails LOUDLY when the cursor falls behind " +
    "retention — never silently skips a span") {
    val wh = tmpWh("r17-cdc-late")
    val src = "src"
    unwrap(wh.load(src, spark.range(0, 100).toDF("id")))
    val g0 = wh.currentGeneration(src).get
    // churn generations past the retention window, then vacuum the
    // retired files so the early span is genuinely unreadable
    spark.conf.set("spark.graft.manifest.retainGenerations", "2")
    try {
      (0 until 6).foreach(i =>
        unwrap(wh.load(src, spark.range(100L * (i + 2), 100L * (i + 2) + 10)
          .toDF("id"))))
      unwrap(wh.deleteWhere(src, col("id") < 50))
      spark.conf.set("spark.graft.rewriteLock.ttlMs", "0")
      try unwrap(wh.vacuumRetired(src, java.time.Duration.ZERO,
        java.time.Instant.now().plusSeconds(5)))
      finally spark.conf.unset("spark.graft.rewriteLock.ttlMs")
      val ckpt = java.nio.file.Files.createTempDirectory("r17-late-ckpt")
      val q = spark.readStream
        .format(classOf[graft.streaming.GraftCdcSourceProvider].getName)
        .option("warehouse", wh.warehouseDir)
        .option("table", src)
        .option("startingGeneration", g0.toString)
        .load()
        .writeStream
        .format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(120000); ()
      }
      assert(msgChain(e).contains("not retained") ||
        msgChain(e).contains("cannot read changes"),
        s"wrong failure: ${msgChain(e)}")
    } finally spark.conf.unset("spark.graft.manifest.retainGenerations")
  }

  test("CDC across a compact that straddles additive schema evolution: " +
    "the substitution scans the narrower pre-compact files and the feed " +
    "still pads/cancels correctly") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-evo")
    val t = "t"
    unwrap(wh.load(t, (0L until 100L).map(i => (i, s"v$i"))
      .toDF("id", "v")))
    val g1 = wh.currentGeneration(t).get
    // additive evolution: a new column arrives with an append
    unwrap(wh.load(t, Seq((500L, "w", "extra")).toDF("id", "v", "tag")))
    // row-preserving compact over the MIXED-schema generations
    unwrap(wh.compact(t, 2, Seq("id")))
    // then a real change
    unwrap(wh.deleteWhere(t, col("id") < 10))
    val g4 = wh.currentGeneration(t).get
    val feed = unwrap(wh.changesBetween(t, g1, g4))
    val dels = feed.filter(col("change_type") === "delete")
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    val ins = feed.filter(col("change_type") === "insert")
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(dels.toSet == (0L until 10L)
      .map(i => (i, s"v$i", None)).toSet, s"deletes: ${dels.toSeq}")
    assert(ins.toSet == Set((500L, "w", Some("extra"))),
      s"inserts: ${ins.toSeq}")
    // composition: g1 snapshot + feed ≡ g4 snapshot (padded schemas)
    val g1Rows = unwrap(wh.getAsOf(t, g1))
      .withColumn("tag", lit(null).cast("string"))
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    val g4Rows = unwrap(wh.getAsOf(t, g4))
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert((g1Rows -- dels.toSet) ++ ins.toSet == g4Rows,
      "feed does not compose g1 into g4")
  }

  // ---------------------------------------------------------------
  // CDC torture: the feed replays the model across EVERY verb
  // ---------------------------------------------------------------

  test("CDC torture: changesBetween across 30 seeded verb transitions " +
    "replays a driver-side model exactly, and every row-preserving " +
    "rewrite emits an EMPTY feed from ZERO files") {
    val sps = spark; import sps.implicits._
    val wh = tmpWh("r17-cdc-torture")
    val t = "t"
    val rnd = new scala.util.Random(17)
    val model = scala.collection.mutable.Map.empty[Long, Long]
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, Long)] = {
      val rows = (0 until n).map { _ =>
        val id = nextId; nextId += 1; (id, rnd.nextInt(1000).toLong)
      }
      rows.foreach { case (k, v) => model(k) = v }
      rows
    }
    unwrap(wh.load(t, fresh(200).toDF("id", "v").repartition(3)))
    var prevGen = wh.currentGeneration(t).get
    var prevModel = model.toMap
    (1 to 30).foreach { step =>
      val verb = rnd.nextInt(6)
      var rowPreserving = false
      verb match {
        case 0 | 1 => unwrap(wh.load(t,
          fresh(10 + rnd.nextInt(40)).toDF("id", "v")))
        case 2 =>
          val m = 2L + rnd.nextInt(7)
          val r = rnd.nextInt(m.toInt).toLong
          model.filterInPlace((k, _) => k % m != r)
          unwrap(wh.deleteWhere(t, col("id") % m === r))
        case 3 =>
          val m = 2L + rnd.nextInt(7)
          val r = rnd.nextInt(m.toInt).toLong
          model.mapValuesInPlace((k, v) => if (k % m == r) v + 100L else v)
          unwrap(wh.updateWhere(t, Map("v" -> (col("v") + 100L)),
            col("id") % m === r))
        case 4 =>
          unwrap(wh.compact(t, 1 + rnd.nextInt(4), Seq("id")))
          rowPreserving = true
        case 5 =>
          val packed = unwrap(wh.compactSmall(t, 64L << 20, 64L << 20))
          rowPreserving = packed > 0
      }
      val curGen = wh.currentGeneration(t).get
      val feed = unwrap(wh.changesBetween(t, prevGen, curGen))
      if (rowPreserving) {
        assert(org.apache.spark.sql.GraftFileIndexBridge.filesRead(
          unwrap(wh.changesBetween(t, prevGen, curGen))) == 0L,
          s"step $step: a row-preserving rewrite's feed read data files")
      }
      val rows = feed.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2)))
      // bag-apply the feed to the PREVIOUS model snapshot
      val applied = scala.collection.mutable.Map.empty[Long, Long]
      prevModel.foreach { case (k, v) => applied(k) = v }
      rows.filter(_._3 == "delete").foreach { case (k, v, _) =>
        assert(applied.get(k).contains(v),
          s"step $step (verb $verb): delete of ($k,$v) not in prior state")
        applied.remove(k)
      }
      rows.filter(_._3 == "insert").foreach { case (k, v, _) =>
        assert(!applied.contains(k),
          s"step $step: insert of existing key $k")
        applied(k) = v
      }
      assert(applied == model,
        s"step $step (verb $verb): feed replay diverged from the model " +
          s"(${applied.size} vs ${model.size} rows)")
      prevGen = curGen
      prevModel = model.toMap
    }
    // final sanity: the table itself equals the model
    val table = unwrap(wh.get(t)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(table == model.toMap)
  }
}
