package graft

import org.apache.spark.sql.functions._

/** Round-10 pins: the calibrated-index lifecycle is honest end to end —
  * a freshly calibrated index is MATERIALIZED (no silent rebuild per
  * action, the r9 verdict's weak-mark mechanism), the calibration
  * sidecar round-trips bit-exactly, and the consumer-side probe helpers
  * honor the stored recommendation instead of a hard-coded default.
  */
class Round10Spec extends SparkSpec {

  test("a probe on a freshly calibrated IVF index runs no second " +
    "k-means/assign job (the returned frame is the materialized snapshot)") {
    val e = Tables(spark, sf0001, "embeddings")
    val built = graft.ext.Ivf.buildCalibrated(e, nCentroids = 8, k = 5,
      targetRecall = 0.9, nQueries = 8)
    try {
      // the structural pin: the returned plan IS a checkpoint-backed
      // LogicalRDD — no corpus scan, no centroid-score expression left
      // to re-evaluate. (Before r10 this was the lazy assign plan, so
      // every action re-derived the index.)
      val optimized = built.indexed.queryExecution.optimizedPlan
      assert(optimized.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD],
        s"calibrated index is not materialized:\n$optimized")
      // and the behavioral pin: probing it schedules no job that reads
      // the corpus parquet (scan-free plan → count of scan nodes is 0)
      val probe = graft.ext.Ivf.topKPruned(built.indexed,
        e.filter(col("vec_id") < 3), built.model, k = 3, nProbe = 2)
      val scans = probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("embeddings")) => f
      }
      // the query side scans the corpus (queries come from it); the
      // INDEX side must not — exactly one embeddings scan, the queries'
      assert(scans.size <= 1,
        s"index side re-scans the corpus: ${scans.size} scans")
      assert(probe.count() > 0)
    } finally built.release()
  }

  test("a freshly calibrated IVF-PQ index is materialized and its " +
    "compact write runs no re-encode") {
    val e = Tables(spark, sf0001, "embeddings")
    val built = graft.ext.IvfPq.buildCalibrated(e, nCentroids = 8, m = 8,
      k = 5, targetRecall = 0.7, nQueries = 8, candidateGrid = Seq(16, 64))
    try {
      val optimized = built.indexed.queryExecution.optimizedPlan
      assert(optimized.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD],
        s"calibrated IVF-PQ index is not materialized:\n$optimized")
      // compact write straight off the snapshot: both projections plan
      // zero corpus scans (writeIndexCompactFrom exists so a calibrated
      // build never pays assign+encode twice)
      Seq(built.indexed.select("neighbor_id", "codes", "centroid"),
          built.indexed.select("neighbor_id", "nvec")).foreach { proj =>
        val scans = proj.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        assert(scans.isEmpty, s"compact projection re-scans: $scans")
      }
    } finally built.release()
  }

  test("calibration sidecars round-trip bit-exactly and the recommended-" +
    "knob probe helpers reproduce the explicit-knob probe") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))

    // IVF
    val built = graft.ext.Ivf.buildCalibrated(e, nCentroids = 8, k = 3,
      targetRecall = 0.9, nQueries = 8)
    val p1 = java.nio.file.Files.createTempDirectory("graft-r10-ivf")
      .resolve("idx").toString
    graft.ext.Ivf.writeIndex(built.indexed, p1)
    graft.ext.Ivf.writeCalibration(spark, p1, built.calibration)
    val back = graft.ext.Ivf.readCalibration(spark, p1)
    assert(back.contains(built.calibration),
      "IVF sidecar round-trip is not identity (incl. the full curve)")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaHelper = pairs(graft.ext.Ivf.topKAtRecommended(
      spark, p1, q, built.model, k = 3))
    val viaExplicit = pairs(graft.ext.Ivf.topKPruned(
      graft.ext.Ivf.readIndex(spark, p1), q, built.model, k = 3,
      nProbe = built.calibration.recommendedNProbe))
    assert(viaHelper == viaExplicit,
      "topKAtRecommended diverges from the explicit-knob probe")
    built.release()

    // IVF-PQ (compact layout)
    val builtPq = graft.ext.IvfPq.buildCalibrated(e, nCentroids = 8, m = 8,
      k = 3, targetRecall = 0.7, nQueries = 8, candidateGrid = Seq(16, 64))
    val p2 = java.nio.file.Files.createTempDirectory("graft-r10-ivfpq")
      .resolve("idx").toString
    graft.ext.IvfPq.writeIndexCompactFrom(builtPq.indexed, p2)
    graft.ext.IvfPq.writeCalibration(spark, p2, builtPq.calibration)
    assert(graft.ext.IvfPq.readCalibration(spark, p2)
      .contains(builtPq.calibration),
      "IVF-PQ sidecar round-trip is not identity")
    val viaHelperPq = graft.ext.IvfPq.topKCompactAtRecommended(
      spark, p2, q, builtPq.model, k = 3)
    val viaExplicitPq = graft.ext.IvfPq.topKPrunedCompact(
      spark, p2, q, builtPq.model, k = 3,
      nProbe = builtPq.calibration.recommendedNProbe,
      nCandidates = builtPq.calibration.recommendedNCandidates)
    val hp = pairs(viaHelperPq)
    assert(hp == pairs(viaExplicitPq),
      "topKCompactAtRecommended diverges from the explicit-knob probe")
    assert(hp.nonEmpty)
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(viaHelperPq)
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(viaExplicitPq)
    builtPq.release()
    // a missing sidecar fails loudly, never probes a silent default
    val noCal = java.nio.file.Files.createTempDirectory("graft-r10-nocal")
      .resolve("idx").toString
    graft.ext.Ivf.writeIndex(
      graft.ext.Ivf.index(e, built.model), noCal)
    intercept[IllegalStateException] {
      graft.ext.Ivf.topKAtRecommended(spark, noCal, q, built.model, k = 3)
    }
  }

  test("merge-on-read DML ≡ copy-on-write DML over random tables, flat " +
    "and partitioned, incl. vectors over update deltas") {
    val sps = spark; import sps.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val n = 200 + rnd.nextInt(300)
      val base = (0L until n.toLong).map { i =>
        (i, s"p${rnd.nextInt(4)}", rnd.nextInt(1000).toLong)
      }.toDF("id", "part", "v")
      val partitioned = trial % 2 == 0

      def mkWh(tag: String) = new graft.warehouse.SparkWarehouse(spark,
        java.nio.file.Files.createTempDirectory(s"graft-r10-$tag-$trial")
          .toString)
      def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => fail(err.message), identity)

      val whM = mkWh("mor")
      val whC = mkWh("cow")
      if (partitioned) {
        unwrap(whM.createPartitioned("t", base, Seq("part")))
        unwrap(whC.createPartitioned("t", base, Seq("part")))
      } else {
        unwrap(whM.load("t", base))
        unwrap(whC.load("t", base))
      }
      val gensM = scala.collection.mutable.ArrayBuffer(
        whM.currentGeneration("t").get)
      val gensC = scala.collection.mutable.ArrayBuffer(
        whC.currentGeneration("t").get)
      def mark(): Unit = {
        gensM += whM.currentGeneration("t").get
        gensC += whC.currentGeneration("t").get
      }
      // delete, update, then a second delete whose predicate can ONLY
      // match rows the update appended as delta files — vectors over
      // deltas are the part a naive implementation gets wrong
      unwrap(whM.deleteWhereMor("t", col("id") % 5 === 0))
      unwrap(whC.deleteWhere("t", col("id") % 5 === 0))
      mark()
      unwrap(whM.updateWhereMor("t", Map("v" -> (col("v") + 10000L)),
        col("id") % 3 === 0))
      unwrap(whC.updateWhere("t", Map("v" -> (col("v") + 10000L)),
        col("id") % 3 === 0))
      mark()
      unwrap(whM.deleteWhereMor("t", col("v") >= 10000L && col("id") % 2 === 0))
      unwrap(whC.deleteWhere("t", col("v") >= 10000L && col("id") % 2 === 0))
      mark()

      // every generation reads the same under both, and so does the
      // keyed change feed between consecutive generations
      def asOf(wh: graft.warehouse.SparkWarehouse, g: Long) =
        unwrap(wh.getAsOf("t", g)).select("id", "part", "v").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      def keyed(wh: graft.warehouse.SparkWarehouse, a: Long, b: Long) =
        unwrap(wh.changesBetweenKeyed("t", a, b, Seq("id")))
          .select("id", "part", "v", "change_type").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getString(3))).toSet
      gensM.indices.foreach { i =>
        assert(asOf(whM, gensM(i)) == asOf(whC, gensC(i)),
          s"trial $trial (partitioned=$partitioned): step $i as-of diverges")
        if (i > 0) {
          val m = keyed(whM, gensM(i - 1), gensM(i))
          assert(m.nonEmpty, s"trial $trial: step $i has no changes")
          assert(m == keyed(whC, gensC(i - 1), gensC(i)),
            s"trial $trial (partitioned=$partitioned): step $i keyed CDC " +
              "diverges")
        }
      }

      def rows(wh: graft.warehouse.SparkWarehouse) =
        unwrap(wh.get("t")).select("id", "part", "v").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows(whM) == rows(whC),
        s"trial $trial (partitioned=$partitioned): MoR and CoW diverge")
      // identical SCHEMA too — position helper columns must never leak
      assert(unwrap(whM.get("t")).columns.sorted.toSeq ==
        unwrap(whC.get("t")).columns.sorted.toSeq)

      // vectors are pending before the fold, gone after; content fixed
      assert(unwrap(whM.pendingDeletionVectors("t")) > 0L)
      val before = rows(whM)
      unwrap(whM.compact("t", targetFiles = 2))
      assert(unwrap(whM.pendingDeletionVectors("t")) == 0L,
        "compact did not fold the deletion vectors")
      assert(rows(whM) == before, "fold changed the table content")
    }
  }

  test("JDBC predicate DML pushes server-side for the translatable " +
    "subset, runs zero Spark jobs, and falls back otherwise") {
    val sps = spark; import sps.implicits._
    val dbDir = java.nio.file.Files.createTempDirectory("graft-r10-jdbc").toString
    val wh = new graft.warehouse.JdbcWarehouse(spark,
      s"jdbc:derby:$dbDir/wh;create=true")
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    val base = (0L until 500L).map(i => (i, s"n$i", (i % 9).toDouble))
      .toDF("id", "name", "score")
    unwrap(wh.load("t", base))
    val existing = unwrap(wh.get("t"))

    // the gate predicates translate — so op_dml_jdbc exercises the
    // pushed path, not the fallback
    assert(wh.deleteSql(existing, "t", pmod(col("id"), lit(3)) === 0).isDefined)
    assert(wh.updateSql(existing, "t", Map("name" -> lit("F")),
      pmod(col("id"), lit(7)) === 0).isDefined)
    // a Spark-only predicate (regex) does NOT translate — fallback path
    assert(wh.deleteSql(existing, "t",
      col("name").rlike("^n[0-9]$")).isEmpty)

    // the pushed statements run ZERO Spark jobs (no table-wide read):
    // count job-start events across both verbs, then wait out the
    // async listener bus before asserting
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      unwrap(wh.updateWhere("t", Map("score" -> (col("score") + 100.0)),
        col("id") < 100L))
      unwrap(wh.deleteWhere("t", pmod(col("id"), lit(5)) === 0))
      // drain the async listener bus DETERMINISTICALLY (r10 advice: a
      // fixed sleep can flake both ways on a loaded host)
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      assert(jobs.get() == 0,
        s"pushed DML ran ${jobs.get()} Spark job(s) — table went through Spark")
    } finally spark.sparkContext.removeSparkListener(listener)

    // and the server-side result matches the engine semantics exactly
    val got = unwrap(wh.get("t")).select("id", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val model = (0L until 500L).map(i => (i, s"n$i", (i % 9).toDouble))
      .map { case (i, nm, s) => (i, nm, if (i < 100L) s + 100.0 else s) }
      .filterNot(_._1 % 5 == 0).toSet
    assert(got == model, "server-side DML result drifts from the model")

    // fallback path still green end to end (rlike predicate)
    unwrap(wh.deleteWhere("t", col("name").rlike("^n1[0-9]$")))
    val after = unwrap(wh.get("t")).count()
    val modelAfter = model.count(r => !r._2.matches("^n1[0-9]$"))
    assert(after == modelAfter.toLong)
  }

  test("MoR tombstones survive a table rename (positions are root-relative)") {
    val sps = spark; import sps.implicits._
    val wh = new graft.warehouse.SparkWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-r10-morren").toString)
    def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
      e.fold(err => fail(err.message), identity)
    val base = (0L until 100L).map(i => (i, i * 10)).toDF("id", "v")
    unwrap(wh.load("t", base))
    unwrap(wh.deleteWhereMor("t", col("id") < 50))
    unwrap(wh.rename("t", "t2"))
    assert(unwrap(wh.get("t2")).count() == 50L,
      "tombstones lost across rename")
    assert(unwrap(wh.get("t2")).agg(min("id")).head.getLong(0) == 50L)
  }
}
