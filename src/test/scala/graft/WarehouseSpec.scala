package graft

import graft.schema.FieldRepr
import graft.warehouse._
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.time.Instant

/** End-to-end lifecycle tests over a temp warehouse dir — the Spark
  * equivalents of the reference's live-cloud integration cycle
  * (`test/test_bigquery.py:447-518`: create→assert→drop→assert-NotFound,
  * set/clear expiry) plus the full load pipeline
  * (`bigquery/__init__.py:363-461`).
  */
class WarehouseSpec extends SparkSpec {

  private def freshWh() =
    new SparkWarehouse(spark, Files.createTempDirectory("graft-wh-spec").toString)

  test("create / get / drop cycle with NotFound semantics") {
    val wh = freshWh()
    assert(wh.get("t1") == Left(TableNotFound("t1")))
    val schema = Seq(FieldRepr("id", "INTEGER", "NULLABLE"),
      FieldRepr("name", "STRING", "NULLABLE"))
    assert(wh.create("t1", schema).isRight)
    assert(wh.get("t1").map(_.schema.fieldNames.toSeq) == Right(Seq("id", "name")))
    // create without replace on existing table = Conflict
    assert(wh.create("t1", schema).isLeft)
    assert(wh.drop("t1").isRight)
    assert(wh.get("t1") == Left(TableNotFound("t1")))
    // drop with notFoundOk=false surfaces the error; =true tolerates
    assert(wh.drop("t1", notFoundOk = false) == Left(TableNotFound("t1")))
    assert(wh.drop("t1").isRight)
  }

  test("a fractional batch into an INTEGER column is refused by name, " +
    "not truncated; an integer batch into a FLOAT column still loads") {
    val wh = freshWh()
    assert(wh.loadJson("w", Seq("""{"x":1}""")) == Right(1L))
    wh.loadJson("w", Seq("""{"x":1.5}""")) match {
      case Left(RowsInvalid(msg)) =>
        assert(msg.contains("'x'") && msg.contains("DOUBLE") &&
          msg.contains("BIGINT"), msg)
      case other => fail(s"narrowing load was not refused: $other")
    }
    val rows = wh.get("w").map(_.collect().toSeq).getOrElse(Nil)
    assert(rows.map(_.getLong(0)) == Seq(1L))
    assert(wh.loadJson("f", Seq("""{"y":1.5}""")) == Right(1L))
    assert(wh.loadJson("f", Seq("""{"y":2}""")) == Right(1L))
    assert(wh.get("f").map(_.collect().map(_.getDouble(0)).toSet) ==
      Right(Set(1.5, 2.0)))
  }

  test("keys that sanitise to one name keep the last value at the first " +
    "key's position") {
    val wh = freshWh()
    assert(wh.loadJson("k", Seq("""{"a-b":1,"a_b":2}""")).isRight)
    val df = wh.get("k").fold(e => fail(e.toString), identity)
    assert(df.columns.toSeq == Seq("a_b"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(wh.loadJson("p", Seq("""{"a-b":1,"z":0,"a_b":2}""")).isRight)
    val p = wh.get("p").fold(e => fail(e.toString), identity)
    assert(p.columns.toSeq == Seq("a_b", "z"))
    assert(p.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 0L)))
  }

  test("rebuild reuses the pre-drop schema (bigquery/__init__.py:183-188)") {
    val wh = freshWh()
    val schema = Seq(FieldRepr("x", "FLOAT", "NULLABLE"))
    assert(wh.create("t2", schema).isRight)
    assert(wh.rebuild("t2").isRight)
    assert(wh.meta("t2").map(_.schema) == Right(schema))
  }

  test("set/clear expiry + vacuum with injected clock") {
    val wh = freshWh()
    assert(wh.create("t3", Seq(FieldRepr("x", "STRING", "NULLABLE"))).isRight)
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    assert(wh.setExpiry("t3", Some(t0)).isRight)
    assert(wh.meta("t3").map(_.expiresAtMillis) == Right(Some(t0.toEpochMilli)))
    // not yet expired
    assert(wh.vacuum(t0.minusSeconds(60)).isEmpty)
    assert(wh.get("t3").isRight)
    // expired
    assert(wh.vacuum(t0.plusSeconds(60)) == Seq("t3"))
    assert(wh.get("t3") == Left(TableNotFound("t3")))
    // clear expiry
    assert(wh.create("t4", Seq(FieldRepr("x", "STRING", "NULLABLE")),
      expires = Some(t0)).isRight)
    assert(wh.setExpiry("t4", None).isRight)
    assert(wh.vacuum(t0.plusSeconds(60)).isEmpty)
  }

  test("load: prepare -> infer -> create -> chunked append, then fetch") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((3L, "c", 1.5), (1L, "a", 2.5), (2L, "b", 0.5))
      .toDF("id", "name key", "score")
    assert(wh.load("loaded", df) == Right(3L))
    // keys cleaned, schema inferred and recorded
    val m = wh.meta("loaded").toOption.get
    assert(m.schema.map(_.name).contains("name_key"))
    // fetch: projection + sort + limit (reference fetch surface)
    val fetched = wh.fetch("loaded", Seq("id", "score"),
      Seq("score" -> QuerySort.Desc), count = 2)
    val rows = fetched.toOption.get.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 2.5), (3L, 1.5)))
    // query: SQL over the registered view
    assert(wh.query("SELECT count(*) AS n FROM loaded").as[Long].head() == 3L)
    // append via load again merges schema and adds rows
    assert(wh.load("loaded", df).isRight)
    assert(wh.query("SELECT count(*) AS n FROM loaded").as[Long].head() == 6L)
  }

  test("loadJson infers with the lattice (mixed str+int -> STRING)") {
    val wh = freshWh()
    val lines = Seq(
      """{"v": 1, "meta": {"a key": "x"}}""",
      """{"v": "two", "meta": {"a key": "y"}}""")
    assert(wh.loadJson("j1", lines) == Right(2L))
    val schema = wh.meta("j1").toOption.get.schema
    assert(schema.find(_.name == "v").map(_.fieldType) == Some("STRING"))
    val metaField = schema.find(_.name == "meta").get
    assert(metaField.fieldType == "RECORD" && metaField.mode == "REPEATED")
    assert(metaField.fields.map(_.name) == Seq("a_key"))
  }

  test("fullSchema=true skips inference and requires a schema") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "a")).toDF("id", "name")
    assert(wh.load("fs", df, fullSchema = true).isLeft)
    val schema = Seq(FieldRepr("id", "INTEGER", "NULLABLE"),
      FieldRepr("name", "STRING", "NULLABLE"))
    assert(wh.load("fs", df, schema = schema, fullSchema = true) == Right(1L))
  }

  test("describe renders the table schema tree") {
    val wh = freshWh()
    wh.create("d1", Seq(FieldRepr("id", "INTEGER", "NULLABLE"),
      FieldRepr("nest", "RECORD", "REPEATED",
        Seq(FieldRepr("k", "STRING", "NULLABLE")))))
    val out = wh.describe("d1").toOption.get
    assert(out.contains("├─ id") && out.contains("└─ nest") && out.contains("└─ k"))
  }

  test("load with timestamp and int columns keeps files readable (schema alignment)") {
    // regression: inference previously round-tripped through JSON, typing
    // timestamps as STRING, then appended the raw TimestampType files —
    // footer-conflicting parquet. Typed input now derives its schema from
    // the DataFrame and data is cast to the resolved table schema.
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), 1.5f),
      (2, java.sql.Timestamp.valueOf("2024-06-07 08:09:10"), 2.5f))
      .toDF("id", "when_ts", "score")
    assert(wh.load("typed", df) == Right(2L))
    // second load appends more files; every file must agree with the schema
    assert(wh.load("typed", df) == Right(2L))
    val back = wh.get("typed").toOption.get
    assert(back.count() == 4)
    val m = wh.meta("typed").toOption.get
    assert(m.schema.find(_.name == "when_ts").map(_.fieldType) == Some("TIMESTAMP"))
    assert(m.schema.find(_.name == "id").map(_.fieldType) == Some("INTEGER"))
    // values survive the round trip
    val ts = back.filter($"id" === 1).select("when_ts")
      .collect()(0).getTimestamp(0)
    assert(ts == java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
  }

  test("load into an existing table evolves and persists the merged schema") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    assert(wh.load("evolve", Seq((1L, "a")).toDF("id", "name")).isRight)
    assert(wh.load("evolve", Seq((2L, "b", 9.5)).toDF("id", "name", "extra")).isRight)
    val m = wh.meta("evolve").toOption.get
    assert(m.schema.map(_.name).contains("extra"))
    // rows from the first load read null for the new column
    val rows = wh.get("evolve").toOption.get.orderBy("id").collect()
    assert(rows.length == 2)
  }

  test("update overwrite preserves the meta sidecar") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    wh.load("mk", Seq((1L, "a")).toDF("id", "name"))
    wh.setExpiry("mk", Some(java.time.Instant.parse("2030-01-01T00:00:00Z")))
    assert(wh.update("mk", Seq((2L, "b")).toDF("id", "name"), overwrite = true).isRight)
    val m = wh.meta("mk").toOption.get
    assert(m.schema.nonEmpty, "overwrite lost the schema sidecar")
    assert(m.expiresAtMillis.contains(
      java.time.Instant.parse("2030-01-01T00:00:00Z").toEpochMilli),
      "overwrite lost the expiry")
  }

  test("schemaless create is legal; get returns an empty typed frame after setSchema") {
    val wh = freshWh()
    assert(wh.create("bare").isRight)
    assert(wh.get("bare").toOption.get.count() == 0)
    assert(wh.setSchema("bare",
      Seq(graft.schema.FieldRepr("x", "INTEGER", "NULLABLE"))).isRight)
    assert(wh.get("bare").toOption.get.schema.fieldNames.toSeq == Seq("x"))
  }

  test("update overwrite replaces rows") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    wh.load("u1", Seq((1L, "a")).toDF("id", "name"))
    assert(wh.update("u1", Seq((9L, "z")).toDF("id", "name"), overwrite = true).isRight)
    val rows = wh.get("u1").toOption.get.select("id").as[Long].collect().toSeq
    assert(rows == Seq(9L))
  }

  test("chunked load writes multiple files for multi-chunk data") {
    val wh = freshWh()
    val limit = 2048L
    // three input partitions and no shuffle, so the load and the
    // reference cut the same row sequences; row sizes vary so the
    // greedy packing leaves uneven chunks
    val df = spark.range(0, 400, 1, 3).select(col("id"),
      expr("repeat('x', cast(id % 37 as int) + 10)").as("payload"))
    val sized = graft.ingest.Ingest.prepare(df)
    val ref = graft.ingest.Chunker.greedyChunkIds(sized
        .withColumn("_sz", graft.ingest.Ingest.rowJsonSize(sized)), "_sz", limit)
      .fold(e => fail(e.message), identity)
    // (rows, JSON bytes) of every reference chunk
    val refChunks = try ref.df.groupBy("_chunk")
        .agg(count(lit(1)), sum("_sz")).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
      finally ref.unpersist()
    def onDisk() = new java.io.File(s"${wh.warehouseDir}/ch").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    // an empty batch creates the table (its schema file) and adds nothing
    assert(wh.load("ch", df.limit(0), sizeLimit = limit) == Right(0L))
    val created = onDisk()
    assert(wh.load("ch", df, sizeLimit = limit) == Right(400L))
    val files = (onDisk() -- created).toSeq
    assert(files.length == ref.chunks && ref.chunks >= 5,
      s"${files.length} files for ${ref.chunks} chunks")
    val fileChunks = files.map { f =>
      val d = spark.read.parquet(f)
      val r = d.agg(count(lit(1)), sum(graft.ingest.Ingest.rowJsonSize(d)))
        .head()
      (r.getLong(0), r.getLong(1))
    }.sorted
    assert(fileChunks.forall(_._2 <= limit), fileChunks)
    assert(fileChunks == refChunks)
    val got = wh.get("ch").toOption.get.orderBy("id").collect().toSeq
    assert(got == df.orderBy("id").collect().toSeq)
    // an empty batch that adds a column: get sees it, as describe does,
    // before any row carries it
    val widened = df.limit(0).withColumn("score", lit(null).cast("double"))
    assert(wh.load("ch", widened, sizeLimit = limit) == Right(0L))
    val evolved = wh.get("ch").toOption.get
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "payload", "score"))
    assert(wh.describe("ch").exists(_.contains("score")))
    assert(evolved.filter(col("score").isNull).count() == 400L)
    assert(spark.table("ch").columns.contains("score"))
    assert(wh.load("ch_empty", df.limit(0), sizeLimit = limit) == Right(0L))
    assert(wh.get("ch_empty").map(_.schema.fieldNames.toSeq) ==
      Right(Seq("id", "payload")))
    assert(wh.get("ch_empty").toOption.get.count() == 0L)
    assert(wh.describe("ch_empty").exists(_.contains("payload")))
  }

  test("a row over the size limit refuses the load before its commit: " +
    "generation, rows and manifest unchanged, no staging left") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    val limit = 4096L
    assert(wh.load("ov", (1L to 10L).map(i => (i, "a")).toDF("id", "payload"),
      sizeLimit = limit) == Right(10L))
    val gen0 = wh.currentGeneration("ov")
    val live0 = wh.get("ov").toOption.get.inputFiles.toSet
    def onDisk() = new java.io.File(s"${wh.warehouseDir}/ov").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val disk0 = onDisk()
    val batch = Seq((11L, "b"), (12L, "x" * 5000), (13L, "c"))
      .toDF("id", "payload").repartition(2)
    val bigRow = batch.filter(col("id") === 12L)
      .select(graft.ingest.Ingest.rowJsonSize(batch)).as[Int].head().toLong
    assert(wh.load("ov", batch, sizeLimit = limit) ==
      Left(RowOversize(bigRow, limit)))
    assert(wh.currentGeneration("ov") == gen0)
    assert(wh.get("ov").toOption.get.inputFiles.toSet == live0)
    assert(wh.get("ov").toOption.get.count() == 10L)
    assert(onDisk() == disk0, "the refused load left data files behind")
    assert(!new java.io.File(wh.warehouseDir).list()
      .exists(_.contains("__append_tmp_")), "staging dir left behind")
  }

  test("a load into an existing table is one Spark job, loadJson adds " +
    "only its inference job, and the get after either runs none") {
    val wh = freshWh()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf[A](body: => A): (A, Int) = {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      val j0 = jobs.get()
      val r = body
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      (r, jobs.get() - j0)
    }
    def lines(from: Int) = (from until from + 150).map(i =>
      s"""{"id":$i,"name":"n$i","score":${i * 0.25}}""")
    assert(wh.loadJson("jc", lines(0)) == Right(150L))
    spark.sparkContext.addSparkListener(listener)
    try {
      val (json, jsonJobs) = jobsOf(wh.loadJson("jc", lines(150)))
      assert(json == Right(150L))
      assert(jsonJobs == 2, s"loadJson ran $jsonJobs jobs")
      val (_, getJobs) = jobsOf(wh.get("jc"))
      assert(getJobs == 0, s"get after loadJson ran $getJobs jobs")
      val batch = spark.range(300, 450).select(col("id"),
        concat(lit("n"), col("id").cast("string")).as("name"),
        (col("id") * 0.25).as("score"))
      val (df, dfJobs) = jobsOf(wh.load("jc", batch))
      assert(df == Right(150L))
      assert(dfJobs == 1, s"load(df) ran $dfJobs jobs")
      val (all, getJobs2) = jobsOf(wh.get("jc"))
      assert(getJobs2 == 0, s"get after load ran $getJobs2 jobs")
      assert(all.toOption.get.count() == 450L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the first loadJson into a schemaless table runs the same two jobs " +
    "as the second: it inherits the empty generation's cached scan") {
    val wh = freshWh()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf[A](body: => A): (A, Int) = {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      val j0 = jobs.get()
      val r = body
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      (r, jobs.get() - j0)
    }
    def lines(from: Int) = (from until from + 150).map(i =>
      s"""{"id":$i,"name":"n$i","score":${i * 0.25}}""")
    assert(wh.create("sl").isRight)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (first, firstJobs) = jobsOf(wh.loadJson("sl", lines(0)))
      assert(first == Right(150L))
      val (second, secondJobs) = jobsOf(wh.loadJson("sl", lines(150)))
      assert(second == Right(150L))
      assert(firstJobs == 2 && secondJobs == 2,
        s"loadJson ran $firstJobs jobs into the schemaless table, " +
          s"$secondJobs on the second load")
      val (all, getJobs) = jobsOf(wh.get("sl"))
      assert(getJobs == 0, s"get after loadJson ran $getJobs jobs")
      val df = all.toOption.get
      assert(df.schema.fieldNames.toSet == Set("id", "name", "score"))
      assert(df.count() == 300L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("after every verb, get's schema equals a full mergeSchema read of " +
    "the live generation's files") {
    val wh = freshWh()
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(7)
    def reference(): Unit = {
      val live = wh.get("sd").toOption.get
      // the served frame also reads the deletion vectors' files
      val dataFiles = live.inputFiles.toSeq.filterNot(_.contains("/_graft_dv/"))
      val full = spark.read.option("mergeSchema", "true").parquet(dataFiles: _*)
      assert(live.schema == full.schema,
        s"\nserved:    ${live.schema.treeString}\nreference: ${full.schema.treeString}")
    }
    def step(label: String)(verb: => Either[WarehouseError, Any]): Unit = {
      verb.fold(e => fail(s"$label: ${e.message}"), _ => ())
      withClue(label)(reference())
    }
    val ids = rnd.shuffle((1L to 80L).toList)
    step("load")(wh.load("sd",
      ids.take(30).map(i => (i, s"n$i")).toDF("id", "name")))
    // one row per chunk: forty added files, each footer read on the driver
    step("load adding a column, one file a row")(wh.load("sd",
      ids.slice(30, 70).map(i => (i, s"n$i", rnd.nextInt(100) * 0.5))
        .toDF("id", "name", "score"), sizeLimit = 48L))
    step("loadJson with a nested record")(wh.loadJson("sd",
      ids.drop(70).map(i => s"""{"id":$i,"name":"j$i",""" +
        s""""geo":{"lat":${rnd.nextInt(90)}.5,"tag":"t$i"}}""")))
    step("updateWhereMor")(wh.updateWhereMor("sd",
      Map("score" -> lit(1.5)), col("id") <= 10L))
    step("upsert")(wh.upsert("sd",
      Seq((ids.head, "up", 2.5), (1000L, "fresh", 3.5))
        .toDF("id", "name", "score"), Seq("id")))
    step("compactSmall")(wh.compactSmall("sd"))
    step("deleteWhere")(wh.deleteWhere("sd", col("id") % 3 === 0L))
    assert(wh.get("sd").toOption.get.count() ==
      (ids :+ 1000L).count(_ % 3 != 0))
  }

  test("upsert replaces matched keys, appends fresh keys, preserves meta") {
    val spark0 = spark
    import spark0.implicits._
    val wh = freshWh()
    val base = (1L to 20L).map(i => (i, s"v$i", i * 10.0)).toDF("id", "name", "score")
    assert(wh.load("ups", base).isRight)
    wh.setExpiry("ups", Some(java.time.Instant.ofEpochMilli(99999999999999L)))
    val batch = Seq((5L, "CHANGED", 5.5), (21L, "FRESH", 21.5))
      .toDF("id", "name", "score")
    assert(wh.upsert("ups", batch, Seq("id")).isRight)
    val rows = wh.get("ups").toOption.get.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == 21)
    assert(rows(4) == ((5L, "CHANGED", 5.5)))
    assert(rows(20) == ((21L, "FRESH", 21.5)))
    assert(rows(0) == ((1L, "v1", 10.0)))
    // meta (expiry + schema) survives the directory swap
    assert(wh.meta("ups").toOption.get.expiresAtMillis.contains(99999999999999L))
    // missing key column rejected
    assert(wh.upsert("ups", Seq(("x", 1.0)).toDF("name", "score"), Seq("id")).isLeft)
    // unknown table rejected
    assert(wh.upsert("nope", batch, Seq("id")).isLeft)
  }

  test("compact shrinks file count, clusters, preserves content and meta") {
    val spark0 = spark
    import spark0.implicits._
    val wh = freshWh()
    val df = (1L to 500L).map(i => (i, s"p$i")).toDF("id", "payload")
    assert(wh.load("cmp", df.repartition(24)).isRight)
    wh.setExpiry("cmp", Some(java.time.Instant.ofEpochMilli(99999999999999L)))
    def parquetFiles() = new java.io.File(s"${wh.warehouseDir}/cmp")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles() >= 20)
    assert(wh.compact("cmp", targetFiles = 2, sortCols = Seq("id")).isRight)
    // retire-in-place (r15): the LIVE inventory shrinks to the target;
    // the replaced files stay on disk for snapshot readers until
    // vacuumRetired physically reclaims them
    assert(wh.get("cmp").toOption.get.inputFiles.length <= 2)
    assert(parquetFiles() > 2,
      "retired files should remain on disk until vacuumRetired")
    assert(wh.vacuumRetired("cmp", java.time.Duration.ZERO,
      java.time.Instant.now().plusSeconds(5)).isRight)
    assert(parquetFiles() <= 2)
    // content identical
    val rows = wh.get("cmp").toOption.get.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 500 && rows(0) == ((1L, "p1"))
      && rows(499) == ((500L, "p500")))
    // range clustering: each file's id span is disjoint (min/max skip)
    val perFile = wh.get("cmp").toOption.get
      .groupBy(input_file_name().as("f"))
      .agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
    // meta survives the swap
    assert(wh.meta("cmp").toOption.get.expiresAtMillis.contains(99999999999999L))
    // unknown table rejected
    assert(wh.compact("nope", 2).isLeft)
  }

  test("compact refuses bucketed tables instead of voiding their layout") {
    val spark0 = spark
    import spark0.implicits._
    val wh = freshWh()
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("id", "k")
    assert(wh.createBucketed("cmpb", df, Seq("k"), numBuckets = 4).isRight)
    val res = wh.compact("cmpb", 2)
    assert(res.isLeft)
    assert(res.left.exists(_.message.contains("bucketed")))
    spark.sql("DROP TABLE IF EXISTS cmpb")
  }

  test("a first load into a missing table runs at most two Spark jobs, " +
    "and a created table reads the schema its empty parquet file gave") {
    val wh = freshWh()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val batch = spark.range(0, 100).select(col("id"),
      concat(lit("n"), col("id").cast("string")).as("name"))
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      val j0 = jobs.get()
      assert(wh.load("fresh", batch) == Right(100L))
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      val loadJobs = jobs.get() - j0
      assert(loadJobs <= 2, s"first load ran $loadJobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(wh.get("fresh").toOption.get.count() == 100L)

    // the schema a parquet round trip of the declared fields reads back
    val schema = Seq(FieldRepr("id", "INTEGER", "REQUIRED"),
      FieldRepr("name", "STRING", "NULLABLE"),
      FieldRepr("amount", "NUMERIC", "NULLABLE", precision = Some(10),
        scale = Some(2)),
      FieldRepr("at", "TIMESTAMP", "NULLABLE"),
      FieldRepr("tags", "STRING", "REPEATED"),
      FieldRepr("geo", "RECORD", "NULLABLE", fields = Seq(
        FieldRepr("lat", "FLOAT", "REQUIRED"),
        FieldRepr("ok", "BOOLEAN", "NULLABLE"))))
    val roundTrip = Files.createTempDirectory("graft-wh-schema").resolve("p")
      .toString
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.schema.Widen.toStructType(schema))
      .write.parquet(roundTrip)
    val expected = spark.read.parquet(roundTrip).schema
    assert(wh.create("declared", schema).isRight)
    assert(wh.get("declared").toOption.get.schema == expected)
    assert(wh.describe("declared").toOption.get ==
      graft.schema.Describe("declared", schema))
  }
}
