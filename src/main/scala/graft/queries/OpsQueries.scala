package graft.queries

import graft.Tables
import graft.ingest.{Chunker, Ingest}
import graft.schema.{Describe, Sanitize, SchemaCodec, SchemaInference, Widen}
import graft.warehouse.{JdbcWarehouse, QuerySort, SparkWarehouse, Warehouse}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One driver-gate query per ingest/schema/warehouse operator of
  * SURVEY.md §2 (the reference's own computational core), each runnable
  * on the testdata tables and — wherever ANSI SQL can express the
  * semantics — paired with a DuckDB oracle. Deterministic small outputs
  * (inferred schemas, codec round-trips, describe trees) use VALUES
  * literals as their oracle.
  */
object OpsQueries {

  /** Parent of every op gate's scratch warehouse: created once per JVM
    * and removed, with everything under it, by one shutdown hook. The
    * gates return lazy frames over their warehouses, so no gate can
    * delete its own when it returns.
    */
  private lazy val tmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-ops-wh")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh scratch warehouse directory under [[tmpRoot]]. */
  private[graft] def tmpWarehouseDir(): String =
    java.nio.file.Files.createTempDirectory(tmpRoot, "wh").toString

  private def tmpWarehouse(s: SparkSession): SparkWarehouse =
    new SparkWarehouse(s, tmpWarehouseDir())

  /** The SCD2 fixture history shared by op_scd2 / op_scd2_asof: a 100-key
    * snapshot at 2020-01-01, batch1 (renames 1-5, segment moves 11-15,
    * inserts 9001-9003) at 2021-06-01, batch2 (re-renames 1-3) at
    * 2022-01-01.
    */
  private def scd2History(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ts0 = lit("2020-01-01 00:00:00").cast("timestamp")
    val base = Tables(s, dir, "customer").filter(col("c_custkey") <= 100)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        ts0.as("valid_from"))
    val hist0 = graft.ops.Scd2.initial(base)
    val custs = Tables(s, dir, "customer").filter(col("c_custkey") <= 15)
    val batch1 = custs.select(col("c_custkey"),
        when(col("c_custkey") <= 5, lit("RENAMED"))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") >= 11, lit("ARCTIC"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        lit("2021-06-01 00:00:00").cast("timestamp").as("ts"))
      .unionByName((9001 to 9003).map(k => (k.toLong, "NEW", "WEB"))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .withColumn("ts", lit("2021-06-01 00:00:00").cast("timestamp")))
    val hist1 = graft.ops.Scd2.merge(hist0, batch1,
      Seq("c_custkey"), Seq("c_name", "c_mktsegment"), "ts")
    val batch2 = custs.filter(col("c_custkey") <= 3)
      .select(col("c_custkey"), lit("RENAMED2").as("c_name"),
        col("c_mktsegment"),
        lit("2022-01-01 00:00:00").cast("timestamp").as("ts"))
    graft.ops.Scd2.merge(hist1, batch2,
      Seq("c_custkey"), Seq("c_name", "c_mktsegment"), "ts")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- ops #1-7: key sanitization as a plan-only deep rename.
    "op_clean_keys" -> ((s: SparkSession, dir: String) => {
      val dirty = Tables(s, dir, "documents")
        .withColumnRenamed("doc_id", "doc id")
        .withColumnRenamed("n_chars", "n.chars")
        .withColumnRenamed("lang", "lang!")
        .select("`doc id`", "`n.chars`", "`lang!`")
      Sanitize.cleanColumns(dirty).orderBy("doc_id")
    }),

    // ---- op #8: prepare — DataFrame → JSON records → lattice inference
    // → parse-back (the reference's records round trip).
    "op_prepare_roundtrip" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val parsed = Ingest.prepareJson(s, docs.toJSON)
      parsed.select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    // ---- op #9: json_size — exact per-row JSON bytes, one aggregate.
    "op_json_size" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      docs.groupBy(col("source"))
        .agg(sum(octet_length(to_json(struct(col("doc_id"), col("n_chars")))))
          .cast("long").as("json_bytes"))
        .orderBy("source")
    }),

    // ---- op #10: sample — deterministic-seed uniform sample. The RNG
    // is engine-specific, so the oracle checks the full CONTRACT rather
    // than the membership draw: exactly 50 rows, all distinct, every
    // one present in the input table (left-outer against the domain —
    // a non-member would surface as n_outside > 0).
    "op_sample" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents").select("doc_id")
      Ingest.sample(docs, 50).select(col("doc_id").as("sid"))
        .alias("s")
        .join(docs.alias("d"), col("s.sid") === col("d.doc_id"), "left_outer")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("s.sid")).as("n_distinct"),
          sum(when(col("d.doc_id").isNull, 1L).otherwise(0L)).as("n_outside"))
    }),

    // ---- op #10b: the exact-n contract of `sample` (random.sample
    // semantics, data.py:179-204) made oracle-checkable: exactly n
    // distinct rows, all from the input domain.
    "op_sample_exact" -> ((s: SparkSession, dir: String) => {
      val sampled = Ingest.sample(
        Tables(s, dir, "orders").select("o_orderkey"), 40)
      sampled.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        max(when(col("o_orderkey") < 0, 1L).otherwise(0L)).as("out_of_domain"))
    }),

    // ---- op #11: subset — positional slice under a declared order.
    "op_subset" -> ((s: SparkSession, dir: String) => {
      Ingest.subset(Tables(s, dir, "orders").select("o_orderkey"),
          Seq(col("o_orderkey")), start = 100, size = 50)
        .orderBy("o_orderkey")
    }),

    // ---- op #11b: the general global-position operator behind subset
    // (row_number-without-a-global-window), oracled against row_number.
    "op_row_index" -> ((s: SparkSession, dir: String) => {
      Ingest.withPosition(Tables(s, dir, "orders").select("o_orderkey"),
          Seq(col("o_orderkey")), as = "pos")
        .filter(col("pos") < 100)
        .orderBy("o_orderkey")
    }),

    // ---- op #12a: banded chunk ids (file-split semantics) — global byte
    // offsets via the partition-offset composition, no global window.
    "op_chunks_banded" -> ((s: SparkSession, dir: String) => {
      Chunker.bandedChunkIds(
          Tables(s, dir, "documents").select("doc_id", "n_chars"),
          "n_chars", Seq(col("doc_id")), 10000L)
        .select(col("doc_id"), col("_chunk").as("chunk_id"))
        .orderBy("doc_id")
    }),

    // ---- op #12b: exact greedy hard-cap chunking (every chunk ≤ limit,
    // order preserved) — oracled by a recursive CTE running the same
    // greedy scan.
    "op_chunks_greedy" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "n_chars")
        .coalesce(1).sortWithinPartitions("doc_id")
      Chunker.greedyChunkIds(docs, "n_chars", 10000L) match {
        case Right(ch) =>
          val out = ch.df.select(col("doc_id"), col("_chunk").as("chunk_id"))
            .orderBy("doc_id")
          // release the chunker's cache before handing the frame out: the
          // gate session must end persist-clean, and the deterministic
          // coalesce(1)+sort input recomputes identically for the
          // driver's action
          ch.unpersist()
          out
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- op #13: expand_iterable — flatten/explode of a split column.
    "op_flatten_tokens" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .orderBy("doc_id", "token")
    }),

    // ---- ops #14-25: schema inference over the events.props JSON column
    // (distributed lattice build + condense). Output = the inferred
    // api_repr as rows.
    "op_infer_props_schema" -> ((s: SparkSession, dir: String) => {
      val lines = Tables(s, dir, "events").select("props")
        .as(org.apache.spark.sql.Encoders.STRING)
      val (repr, _) = SchemaInference.inferJson(s, lines)
      val rows = repr.map(f => Row(f.name, f.fieldType, f.mode))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("field_path", StringType),
          StructField("field_type", StringType),
          StructField("mode", StringType))))
        .orderBy("field_path")
    }),

    // ---- ops #26-32: schema codec — StructType → api_repr JSON →
    // api_repr → rows, on the lineitem schema.
    "op_schema_codec" -> ((s: SparkSession, dir: String) => {
      val schema = Tables(s, dir, "lineitem").schema
      val repr = SchemaCodec.fromJson(SchemaCodec.toJson(SchemaCodec.fromStructType(schema)))
      val rows = repr.map(f => Row(f.name, f.fieldType, f.mode))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("field_name", StringType),
          StructField("field_type", StringType),
          StructField("mode", StringType))))
        .orderBy("field_name")
    }),

    // ---- op #33: describe — box-drawing schema tree as a single row.
    "op_describe" -> ((s: SparkSession, dir: String) => {
      val repr = SchemaCodec.fromStructType(Tables(s, dir, "region").schema)
      val tree = Describe("region", repr, echo = false)
      import s.implicits._
      Seq(tree).toDF("tree")
    }),

    // ---- ops #34-43, #47-51: table lifecycle — create/load/rebuild/drop
    // over a warehouse dir; reports the loaded row count.
    // ---- table maintenance: column statistics (ANALYZE) — one pass,
    // every column's counts/NDV/min/max together, exploded long-form.
    "op_profile" -> ((s: SparkSession, dir: String) => {
      graft.ops.Profile.profile(Tables(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"))
        .orderBy("column")
    }),

    // ---- partitioned-table read path: events stored one directory per
    // event_type; a type-filtered read scans only that directory
    // (PartitionFilters — pruning pinned by PlanSpec).
    "op_partitioned_read" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      wh.createPartitioned("events_by_type",
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type")), Seq("event_type")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("events_by_type") match {
        case Right(df) => df.filter(col("event_type") === "click")
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- table maintenance: a fragmented load (32 small files)
    // compacted into 2 range-clustered files — content must be exactly
    // preserved (the oracle reads the source table); the file-count
    // and clustering effects are pinned by WarehouseSpec.
    "op_compact" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      wh.load("op_compact_t", orders.repartition(32)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.compact("op_compact_t", targetFiles = 2,
        sortCols = Seq("o_orderkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("op_compact_t") match {
        case Right(df) => df.orderBy("o_orderkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- file-level zone-map skipping: cluster (compact on the key),
    // collect per-file stats, scan with a range predicate through the
    // pruned path. Rows must be EXACTLY the plain filter's (the oracle
    // reads the source table); that fewer FILES are read is pinned by
    // Round11Spec (inputFiles), not hash-visible here.
    "op_scan_pruned" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      wh.load("op_skip_t", li.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.compact("op_skip_t", targetFiles = 8,
        sortCols = Seq("l_orderkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_skip_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.scanPruned("op_skip_t",
        col("l_orderkey") >= 100L && col("l_orderkey") <= 500L) match {
        case Right(df) => df.orderBy("l_orderkey", "l_partkey", "l_suppkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- Z-order clustering: after a Morton-curve rewrite over
    // (o_orderkey, o_custkey), a selective predicate on the SECOND
    // dimension prunes files too (a single-column sort would leave
    // o_custkey unclustered). Content equality oracled here; the
    // files-skipped-on-both-dims property is pinned by Round11Spec.
    "op_zorder_scan" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      wh.load("op_zorder_t", orders.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.compactZOrder("op_zorder_t", targetFiles = 16,
        zCols = Seq("o_orderkey", "o_custkey"), buckets = 64) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_zorder_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.scanPruned("op_zorder_t", col("o_custkey") < 100L) match {
        case Right(df) => df.orderBy("o_orderkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- prefix (LIKE 'p%') skipping: clustered on the string column,
    // the StartsWith evaluator closes every file whose truncated
    // [min,max] window excludes the prefix — the top string predicate
    // on crawl/URL corpora. Content equality oracled here; the
    // files-skipped property is pinned by Round12Spec.
    "op_prefix_scan" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      wh.load("op_prefix_t", docs.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.compact("op_prefix_t", targetFiles = 8,
        sortCols = Seq("source", "doc_id")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_prefix_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.scanPruned("op_prefix_t", col("source").startsWith("src1")) match {
        case Right(df) => df.orderBy("doc_id")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- Z-order over a STRING and a DATE dimension (the layout keys
    // of a real training-data table: source, date): both dims prune
    // after the rewrite via their order-preserving numeric proxies.
    // Content equality oracled here; per-dim pruning pinned by
    // Round12Spec.
    "op_zorder_string" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
      wh.load("op_zstr_t", orders.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.compactZOrder("op_zstr_t", targetFiles = 16,
        zCols = Seq("o_orderstatus", "o_orderdate"), buckets = 64) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_zstr_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.scanPruned("op_zstr_t", col("o_orderstatus") === "F" &&
        col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp")) match {
        case Right(df) => df.orderBy("o_orderkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- Bloom-filter skipping: on a RANDOM layout every file's
    // [min,max] spans the key domain (zone maps prune nothing), but a
    // per-file Bloom filter proves the point lookup absent from all but
    // ~1 file. Content equality oracled here; the files-skipped
    // property is pinned by Round11Spec.
    "op_bloom_scan" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      wh.load("op_bloom_t", li.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_bloom_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeBloom("op_bloom_t", Seq("l_orderkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.scanPruned("op_bloom_t", col("l_orderkey") === 1L) match {
        case Right(df) => df.orderBy("l_linenumber")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- incremental stats maintenance: append AFTER an analyze, then
    // the incremental re-analyze stats ONLY the new files (the 100 TB
    // append workflow — never a full re-scan); the pruned scan over the
    // mixed-generation table returns exactly the plain filter's rows.
    "op_stats_incremental" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val first = orders.filter(col("o_orderkey") % 2 === 0)
      val second = orders.filter(col("o_orderkey") % 2 =!= 0)
      wh.load("op_incstat_t", first.repartition(4)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_incstat_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.load("op_incstat_t", second.repartition(4)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_incstat_t") match { // incremental: new files only
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.scanPruned("op_incstat_t", col("o_orderkey") <= 1000L) match {
        case Right(df) => df.orderBy("o_orderkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- dynamic FILE pruning for an equi-join: the selective dim's
    // collected keys (hull BETWEEN + IN) close fact files via the same
    // zone-map/Bloom FileIndex any scan uses — the file-level analog of
    // dynamic partition pruning. Join content oracled here; files-read
    // reduction pinned by Round11Spec.
    "op_join_pruned" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
      wh.load("op_dfp_fact", li.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.compact("op_dfp_fact", targetFiles = 8,
        sortCols = Seq("l_partkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_dfp_fact") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val dim = Tables(s, dir, "part").filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_name"))
      wh.joinPruned("op_dfp_fact", "l_partkey", dim, "p_partkey") match {
        case Right(df) => df.orderBy("l_orderkey", "l_linenumber")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- metadata-only aggregates: COUNT/MIN/MAX served from the
    // stats sidecar with zero data files read (Round11Spec pins the
    // zero-jobs warm path); values must equal a real scan's — which is
    // exactly what the DuckDB oracle computes.
    "op_stats_agg" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      wh.load("op_fastagg_t", orders.repartition(6)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_fastagg_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.statsAggFast("op_fastagg_t",
        Seq("o_orderkey", "o_totalprice")) match {
        case Right(df) => df
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- metadata-only SUM: per-file exact integral sums folded from
    // the stats sidecar with zero data files read (the micro-partition
    // aggregate fold); values must equal a real scan's — the DuckDB
    // oracle computes exactly that.
    "op_stats_sum" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      wh.load("op_fastsum_t", li.repartition(6)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_fastsum_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.statsSumFast("op_fastsum_t",
        Seq("l_orderkey", "l_linenumber")) match {
        case Right(df) => df
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- metadata-only SUM over DECIMAL columns (the reference maps
    // NUMERIC/BIGNUMERIC to DecimalType — money columns): per-file
    // exact decimal sums folded driver-side; the fold must land in
    // EXACTLY the scan's SUM result type, value-identical to DuckDB's
    // scan. Decimals are built from integral sources so the
    // double→decimal cast is exact on both engines.
    "op_stats_sum_decimal" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem").select(
        col("l_orderkey").cast("decimal(18,2)").as("price"),
        col("l_linenumber").cast("decimal(9,3)").as("qty"))
      wh.load("op_fastsum_dec_t", li.repartition(6)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_fastsum_dec_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.statsSumFast("op_fastsum_dec_t", Seq("price", "qty")) match {
        case Right(df) => df.select(col("cnt"),
          col("sum_price").cast("string").as("sum_price"),
          col("sum_qty").cast("string").as("sum_qty"))
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- metadata-only approx COUNT(DISTINCT): per-file HLL sketches
    // unioned driver-side with zero data files read. The sketch
    // estimate itself is asserted in-gate (within 5% of exact AND
    // identical to the one-pass same-estimator sketch); the
    // hash-compared output is the EXACT distinct counts, which DuckDB
    // reproduces.
    "op_distinct_sketch" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      wh.load("op_hll_t", li.repartition(6)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeSketch("op_hll_t", Seq("l_orderkey", "l_suppkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val est = wh.approxDistinctFast("op_hll_t",
        Seq("l_orderkey", "l_suppkey")) match {
        case Right(df) => df.head
        case Left(e) => throw new RuntimeException(e.message)
      }
      val full = wh.get("op_hll_t") match {
        case Right(df) => df
        case Left(e) => throw new RuntimeException(e.message)
      }
      val onePass = full.select(
        expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 12))"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_suppkey, 12))")).head
      val exact = full.agg(
        countDistinct(col("l_orderkey")).as("nd_orderkey"),
        countDistinct(col("l_suppkey")).as("nd_suppkey"))
      val exactRow = exact.head
      (0 to 1).foreach { i =>
        require(est.getLong(i) == onePass.getLong(i),
          s"metadata union drifts from one-pass sketch at col $i")
        require(math.abs(est.getLong(i) - exactRow.getLong(i)).toDouble /
          exactRow.getLong(i) < 0.05,
          s"sketch estimate off by >5% at col $i")
      }
      exact
    }),

    // ---- prefix Bloom pruning: per-file filters over fixed-length key
    // prefixes close files for LIKE 'q%' on a RANDOM (uncompacted)
    // layout, where zone maps are blind. Results must equal the plain
    // LIKE — DuckDB computes exactly that.
    "op_prefix_bloom" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders").select(
        concat(lit("https://"), col("o_orderpriority"), lit("/o"),
          col("o_orderkey").cast("string")).as("url"),
        col("o_orderkey"))
      // random layout on purpose: no compact, no sort
      wh.load("op_pfxbloom_t", orders.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_pfxbloom_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeBloom("op_pfxbloom_t", Seq("url"), prefixBytes = 16) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      // |probe| = 17 bytes ≥ 16: the prefix filter applies
      wh.get("op_pfxbloom_t") match {
        case Right(df) => df.filter(col("url").startsWith("https://2-HIGH/o7"))
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- n-gram Bloom pruning: per-file filters over every n-byte
    // window serve the substring predicate (LIKE '%x%') no zone map or
    // point filter can. Results must equal the plain LIKE — DuckDB
    // computes exactly that.
    "op_ngram_bloom" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders").select(
        concat(lit("doc of "), col("o_orderpriority"), lit(" order "),
          col("o_orderkey").cast("string"), lit(" end")).as("body"),
        col("o_orderkey"))
      wh.load("op_ngrambloom_t", orders.repartition(8)) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeStats("op_ngrambloom_t") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.analyzeBloom("op_ngrambloom_t", Seq("body"), ngramBytes = 6) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("op_ngrambloom_t") match {
        case Right(df) => df.filter(col("body").contains(" order 7007 "))
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- live-file manifest (r14): every scan below is SERVED from the
    // committed `_graft_manifest` generation (zero directory listing on
    // the warm path); DML verbs commit a new one write-through. The gate
    // checks the served row count at every step against a second
    // derivation — the same mutations applied directly to the source
    // `orders` frame — then hash-compares the final DML result against
    // DuckDB computing the same mutations declaratively.
    "op_manifest_dml" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val t = "op_manifest_t"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      def countBoth(step: String, expected: DataFrame): Long = {
        val served = ok(wh.get(t)).count()
        val derived = expected.count()
        require(served == derived,
          s"manifest-served scan drifts from the source-side derivation " +
            s"after $step: $served vs $derived")
        served
      }
      val deleted = col("o_orderkey") % 5 === 0
      val appended = orders.filter(deleted &&
        col("o_orderpriority") === "1-URGENT")
      ok(wh.load(t, orders.repartition(6)))
      countBoth("load", orders)
      ok(wh.deleteWhere(t, deleted))
      val survivors = orders.filter(deleted.isNull || !deleted)
      countBoth("deleteWhere", survivors)
      ok(wh.load(t, appended))
      countBoth("append", survivors.unionByName(appended))
      ok(wh.compact(t, 4, Seq("o_orderkey")))
      countBoth("compact", survivors.unionByName(appended))
      ok(wh.get(t)).orderBy("o_orderkey", "o_orderstatus", "o_orderpriority")
    }),

    // ---- generation snapshots (r15): removal verbs retire files IN
    // PLACE (the new generation stops naming them); getAsOf rebuilds
    // any retained generation's scan from its manifest-history copy — a
    // metadata-only plan with zero directory listing. The gate
    // snapshots, mutates twice (CoW DELETE + UPDATE), asserts the
    // current state drifted, then outputs the AS-OF read — which must
    // hash-equal DuckDB computing the ORIGINAL projection.
    "op_asof_read" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val t = "op_asof_t"
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      ok(wh.load(t, orders.repartition(6)))
      val g = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.deleteWhere(t, col("o_orderkey") % 2 === 0))
      ok(wh.updateWhere(t, Map("o_orderstatus" -> lit("Z")),
        col("o_orderpriority") === "1-URGENT"))
      val cur = ok(wh.get(t)).count()
      val asof = ok(wh.getAsOf(t, g))
      require(asof.count() != cur,
        "as-of must differ from the mutated current state")
      asof.orderBy("o_orderkey", "o_orderstatus", "o_orderpriority")
    }),

    // ---- row-level snapshot CDC (r16): changesBetween derives the
    // changed-row set from the generation history's FILE diff — rows
    // in added files minus rows in removed files (bag semantics) are
    // the inserts, the reverse are the deletes; cost is O(changed
    // files), never O(table). The gate snapshots, CoW-DELETEs a third
    // of the keys, appends a disjoint slice, and outputs the change
    // feed — which DuckDB reproduces declaratively from the source.
    "op_cdc_between" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val t = "op_cdc_t"
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      ok(wh.load(t, orders.repartition(6)))
      val g1 = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.deleteWhere(t, col("o_orderkey") % 3 === 0))
      ok(wh.load(t, orders.filter(col("o_orderkey") % 7 === 0 &&
        !(col("o_orderkey") % 3 === 0))))
      val g2 = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.changesBetween(t, g1, g2))
        .orderBy("o_orderkey", "o_orderstatus", "o_orderpriority",
          "change_type")
    }),

    // ---- CDC across a compaction (r17): a row-preserving compact
    // inside the span is stamped dataChange=false and cancels at the
    // METADATA level — the feed is identical to the no-compact span
    // (and a pure-compact span reads zero files, pinned in Round17Spec).
    // DuckDB reproduces the feed declaratively; the compact must be
    // invisible to it.
    "op_cdc_compact" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val t = "op_cdcc_t"
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      ok(wh.load(t, orders.repartition(6)))
      val g1 = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.deleteWhere(t, col("o_orderkey") % 3 === 0))
      ok(wh.compact(t, 4, Seq("o_orderkey")))
      ok(wh.load(t, orders.filter(col("o_orderkey") % 7 === 0 &&
        !(col("o_orderkey") % 3 === 0)).select(
        (col("o_orderkey") + 40000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_orderpriority"))))
      val g2 = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.changesBetween(t, g1, g2))
        .orderBy("o_orderkey", "o_orderstatus", "o_orderpriority",
          "change_type")
    }),

    // ---- keyed CDC with update coalescing (r16): changesBetweenKeyed
    // joins the bag feed on the key so an UPDATE surfaces as a
    // preimage/postimage pair (the Delta CDF shape) instead of a raw
    // delete+insert; appends of fresh keys stay inserts, drops stay
    // deletes. DuckDB reproduces all four change classes declaratively.
    "op_cdc_keyed" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val t = "op_cdck_t"
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
      ok(wh.load(t, orders.repartition(6)))
      val g1 = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.deleteWhere(t, col("o_orderkey") % 5 === 0))
      ok(wh.updateWhere(t, Map("o_orderstatus" -> lit("Z")),
        col("o_orderpriority") === "1-URGENT"))
      ok(wh.load(t, orders.filter(col("o_orderkey") % 7 === 0).select(
        (col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_orderpriority"))))
      val g2 = wh.currentGeneration(t)
        .getOrElse(throw new RuntimeException("no manifest generation"))
      ok(wh.changesBetweenKeyed(t, g1, g2, Seq("o_orderkey")))
        .orderBy("o_orderkey", "change_type", "o_orderstatus",
          "o_orderpriority")
    }),

    // ---- distributed HLL fold (r14): above the file-count threshold
    // the metadata approx-distinct folds the per-file sketches in ONE
    // tiny aggregate over the sidecar (K rows to the driver) instead of
    // collecting O(files) sketch blobs. The gate forces BOTH paths and
    // requires identical estimates; the hash-compared output is the
    // EXACT distinct counts, which DuckDB reproduces.
    "op_hll_distributed" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      def ok[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      ok(wh.load("op_hlldist_t", li.repartition(6)))
      ok(wh.analyzeSketch("op_hlldist_t", Seq("l_partkey", "l_suppkey")))
      val driverFold = ok(wh.approxDistinctFast("op_hlldist_t",
        Seq("l_partkey", "l_suppkey"))).head
      s.conf.set("spark.graft.hll.foldThreshold", "0")
      val distFold = try ok(wh.approxDistinctFast("op_hlldist_t",
          Seq("l_partkey", "l_suppkey"))).head
        finally s.conf.unset("spark.graft.hll.foldThreshold")
      require(driverFold == distFold,
        s"distributed HLL fold drifts from driver fold: " +
          s"$driverFold vs $distFold")
      ok(wh.get("op_hlldist_t")).agg(
        countDistinct(col("l_partkey")).as("nd_partkey"),
        countDistinct(col("l_suppkey")).as("nd_suppkey"))
    }),

    // ---- row-level DML DELETE ... WHERE: one-pass rewrite keeping the
    // predicate's complement (materialize-then-swap, meta preserved).
    "op_delete_where" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      wh.load("op_delw_t", orders) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.deleteWhere("op_delw_t", col("o_orderkey") % 3 === 0) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("op_delw_t") match {
        case Right(df) => df.orderBy("o_orderkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- row-level DML UPDATE ... SET ... WHERE: one-pass rewrite,
    // codegen'd CASE per updated column.
    "op_update_where" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      wh.load("op_updw_t", orders) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.updateWhere("op_updw_t",
          Map("o_orderstatus" -> lit("X")),
          col("o_orderpriority") === "1-URGENT") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("op_updw_t") match {
        case Right(df) => df.orderBy("o_orderkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    "op_lifecycle_load" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val cust = Tables(s, dir, "customer")
      wh.load("customer_copy", cust) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val n = wh.get("customer_copy") match {
        case Right(df) => df.count()
        case Left(e) => throw new RuntimeException(e.message)
      }
      wh.drop("customer_copy")
      import s.implicits._
      Seq(n).toDF("n")
    }),

    // ---- op #40/#44: ADDITIVE SCHEMA EVOLUTION through load — the
    // second generation appends c_acctbal; the merged table must show
    // every row, first-generation rows null in the appended column
    // (a single-footer read would silently drop it — get() merges).
    "op_schema_evolution" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val cust = Tables(s, dir, "customer")
      wh.load("cust_evo", cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select("c_custkey", "c_name", "c_mktsegment")).fold(
        e => throw new RuntimeException(e.message), _ => ())
      wh.load("cust_evo", cust.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")).fold(
        e => throw new RuntimeException(e.message), _ => ())
      wh.get("cust_evo").fold(
        e => throw new RuntimeException(e.message), identity)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // ---- op #44 + #46: full load pipeline then the declared fetch
    // surface (projection + multi-column sort + limit).
    "op_load_fetch" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val docs = Tables(s, dir, "documents")
      wh.load("docs_copy", docs) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.fetch("docs_copy", Seq("doc_id", "n_chars"),
        Seq("n_chars" -> QuerySort.Desc, "doc_id" -> QuerySort.Asc), count = 10) match {
        case Right(df) => df
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- warehouse upsert (key-based MERGE): changed rows replace,
    // fresh rows append, untouched rows survive — the final table state
    // is fully oracle-expressible.
    "op_upsert" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val wh = tmpWarehouse(s)
      val base = Tables(s, dir, "customer")
        .select("c_custkey", "c_name").filter(col("c_custkey") <= 100)
      wh.load("cust_ups", base) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val changed = Tables(s, dir, "customer").filter(col("c_custkey") <= 10)
        .select(col("c_custkey"), lit("UPDATED").as("c_name"))
      val fresh = (1 to 5).map(k => (10000L + k, "NEW")).toDF("c_custkey", "c_name")
      wh.upsert("cust_ups", changed.unionByName(fresh), Seq("c_custkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("cust_ups") match {
        case Right(df) => df.orderBy("c_custkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- the ABC's swap-the-subclass premise, proven: the SAME
    // lifecycle as op_lifecycle_load (load → get → count → drop), driven
    // through the vendor-neutral `Warehouse` trait against the JDBC
    // (embedded Derby) backend instead of the parquet one.
    "op_lifecycle_jdbc" -> ((s: SparkSession, dir: String) => {
      val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc-wh").toString
      val wh: Warehouse = new JdbcWarehouse(s, s"jdbc:derby:$dbDir/wh;create=true")
      val cust = Tables(s, dir, "customer")
      wh.load("customer_copy", cust) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val n = wh.get("customer_copy") match {
        case Right(df) => df.count()
        case Left(e) => throw new RuntimeException(e.message)
      }
      wh.drop("customer_copy")
      import s.implicits._
      Seq(n).toDF("n")
    }),

    // ---- the swap-the-subclass premise for WRITES: the exact op_upsert
    // lifecycle (load → keyed MERGE of changed+fresh rows → read back),
    // driven through the vendor-neutral trait against the JDBC (Derby)
    // backend. Same oracle as op_upsert — the merged table state must be
    // backend-invariant.
    "op_upsert_jdbc" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc-ups").toString
      val wh: Warehouse = new JdbcWarehouse(s, s"jdbc:derby:$dbDir/wh;create=true")
      val base = Tables(s, dir, "customer")
        .select("c_custkey", "c_name").filter(col("c_custkey") <= 100)
      wh.load("cust_ups", base) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val changed = Tables(s, dir, "customer").filter(col("c_custkey") <= 10)
        .select(col("c_custkey"), lit("UPDATED").as("c_name"))
      val fresh = (1 to 5).map(k => (10000L + k, "NEW")).toDF("c_custkey", "c_name")
      wh.upsert("cust_ups", changed.unionByName(fresh), Seq("c_custkey")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("cust_ups") match {
        case Right(df) => df.orderBy("c_custkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- and for row-level DML: updateWhere + deleteWhere through the
    // trait on the JDBC backend (rewrite-and-stage-swap underneath —
    // the backend difference the trait hides).
    "op_dml_jdbc" -> ((s: SparkSession, dir: String) => {
      val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc-dml").toString
      val wh: Warehouse = new JdbcWarehouse(s, s"jdbc:derby:$dbDir/wh;create=true")
      val base = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
      wh.load("cust_dml", base) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.updateWhere("cust_dml", Map("c_mktsegment" -> lit("FLAGGED")),
        pmod(col("c_custkey"), lit(7)) === 0) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.deleteWhere("cust_dml", pmod(col("c_custkey"), lit(3)) === 0) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("cust_dml") match {
        case Right(df) => df.orderBy("c_custkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- partition-pruned MERGE: on a partitioned table whose
    // partition columns are part of the upsert key, only the touched
    // partition directories are rewritten (upsertPruned — survivors
    // semi-joined to the touched set, per-directory backup-rename swap).
    // The gate plants changes + fresh rows in ONE partition ('click');
    // every other partition must survive byte-identical, and the final
    // state is fully oracle-expressible.
    "op_upsert_partitioned" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val wh = tmpWarehouse(s)
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
      wh.createPartitioned("ev_part", ev, Seq("event_type")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      val changed = ev
        .filter(col("event_type") === "click" && pmod(col("event_id"), lit(5)) === 0)
        .withColumn("value", col("value") * 2)
      val fresh = (1 to 3).map(k => (9000000L + k, "click", 1.5))
        .toDF("event_id", "event_type", "value")
      wh.upsert("ev_part", changed.unionByName(fresh),
        Seq("event_id", "event_type")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("ev_part") match {
        case Right(df) => df.select("event_id", "event_type", "value")
          .orderBy("event_id")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- partition-pruned predicate DML: on a partitioned table, an
    // UPDATE whose predicate is partition-constant rewrites only the
    // matching directories, and a DELETE on the partition column drops
    // directories without reading a single data file. The gate chains
    // both against the event_type-partitioned events table; the final
    // state is fully oracle-expressible and every untouched partition
    // must survive byte-identical (pinned by Round9Spec's file-level
    // checks; here the oracle pins the values).
    "op_dml_partitioned" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
      wh.createPartitioned("ev_dml", ev, Seq("event_type")) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.updateWhere("ev_dml", Map("value" -> (col("value") * 2)),
        col("event_type") === "click") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.deleteWhere("ev_dml", col("event_type") === "view") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("ev_dml") match {
        case Right(df) => df.select("event_id", "event_type", "value")
          .orderBy("event_id")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- merge-on-read DML (r10): deletion vectors instead of a file
    // rewrite — DELETE commits a generation naming one vector file of
    // (file, row-position) tombstones, UPDATE commits delta row
    // versions and their vector in one generation, reads anti-join the
    // generation's vectors out, compact FOLDS them (materializes and
    // retires them in its own generation). The oracle replays the same verbs
    // as SQL over the input (= the copy-on-write semantics), so
    // MoR ≡ CoW is exactly the hash property; the gate additionally
    // asserts vectors were pending before the fold and gone after.
    "op_dml_mor" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      def unwrap[A](e: Either[graft.warehouse.WarehouseError, A]): A =
        e.fold(err => throw new RuntimeException(err.message), identity)
      unwrap(wh.load("op_mor_t", orders))
      unwrap(wh.deleteWhereMor("op_mor_t", col("o_orderkey") % 5 === 0))
      unwrap(wh.updateWhereMor("op_mor_t", Map("o_orderstatus" -> lit("M")),
        col("o_orderpriority") === "1-URGENT"))
      // this delete can only match rows the UPDATE appended as delta
      // files — vectors over deltas are the failure mode under test
      unwrap(wh.deleteWhereMor("op_mor_t",
        col("o_orderstatus") === "M" && col("o_orderkey") % 7 === 0))
      val pending = unwrap(wh.pendingDeletionVectors("op_mor_t"))
      if (pending <= 0L) throw new IllegalStateException(
        s"op_dml_mor: expected pending tombstones, got $pending")
      unwrap(wh.compact("op_mor_t", targetFiles = 2))
      val folded = unwrap(wh.pendingDeletionVectors("op_mor_t"))
      if (folded != 0L) throw new IllegalStateException(
        s"op_dml_mor: compact left $folded tombstones unfolded")
      unwrap(wh.get("op_mor_t")).orderBy("o_orderkey")
    }),

    // ---- sources: the JDBC sink + scan pair (BASELINE "JDBC/Parquet
    // sinks") made oracle-visible — rows written through the batched
    // JDBC insert into embedded Derby must read back bit-identical.
    "op_jdbc_roundtrip" -> ((s: SparkSession, dir: String) => {
      val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc-gate").toString
      val url = s"jdbc:derby:$dbDir/wh;create=true"
      val nation = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.Sources.writeJdbc(nation, url, "nation_rt",
        org.apache.spark.sql.SaveMode.Overwrite)
      graft.sources.Sources.jdbc(s, url, "nation_rt").orderBy("n_nationkey")
    }),

    // ---- sources: CSV sink + schema-supplied scan (the `full_schema`
    // analog — no inference pass on read). Doubles survive because the
    // writer emits Java shortest-round-trip representations.
    "op_csv_roundtrip" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-csv-gate").toString
      val part = Tables(s, dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      graft.sources.Sources.writeCsv(part, s"$out/part_rt")
      graft.sources.Sources.csv(s, s"$out/part_rt", Some(part.schema))
        .orderBy("p_partkey")
    }),

    // ---- table copy + rename lifecycle: storage-level copy (no query,
    // no re-encode), O(1) rename; the copy must stay intact after the
    // ORIGINAL is mutated (independence is the copy-job contract).
    "op_rename_copy" -> ((s: SparkSession, dir: String) => {
      val wh = tmpWarehouse(s)
      val nat = Tables(s, dir, "nation")
      wh.load("rc_src", nat) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.copyTable("rc_src", "rc_copy") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.rename("rc_copy", "rc_final") match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.deleteWhere("rc_src", col("n_nationkey") >= 0) match {
        case Left(e) => throw new RuntimeException(e.message)
        case Right(_) => ()
      }
      wh.get("rc_final") match {
        case Right(df) => df.orderBy("n_nationkey")
        case Left(e) => throw new RuntimeException(e.message)
      }
    }),

    // ---- sources: plain-text sink + scan (raw-corpus line format).
    "op_text_roundtrip" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-text-gate").toString
      val docs = Tables(s, dir, "documents").select(col("text"))
      graft.sources.Sources.writeText(docs, s"$out/docs_txt")
      graft.sources.Sources.text(s, s"$out/docs_txt")
        .orderBy("value")
    }),

    // ---- sources: binary-file scan (opaque media ingestion): files
    // staged from fixture bytes, read back as (path, length, content);
    // identity pinned via md5 against the fixture's text bytes.
    "op_binary_source" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-bin-gate")
      val rows = Tables(s, dir, "documents").filter(col("doc_id") < 5)
        .select("doc_id", "text").collect()
      rows.foreach { r =>
        java.nio.file.Files.write(
          out.resolve(s"doc_${r.getLong(0)}.bin"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      graft.sources.Sources.binaryFiles(s, out.toString, Some("*.bin"))
        .select(
          regexp_extract(col("path"), "doc_([0-9]+)\\.bin", 1).cast("long")
            .as("doc_id"),
          col("length"), md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    }),

    // ---- sources: JSON-lines sink read back through OUR warehouse-rule
    // inference (ints ⇒ INTEGER/Long, strings ⇒ STRING — not Spark's
    // JSON inference), closing the write→infer→load loop end to end.
    "op_json_roundtrip" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-json-gate").toString
      val docs = Tables(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.sources.Sources.writeJsonLines(docs, s"$out/docs_rt")
      graft.sources.Sources.jsonRecords(s, s"$out/docs_rt")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- malformed-row quarantine: a CSV shard with two broken lines
    // reads under PERMISSIVE + corrupt-record column — the scan
    // survives, good rows parse, bad rows surface as sentinel rows
    // (the caller's dead-letter decision) instead of vanishing
    // (DROPMALFORMED) or killing the ingest (FAILFAST).
    "op_csv_malformed" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.types._
      val out = java.nio.file.Files.createTempDirectory("graft-csvbad-gate")
      graft.sources.Sources.writeCsv(
        Tables(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        s"$out/good")
      java.nio.file.Files.write(out.resolve("bad.csv"),
        ("n_nationkey,n_name,n_regionkey\n" +
          "notanint,alpha,7\n" +
          "12,beta,notanint\n").getBytes("UTF-8"))
      // one directory, two provenances: the written shard + the bad file
      val part = new java.io.File(s"$out/good").listFiles()
        .find(_.getName.endsWith(".csv")).get
      java.nio.file.Files.copy(part.toPath, out.resolve("nation.csv"))
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      graft.sources.Sources.csvPermissive(s, s"$out/*.csv", schema)
        .select(
          when(col("_corrupt_record").isNotNull, lit(-1))
            .otherwise(col("n_nationkey")).as("n_nationkey"),
          when(col("_corrupt_record").isNotNull, lit("CORRUPT"))
            .otherwise(col("n_name")).as("n_name"),
          when(col("_corrupt_record").isNotNull, lit(-1))
            .otherwise(col("n_regionkey")).as("n_regionkey"))
        .orderBy("n_nationkey", "n_name")
    }),

    // ---- dynamic partition overwrite: rewriting ONE partition's data
    // replaces only that partition — static overwrite mode would drop
    // every other partition and the read-back would lose 4/5 of the
    // table, which the oracle (full table, click values doubled) would
    // catch immediately.
    "op_partition_overwrite" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-dpo-gate").toString
      val ev = Tables(s, dir, "events").select("event_id", "event_type", "value")
      ev.write.partitionBy("event_type").parquet(s"$out/t")
      ev.filter(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(s"$out/t")
      graft.sources.Sources.parquet(s, s"$out/t")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // ---- sources: schema-evolution scan — two writer generations of the
    // same table (the newer one adds s_acctbal) read back under ONE
    // merged schema, old-generation rows null in the added column.
    "op_merge_schema" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-merge-gate").toString
      val supp = Tables(s, dir, "supplier")
      supp.filter(pmod(col("s_suppkey"), lit(2)) === 0)
        .select("s_suppkey", "s_name", "s_nationkey")
        .write.parquet(s"$out/t/gen=1")
      supp.filter(pmod(col("s_suppkey"), lit(2)) === 1)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.parquet(s"$out/t/gen=2")
      graft.sources.Sources.parquetMerged(s, s"$out/t")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // ---- sources: ORC sink + scan (the non-parquet columnar leg).
    "op_orc_roundtrip" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-orc-gate").toString
      val supp = Tables(s, dir, "supplier")
      graft.sources.Sources.writeOrc(supp, s"$out/supp_rt")
      graft.sources.Sources.orc(s, s"$out/supp_rt").orderBy("s_suppkey")
    }),

    // ---- sources: XML sink + schema-supplied scan (Spark 4's built-in
    // XML data source) — the config/feed interchange format; values
    // XML-escape on write, so strings survive verbatim.
    "op_xml_roundtrip" -> ((s: SparkSession, dir: String) => {
      val out = java.nio.file.Files.createTempDirectory("graft-xml-gate").toString
      val nat = Tables(s, dir, "nation")
      graft.sources.Sources.writeXml(nat, s"$out/nation_rt")
      graft.sources.Sources.xml(s, s"$out/nation_rt", Some(nat.schema))
        .orderBy("n_nationkey")
    }),

    // ---- op #45: query(sql) — full Catalyst SQL over registered tables.
    "op_query_sql" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "nation").createOrReplaceTempView("nation_v")
      Tables(s, dir, "region").createOrReplaceTempView("region_v")
      s.sql("""SELECT n_name, r_name FROM nation_v JOIN region_v
               ON n_regionkey = r_regionkey ORDER BY n_name""")
    }),

    // ---- SCD2 history merge: two update batches over a customer
    // snapshot; every version (closed and open) of every key is
    // oracle-reconstructable, covering all four merge paths (changed,
    // unchanged no-op, unseen key, second change of the same key).
    "op_scd2" -> ((s: SparkSession, dir: String) => {
      scd2History(s, dir).orderBy("c_custkey", "valid_from")
    }),

    // ---- point-in-time read over the SCD2 history: the version of
    // every key valid at 2021-08-01 (after batch1's renames, before
    // batch2's) — a pure pushdown filter over the history table.
    "op_scd2_asof" -> ((s: SparkSession, dir: String) => {
      graft.ops.Scd2.asOf(scd2History(s, dir),
          lit("2021-08-01 00:00:00").cast("timestamp"))
        .orderBy("c_custkey")
    }),

    // ---- declarative validation report: row-local rules fold into one
    // scan, uniqueness is one hash agg, referential integrity one
    // anti-join; DuckDB recomputes every count independently.
    "op_validate" -> ((s: SparkSession, dir: String) => {
      import graft.ops.Validate
      Validate.report(Tables(s, dir, "lineitem"), Seq(
        Validate.NotNull("l_quantity"),
        Validate.InRange("l_discount", 0.0, 0.05),
        Validate.InRange("l_tax", 0.0, 0.04),
        Validate.Matches("l_returnflag", "^[AN]$"),
        Validate.Unique(Seq("l_orderkey", "l_linenumber")),
        Validate.References(Seq("l_orderkey"),
          Tables(s, dir, "orders"), Seq("o_orderkey"))))
    }))

  val oracle: Map[String, String] = Map(
    "op_clean_keys" ->
      """SELECT doc_id AS doc_id, n_chars AS n_chars, lang AS lang_
        |FROM documents ORDER BY doc_id""".stripMargin,
    "op_prepare_roundtrip" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "op_json_size" ->
      """SELECT source, CAST(sum(strlen(concat('{"doc_id":',
        |  CAST(doc_id AS VARCHAR), ',"n_chars":', CAST(n_chars AS VARCHAR), '}')))
        |  AS BIGINT) AS json_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "op_sample" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(50 AS BIGINT) AS n_distinct,
        |  CAST(0 AS BIGINT) AS n_outside""".stripMargin,
    "op_sample_exact" ->
      """SELECT CAST(40 AS BIGINT) AS n_rows, CAST(40 AS BIGINT) AS n_distinct,
        |  CAST(0 AS BIGINT) AS out_of_domain""".stripMargin,
    "op_subset" ->
      """SELECT o_orderkey FROM (
        |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn > 100 AND rn <= 150 ORDER BY o_orderkey""".stripMargin,
    "op_row_index" ->
      """SELECT o_orderkey, pos FROM (
        |  SELECT o_orderkey,
        |    CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS pos
        |  FROM orders)
        |WHERE pos < 100 ORDER BY o_orderkey""".stripMargin,
    "op_chunks_banded" ->
      """SELECT doc_id, CAST(floor((cum - n_chars) / 10000) AS BIGINT) AS chunk_id
        |FROM (SELECT doc_id, n_chars,
        |        sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) AS cum
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "op_chunks_greedy" ->
      """WITH RECURSIVE seq AS (
        |  SELECT doc_id, n_chars,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents
        |), g(rn, acc, chunk) AS (
        |  SELECT CAST(1 AS BIGINT), (SELECT n_chars FROM seq WHERE rn = 1),
        |    CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT s.rn,
        |    CASE WHEN g.acc + s.n_chars > 10000 THEN s.n_chars
        |         ELSE g.acc + s.n_chars END,
        |    CASE WHEN g.acc + s.n_chars > 10000 THEN g.chunk + 1
        |         ELSE g.chunk END
        |  FROM g JOIN seq s ON s.rn = g.rn + 1
        |)
        |SELECT s.doc_id, g.chunk AS chunk_id
        |FROM g JOIN seq s ON s.rn = g.rn
        |ORDER BY s.doc_id""".stripMargin,
    "op_flatten_tokens" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 20
        |ORDER BY doc_id, token""".stripMargin,
    "op_infer_props_schema" ->
      """SELECT 'k' AS field_path, 'INTEGER' AS field_type, 'NULLABLE' AS mode""",
    "op_schema_codec" ->
      """SELECT * FROM (VALUES
        |  ('l_discount', 'FLOAT', 'NULLABLE'),
        |  ('l_extendedprice', 'FLOAT', 'NULLABLE'),
        |  ('l_linenumber', 'INTEGER', 'NULLABLE'),
        |  ('l_linestatus', 'STRING', 'NULLABLE'),
        |  ('l_orderkey', 'INTEGER', 'NULLABLE'),
        |  ('l_partkey', 'INTEGER', 'NULLABLE'),
        |  ('l_quantity', 'FLOAT', 'NULLABLE'),
        |  ('l_returnflag', 'STRING', 'NULLABLE'),
        |  ('l_shipdate', 'DATETIME', 'NULLABLE'),
        |  ('l_suppkey', 'INTEGER', 'NULLABLE'),
        |  ('l_tax', 'FLOAT', 'NULLABLE')
        |) AS t(field_name, field_type, mode) ORDER BY field_name""".stripMargin,
    "op_describe" ->
      """SELECT 'region' || chr(10) || repeat('─', 53) || chr(10)
        |  || '├─ r_regionkey                  INTEGER   NULLABLE ' || chr(10)
        |  || '└─ r_name                       STRING    NULLABLE ' || chr(10)
        |  AS tree""".stripMargin,
    "op_lifecycle_load" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM customer",
    "op_lifecycle_jdbc" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM customer",
    "op_compact" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "op_scan_pruned" ->
      """SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |WHERE l_orderkey >= 100 AND l_orderkey <= 500
        |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin,
    "op_zorder_scan" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey < 100
        |ORDER BY o_orderkey""".stripMargin,
    "op_prefix_scan" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE source LIKE 'src1%'
        |ORDER BY doc_id""".stripMargin,
    "op_zorder_string" ->
      """SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,
    "op_bloom_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = 1
        |ORDER BY l_linenumber""".stripMargin,
    "op_stats_incremental" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "op_join_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       p_partkey, p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_stats_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       min(o_orderkey) AS min_o_orderkey,
        |       max(o_orderkey) AS max_o_orderkey,
        |       min(o_totalprice) AS min_o_totalprice,
        |       max(o_totalprice) AS max_o_totalprice
        |FROM orders""".stripMargin,
    "op_distinct_sketch" ->
      """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_orderkey,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_suppkey
        |FROM lineitem""".stripMargin,
    "op_stats_sum" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(l_orderkey) AS BIGINT) AS sum_l_orderkey,
        |       CAST(sum(l_linenumber) AS BIGINT) AS sum_l_linenumber
        |FROM lineitem""".stripMargin,
    "op_ngram_bloom" ->
      """SELECT 'doc of ' || o_orderpriority || ' order ' ||
        |         CAST(o_orderkey AS VARCHAR) || ' end' AS body,
        |       o_orderkey
        |FROM orders
        |WHERE 'doc of ' || o_orderpriority || ' order ' ||
        |        CAST(o_orderkey AS VARCHAR) || ' end'
        |      LIKE '% order 7007 %'""".stripMargin,
    "op_prefix_bloom" ->
      """SELECT 'https://' || o_orderpriority || '/o' ||
        |         CAST(o_orderkey AS VARCHAR) AS url,
        |       o_orderkey
        |FROM orders
        |WHERE 'https://' || o_orderpriority || '/o' ||
        |        CAST(o_orderkey AS VARCHAR) LIKE 'https://2-HIGH/o7%'""".stripMargin,
    "op_manifest_dml" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE NOT (o_orderkey % 5 = 0)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE o_orderkey % 5 = 0 AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey, o_orderstatus, o_orderpriority""".stripMargin,
    "op_asof_read" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderkey, o_orderstatus, o_orderpriority""".stripMargin,
    "op_cdc_between" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       'delete' AS change_type
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       'insert' AS change_type
        |FROM orders WHERE o_orderkey % 7 = 0 AND NOT (o_orderkey % 3 = 0)
        |ORDER BY o_orderkey, o_orderstatus, o_orderpriority, change_type""".stripMargin,
    "op_cdc_compact" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       'delete' AS change_type
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + 40000000 AS o_orderkey, o_orderstatus,
        |       o_orderpriority, 'insert' AS change_type
        |FROM orders WHERE o_orderkey % 7 = 0 AND NOT (o_orderkey % 3 = 0)
        |ORDER BY o_orderkey, o_orderstatus, o_orderpriority, change_type""".stripMargin,
    "op_cdc_keyed" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       'delete' AS change_type
        |FROM orders WHERE o_orderkey % 5 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       'update_preimage' AS change_type
        |FROM orders
        |WHERE o_orderkey % 5 <> 0 AND o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, 'Z' AS o_orderstatus, o_orderpriority,
        |       'update_postimage' AS change_type
        |FROM orders
        |WHERE o_orderkey % 5 <> 0 AND o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
        |       o_orderpriority, 'insert' AS change_type
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey, change_type, o_orderstatus,
        |         o_orderpriority""".stripMargin,
    "op_hll_distributed" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_partkey,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_suppkey
        |FROM lineitem""".stripMargin,
    "op_stats_sum_decimal" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(l_orderkey AS DECIMAL(18,2))) AS VARCHAR)
        |         AS sum_price,
        |       CAST(sum(CAST(l_linenumber AS DECIMAL(9,3))) AS VARCHAR)
        |         AS sum_qty
        |FROM lineitem""".stripMargin,
    "op_delete_where" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE NOT (o_orderkey % 3 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "op_update_where" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 'X'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "op_partitioned_read" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    "op_profile" ->
      """SELECT * FROM (
        |  SELECT 'o_orderstatus' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(*) - count(o_orderstatus) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
        |    CAST(min(o_orderstatus) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderstatus) AS VARCHAR) AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |    CAST(min(o_orderpriority) AS VARCHAR),
        |    CAST(max(o_orderpriority) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(o_custkey) AS BIGINT),
        |    CAST(count(DISTINCT o_custkey) AS BIGINT),
        |    CAST(min(o_custkey) AS VARCHAR),
        |    CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(o_orderdate) AS BIGINT),
        |    CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |    CAST(min(o_orderdate) AS VARCHAR),
        |    CAST(max(o_orderdate) AS VARCHAR)
        |  FROM orders
        |) ORDER BY "column" """.stripMargin,
    "op_load_fetch" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin,
    "op_upsert" ->
      """SELECT * FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey <= 10 THEN 'UPDATED' ELSE c_name END AS c_name
        |  FROM customer WHERE c_custkey <= 100
        |  UNION ALL
        |  SELECT CAST(10000 + k AS BIGINT) AS c_custkey, 'NEW' AS c_name
        |  FROM range(1, 6) t(k)
        |) ORDER BY c_custkey""".stripMargin,
    "op_upsert_partitioned" ->
      """SELECT * FROM (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_type = 'click' AND event_id % 5 = 0
        |         THEN value * 2 ELSE value END AS value
        |  FROM events
        |  UNION ALL
        |  SELECT CAST(9000000 + k AS BIGINT), 'click', 1.5
        |  FROM range(1, 4) t(k)
        |) ORDER BY event_id""".stripMargin,
    "op_dml_partitioned" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_type = 'click' THEN value * 2 ELSE value END
        |    AS value
        |FROM events WHERE event_type <> 'view'
        |ORDER BY event_id""".stripMargin,
    "op_dml_mor" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 'M'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  o_orderpriority
        |FROM orders
        |WHERE NOT (o_orderkey % 5 = 0)
        |  AND NOT (CASE WHEN o_orderpriority = '1-URGENT' THEN 'M'
        |                ELSE o_orderstatus END = 'M'
        |           AND o_orderkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "op_upsert_jdbc" ->
      """SELECT * FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey <= 10 THEN 'UPDATED' ELSE c_name END AS c_name
        |  FROM customer WHERE c_custkey <= 100
        |  UNION ALL
        |  SELECT CAST(10000 + k AS BIGINT) AS c_custkey, 'NEW' AS c_name
        |  FROM range(1, 6) t(k)
        |) ORDER BY c_custkey""".stripMargin,
    "op_dml_jdbc" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'FLAGGED'
        |       ELSE c_mktsegment END AS c_mktsegment
        |FROM customer WHERE NOT (c_custkey % 3 = 0)
        |ORDER BY c_custkey""".stripMargin,
    "op_jdbc_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "op_query_sql" ->
      """SELECT n_name, r_name FROM nation JOIN region
        |ON n_regionkey = r_regionkey ORDER BY n_name""".stripMargin,
    "op_csv_roundtrip" ->
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,
    "op_json_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "op_text_roundtrip" ->
      """SELECT text AS value FROM documents ORDER BY text""".stripMargin,
    "op_rename_copy" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "op_binary_source" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 5 ORDER BY doc_id""".stripMargin,
    "op_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "op_merge_schema" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        |  CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END AS s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "op_partition_overwrite" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_type = 'click' THEN value * 2 ELSE value END
        |    AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "op_schema_evolution" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "op_csv_malformed" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |UNION ALL SELECT -1, 'CORRUPT', -1
        |UNION ALL SELECT -1, 'CORRUPT', -1
        |ORDER BY n_nationkey, n_name""".stripMargin,
    "op_xml_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "op_scd2" ->
      """WITH c AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
        |           WHERE c_custkey <= 100)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
        |    TIMESTAMP '2021-06-01 00:00:00' AS valid_to, FALSE AS is_current
        |  FROM c WHERE c_custkey <= 5 OR c_custkey BETWEEN 11 AND 15
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    TIMESTAMP '2020-01-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE (c_custkey BETWEEN 6 AND 10) OR c_custkey >= 16
        |  UNION ALL
        |  SELECT c_custkey, 'RENAMED', c_mktsegment,
        |    TIMESTAMP '2021-06-01 00:00:00',
        |    TIMESTAMP '2022-01-01 00:00:00', FALSE
        |  FROM c WHERE c_custkey <= 3
        |  UNION ALL
        |  SELECT c_custkey, 'RENAMED', c_mktsegment,
        |    TIMESTAMP '2021-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE c_custkey IN (4, 5)
        |  UNION ALL
        |  SELECT c_custkey, 'RENAMED2', c_mktsegment,
        |    TIMESTAMP '2022-01-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE c_custkey <= 3
        |  UNION ALL
        |  SELECT c_custkey, c_name, 'ARCTIC',
        |    TIMESTAMP '2021-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE c_custkey BETWEEN 11 AND 15
        |  UNION ALL
        |  SELECT CAST(9000 + k AS BIGINT), 'NEW', 'WEB',
        |    TIMESTAMP '2021-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM range(1, 4) t(k)
        |) ORDER BY c_custkey, valid_from""".stripMargin,
    "op_scd2_asof" ->
      """WITH c AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
        |           WHERE c_custkey <= 100),
        |h AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
        |    TIMESTAMP '2021-06-01 00:00:00' AS valid_to, FALSE AS is_current
        |  FROM c WHERE c_custkey <= 5 OR c_custkey BETWEEN 11 AND 15
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    TIMESTAMP '2020-01-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE (c_custkey BETWEEN 6 AND 10) OR c_custkey >= 16
        |  UNION ALL
        |  SELECT c_custkey, 'RENAMED', c_mktsegment,
        |    TIMESTAMP '2021-06-01 00:00:00',
        |    TIMESTAMP '2022-01-01 00:00:00', FALSE
        |  FROM c WHERE c_custkey <= 3
        |  UNION ALL
        |  SELECT c_custkey, 'RENAMED', c_mktsegment,
        |    TIMESTAMP '2021-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE c_custkey IN (4, 5)
        |  UNION ALL
        |  SELECT c_custkey, 'RENAMED2', c_mktsegment,
        |    TIMESTAMP '2022-01-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE c_custkey <= 3
        |  UNION ALL
        |  SELECT c_custkey, c_name, 'ARCTIC',
        |    TIMESTAMP '2021-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM c WHERE c_custkey BETWEEN 11 AND 15
        |  UNION ALL
        |  SELECT CAST(9000 + k AS BIGINT), 'NEW', 'WEB',
        |    TIMESTAMP '2021-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
        |  FROM range(1, 4) t(k))
        |SELECT * FROM h
        |WHERE valid_from <= TIMESTAMP '2021-08-01 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2021-08-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "op_validate" ->
      """SELECT * FROM (
        |  SELECT 'in_range:l_discount' AS "check",
        |    CAST((SELECT count(*) FROM lineitem WHERE l_discount IS NOT NULL
        |      AND (l_discount < 0.0 OR l_discount > 0.05)) AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'in_range:l_tax', CAST((SELECT count(*) FROM lineitem
        |    WHERE l_tax IS NOT NULL AND (l_tax < 0.0 OR l_tax > 0.04)) AS BIGINT)
        |  UNION ALL
        |  SELECT 'matches:l_returnflag', CAST((SELECT count(*) FROM lineitem
        |    WHERE l_returnflag IS NOT NULL
        |    AND NOT regexp_matches(l_returnflag, '^[AN]$')) AS BIGINT)
        |  UNION ALL
        |  SELECT 'not_null:l_quantity', CAST((SELECT count(*) FROM lineitem
        |    WHERE l_quantity IS NULL) AS BIGINT)
        |  UNION ALL
        |  SELECT 'references:l_orderkey', CAST((SELECT count(*) FROM lineitem l
        |    WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        |      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        |  UNION ALL
        |  SELECT 'unique:l_orderkey,l_linenumber',
        |    CAST(COALESCE((SELECT sum(n - 1) FROM (
        |      SELECT count(*) AS n FROM lineitem
        |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |      GROUP BY l_orderkey, l_linenumber)), 0) AS BIGINT)
        |) ORDER BY "check"""".stripMargin)
}
