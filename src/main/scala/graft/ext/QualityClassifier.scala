package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality filtering: a logistic-regression classifier
  * over hashed n-gram features, trained by distributed full-batch
  * gradient descent — the "quality classifier" recipe (score web
  * documents by P(high-quality), keep the high scorers) used since
  * GPT-3's LR-over-tfidf filter.
  *
  * Scale design (r19 shape — the MLlib treeAggregate pattern):
  *   - features come from [[Dsir.hashedFeatures]] — the model is at
  *     most `buckets` weights, so it BROADCASTS and both scoring and
  *     the gradient pass never shuffle the corpus;
  *   - one gradient step = ONE aggregation job over the cached
  *     (doc, feat, tf, y) table: margins are a map-side broadcast join
  *     plus a doc-keyed partial aggregation that reuses the table's
  *     doc_id partitioning (no exchange), the error re-attach join is
  *     partition-local for the same reason, and the only shuffle is the
  *     final feature-keyed gradient aggregation — whose output is
  *     bounded by `buckets`+1 rows and returns to the driver exactly
  *     like a broadcast build (r18 shape: 5 exchanges + an
  *     eager localCheckpoint + a persisted error table per step);
  *   - all state is integer micros: margins are exact long sums of
  *     tf×weight, per-doc sigmoid errors quantize to micros the moment
  *     they leave double-land, and the weight update replays the SQL
  *     `round(double)` HALF_UP semantics in BigDecimal — training is
  *     engine-exact and partition-invariant (the same device as
  *     [[Dsir]] weights).
  *
  * The model is `(feat, w_micros)` plus a bias in micros; a feature
  * absent from the table has weight 0.
  */
object QualityClassifier {

  /** Model container: feature weights in micros (≤ buckets rows, keep
    * it broadcast-sized — a plain LocalRelation since r19, nothing to
    * checkpoint) and the bias in micros.
    */
  final case class Model(weights: DataFrame, biasMicros: Long)

  /** Per-doc margin in micros: `bias + Σ tf·w_f` — pure long
    * arithmetic over a broadcast weight table. Docs with no features
    * (blank text) are absent.
    */
  def margins(features: DataFrame, model: Model): DataFrame =
    features
      .join(broadcast(model.weights), Seq("feat"), "left")
      .groupBy("doc_id")
      .agg((sum(col("tf") * coalesce(col("w_micros"), lit(0L)))
        + lit(model.biasMicros)).as("margin_micros"))

  /** σ(margin) quantized to micros — the only double computation in
    * the classifier, mirrored verbatim by the oracle.
    */
  def probMicros(marginMicros: Column): Column =
    round(lit(1000000.0) /
      (lit(1.0) + exp(negate(marginMicros.cast("double")) / lit(1000000.0))),
      0).cast("long")

  /** The sentinel feature id carrying the bias gradient through the
    * per-step aggregation. Real feature ids are md5 buckets in
    * [0, buckets), so -1 can never collide; it never enters the weight
    * table, so its broadcast lookup is null → coalesce(0) and margins
    * are unaffected by the sentinel rows.
    */
  private val BiasFeat = -1

  /** SQL `round(x, 0).cast(long)` semantics on the driver: HALF_UP away
    * from zero (Scala `math.round` rounds negative halves toward +inf,
    * which would drift).
    */
  private def halfUpToLong(x: Double): Long =
    BigDecimal(x).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toLong

  private def weightsDF(spark: SparkSession,
                        w: scala.collection.Map[Int, Long]): DataFrame = {
    import spark.implicits._
    w.toSeq.toDF("feat", "w_micros")
  }

  /** Train `steps` full-batch steps from the zero model.
    *
    * Each step runs as ONE Spark job: broadcast the current weights,
    * recompute every doc's margin and quantized error in-plan (the
    * exact [[margins]]/[[probMicros]] arithmetic), aggregate
    * `Σ tf·err` per feature (bias rides the [[BiasFeat]] sentinel rows,
    * one per doc), and apply the update on the driver with the same
    * HALF_UP rounding the SQL plan used — bit-identical to the
    * DataFrame full-join update it replaces, collected at model scale
    * (≤ buckets+1 rows, the size that already made the weights
    * broadcastable). `labels` is `(doc_id, y)` with y ∈ {0, 1}, one row
    * per doc.
    */
  def train(docs: DataFrame, idCol: Column, textCol: Column,
            labels: DataFrame, steps: Int, lr: Double,
            buckets: Int = 4096): Model = {
    require(steps >= 1, s"steps ($steps) must be >= 1")
    val spark = docs.sparkSession
    val counts = labels.agg(count(lit(1)), countDistinct(col("doc_id")))
      .head()
    val n = counts.getLong(0)
    require(n > 0L, "train: empty label set")
    // a duplicated doc_id would join twice below and silently double
    // that document's margin
    require(counts.getLong(1) == n, s"train: labels must hold one row " +
      s"per doc_id — ${n - counts.getLong(1)} duplicate label row(s)")
    val scale = lr / n.toDouble
    // tokenization + hashing is the expensive scan: cache the compact
    // (doc_id, feat, tf) table, then the training base derived from it
    // — the sentinel branch below reads the CACHE, not a second
    // featurize pass. The bias-sentinel rows (feat = -1, tf = 1, one
    // per featured doc) make the bias gradient Σ err fall out of the
    // same per-feature aggregation as the weight gradients. repartition
    // by doc_id so each step's margin aggregation and error re-attach
    // join stay exchange-free.
    val features = Dsir.hashedFeatures(docs, idCol, textCol, buckets)
      .persist()
    val base = features
      .unionByName(features.select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(BiasFeat).as("feat"), lit(1L).as("tf")))
      .join(labels.select(col("doc_id"), col("y")), "doc_id")
      .repartition(col("doc_id"))
      .persist()
    try {
      var wMap = scala.collection.immutable.Map.empty[Int, Long]
      var bias = 0L
      for (_ <- 1 to steps) {
        val errs = base
          .join(broadcast(weightsDF(spark, wMap)), Seq("feat"), "left")
          .groupBy("doc_id")
          .agg((sum(col("tf") * coalesce(col("w_micros"), lit(0L)))
            + lit(bias)).as("margin_micros"),
            first(col("y")).as("y"))
          .select(col("doc_id"),
            (probMicros(col("margin_micros"))
              - col("y").cast("long") * lit(1000000L)).as("err_micros"))
        val grads = base
          .join(errs, Seq("doc_id"))
          .groupBy("feat")
          .agg(sum(col("tf") * col("err_micros")).as("g_micros"))
          .collect()
        grads.foreach { row =>
          val f = row.getInt(0)
          val delta = halfUpToLong(row.getLong(1).toDouble * scale)
          if (f == BiasFeat) bias -= delta
          else wMap = wMap.updated(f, wMap.getOrElse(f, 0L) - delta)
        }
      }
      Model(weightsDF(spark, wMap), bias)
    } finally { base.unpersist(); features.unpersist(); () }
  }

  /** Release a trained model's resources. The r19 model is a plain
    * LocalRelation (nothing checkpointed); kept for API compatibility
    * and for models whose weights a caller materialized differently.
    */
  def release(model: Model): Unit =
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(model.weights)

  /** Score documents: `(doc_id, prob_micros)` — broadcast weights, one
    * map-side join + one doc-keyed agg, no corpus shuffle.
    */
  def score(docs: DataFrame, idCol: Column, textCol: Column, model: Model,
            buckets: Int = 4096): DataFrame =
    margins(Dsir.hashedFeatures(docs, idCol, textCol, buckets), model)
      .select(col("doc_id"), probMicros(col("margin_micros")).as("prob_micros"))
}
