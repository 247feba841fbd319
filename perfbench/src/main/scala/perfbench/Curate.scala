package perfbench

import scala.collection.mutable

import graft.ext.{Dedup, Graph, IvfPq}
import graft.warehouse.{QuerySort, SparkWarehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Documents with planted near-duplicate clusters. The corpus is the
  * same for every seed: near-dup clustering returns a wrong result on it
  * every time (see CHANGES.md), and an operation that fails must fail on
  * the same inputs in every run.
  */
final class DocGen {
  private val r = new scala.util.Random(20260101L)
  private def word() = (1 to 4 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  private val vocab = Vector.fill(3000)(word())

  val BaseDocs = 600
  val Clusters = 60

  /** (doc_id, text, score); planted clusters of size 2 to 4. */
  val (docs, planted): (Seq[(Long, String, Long)], Seq[Set[Long]]) = {
    val base = Vector.fill(BaseDocs)(Seq.fill(60)(vocab(r.nextInt(vocab.size))).mkString(" "))
    val texts = mutable.ArrayBuffer(base: _*)
    val clusters = r.shuffle((0 until BaseDocs).toVector).take(Clusters).map { b =>
      // a copy differs from its original in one letter: about 5 of 400
      // character 5-shingles change, Jaccard ≈ 0.97
      val copies = (1 to 1 + r.nextInt(3)).map { _ =>
        val t = base(b).toCharArray
        var i = r.nextInt(t.length)
        while (t(i) == ' ') i = r.nextInt(t.length)
        t(i) = ('a' + (t(i) - 'a' + 1 + r.nextInt(25)) % 26).toChar
        texts += new String(t)
        texts.size - 1
      }
      (b +: copies).toSet
    }
    // ids and scores are shuffled so neither tracks the planting
    val ids = r.shuffle((1L to texts.size.toLong).toVector)
    val scores = r.shuffle((1L to texts.size.toLong).toVector)
    (texts.indices.map(i => (ids(i), texts(i), scores(i))),
      clusters.map(_.map(i => ids(i))))
  }
}

/** Clustered embedding vectors with held-out queries, and a link graph,
  * made from the seed.
  */
final class CurateGen(seed: Long) {
  private val r = new scala.util.Random(seed)
  val Dim = 32
  val Vectors = 2000
  val Queries = 32
  val QueryIdBase = 1000000L
  val Nodes = 1500

  private val centers = Vector.fill(24)(Array.fill(Dim)(r.nextGaussian().toFloat))
  private def vec(): Array[Float] = {
    val c = centers(r.nextInt(centers.size))
    Array.tabulate(Dim)(j => (c(j) + 0.35 * r.nextGaussian()).toFloat)
  }
  val vectors: Seq[(Long, Array[Float])] = (1L to Vectors).map(i => (i, vec()))
  val queries: Seq[(Long, Array[Float])] = (1L to Queries).map(i => (QueryIdBase + i, vec()))

  /** Directed links, each node linking to 1 to 8 others, skewed toward
    * low ids so ranks spread.
    */
  val links: Seq[(Long, Long)] = (1L to Nodes).flatMap { s =>
    Seq.fill(1 + r.nextInt(8)) {
      val d = 1L + (math.pow(r.nextDouble(), 2) * Nodes).toLong
      (s, d)
    }.filter { case (a, b) => a != b }
  }.distinct
}

object CurateGen {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    var j = 0
    while (j < a.length) {
      dot += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      j += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact cosine top-k by brute force, ties to the smaller id. */
  def exactTopK(q: Array[Float], corpus: Seq[(Long, Array[Float])], k: Int): Seq[Long] =
    corpus.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  /** PageRank under the engine's integer contract, as its own power
    * iteration: rank₀ = 10⁶ div N; each round every edge carries
    * rank(src) div outdeg(src), and rank' = (100-d)·10⁶ div (100·N) +
    * d·Σinflow div 100.
    */
  def pageRank(edges: Seq[(Long, Long)], iters: Int, d: Long): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.size.toLong
    val outdeg = es.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val teleport = ((100L - d) * 1000000L) / (100L * n)
    var rank = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to iters) {
      val inflow = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, t) => inflow(t) += rank(s) / outdeg(s) }
      rank = nodes.map(v => v -> (teleport + (d * inflow(v)) / 100)).toMap
    }
    rank
  }
}

/** One pass after another of a load-and-curate pipeline: JSON-line
  * batches loaded into the warehouse ([[IngestBatches]]), then near-dup
  * clustering and representatives, a calibrated IVF-PQ index with a batch
  * of top-k queries, and PageRank over a generated corpus. Survivors and
  * ranks are written to the warehouse and read back.
  */
final class Curate(run: Run) extends Workload {
  import run.{op, ok, rows, spark}

  private lazy val g = new CurateGen(run.args.seed)
  private lazy val d = new DocGen
  private val K = 10
  private val TargetRecall = 0.9
  /** Held-out queries were not in the calibration sample. */
  private val RecallMargin = 0.1
  private val Iters = 3
  private val Damping = 85L
  private var wh: SparkWarehouse = _
  private var pass = 0L
  private var expectedRanks: Map[Long, Long] = _
  private var inputs: Seq[(String, DataFrame, Long)] = Nil
  private val recallHits = mutable.ArrayBuffer.empty[Double]

  private val ingest = new IngestBatches(run)

  def tables: Seq[String] = Seq("docs", "vectors", "links", "survivors", "ranks") ++ ingest.tables

  def generate(): Unit = run.gen {
    val docs = spark.createDataFrame(java.util.Arrays.asList(
        d.docs.map { case (i, t, s) => Row(i, t, s) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("score", LongType))))
    val vecs = spark.createDataFrame(java.util.Arrays.asList(
        g.vectors.map { case (i, v) => Row(i, v.toSeq) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val links = spark.createDataFrame(java.util.Arrays.asList(
        g.links.map { case (s, d) => Row(s, d) }: _*),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    def bytes(df: DataFrame) = df.select(sum(octet_length(to_json(struct(
      df.columns.map(col).toSeq: _*))))).head().getLong(0)
    inputs = Seq(("docs", docs, bytes(docs)), ("vectors", vecs, bytes(vecs)),
      ("links", links, bytes(links)))
    expectedRanks = CurateGen.pageRank(g.links, Iters, Damping)
  }

  def setup(w: SparkWarehouse): Unit = {
    wh = w
    pass = 0
    ingest.setup(w)
    inputs.foreach { case (t, df, b) => ok(wh.load(t, df)); run.inputBytes += b }
  }

  private def docs = ok(wh.get("docs"))
  // the warehouse stores FLOAT as double; the ANN kernels take float
  private def vectors = ok(wh.get("vectors"))
    .select(col("vec_id"), transform(col("embedding"), _.cast(FloatType)).as("embedding"))

  private def nearDup(): Unit = {
    val found = op(OpClass.Step, "ext", "neardup") {
      val comps = Dedup.nearDupComponents(docs, col("doc_id"), col("text"))
      (comps, comps.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("component"))).toSeq)
    }
    found.foreach { case (comps, pairs) =>
      val clusters = pairs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      run.checking(if (clusters != d.planted.toSet) run.wrongResult(
        s"near-dup components: ${clusters.size} found (${clusters.toSeq.map(_.size).sum} " +
          s"documents), ${d.planted.size} planted; ${(d.planted.toSet -- clusters).size} " +
          "planted clusters not found exactly"))
      val reps = op(OpClass.Step, "ext", "representatives") {
        val labeled = comps.join(docs.select(col("doc_id").as("id"), col("score")), "id")
        Dedup.representatives(labeled, col("id"), col("component"), col("score"))
          .select("rep_id", "n_members").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }.map(rs => if (run.inject("curate-wrong-representative")) rs.updated(0, (-1L, rs.head._2)) else rs)
      Dedup.releaseComponents(comps)
      reps.foreach(rs => survivors(pairs.groupBy(_._2).values.map(_.map(_._1).toSet).toSeq, rs))
    }
  }

  /** Checks the representatives of the components the engine returned,
    * then writes the survivors and reads them back.
    */
  private def survivors(components: Seq[Set[Long]], reps: Seq[(Long, Long)]): Unit = {
    val score = d.docs.map { case (i, _, s) => i -> s }.toMap
    val best = components.map(c => c.maxBy(i => (score(i), -i)) -> c)
    run.checking(run.check(reps.toSet == best.map { case (b, c) => (b, c.size.toLong) }.toSet,
      s"representatives: ${(reps.toSet -- best.map { case (b, c) => (b, c.size.toLong) }).size} " +
        "are not the best-scored member of their component"))
    val dropped = best.flatMap { case (b, c) => c - b }.toSet
    val keep = d.docs.map(_._1).filterNot(dropped).sorted
    pass += 1
    val df = run.gen(spark.createDataFrame(java.util.Arrays.asList(
      keep.map(i => Row(i, pass)): _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("pass", LongType)))))
    val bytes = keep.map(i => s"""{"doc_id":$i,"pass":$pass}""".length.toLong).sum
    op(OpClass.Write, "warehouse", "load") {
      run.tracer.note("input_bytes", bytes.toDouble)
      ok(wh.load("survivors", df))
    }.foreach(_ => run.inputBytes += bytes)
    op(OpClass.Read, "warehouse", "fetch") {
      rows(ok(wh.fetch("survivors", Seq("doc_id", "pass"),
        Seq(("pass", QuerySort.Desc), ("doc_id", QuerySort.Asc)), keep.size)))
    }.foreach(got => run.checking(run.check(
      got.toSeq.map(r => (r.getLong(0), r.getLong(1))) == keep.map((_, pass)),
      s"survivors of pass $pass read back wrong")))
  }

  private def ann(): Unit = {
    val built = op(OpClass.Step, "ext", "ivfpq_calibrate") {
      IvfPq.buildCalibrated(vectors, nCentroids = 16, m = 8, k = K,
        targetRecall = TargetRecall, nQueries = 16, candidateGrid = Seq(32, 128, 512))
    }
    built.foreach { b =>
      try g.queries.grouped(32).foreach { batch =>
        val q = run.gen(spark.createDataFrame(java.util.Arrays.asList(
            batch.map { case (i, v) => Row(i, v.toSeq) }: _*),
          StructType(Seq(StructField("vec_id", LongType),
            StructField("embedding", ArrayType(FloatType, containsNull = false))))))
        op(OpClass.Read, "ext", "ann_query") {
          rows(IvfPq.topK(b.indexed, q, b.model, K, nProbe = b.calibration.recommendedNProbe,
            nCandidates = b.calibration.recommendedNCandidates))
        }.foreach { got =>
          val found = got.toSeq.map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos")))
          val observed =
            if (!run.inject("curate-wrong-neighbour")) found
            else found.updated(0, found.head.copy(_2 = 1 + found.head._2 % g.Vectors))
          run.checking {
            // every neighbour is a corpus vector at the cosine reported
            val qv = batch.toMap
            observed.foreach { case (qi, ni, c) =>
              val exact = g.vectors.lift((ni - 1).toInt).map(v => CurateGen.cosine(qv(qi), v._2))
              run.check(exact.exists(e => math.abs(e - c) < 1e-4),
                s"ANN neighbour $ni of query $qi: reported cosine $c, exact $exact")
            }
            val byQ = observed.groupBy(_._1).map { case (qi, xs) => qi -> xs.map(_._2).toSet }
            batch.foreach { case (qi, v) =>
              val truth = CurateGen.exactTopK(v, g.vectors, K).toSet
              recallHits += (byQ.getOrElse(qi, Set.empty) intersect truth).size.toDouble / K
            }
          }
        }
      }
      finally b.release()
    }
  }

  private def pageRank(): Unit = {
    val links = ok(wh.get("links"))
    op(OpClass.Step, "ext", "pagerank") {
      val ranks = Graph.pageRank(links, col("src"), col("dst"), Iters, Damping.toInt)
      try ranks.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rank"))).toSeq
      finally GraftColumnBridge.unpersistCheckpoint(ranks)
    }.foreach { got =>
      val observed =
        if (run.inject("curate-perturbed-rank")) got.updated(0, (got.head._1, got.head._2 + 1))
        else got
      run.checking(run.check(observed.toMap == expectedRanks,
        s"pageRank: ${observed.count { case (i, v) => !expectedRanks.get(i).contains(v) }} " +
          s"of ${expectedRanks.size} ranks differ from the power iteration"))
      val df = run.gen(spark.createDataFrame(java.util.Arrays.asList(
          got.map { case (i, v) => Row(i, v, pass) }: _*),
        StructType(Seq(StructField("id", LongType), StructField("rank", LongType),
          StructField("pass", LongType)))))
      val bytes = got.map { case (i, v) => s"""{"id":$i,"rank":$v,"pass":$pass}""".length.toLong }.sum
      op(OpClass.Write, "warehouse", "load") {
        run.tracer.note("input_bytes", bytes.toDouble)
        ok(wh.load("ranks", df))
      }.foreach(_ => run.inputBytes += bytes)
      val top = expectedRanks.toSeq.sortBy { case (i, v) => (-v, i) }.take(20)
      op(OpClass.Read, "warehouse", "fetch") {
        rows(ok(wh.fetch("ranks", Seq("id", "rank", "pass"),
          Seq(("pass", QuerySort.Desc), ("rank", QuerySort.Desc), ("id", QuerySort.Asc)), 20)))
      }.foreach(r => run.checking(run.check(
        r.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))) ==
          top.map { case (i, v) => (i, v, pass) },
        s"top ranks of pass $pass read back wrong")))
    }
  }

  def warm(): Unit = round()

  def round(): Unit = { ingest.round(); nearDup(); ann(); pageRank() }

  def verify(): Unit = {
    ingest.verify()
    val recall = if (recallHits.isEmpty) 0.0 else recallHits.sum / recallHits.size
    System.err.println(f"[perfbench] held-out recall@$K = $recall%.3f over ${recallHits.size} queries")
    run.check(recall >= TargetRecall - RecallMargin,
      f"held-out ANN recall@$K $recall%.3f is below ${TargetRecall - RecallMargin}%.2f")
  }
}
