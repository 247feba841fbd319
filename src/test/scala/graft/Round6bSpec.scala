package graft

import graft.ext.{BigramLm, Dedup}
import org.apache.spark.sql.functions._

/** Round-6 additions beyond the verdict list: C4-style segment dedup,
  * bigram conditional-LM scoring, and the XML source round trip.
  */
class Round6bSpec extends SparkSpec {
  import testImplicits._

  private lazy val testImplicits = spark.implicits

  // ---------- Dedup.segmentDedup ----------

  test("segmentDedup keeps the first corpus-wide occurrence of a segment") {
    // w=2 segments: doc 1 = [a b][c d], doc 2 = [a b][x y] — doc 2 loses
    // its first segment to doc 1 and keeps the second.
    val df = Seq((1L, "a b c d"), (2L, "a b x y")).toDF("id", "text")
    val out = Dedup.segmentDedup(df, col("id"), col("text"), segTokens = 2)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq === Seq((1L, 2L, 2L, "a b c d"), (2L, 2L, 1L, "x y")))
  }

  test("segmentDedup dedups intra-document repeats and keeps order") {
    // doc 1 repeats its own first segment at index 2; the survivor set is
    // segments 0 and 1, reassembled in index order.
    val df = Seq((1L, "a b c d a b")).toDF("id", "text")
    val out = Dedup.segmentDedup(df, col("id"), col("text"), segTokens = 2)
      .collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq === Seq((3L, 2L, "a b c d")))
  }

  test("segmentDedup reports fully-duplicated documents as empty husks") {
    val df = Seq((1L, "a b c d"), (9L, "a b c d"), (5L, "   "))
      .toDF("id", "text")
    val out = Dedup.segmentDedup(df, col("id"), col("text"), segTokens = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // id 1 wins (min id); id 9 is a husk; whitespace-only doc has no
    // segments but still appears — the output is total over the input.
    assert(out.toSeq === Seq((1L, 2L, 2L, "a b c d"),
      (5L, 0L, 0L, ""), (9L, 2L, 0L, "")))
  }

  test("segmentDedup tail segments shorter than the width dedup too") {
    // Width 3: doc 1 = [a b c][d], doc 2 = [d] alone — doc 2's only
    // segment equals doc 1's tail and is scrubbed.
    val df = Seq((1L, "a b c d"), (2L, "d")).toDF("id", "text")
    val out = Dedup.segmentDedup(df, col("id"), col("text"), segTokens = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq((1L, 2L, "a b c d"), (2L, 0L, "")))
  }

  test("segmentDedup hashed-key mode matches the text-keyed mode") {
    // The 8-byte wire-key path must produce the identical result on a
    // real corpus slice (planted copies included so dedup actually runs).
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val corpus = d.union(d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text")))
    val a = Dedup.segmentDedup(corpus, col("doc_id"), col("text"), 10)
      .orderBy("id").collect().toSeq
    val b = Dedup.segmentDedup(corpus, col("doc_id"), col("text"), 10,
      hashKeys = true).orderBy("id").collect().toSeq
    assert(a === b)
    assert(a.exists(r => r.getLong(2) < r.getLong(1))) // dedup happened
  }

  // ---------- Dedup.newDocumentsNearDup ----------

  test("incremental near-dup admits new docs, rejects corpus dups and " +
    "batch twins, and is idempotent") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val fresh = d.filter(col("doc_id") < 6)
      .select((col("doc_id") + 600000L).as("doc_id"),
        array_join(sort_array(split(col("text"), " ")), " ").as("text"))
    val incoming = d.filter(col("doc_id") < 4)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      .union(fresh)
      .union(fresh.filter(col("doc_id") < 600003L)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val admitted = ext.Dedup.newDocumentsNearDup(d, incoming,
      col("doc_id"), col("text"))
    val rows = admitted.orderBy("doc_id").collect().toSeq
    val ids = rows.map(_.getLong(0)).toSet
    // every corpus copy rejected, every batch twin rejected, and each
    // admitted id is a min-id fresh doc
    assert(ids.forall(id => id >= 600000L && id < 700000L))
    assert((0 until 4).forall(k => !ids.contains(500000L + k)))
    assert((0 until 3).forall(k => !ids.contains(700000L + k)))
    assert(ids.nonEmpty)
    // idempotence: admitting the same batch against corpus ∪ admitted
    // finds every member an exact (hence near) duplicate
    val grown = d.union(admitted.select(col("doc_id"), col("text")))
    val again = ext.Dedup.newDocumentsNearDup(grown, incoming,
      col("doc_id") + 1000000L, col("text"))
    assert(again.count() === 0L)
    ext.Dedup.releaseNearDupUpdate(admitted)
    ext.Dedup.releaseNearDupUpdate(again)
  }

  // ---------- BigramLm ----------

  test("bigram model counts pairs and contexts exactly") {
    val df = Seq((1L, "a b a b c"), (2L, "b c")).toDF("id", "text")
    val model = BigramLm.bigramCounts(df, col("text"))
    val counts = model.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // doc 1 pairs: (a,b) (b,a) (a,b) (b,c); doc 2 pairs: (b,c)
    assert(counts === Map(("a", "b") -> 2L, ("b", "a") -> 1L,
      ("b", "c") -> 2L))
    val ctx = BigramLm.contextCounts(model).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ctx === Map("a" -> 2L, "b" -> 3L))
    assert(BigramLm.vocabSize(df, col("text")) === 3L)
  }

  test("bigram components apply add-one smoothing, seen and unseen") {
    val train = Seq((1L, "a b a b c"), (2L, "b c")).toDF("id", "text")
    val model = BigramLm.bigramCounts(train, col("text"))
    val v = BigramLm.vocabSize(train, col("text"))
    // Score a doc containing a seen bigram (a b), an unseen bigram with a
    // seen context (b b), and an unseen context (z a).
    val score = Seq((7L, "a b b"), (8L, "z a")).toDF("id", "text")
    val comps = BigramLm
      .docBigramComponents(score, col("id"), col("text"), model, v)
      .collect()
      .map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getDouble(4)))).toMap
    def ln(x: Double): Double = math.log(x)
    assert(comps((7L, "a", "b"))._2 === 1L * ln((2.0 + 1) / (2.0 + 3)))
    assert(comps((7L, "b", "b"))._2 === 1L * ln((0.0 + 1) / (3.0 + 3)))
    assert(comps((8L, "z", "a"))._2 === 1L * ln((0.0 + 1) / (0.0 + 3)))
  }

  test("bigram docLogProb averages over the document's bigram count") {
    val df = Seq((1L, "a b c")).toDF("id", "text")
    val model = BigramLm.bigramCounts(df, col("text"))
    val v = BigramLm.vocabSize(df, col("text"))
    val row = BigramLm.docLogProb(df, col("id"), col("text"), model, v)
      .collect().head
    val expected = (math.log(2.0 / (1 + 3)) + math.log(2.0 / (1 + 3))) / 2
    assert(row.getLong(1) === 2L)
    assert(math.abs(row.getDouble(2) - expected) < 1e-12)
  }

  test("bigram scoring penalizes scrambled word order that unigrams miss") {
    // Train on consistently-ordered text; score the same tokens in
    // corpus order vs reversed order. Unigram tf is identical, so only
    // an order-sensitive model separates them.
    val train = Seq.tabulate(20)(i => (i.toLong, "the quick brown fox jumps"))
      .toDF("id", "text")
    val model = BigramLm.bigramCounts(train, col("text"))
    val v = BigramLm.vocabSize(train, col("text"))
    val probe = Seq((100L, "the quick brown fox jumps"),
      (101L, "jumps fox brown quick the")).toDF("id", "text")
    val scores = BigramLm.docLogProb(probe, col("id"), col("text"), model, v)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(scores(100L) > scores(101L))
  }

  test("segmentDedup and bigram scoring are invariant to partitioning") {
    // keep-first and the quantized sums must not depend on how the
    // corpus is sliced across tasks — the local[4] stand-in for the
    // 1000-executor question.
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 120)
    val corpus = d.union(d.filter(col("doc_id") < 12)
      .select((col("doc_id") + 7000L).as("doc_id"), col("text")))
    def segAt(n: Int) =
      Dedup.segmentDedup(corpus.repartition(n), col("doc_id"), col("text"), 10)
        .orderBy("id").collect().toSeq
    assert(segAt(1) === segAt(7))
    def lpAt(n: Int) = {
      val c = corpus.repartition(n)
      val model = BigramLm.bigramCounts(c, col("text"))
      val v = BigramLm.vocabSize(c, col("text"))
      BigramLm.docBigramComponents(c, col("doc_id"), col("text"), model, v)
        .select(col("doc_id"),
          round(col("component") * lit(1000000.0), 0).cast("long").as("cm"))
        .groupBy("doc_id").agg(sum(col("cm")).as("lp"))
        .orderBy("doc_id").collect().toSeq
    }
    assert(lpAt(1) === lpAt(7))
  }

  // ---------- Sampling.temperatureMixture ----------

  test("temperature mixing upweights rare sources as alpha drops") {
    // lang is the fixture's skewed grouping (en ≈ 2.7× de)
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val byLang = d.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    def mixShare(alpha: Double): Map[String, Double] = {
      val sel = ext.Sampling
        .temperatureMixture(d, col("lang"), col("doc_id"), alpha, 200L)
        .groupBy("lang").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      byLang.keys.map(s => s -> (sel.getOrElse(s, 0L).toDouble / byLang(s)))
        .toMap
    }
    val rare = byLang.minBy(_._2)._1
    val common = byLang.maxBy(_._2)._1
    val prop = mixShare(1.0)  // α = 1: same rate for every group
    assert(math.abs(prop(rare) - prop(common)) < 0.15)
    val temp = mixShare(0.25) // α « 1: the rare group keeps a larger share
    assert(temp(rare) > temp(common))
    // membership is content-determined: invariant to partitioning
    val a = ext.Sampling
      .temperatureMixture(d.repartition(1), col("lang"), col("doc_id"), 0.5, 200L)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val b = ext.Sampling
      .temperatureMixture(d.repartition(7), col("lang"), col("doc_id"), 0.5, 200L)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("temperature mixing drops null-source rows and honors zero target") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]))
      .toDF("id", "src")
    val sel = ext.Sampling
      .temperatureMixture(df, col("src"), col("id"), 0.5, 100L)
    assert(sel.filter(col("src").isNull).count() === 0L)
    assert(ext.Sampling
      .temperatureMixture(df, col("src"), col("id"), 0.5, 0L).count() === 0L)
  }

  // ---------- IvfPq ----------

  test("ivfpq index carries the same cell assignment and codes as its parts") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val model = ext.IvfPq.train(e, "embedding", nCentroids = 8, m = 8, k = 16)
    val idx = ext.IvfPq.index(e, model)
    val viaParts = ext.Pq.encode(e, model.pq)
      .withColumn("centroid", ext.Ivf.assignCol(col("nvec"), model.ivf))
    assert(idx.select("neighbor_id", "centroid", "codes").orderBy("neighbor_id")
      .collect().toSeq ===
      viaParts.select("neighbor_id", "centroid", "codes").orderBy("neighbor_id")
        .collect().toSeq)
  }

  test("ivfpq static partition pruning returns the same top-k as the " +
    "unpruned probe") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val model = ext.IvfPq.train(e, "embedding", nCentroids = 8, m = 8, k = 16)
    val idx = ext.IvfPq.index(e, model)
    val q = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    val a = ext.IvfPq.topK(idx, q, model, k = 3, nProbe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val b = ext.IvfPq.topKPruned(idx, q, model, k = 3, nProbe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b)
    // planted copies must sit at rank 1 with quantized cosine 1
    assert(a.count(r => r.getLong(1) == 1L &&
      r.getLong(2) == r.getLong(0) - 9000L) === 5)
  }

  // ---------- TopKAgg ----------

  test("bounded top-k agg matches the window form on any partitioning") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val topk = udaf(new ext.TopKAgg(4))
    def viaAgg(n: Int) = d.repartition(n).groupBy("lang")
      .agg(topk(col("doc_id"), col("n_chars").cast("double")).as("_top"))
      .select(col("lang"), posexplode(col("_top")))
      .select(col("lang"), (col("pos") + 1).as("rank"),
        col("col._2").as("doc_id"))
      .orderBy("lang", "rank").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
    val viaWindow = d.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
      .select(col("lang"), col("rank").cast("long"), col("doc_id"))
      .orderBy("lang", "rank").collect().toSeq
    assert(viaAgg(1) === viaWindow)
    assert(viaAgg(13) === viaWindow)
  }

  test("bounded top-k agg keeps groups smaller than k whole") {
    val df = Seq((1L, "a", 5.0), (2L, "a", 7.0), (3L, "b", 1.0))
      .toDF("id", "g", "v")
    val topk = udaf(new ext.TopKAgg(5))
    val out = df.groupBy("g").agg(topk(col("id"), col("v")).as("t"))
      .select(col("g"), size(col("t")).as("n")).orderBy("g")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out === Seq(("a", 2), ("b", 1)))
  }

  test("bounded top-k plans a partial (map-side) aggregation") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val topk = udaf(new ext.TopKAgg(3))
    val plan = d.groupBy("lang")
      .agg(topk(col("doc_id"), col("n_chars").cast("double")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"typed aggregate plan lost:\n$plan")
    assert(plan.contains("partial_topkagg") ||
      plan.toLowerCase.contains("partial_topk"),
      s"map-side partial lost:\n$plan")
  }

  // ---------- RankEval ----------

  test("ndcg and mrr match hand computation, including edge cases") {
    // query A: ranked (d1 rel2, d2 rel0, d3 rel1); ideal (rel2, rel1)
    // query B: perfect ranking; query C: nothing relevant retrieved,
    // but relevant docs exist (ndcg 0, mrr 0)
    val ranked = Seq(("A", 1L, 1L), ("A", 2L, 2L), ("A", 3L, 3L),
      ("B", 10L, 1L), ("C", 20L, 1L))
      .toDF("query", "doc_id", "rank")
    val rels = Seq(("A", 1L, 2L), ("A", 3L, 1L), ("B", 10L, 3L),
      ("C", 99L, 1L)).toDF("query", "doc_id", "rel")
    val out = ext.RankEval.ndcgMrr(ranked, rels, 10)
      .orderBy("query").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    def g(rel: Long, rank: Long): Long =
      math.round((math.pow(2.0, rel.toDouble) - 1.0) /
        (math.log(rank.toDouble + 1.0) / math.log(2.0)) * 1e6)
    val aDcg = g(2, 1) + g(0, 2) + g(1, 3)
    val aIdcg = g(2, 1) + g(1, 2)
    assert(out(0) === (("A", aDcg, aIdcg,
      aDcg.toDouble / aIdcg.toDouble, 1000000L)))
    assert(out(1) === (("B", g(3, 1), g(3, 1), 1.0, 1000000L)))
    assert(out(2) === (("C", 0L, g(1, 1), 0.0, 0L)))
  }

  // ---------- Dsir ----------

  test("dsir upweights target-domain documents over off-domain ones") {
    // Source corpus: 3 "legal" docs, 3 "chat" docs, 1 mixed. Target
    // sample: legal-domain text. Every legal doc must outscore every
    // chat doc, with the mixed doc in between.
    val source = Seq(
      (1L, "whereas the party of the first part agrees"),
      (2L, "the party hereby covenants and agrees"),
      (3L, "whereas the covenants bind the first part"),
      (4L, "lol that meme is so funny omg"),
      (5L, "omg did you see that lol"),
      (6L, "so funny i cant even lol"),
      (7L, "the party posted a funny meme")).toDF("doc_id", "text")
    val target = Seq(
      (100L, "whereas the party agrees to the covenants"),
      (101L, "the first part hereby agrees")).toDF("doc_id", "text")
    val wDf = ext.Dsir.importanceWeights(source, target, col("doc_id"),
      col("text"))
    val w = wDf.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val legal = Seq(1L, 2L, 3L).map(w); val chat = Seq(4L, 5L, 6L).map(w)
    assert(legal.min > w(7L) && w(7L) > chat.max)
    // selection takes the legal family first
    val top3 = ext.Dsir.selectTopN(wDf, 3)
      .collect().map(_.getLong(0)).toSet
    assert(top3 === Set(1L, 2L, 3L))
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(wDf)
  }

  test("dsir weights are partition-invariant and total over non-blank docs") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .filter(col("doc_id") < 150)
    def wAt(n: Int) = {
      val c = d.repartition(n)
      val wDf = ext.Dsir.importanceWeights(c, c.filter(col("lang") === "de"),
        col("doc_id"), col("text"))
      val out = wDf.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(wDf)
      out
    }
    val out = wAt(1)
    assert(out.size === d.count())
    assert(wAt(7) === out)
  }

  test("dsir scoring broadcasts both distribution tables") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val plan = ext.Dsir
      .importanceWeightsPlan(d, d.filter(col("lang") === "de"),
        col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"broadcast lost:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"distribution join degraded to a corpus shuffle:\n$plan")
  }

  test("dsir rejects an all-blank target or source") {
    val src = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val blank = Seq((9L, "   ")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      ext.Dsir.importanceWeights(src, blank, col("doc_id"), col("text"))
    }
    intercept[IllegalArgumentException] {
      ext.Dsir.importanceWeights(blank, src, col("doc_id"), col("text"))
    }
  }

  // ---------- QualityClassifier ----------

  test("one gradient step from zero matches hand computation") {
    // Two one-token docs, opposite labels. Step 1: all margins 0,
    // p = 0.5, so err = ∓500000; with lr=1, n=2 the weights move to
    // ±250000 micros and the bias gradient cancels to 0.
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val labels = Seq((1L, 1), (2L, 0)).toDF("doc_id", "y")
    val model = ext.QualityClassifier.train(docs, col("doc_id"), col("text"),
      labels, steps = 1, lr = 1.0)
    val featOf = spark.range(1).select(
      ext.Sampling.hashBucket(lit("a"), 4096).as("fa"),
      ext.Sampling.hashBucket(lit("b"), 4096).as("fb")).head()
    val w = model.weights.collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(w === Map(featOf.getInt(0) -> 250000L, featOf.getInt(1) -> -250000L))
    assert(model.biasMicros === 0L)
    // scoring with those weights: p(doc1) = sigma(0.25)
    val scores = ext.QualityClassifier
      .score(docs, col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(scores(1L) === math.round(1e6 / (1.0 + math.exp(-0.25))))
    assert(scores(2L) === math.round(1e6 / (1.0 + math.exp(0.25))))
    ext.QualityClassifier.release(model)
  }

  test("trained classifier separates a planted two-domain corpus") {
    val docs = Seq(
      (1L, "whereas the party of the first part agrees"),
      (2L, "the party hereby covenants and agrees"),
      (3L, "whereas the covenants bind the first part"),
      (4L, "lol that meme is so funny omg"),
      (5L, "omg did you see that lol"),
      (6L, "so funny i cant even lol")).toDF("doc_id", "text")
    val labels = docs.select(col("doc_id"),
      when(col("doc_id") <= 3L, 1).otherwise(0).as("y"))
    val model = ext.QualityClassifier.train(docs, col("doc_id"), col("text"),
      labels, steps = 5, lr = 0.5)
    val p = ext.QualityClassifier
      .score(docs, col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L).map(p).min > Seq(4L, 5L, 6L).map(p).max)
    ext.QualityClassifier.release(model)
  }

  test("classifier training and scoring are partition-invariant") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .filter(col("doc_id") < 150)
    def at(n: Int) = {
      val c = d.repartition(n)
      val labels = c.select(col("doc_id"),
        when(col("lang") === "en", 1).otherwise(0).as("y"))
      val m = ext.QualityClassifier.train(c, col("doc_id"), col("text"),
        labels, steps = 2, lr = 0.05)
      val w = m.weights.orderBy("feat").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val s = ext.QualityClassifier.score(c, col("doc_id"), col("text"), m)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      ext.QualityClassifier.release(m)
      (w, m.biasMicros, s)
    }
    assert(at(1) === at(7))
  }

  test("classifier scoring broadcasts the model and rejects empty labels") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val labels = d.select(col("doc_id"),
      when(col("lang") === "en", 1).otherwise(0).as("y"))
    val m = ext.QualityClassifier.train(d, col("doc_id"), col("text"),
      labels, steps = 1, lr = 0.05)
    val plan = ext.QualityClassifier
      .score(d, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"broadcast lost:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"model join degraded to a corpus shuffle:\n$plan")
    ext.QualityClassifier.release(m)
    intercept[IllegalArgumentException] {
      ext.QualityClassifier.train(d, col("doc_id"), col("text"),
        labels.filter(col("doc_id") < 0), steps = 1, lr = 0.05)
    }
  }

  test("classifier training refuses duplicated label rows instead of " +
    "doubling a document's margin") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val labels = d.select(col("doc_id"),
      when(col("lang") === "en", 1).otherwise(0).as("y"))
    val dup = labels.unionByName(labels.limit(3))
    val e = intercept[IllegalArgumentException] {
      ext.QualityClassifier.train(d, col("doc_id"), col("text"),
        dup, steps = 1, lr = 0.05)
    }
    assert(e.getMessage.contains("3 duplicate"), e.getMessage)
  }

  // ---------- GopherRules ----------

  test("gopher rules judge each boundary the way the paper states it") {
    val cfg = ext.GopherRules.Config(minWords = 3L, maxWords = 5L,
      stopwords = Seq("the", "of"), minDistinctStopwords = 1)
    val docs = Seq(
      (1L, "the quick brown fox"), // all rules pass
      (2L, "the of"), // under minWords
      (3L, "the cat ate all of it six"), // over maxWords (7)
      (4L, "a ab the x"), // mean word len 7/4 < 3 → fails
      (5L, "quick brown foxes run"), // no stopword
      (6L, "the ### ### fox"), // 6 '#' vs 4 words → symbol ratio fails
      (7L, "the 12 34 56"), // alpha words 1/4 < 80%
      (8L, "• the one\n• of two\n• and three"), // 3/3 bullet lines
      (9L, "the one...\nof two...\nand three") // 2/3 ellipsis lines
    ).toDF("doc_id", "text")
    val out = ext.GopherRules
      .evaluate(docs, col("doc_id"), col("text"), cfg)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(8)) // pass
    assert(!out(2L).getBoolean(1) && !out(2L).getBoolean(8)) // r_word_count
    assert(!out(3L).getBoolean(1))
    assert(!out(4L).getBoolean(2)) // r_mean_word_len
    assert(!out(5L).getBoolean(7)) // r_stopwords
    assert(!out(6L).getBoolean(3)) // r_symbol_ratio
    assert(!out(7L).getBoolean(6)) // r_alpha_words
    assert(!out(8L).getBoolean(4)) // r_bullet_lines
    assert(!out(9L).getBoolean(5)) // r_ellipsis_lines
    // each line-rule failure leaves the OTHER line rule passing
    assert(out(8L).getBoolean(5))
    assert(out(9L).getBoolean(4))
  }

  test("gopher filterDocs keeps exactly the passing documents and " +
    "stays map-side") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val cfg = ext.GopherRules.Config(minWords = 30L, maxWords = 80L,
      stopwords = Seq("the", "a", "of"), minDistinctStopwords = 2)
    val flags = ext.GopherRules
      .evaluate(d, col("doc_id"), col("text"), cfg)
    val passIds = flags.where(col("pass")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val kept = ext.GopherRules
      .filterDocs(d, col("doc_id"), col("text"), cfg)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet === passIds)
    assert(passIds.nonEmpty && passIds.size < d.count())
    // the filter keeps the original schema
    assert(kept.columns.toSeq === d.columns.toSeq)
    // map-side: no exchange anywhere in the filter plan
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopher filter shuffled:\n$plan")
  }

  test("gopher verdicts are partition-invariant and total on the corpus") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    def at(n: Int) = ext.GopherRules
      .evaluate(d.repartition(n), col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 8).map(r.getBoolean))).toSeq
    val one = at(1)
    assert(one === at(7))
    assert(one.size === d.count())
  }

  // ---------- RankEval.auc ----------

  test("auc matches hand-computed pair probabilities incl. ties") {
    def aucOf(rows: Seq[(Long, Int)]): Option[Long] = {
      val df = rows.toDF("score", "y")
      val r = ext.RankEval.auc(df, col("score"), col("y")).head()
      if (r.isNullAt(2)) None else Some(r.getLong(2))
    }
    // perfect separation, reversed, coin-flip ties
    assert(aucOf(Seq((3L, 1), (4L, 1), (1L, 0), (2L, 0))) === Some(1000000L))
    assert(aucOf(Seq((1L, 1), (2L, 1), (3L, 0), (4L, 0))) === Some(0L))
    assert(aucOf(Seq((7L, 1), (7L, 1), (7L, 0), (7L, 0))) === Some(500000L))
    // pos {2,3} vs neg {2}: pairs (2,2)=0.5, (3,2)=1 → 0.75
    assert(aucOf(Seq((2L, 1), (3L, 1), (2L, 0))) === Some(750000L))
    // single-class inputs have no defined AUC
    assert(aucOf(Seq((1L, 1), (2L, 1))) === None)
    assert(aucOf(Seq((1L, 0), (2L, 0))) === None)
  }

  test("auc is partition-invariant and counts both classes") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    def at(n: Int) = {
      val r = ext.RankEval.auc(d.repartition(n),
        ext.TextAnalysis.tokenCount(col("text")),
        (col("lang") === "en").cast("int")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val one = at(1)
    assert(one === at(7))
    assert(one._1 > 0 && one._2 > 0 && one._1 + one._2 === d.count())
  }

  // ---------- Profiling.sourceOverlap ----------

  test("source overlap counts distinct shared texts per source pair") {
    val docs = Seq(
      ("a", "one"), ("a", "two"), ("a", "three"),
      ("b", "one"), ("b", "two"),
      ("c", "two"), ("c", "solo"),
      // intra-source duplicate must not inflate anything
      ("a", "one")).toDF("source", "text")
    val out = ext.Profiling.sourceOverlap(docs, col("source"), col("text"))
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // "one": a,b; "two": a,b,c → pairs ab(2), ac(1), bc(1)
    assert(out === Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
    // disjoint sources → empty matrix
    val disjoint = Seq(("a", "x"), ("b", "y")).toDF("source", "text")
    assert(ext.Profiling
      .sourceOverlap(disjoint, col("source"), col("text")).isEmpty)
  }

  // ---------- Mining.hardNegatives ----------

  test("hard negatives drop positives, keep retrieval order, and cap " +
    "per query") {
    val ranked = Seq(
      ("q1", 10L, 1L), ("q1", 11L, 2L), ("q1", 12L, 3L), ("q1", 13L, 4L),
      ("q2", 20L, 1L), ("q2", 21L, 2L),
      ("q3", 30L, 1L)).toDF("query", "doc_id", "rank")
    val pos = Seq(("q1", 10L), ("q1", 12L), ("q3", 30L))
      .toDF("query", "doc_id")
    val out = ext.Mining.hardNegatives(ranked, pos, k = 4, nNeg = 10)
      .orderBy("query", "neg_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // q1 keeps 11 and 13 renumbered 1,2; q2 untouched; q3 fully positive
    assert(out.toSeq === Seq(
      ("q1", 1L, 11L, 2L), ("q1", 2L, 13L, 4L),
      ("q2", 1L, 20L, 1L), ("q2", 2L, 21L, 2L)))
    // rank cutoff and nNeg cap both bind
    val capped = ext.Mining.hardNegatives(ranked, pos, k = 2, nNeg = 1)
      .orderBy("query", "neg_rank").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(capped === Seq(("q1", 11L), ("q2", 20L)))
    intercept[IllegalArgumentException] {
      ext.Mining.hardNegatives(ranked, pos, k = 0)
    }
  }

  // ---------- Pca ----------

  test("jacobi eigendecomposition solves a known symmetric system") {
    val (values, vectors) = ext.Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(values(0) - 3.0) < 1e-12)
    assert(math.abs(values(1) - 1.0) < 1e-12)
    val r = 1.0 / math.sqrt(2.0)
    // eigenvectors up to sign
    assert(math.abs(math.abs(vectors(0)(0)) - r) < 1e-12)
    assert(math.abs(vectors(0)(0) - vectors(0)(1)) < 1e-12)
    assert(math.abs(vectors(1)(0) + vectors(1)(1)) < 1e-12)
  }

  test("pca fit recovers orthonormal axes whose projected variance " +
    "matches the eigenvalues, and whitening normalizes them") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val model = ext.Pca.fit(e, col("embedding"), d = 64, m = 6)
    assert(model.variances.sliding(2).forall(p => p(0) >= p(1) - 1e-15))
    for (a <- 0 until 6; b <- a until 6) {
      val dot = (0 until 64)
        .map(i => model.components(a)(i) * model.components(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"axes ${a}x${b} = $dot")
    }
    val proj = ext.Pca.project(e, col("vec_id"), col("embedding"), model)
    val stats = proj.select(posexplode(col("projection")).as(Seq("j", "y")))
      .groupBy("j")
      .agg(avg(col("y")).as("mu"), avg(col("y") * col("y")).as("ey2"))
      .orderBy("j").collect()
    stats.zipWithIndex.foreach { case (r, j) =>
      val variance = r.getDouble(2) - r.getDouble(1) * r.getDouble(1)
      assert(math.abs(variance - model.variances(j))
        <= 1e-3 * model.variances(j).max(1e-9),
        s"component $j variance $variance vs ${model.variances(j)}")
    }
    val white = ext.Pca
      .project(e, col("vec_id"), col("embedding"), model, whiten = true)
      .select(posexplode(col("projection")).as(Seq("j", "y")))
      .groupBy("j").agg(avg(col("y") * col("y")).as("ey2"))
      .orderBy("j").collect()
    white.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 5e-3,
      s"whitened component ${r.getInt(0)} has E[y²] = ${r.getDouble(1)}"))
    // the projection runs through the fused kernel
    val plan = proj.queryExecution.executedPlan.toString
    assert(plan.contains("affine_project"), s"kernel missing:\n$plan")
  }

  test("pca sufficient statistics are exact and partition-invariant") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def at(n: Int) = {
      val (cnt, sums, prods) = ext.Pca.sufficientStats(
        e.repartition(n), slice(col("embedding"), 1, 8), 8)
      (cnt, sums.toSeq, prods.toSeq)
    }
    assert(at(1) === at(7))
    intercept[IllegalArgumentException] {
      ext.Pca.sufficientStats(e.limit(0), slice(col("embedding"), 1, 8), 8)
    }
  }

  // ---------- Winnowing ----------

  test("winnow kernel selects rightmost window minima without repeats") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def run(h: Seq[Long], w: Int): Seq[Long] = {
      val e = graft.functions.WinnowPositions(
        Literal.create(new GenericArrayData(h.toArray),
          ArrayType(LongType, containsNull = false)), w)
      e.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    }
    // windows of 3: [5,3,3]→pos2, [3,3,7]→pos2 (repeat), [3,7,2]→pos4
    assert(run(Seq(5L, 3L, 3L, 7L, 2L), 3) === Seq(2L, 4L))
    // strictly decreasing: every window selects its right edge
    assert(run(Seq(9L, 8L, 7L, 6L), 2) === Seq(1L, 2L, 3L))
    // shorter than one window degrades to a single selection
    assert(run(Seq(9L, 1L), 5) === Seq(1L))
    assert(run(Seq.empty, 4) === Seq.empty)
    intercept[IllegalArgumentException] {
      graft.functions.WinnowPositions(Literal(1L), 0)
    }
  }

  test("winnowing guarantees a shared fingerprint for shared passages " +
    "and pairs them through one fp shuffle") {
    val docs = Seq(
      (1L, "aaaaaaaaaa the stolen passage here xxxxxxxxxx"),
      (2L, "zzzz the stolen passage here qqqqqqqq"),
      (3L, "completely unrelated material with nothing in common!!"))
      .toDF("doc_id", "text")
    // guarantee holds in BOTH hash modes (selection logic is shared)
    for (portable <- Seq(true, false)) {
      val fps = ext.Winnowing.fingerprintTable(docs, col("doc_id"),
        col("text"), k = 5, w = 4, portable = portable)
      val byDoc = fps.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
      assert((byDoc(1L) & byDoc(2L)).nonEmpty)
      val pairs = ext.Winnowing.sharedPassages(fps, minShared = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((1L, 2L)))
    }
  }

  test("winnow fingerprints are partition-invariant and kernel-codegen") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 60)
    def at(n: Int) = ext.Winnowing
      .fingerprintTable(d.repartition(n), col("doc_id"), col("text"))
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(at(1) === at(7))
    val plan = ext.Winnowing
      .fingerprintTable(d, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("winnow_positions"), s"kernel missing:\n$plan")
  }

  // ---------- TextAnalysis.piiSpans ----------

  test("piiSpans inventories typed occurrences in order, and redaction " +
    "removes exactly what detection sees") {
    val docs = Seq(
      (1L, "mail a@b.io then c@d.org, ip 10.0.0.1, call 555-867-5309"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = ext.TextAnalysis.piiSpans(docs, col("doc_id"), col("text"))
      .orderBy("doc_id", "kind", "idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, "email", 1L, "a@b.io"),
      (1L, "email", 2L, "c@d.org"),
      (1L, "ipv4", 1L, "10.0.0.1"),
      (1L, "phone", 1L, "555-867-5309")))
    // differential: the scrubbed corpus has nothing left to find
    val scrubbed = docs.select(col("doc_id"),
      ext.TextAnalysis.redactPii(col("text")).as("text"))
    assert(ext.TextAnalysis
      .piiSpans(scrubbed, col("doc_id"), col("text")).count() === 0L)
  }

  // ---------- UnicodeNormalize / canonical dedup ----------

  test("unicode_normalize produces standard forms in codegen and " +
    "interpreted modes") {
    val precomposed = "café" // é as one code point
    val combining = "café" // e + combining acute
    val df = Seq((precomposed, combining)).toDF("a", "b")
    val out = df.select(
      graft.functions.NormalizeExpressions.unicodeNormalize(col("a"), "NFD"),
      graft.functions.NormalizeExpressions.unicodeNormalize(col("b"), "NFC"))
      .head()
    assert(out.getString(0) === combining) // NFD decomposes
    assert(out.getString(1) === precomposed) // NFC composes
    // interpreted evaluation agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.functions.UnicodeNormalize(Literal(precomposed), "NFD")
    assert(e.eval(null).toString === combining)
    intercept[IllegalArgumentException] {
      graft.functions.UnicodeNormalize(Literal("x"), "NFX")
    }
  }

  test("canonicalText collapses representation variants and nothing else") {
    val rows = Seq(
      (1L, "café au lait"),
      (2L, "café   au\tlait"), // combining + messy whitespace
      (3L, "CAFÉ AU LAIT"), // precomposed uppercase É
      (4L, "cafe au lait"), // accent-stripped
      (5L, "cacao au lait")) // genuinely different
    val out = rows.toDF("id", "text")
      .select(col("id"), ext.Dedup.canonicalText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "cafe au lait")
    assert(Set(1L, 2L, 3L, 4L).map(out).size === 1)
    assert(out(5L) !== out(1L))
    // the canonicalization stays inside whole-stage codegen (local
    // relations constant-fold, so pin the plan over a parquet scan)
    val plan = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(ext.Dedup.canonicalText(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.startsWith("*"), s"canonicalText fell out of codegen:\n$plan")
  }

  // ---------- Profiling.corpusCard ----------

  test("corpus card computes volumes, dup rate, and fertility by hand") {
    val docs = Seq(
      ("w", "ab cd"), ("w", "ab cd"), ("w", "ef gh ij"), // 1 dup of 3
      ("x", "k 9")).toDF("source", "text")
    val out = ext.Profiling.corpusCard(docs, col("source"), col("text"))
      .orderBy("grp").collect()
    val w = out(0)
    assert(w.getString(0) === "w")
    assert(w.getLong(1) === 3L) // docs
    assert(w.getLong(2) === 7L) // ws tokens
    // BPE tokens: "ab cd" → [ab, _cd] = 2; "ef gh ij" → 3
    assert(w.getLong(3) === 7L)
    assert(w.getLong(4) === 18L) // chars
    assert(w.getLong(5) === 2L) // distinct texts
    assert(w.getLong(6) === math.round(1e6 / 3.0)) // dup rate 1/3
    assert(w.getLong(7) === math.round(1e6 * 7.0 / 3.0))
    assert(w.getLong(8) === math.round(1e6 * 18.0 / 7.0))
    val x = out(1)
    // "k 9" → BPE [k, _9] = 2 tokens, no dups
    assert((x.getLong(1), x.getLong(3), x.getLong(6)) === (1L, 2L, 0L))
  }

  test("corpus card is partition-invariant, total, and null-safe on " +
    "empty groups") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    def at(n: Int) = ext.Profiling
      .corpusCard(d.repartition(n), col("source"), col("text"))
      .orderBy("grp").collect()
      .map(r => (0 to 8).map(r.get)).toSeq
    val one = at(1)
    assert(one === at(7))
    assert(one.map(_(1).asInstanceOf[Long]).sum === d.count())
    // blank text: zero BPE tokens → fertility NULL, not a crash
    val blank = Seq(("b", "")).toDF("source", "text")
    val r = ext.Profiling.corpusCard(blank, col("source"), col("text"))
      .head()
    assert(r.getLong(3) === 0L && r.isNullAt(8))
  }

  // ---------- RankEval.recallAtK ----------

  test("recallAtK counts top-k overlap per query by hand") {
    def ranked(rows: (Long, Long, Long)*) =
      rows.toSeq.toDF("query_id", "neighbor_id", "rank")
    val truth = ranked((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L),
      (2L, 21L, 2L), (3L, 30L, 1L))
    // q1 full overlap, q2 half (order irrelevant), q3 none
    val cand = ranked((1L, 11L, 1L), (1L, 10L, 2L), (2L, 21L, 1L),
      (2L, 99L, 2L), (3L, 98L, 1L))
    val out = ext.RankEval.recallAtK(truth, cand, 2)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 2L, 2L, 1000000L), (2L, 2L, 1L, 500000L),
      (3L, 1L, 0L, 0L)))
    // ranks beyond k are ignored on both sides
    val deep = ext.RankEval.recallAtK(
      ranked((1L, 10L, 1L), (1L, 11L, 3L)),
      ranked((1L, 11L, 1L), (1L, 10L, 3L)), 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(deep === Seq((1L, 0L)))
    intercept[IllegalArgumentException] {
      ext.RankEval.recallAtK(truth, cand, 0)
    }
  }

  test("recallAtK pins IVF probe recall against brute-force truth") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val truth = ext.Similarity.bruteForceTopK(e, q, k = 5)
    val model = ext.Ivf.train(e, "embedding", nCentroids = 8, iterations = 5)
    val idx = ext.Ivf.index(e, model)
    def recallAt(nProbe: Int): Double = {
      val approx = ext.Ivf.topK(idx, q, model, k = 5, nProbe = nProbe)
      val r = ext.RankEval.recallAtK(truth, approx, 5)
        .agg(avg(col("recall_micros"))).head().getDouble(0)
      r / 1e6
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    assert(r2 > 0.4, s"nProbe=2 recall collapsed: $r2")
    assert(r8 >= r2, s"recall not monotone in nProbe: $r2 vs $r8")
    assert(r8 > 0.95, s"all-cell probe should be near-exhaustive: $r8")
  }

  // ---------- ConcatPacking ----------

  test("concat packing lays out straddling documents by hand") {
    // token counts 3, 4, 2 against 4-token sequences: doc 20 straddles
    // seq 0→1, doc 30 straddles seq 1→2 (the final partial sequence).
    val docs = Seq((10L, "a b c"), (20L, "d e f g"), (30L, "h i"))
      .toDF("doc_id", "text")
    val out = ext.ConcatPacking
      .packLayout(docs, col("doc_id"), col("text"), seqTokens = 4)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out === Seq(
      (0L, 10L, 0L, 0L, 3L),
      (0L, 20L, 0L, 3L, 1L),
      (1L, 20L, 1L, 0L, 3L),
      (1L, 30L, 0L, 3L, 1L),
      (2L, 30L, 1L, 0L, 1L)))
    intercept[IllegalArgumentException] {
      ext.ConcatPacking.packLayout(docs, col("doc_id"), col("text"), 0)
    }
  }

  test("concat packing is total, gap-free, and partition-invariant") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    def at(n: Int) = ext.ConcatPacking
      .packLayout(d.repartition(n), col("doc_id"), col("text"), 64)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val one = at(1)
    assert(one === at(7))
    // every document's slices cover exactly its token count, in order
    val docTotals = one.groupBy(_._2).view
      .mapValues(_.map(_._5).sum).toMap
    val expected = d
      .select(col("doc_id"), ext.TextAnalysis.tokenCount(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(docTotals === expected.filter(_._2 > 0))
    // every sequence except the last is filled to exactly 64 tokens,
    // with slice offsets tiling [0, fill) gap-free
    val bySeq = one.groupBy(_._1)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, slices) =>
      val fill = slices.map(_._5).sum
      if (seq != lastSeq) assert(fill === 64L, s"seq $seq underfilled")
      val tiles = slices.map(s => (s._4, s._4 + s._5)).sortBy(_._1)
      assert(tiles.head._1 === 0L)
      tiles.sliding(2).foreach {
        case Seq((_, e), (s2, _)) => assert(e === s2, s"gap in seq $seq")
        case _ =>
      }
    }
  }

  test("sequenceStats rolls the layout up per sequence") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val layout = ext.ConcatPacking
      .packLayout(d, col("doc_id"), col("text"), 64)
    val stats = ext.ConcatPacking.sequenceStats(layout)
      .orderBy("seq_id").collect()
    val byId = layout.collect().groupBy(_.getLong(0))
    assert(stats.length === byId.size)
    stats.foreach { r =>
      val rows = byId(r.getLong(0))
      assert(r.getLong(1) === rows.length.toLong)
      assert(r.getLong(2) === rows.map(_.getLong(4)).sum)
      assert(r.getLong(3) === rows.map(_.getLong(1)).min)
      assert(r.getLong(4) === rows.map(_.getLong(1)).max)
    }
  }

  // ---------- UnigramLm.perplexityBuckets ----------

  test("perplexity buckets partition the corpus, order by score, and are " +
    "partition-invariant") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    def bucketsAt(n: Int) = {
      val c = d.repartition(n)
      val model = ext.UnigramLm.termCounts(c, col("text"))
      ext.UnigramLm.perplexityBuckets(c, col("doc_id"), col("text"), model)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    }
    val out = bucketsAt(1)
    // total over the input: every scored doc appears exactly once
    assert(out.map(_._1) === out.map(_._1).distinct)
    assert(out.size === d.filter(length(trim(col("text"))) > 0).count())
    // bucket membership respects the score ordering strictly
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("head").min > byBucket("middle").max ||
      byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // quartile cut: tail ≈ 25%, head ≈ 25% (quantized thresholds make
    // the split approximate but bounded)
    assert(byBucket("tail").size <= out.size / 2)
    assert(byBucket("head").size <= out.size / 2)
    // the 1000-executor question: identical on any slicing
    assert(bucketsAt(7) === out)
  }

  test("perplexity buckets reject a degenerate quantile pair and an " +
    "empty corpus") {
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    val model = ext.UnigramLm.termCounts(d, col("text"))
    intercept[IllegalArgumentException] {
      ext.UnigramLm.perplexityBuckets(d, col("doc_id"), col("text"), model,
        pLo = 0.75, pHi = 0.25)
    }
    val empty = d.filter(col("doc_id") < 0)
    intercept[IllegalArgumentException] {
      ext.UnigramLm.perplexityBuckets(empty, col("doc_id"), col("text"),
        ext.UnigramLm.termCounts(d, col("text")))
    }
  }

  // ---------- XML round trip ----------

  test("xml sink and schema-supplied scan round-trip values and types") {
    val out = java.nio.file.Files.createTempDirectory("graft-xml-spec").toString
    val df = Seq((1L, "a <tag> & \"quoted\"", 3.5), (2L, "plain", -0.25))
      .toDF("k", "s", "d")
    graft.sources.Sources.writeXml(df, s"$out/t")
    val back = graft.sources.Sources.xml(spark, s"$out/t", Some(df.schema))
      .orderBy("k")
    // the XML reader relaxes nullability on a supplied schema; names and
    // types are the round-trip contract
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2))).toSeq ===
      Seq((1L, "a <tag> & \"quoted\"", 3.5), (2L, "plain", -0.25)))
  }
}
