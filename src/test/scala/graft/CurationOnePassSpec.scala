package graft

import graft.ext.{Dedup, IvfPq}
import graft.functions.{CharShingleHashes, SketchFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-pass forms of the curation steps equal the forms they
  * replaced, at fewer Spark jobs: the character shingle kernel equals
  * the `substr` windows hashed one lambda call each, near-dup clustering
  * evaluates that kernel once per document and returns the planted
  * clusters within a job budget, and the one-pool IVF-PQ calibration
  * equals the per-width grid loop.
  */
class CurationOnePassSpec extends SparkSpec {

  private def jobsOf[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A frame read back from parquet: a projection over a local relation
    * is folded at optimization and evaluated interpreted on the driver,
    * so only a file scan runs the generated code.
    */
  private def staged(df: DataFrame, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("character shingle kernel ≡ substr windows hashed by xxhash64, " +
    "k ∈ {1, 3, 5, 9}, interpreted and generated") {
    val sps = spark; import sps.implicits._
    val fixed = Seq("plain ascii text for shingling", "héllo wörld ñandú çà",
      "日本語のテキストです", "€ and ₹ and ¥ signs", "emoji 😀 in 🎉 text 👍🏽",
      "", "a", "ab", "abcd", "x😀y", "😀😀😀😀😀😀😀😀😀😀", "𝔸𝔹ℂ mixed 中 é")
    val rnd = new scala.util.Random(20261019L)
    val alphabet = "abcdefghij klmnop".map(_.toString) ++
      Seq("é", "ß", "ñ", "ü", "€", "中", "語", "の", "😀", "🎉", "𝔸")
    val seeded = Seq.fill(700)(Seq.fill(rnd.nextInt(90))(
      alphabet(rnd.nextInt(alphabet.size))).mkString)
    val texts = (fixed ++ seeded).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def compare(df: DataFrame, k: Int, how: String): Unit = {
      val rows = df.select(col("id"),
          SketchFunctions.char_shingle_hashes(col("text"), k).as("kernel"),
          Dedup.charShingleHashesComposable(col("text"), k).as("lambda"))
        .collect()
      assert(rows.length == 712)
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"$how k=$k: kernel drifts from the lambda form on text #${r.getLong(0)}")
      }
    }
    val fromFile = staged(texts, "graft-shingle-kernel")
    for (k <- Seq(1, 3, 5, 9)) {
      compare(texts, k, "interpreted")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      try compare(fromFile, k, "generated")
      finally {
        spark.conf.set("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    // the one difference: null text has no shingles, where the lambda
    // form hashes one null shingle to the seed
    val nul = Seq((1L, null: String)).toDF("id", "text").select(
      SketchFunctions.char_shingle_hashes(col("text"), 5),
      Dedup.charShingleHashesComposable(col("text"), 5)).head()
    assert(nul.isNullAt(0) && nul.getSeq[Long](1) == Seq(42L))
  }

  /** 660 documents of 60 random words, 60 of them the originals of
    * planted clusters (10 of two documents, 30 of three, 20 of four)
    * whose copies differ from their original in one letter: 790
    * documents.
    */
  private def plantedCorpus(): (DataFrame, Set[Set[Long]]) = {
    val sps = spark; import sps.implicits._
    val r = new scala.util.Random(20261020L)
    def word() = (1 to 4 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val vocab = Vector.fill(3000)(word())
    val base = Vector.fill(660)(Seq.fill(60)(vocab(r.nextInt(vocab.size))).mkString(" "))
    val texts = scala.collection.mutable.ArrayBuffer(base: _*)
    val sizes = Seq.fill(10)(2) ++ Seq.fill(30)(3) ++ Seq.fill(20)(4)
    val clusters = r.shuffle((0 until 660).toVector).zip(sizes).map { case (b, n) =>
      val copies = (1 until n).map { _ =>
        val t = base(b).toCharArray
        var i = r.nextInt(t.length)
        while (t(i) == ' ') i = r.nextInt(t.length)
        t(i) = ('a' + (t(i) - 'a' + 1 + r.nextInt(25)) % 26).toChar
        texts += new String(t)
        (texts.size - 1).toLong
      }
      (b.toLong +: copies).toSet
    }
    assert(texts.size == 790)
    (staged(texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"), "graft-planted-docs"), clusters.toSet)
  }

  test("near-dup clustering evaluates the shingle kernel once per " +
    "document and finds exactly the planted clusters within 16 jobs") {
    val (docs, planted) = plantedCorpus()
    // a filter on the shingle array would be pushed below the shingle
    // projection and run the kernel a second time
    val plan = Dedup.nearDupSignatures(docs, col("doc_id"), col("text"),
      numHashes = 32, shingleK = 5, wordGrams = 0).queryExecution.optimizedPlan
    val kernels = plan.collect { case node =>
      node.expressions.flatMap(_.collect { case e: CharShingleHashes => e })
    }.flatten
    assert(kernels.size == 1, s"shingle kernel evaluated ${kernels.size}×:\n$plan")
    val (pairs, jobs) = jobsOf {
      val comps = Dedup.nearDupComponents(docs, col("doc_id"), col("text"))
      val out = comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      Dedup.releaseComponents(comps)
      out
    }
    val clusters = pairs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(clusters == planted,
      s"${clusters.size} clusters found, ${planted.size} planted")
    info(s"near-dup clustering ran $jobs Spark jobs")
    assert(jobs <= 16, s"near-dup clustering ran $jobs Spark jobs")
  }

  test("connected components of a diameter-1 graph take two rounds") {
    val sps = spark; import sps.implicits._
    // labels settle in round 1 (every node is adjacent to its minimum)
    // and round 2 confirms: the edge list, two rounds, the collect
    val star = (2L to 40L).map(i => (1L, i)) ++ Seq((100L, 101L))
    val pairs = staged(star.toDF("id_a", "id_b"), "graft-cc-star")
    val (got, jobs) = jobsOf {
      val comps = Dedup.connectedComponents(pairs)
      val out = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Dedup.releaseComponents(comps)
      out
    }
    assert(got == ((1L to 40L).map(_ -> 1L) ++ Seq(100L -> 100L, 101L -> 100L)).toMap)
    val (_, oneRound) = jobsOf {
      val comps = Dedup.connectedComponents(pairs, maxIterations = 2)
      comps.collect()
      Dedup.releaseComponents(comps)
    }
    assert(jobs == oneRound, s"a diameter-1 graph ran $jobs jobs, " +
      s"$oneRound with a two-round budget")
  }

  test("one-pool IVF-PQ calibration ≡ the per-width grid loop on the " +
    "Round9/10/11 corpora, with and without early stop") {
    val e = Tables(spark, sf0001, "embeddings")
    // (nCentroids, k, targetRecall, nQueries, grid, maxProbe)
    val configs = Seq(
      (8, 5, 0.7, 16, Seq(16, 256), 0), // Round9Spec
      (8, 5, 0.7, 8, Seq(16, 64), 0), // Round10Spec
      (8, 3, 0.7, 8, Seq(16, 64), 0), // Round10Spec, sidecar helpers
      (4, 5, 1.0, 12, Seq(16, 64), 0), // Round11Spec, full grid
      (4, 5, 0.5, 12, Seq(16, 64), 0), // Round11Spec, early stop
      (8, 5, 0.9, 12, Seq(8, 32), 3)) // a probe cap below the cell count
    for ((cells, k, target, nq, grid, maxProbe) <- configs;
         earlyStop <- Seq(true, false)) {
      val onePass = IvfPq.buildCalibrated(e, nCentroids = cells, m = 8, k = k,
        targetRecall = target, nQueries = nq, maxProbe = maxProbe,
        candidateGrid = grid, earlyStop = earlyStop)
      val perWidth = IvfPq.buildCalibratedPerWidth(e, nCentroids = cells, m = 8,
        k = k, targetRecall = target, nQueries = nq, maxProbe = maxProbe,
        candidateGrid = grid, earlyStop = earlyStop)
      try assert(onePass.calibration == perWidth.calibration,
        s"cells=$cells k=$k target=$target grid=$grid maxProbe=$maxProbe " +
          s"earlyStop=$earlyStop:\n${onePass.calibration}\nvs\n${perWidth.calibration}")
      finally { onePass.release(); perWidth.release() }
    }
  }
}
