package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantics tests for the hash-based extension operators that the DuckDB
  * oracle cannot replicate (xxhash64-based MinHash/SimHash/LSH): planted
  * near-duplicates must be found, unrelated documents must not pair, and
  * the approximate similarity search must recall the exact baseline.
  */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val spark0 = spark
    import spark0.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill"

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val d = docs(
      1L -> base,
      2L -> base.replace("lazy", "sleepy"), // near-dup of 1
      3L -> "completely different content about distributed query engines and shuffle partitioning strategies",
      4L -> base, // exact dup of 1
      5L -> "another unrelated document mentioning parquet files and columnar compression ratios")
    val pairs = Dedup.minhashCandidates(d, col("doc_id"), col("text"),
        numHashes = 32, bands = 16, shingleK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), s"exact dup must collide: $pairs")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)),
      s"near-dup must collide: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("minhash candidate generation leaves no persisted RDDs behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = Tables(spark, sf0001, "documents")
    Dedup.minhashCandidates(d, col("doc_id"), col("text"), bands = 4,
      wordGrams = 3).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"leaked persists: ${after -- before}")
  }

  test("over-cap buckets route through the join fallback with identical pairs") {
    // 30 identical docs → every band bucket holds all 30 ids; with
    // maxBucket=4 every bucket takes the join path, with the default they
    // all take the array path — the candidate set must not change.
    val d = docs((1L to 30L).map(i => i -> base): _*)
    def pairs(maxBucket: Int) =
      Dedup.minhashCandidates(d, col("doc_id"), col("text"), maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaArray = pairs(1024)
    val viaJoin = pairs(4)
    assert(viaArray == viaJoin)
    assert(viaArray.size == 30 * 29 / 2)
  }

  test("simhash over-cap buckets route through the join fallback with identical pairs") {
    val d = docs((1L to 25L).map(i => i -> base): _*)
    def pairs(maxBucket: Int) =
      Dedup.simhashCandidates(d, col("doc_id"), col("text"), maxDist = 0,
          maxBucket = maxBucket)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaArray = pairs(1024)
    val viaJoin = pairs(4)
    assert(viaArray == viaJoin)
    assert(viaArray.size == 25 * 24 / 2)
  }

  test("connected components: chains, stars, separate clusters, min canonical") {
    val spark0 = spark
    import spark0.implicits._
    // component A: chain 1-2-3-4 (diameter 3); component B: star 10 with
    // leaves 11,12,13; component C: single edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
    // an exhausted iteration budget must fail loudly, never silently
    // emit a half-propagated labeling
    val chain6 = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain6, maxIterations = 2).collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("connected components match a union-find oracle on random graphs") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(20260813L)
    // three seeded regimes: sparse (forest-ish, long chains), clustered
    // (few dense blobs), and a mix with isolated pairs
    val cases = Seq(
      (60, 40),  // 60 nodes, 40 random edges — mostly trees/chains
      (30, 90),  // dense — few big components
      (80, 25))  // sparse — many tiny components
    for (((n, m), ci) <- cases.zipWithIndex) {
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong
        var b = rnd.nextInt(n).toLong
        while (b == a) b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.distinct
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = inGraph.map(v => v -> {
        // component = MIN member id; union-by-min keeps roots minimal
        find(v.toInt).toLong
      }).toMap
      val comps = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Dedup.releaseComponents(comps)
      assert(got == expected, s"case $ci diverged from union-find")
    }
  }

  test("connected components: string ids converge via the join-probe fallback") {
    val spark0 = spark
    import spark0.implicits._
    // non-numeric ids cannot use the decimal-sum probe; the join probe
    // must still detect the fixpoint across a multi-segment chain
    val chain = (1 until 12).map(i => (f"doc-$i%03d", f"doc-${i + 1}%03d"))
    val pairs = chain.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == (1 to 12).map(i => f"doc-$i%03d" -> "doc-001").toMap)
    }

  test("connected components: 15-hop chain converges to fixpoint past the old fixed budget") {
    val spark0 = spark
    import spark0.implicits._
    // a chain of 16 nodes (diameter 15) — deeper than the old fixed
    // 10-round default, which would have stopped with two labels alive.
    // Interleave an unrelated star so convergence must be global.
    val chain = (1L until 16L).map(i => (i, i + 1))
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L))
    val pairs = (chain ++ star).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 16L).map(_ -> 1L).toMap ++
      Seq(100L, 101L, 102L, 103L).map(_ -> 100L).toMap
    assert(got == expected)
  }

  test("neardup pipeline: fast and portable twins cluster planted copies identically") {
    val spark0 = spark
    import spark0.implicits._
    val base = Tables(spark, sf0001, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 8)
    val corpus = (0 until 3).map(k =>
        base.select((col("doc_id") + k * 100000L).as("doc_id"), col("text")))
      .reduce(_ union _)
    val expectPlanted = (0L until 8L).flatMap(i =>
      Seq(i, i + 100000L, i + 200000L).map(_ -> i)).toMap
    for (comps <- Seq(
        Dedup.nearDupComponents(corpus, col("doc_id"), col("text"), wordGrams = 3),
        Dedup.nearDupComponentsPortable(corpus, col("doc_id"), col("text")))) {
      val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every planted triple collapses to its base id; natural near-dups
      // may add more members but never split a planted cluster
      expectPlanted.foreach { case (id, comp) =>
        assert(got.get(id).exists(_ <= comp),
          s"doc $id not clustered (got ${got.get(id)}, want component <= $comp)")
        assert(got(id) == got(comp), s"doc $id split from its base $comp")
      }
      Dedup.releaseComponents(comps)
    }
  }

  test("neardup pipeline: no candidates yields an empty component table") {
    val spark0 = spark
    import spark0.implicits._
    val distinctDocs = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine",
      3L -> "completely different words about storage engines again").toDF("doc_id", "text")
    val comps = Dedup.nearDupComponents(distinctDocs, col("doc_id"), col("text"),
      wordGrams = 3)
    assert(comps.count() == 0L)
  }

  test("null-text documents have no shingles, signature, band rows or " +
    "candidates, and never cluster together") {
    val d = docs(1L -> base, 2L -> null,
      3L -> "completely different content about distributed query engines",
      4L -> null, 5L -> null)
    for (wordGrams <- Seq(0, 3)) {
      val sigs = d.select(col("doc_id"), Dedup.minhashSignature(col("text"),
          wordGrams = wordGrams).as("sig"))
        .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
      assert(sigs == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true,
        5L -> true), s"wordGrams=$wordGrams: null text got a signature")
      val banded = Dedup.minhashBands(d, col("doc_id"), col("text"),
          wordGrams = wordGrams)
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(banded == Set(1L, 3L), s"wordGrams=$wordGrams: band rows $banded")
      val cands = Dedup.minhashCandidates(d, col("doc_id"), col("text"),
        wordGrams = wordGrams).collect()
      assert(cands.isEmpty, s"wordGrams=$wordGrams: candidates ${cands.toSeq}")
      val comps = Dedup.nearDupComponents(d, col("doc_id"), col("text"),
        wordGrams = wordGrams)
      val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      Dedup.releaseComponents(comps)
      assert(got.isEmpty, s"wordGrams=$wordGrams: null texts clustered: $got")
    }
    val portable = Dedup.nearDupComponentsPortable(d, col("doc_id"), col("text"))
    assert(portable.collect().isEmpty)
    Dedup.releaseComponents(portable)
  }

  test("signature similarity ranks near-dups above unrelated") {
    val d = docs(1L -> base, 2L -> base.replace("lazy", "sleepy"),
      3L -> "completely different content on another topic entirely with other words")
    val sigs = d.select(col("doc_id"),
      Dedup.minhashSignature(col("text")).as("sig"))
    val a = sigs.alias("a")
    val b = sigs.alias("b")
    val sims = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.signatureSimilarity(col("a.sig"), col("b.sig")).as("sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(sims((1L, 2L)) > sims((1L, 3L)))
    assert(sims((1L, 2L)) > 0.5)
    assert(sims((1L, 3L)) < 0.3)
  }

  test("minhash: unrelated documents neither agree nor cluster") {
    // the modulus must reduce a·x + b: a family that never reduces is
    // increasing in x, so every minimum comes from one shingle and two
    // documents agree on all hashes whenever that shingle coincides
    val rnd = new scala.util.Random(7L)
    def word() = (1 to 4 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val d = docs((1L to 300L).map(i => i -> Seq.fill(60)(word()).mkString(" ")): _*)
    val sigs = d.select(col("doc_id"),
      Dedup.minhashSignature(col("text")).as("sig"))
    val maxSim = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .agg(max(Dedup.signatureSimilarity(col("a.sig"), col("b.sig"))))
      .head.getDouble(0)
    assert(maxSim < 0.5, s"unrelated documents agree on $maxSim of their hashes")
    val comps = Dedup.nearDupComponents(d, col("doc_id"), col("text"))
    try assert(comps.count() == 0L, "unrelated documents clustered")
    finally Dedup.releaseComponents(comps)
  }

  test("simhash: identical text -> same signature; near-dup within small hamming") {
    val d = docs(1L -> base, 2L -> base, 3L -> base.replace("lazy", "sleepy"),
      4L -> "entirely different words everywhere in this one about many other topics")
    val sigs = d.select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val cands = Dedup.simhashCandidates(d, col("doc_id"), col("text"), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("ngram jaccard: identity 1.0, disjoint 0.0, symmetric-ish ordering") {
    val d = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "v w x y z",
      4L -> "a b c d x")
    val a = d.alias("a")
    val b = d.alias("b")
    val j = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.ngramJaccard(col("a.text"), col("b.text"), 2).as("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
    assert(j((1L, 4L)) > 0.5 && j((1L, 4L)) < 1.0)
  }

  test("embedding near-dup finds planted duplicate vectors") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val v1 = vec()
    val nearV1 = v1.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x }
    val rows = Seq((1L, v1), (2L, nearV1)) ++ (3L to 30L).map(i => (i, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, col("vec_id"), col("embedding"),
        minCos = 0.99, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted near-identical vectors missed: $pairs")
  }
}

class SimilaritySpec extends SparkSpec {

  test("brute force top-k: exact, self-excluded, rank ordered") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(e, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 15)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 5L))
      // cos non-increasing with rank
      assert(sorted.sliding(2).forall(p => p(0)._4 >= p(1)._4))
      // no self-match
      assert(!rows.exists(r => r._3 == r._1))
    }
  }

  test("LSH top-k recalls the exact top-k on clustered data (multi-probe)") {
    // LSH recall is only meaningful when near neighbors exist: plant 20
    // clusters of 10 perturbed copies each (cos ≈ 0.99 within a cluster).
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for (c <- 0 until 20; i <- 0 until 10) yield {
      val center = { val r = new scala.util.Random(c); Seq.fill(32)(r.nextFloat() * 2 - 1) }
      (c.toLong * 10 + i, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.bruteForceTopK(e, q, k = 3, quantized = true)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(e, q, k = 3, planes = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low on clustered data: $recall")
  }

  test("quantized cosine of identical vectors is 1.0") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, Seq(0.5f, -0.25f, 0.125f))).toDF("vec_id", "embedding")
    val c = df.select(Similarity.cosineQuantized(col("embedding"), col("embedding")))
      .collect()(0).getDouble(0)
    assert(c == 1.0)
  }
}

class TextAnalysisSpec extends SparkSpec {

  test("rolling fingerprint is order-sensitive; bag fingerprint is not") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.bagFingerprint(col("text")).as("bag"),
        TextAnalysis.rollingFingerprint(col("text")).as("roll"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 == out(2L)._1, "bag fingerprint must ignore order")
    assert(out(1L)._2 != out(2L)._2, "rolling fingerprint must see order")
  }

  test("langId picks marker-dominant language, 'und' when none") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, "the cat is of the house and the dog"),
      (2L, "el gato es de los perros es la casa"),
      (3L, "zzz qqq xxx")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("fused marker_counts kernel matches the composed-HOF scores on real docs") {
    val d = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
    val both = d.select(col("doc_id"),
        TextAnalysis.langScoresOver(col("_t")).as("fused"),
        TextAnalysis.langScoresOverComposed(col("_t")).as("composed"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"scores diverge for doc ${r.getLong(0)}")
    }
  }

  test("token stats on edge shapes") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "one"), (2L, "two  words"), (3L, " padded ")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // multi-space and padding collapse before splitting
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("word ngrams and char shingles have the expected counts") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(Tuple1("a b c d")).toDF("text")
    val grams = df.select(TextAnalysis.wordNgrams(col("text"), 2))
      .collect()(0).getSeq[String](0)
    assert(grams == Seq("a b", "b c", "c d"))
    val shingles = df.select(TextAnalysis.charShingles(col("text"), 3))
      .collect()(0).getSeq[String](0)
    assert(shingles.length == "a b c d".length - 3 + 1)
    assert(shingles.head == "a b" && shingles.last == "c d")
    // fewer tokens than n => NO grams (range(len-n+1) semantics, matching
    // every SQL oracle of the gram pipelines), not one truncated gram
    val short = Seq(Tuple1("a b")).toDF("text")
      .select(TextAnalysis.wordNgrams(col("text"), 3))
      .collect()(0).getSeq[String](0)
    assert(short.isEmpty)
  }

  test("bpe pre-tokenizer counts pieces incl. the vertical-tab edge") {
    val spark0 = spark
    import spark0.implicits._
    def count(t: String) = Seq(Tuple1(t)).toDF("text")
      .select(TextAnalysis.bpeTokenCount(col("text"))).collect()(0).getLong(0)
    assert(count("hello world") == 2L)     // "hello", " world"
    assert(count("it's 42 ok!") == 5L)     // it, 's, " 42", " ok", "!"
    // U+000B is whitespace in the EXPLICIT class on both engines — the
    // Java \s vs RE2 \s divergence the pattern deliberately avoids
    assert(count("a \u000B. b") == 4L) // a, " <VT>", ".", " b"
  }
}

class MultimodalSpec extends SparkSpec {

  test("payload attach + batched decode stub produce exact byte stats") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.attachPayload(df, "doc_id", "text", mime = "text/plain")
    assert(media.columns.toSeq == Seq("media_id", "payload", "meta"))
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 3 && feats(1L).first_byte == 'a'.toLong)
    assert(feats(1L).byte_sum == 'a'.toInt + 'b'.toInt + 'c'.toInt)
    assert(feats(2L).n_bytes == 0 && feats(2L).first_byte == -1L)
    assert(feats(1L).feature.length == 8)
    // deterministic: fake embedding normalizes to the byte histogram
    assert(math.abs(feats(1L).feature.sum - 1.0f) < 1e-6)
  }

  test("real imageio decode extracts dimensions and luma from generated PNGs") {
    val spark0 = spark
    import spark0.implicits._
    // two real PNGs via the JDK encoder: 5x3 all-white, 4x4 all-black —
    // known dimensions, known mean luma, known histogram buckets
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, png(5, 3, 0xFFFFFF), "image/png"),
      (2L, png(4, 4, 0x000000), "image/png"),
      (3L, "not an image at all".getBytes("UTF-8"), "text/plain"))
    val media = rows.toDF("media_id", "payload", "mime")
    val feats = Multimodal.decodeImages(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 5 && feats(1L).height == 3 &&
      feats(1L).n_pixels == 15L)
    assert(math.abs(feats(1L).mean_luma - 255.0) < 1e-6)
    assert(feats(1L).feature(7) == 1.0f) // all pixels in the top bucket
    assert(feats(2L).width == 4 && feats(2L).height == 4 &&
      feats(2L).mean_luma == 0.0 && feats(2L).feature(0) == 1.0f)
    // undecodable payload is DATA (width -1), never a thrown task
    assert(feats(3L).width == -1 && feats(3L).height == -1)
  }

  test("real WAV decode recovers format, duration, RMS and peak of a " +
    "generated sine tone") {
    val spark0 = spark
    import spark0.implicits._
    def sineWav(rate: Int, seconds: Double, amp: Double): Array[Byte] = {
      val n = (rate * seconds).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (amp * math.sin(2.0 * math.Pi * 440.0 * i / rate) *
          32767.0).toInt.toShort
        pcm(i * 2) = (s & 0xFF).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, sineWav(8000, 0.5, 0.5), "audio/wav"),
      (2L, "definitely not audio".getBytes("UTF-8"), "text/plain"))
    val media = rows.toDF("media_id", "payload", "mime")
    val feats = Multimodal.decodeAudio(media).collect()
      .map(f => f.media_id -> f).toMap
    val tone = feats(1L)
    assert(tone.sample_rate == 8000 && tone.channels == 1)
    assert(tone.n_frames == 4000L)
    assert(math.abs(tone.duration_ms - 500.0) < 1e-6)
    // sine RMS = amp/sqrt(2); 16-bit quantization keeps it within 1e-3
    assert(math.abs(tone.rms - 0.5 / math.sqrt(2.0)) < 1e-3, s"rms=${tone.rms}")
    assert(math.abs(tone.peak - 0.5) < 1e-3, s"peak=${tone.peak}")
    // undecodable payload is DATA (sample_rate -1), never a thrown task
    assert(feats(2L).sample_rate == -1)
  }

  test("frame sampling emits ceil(bytes/stride) frames at the right offsets") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, "x" * 130)).toDF("doc_id", "text")
    val media = Multimodal.attachPayload(df, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, stride = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(frames.length == 3) // 130 bytes / 64 -> offsets 0, 64, 128
    assert(frames.map(_._2).sorted.toSeq == Seq(0L, 64L, 128L))
  }
}

/** Dataset-assembly sampling: hash splits must be disjoint, complete,
  * content-deterministic, and near the requested fraction; stratified
  * samples must return exactly min(n, |stratum|) per stratum.
  */
class SamplingSpec extends SparkSpec {

  test("hash split: disjoint, complete, deterministic, fraction-accurate") {
    val d = Tables(spark, sf0001, "documents")
    val (train, test) = graft.ext.Sampling.splitByHash(d, col("doc_id"), testPercent = 10)
    val nTrain = train.count()
    val nTest = test.count()
    assert(nTrain + nTest == d.count())
    // no id in both splits
    assert(train.select("doc_id").intersect(test.select("doc_id")).count() == 0)
    // ~10% within loose tolerance over 500 docs
    assert(nTest > 10 && nTest < 120, s"test split size $nTest")
    // content-deterministic: same ids selected on a re-read and reshuffle
    val again = graft.ext.Sampling
      .splitByHash(d.repartition(7), col("doc_id"), testPercent = 10)._2
    assert(again.select("doc_id").exceptAll(test.select("doc_id")).count() == 0)
  }

  test("stratified sample: exactly min(n, stratum size) per stratum") {
    val d = Tables(spark, sf0001, "documents")
    val strata = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = graft.ext.Sampling.stratifiedSampleExact(d, col("lang"), n = 20)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampled.keySet == strata.keySet)
    strata.foreach { case (lang, total) =>
      assert(sampled(lang) == math.min(20L, total), s"stratum $lang")
    }
  }

  test("weighted mixture: weight 1 keeps all, 0 keeps none, membership deterministic") {
    val d = Tables(spark, sf0001, "documents")
    val total = d.count()
    val all = graft.ext.Sampling.weightedMixture(Seq(d -> 1.0), col("doc_id"))
    assert(all.count() == total)
    val none = graft.ext.Sampling.weightedMixture(Seq(d -> 0.0), col("doc_id"))
    assert(none.count() == 0)
    val half = graft.ext.Sampling.weightedMixture(Seq(d -> 0.5), col("doc_id"))
    val n1 = half.select("doc_id").collect().map(_.getLong(0)).toSet
    // deterministic under reshuffling
    val n2 = graft.ext.Sampling
      .weightedMixture(Seq(d.repartition(11) -> 0.5), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(n1 == n2)
    assert(n1.size > total * 0.35 && n1.size < total * 0.65, s"${n1.size}/$total")
  }
}

/** The flagship composition: curation with near-duplicate removal.
  * Planted exact copies must vanish; the near-dedup output is a subset
  * of the exact-dedup curation; membership is rerun-deterministic.
  */
class CurationSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("near-dedup curation drops planted copies and only tightens exact curation") {
    val base = Tables(spark, sf0001, "documents")
    val copies = base.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val corpus = base.unionByName(copies)
    val near = graft.ext.Curation.curateNearDedup(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every planted copy either failed the same filters as its base or
    // lost the canonical race to it — none can survive
    assert(!near.exists(_ >= 100000L), s"planted copies survived: ${near.filter(_ >= 100000L)}")
    // near-dedup only removes more than exact dedup on the base corpus
    val exact = graft.ext.Curation.curate(base)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(near.subsetOf(exact), s"near-dedup kept non-canonical ids: ${near -- exact}")
    assert(near.nonEmpty)
    // canonical choice is deterministic across reruns
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val again = graft.ext.Curation.curateNearDedup(corpus)
    assert(again.select("doc_id").collect().map(_.getLong(0)).toSet == near)
    // the consumed plan's embedded component checkpoint is releasable —
    // no cached RDDs outlive the release
    graft.ext.Curation.releaseNearDedup(again)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "curateNearDedup leaked checkpoint blocks after release")
  }
}
