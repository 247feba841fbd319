package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, each designed for the
  * 100 TB shuffle budget:
  *
  *  - exact: one hash-shuffle on the content key, map-side partial agg;
  *  - MinHash+LSH: shingle → k minhashes → band buckets → bucket-local
  *    join (candidate generation never goes quadratic globally — only
  *    within a bucket);
  *  - SimHash: 64-bit signature, banded into 16-bit keys for bucketing
  *    (Hamming-distance candidates without pairwise scans);
  *  - n-gram Jaccard: exact verification metric for candidate pairs;
  *  - embedding cosine: random-hyperplane buckets then bucket-local
  *    pairwise cosine.
  *
  * All signature computation is pure `functions._` expressions
  * (codegen'd, no UDFs); only candidate joins shuffle, keyed on buckets.
  */
object Dedup {

  /** Normalize text for near-exact matching: lowercase, collapse
    * whitespace, trim.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Representation-insensitive canonical text: Unicode-decompose
    * (NFD, via the codegen [[graft.functions.UnicodeNormalize]]
    * expression), strip combining marks, then case-fold and collapse
    * whitespace — "café" precomposed, "cafe"+U+0301, "CAFÉ" and
    * double-spaced variants all key identically. The canonical key for
    * [[exact]] dedup over web text, where encoders mix representations
    * freely.
    */
  def canonicalText(text: Column): Column =
    normalized(regexp_replace(
      graft.functions.NormalizeExpressions.unicodeNormalize(text, "NFD"),
      "\\p{M}+", ""))

  /** Exact deduplication on a content key: keep the minimum id per key
    * (deterministic canonical choice), count duplicates. Single shuffle.
    */
  def exact(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(keyCol.as("_key"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("copies"))

  // ---------- MinHash + LSH ----------

  // The family's modulus lives in one place, `MinHashFromHashes.P`
  // (graft/functions/SketchExpressions.scala): 2^31 - 1, small enough
  // that (a·x + b) with a < 2^20 and x < 2^31 always reduces.

  /** Deterministic hash-family parameters (aᵢ odd, < 2^20 so aᵢ·x never
    * overflows a Long for x < 2^31).
    */
  private def hashParams(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(20260812L)
    val as = Seq.fill(numHashes)((rnd.nextInt(1 << 19).toLong << 1) | 1L)
    val bs = Seq.fill(numHashes)(rnd.nextInt(1 << 30).toLong)
    (as, bs)
  }

  /** MinHash signature (array of `numHashes` longs) over shingles.
    * shingle → xxhash64 → fold to 2^31 space → min over shingles of
    * (aⱼ·x + bⱼ) mod P per hash j.
    *
    * `shingleK` > 0 selects character k-shingles (robust to small edits;
    * the right default for natural text); `wordGrams` > 0 selects word
    * n-gram shingles instead (the right choice when documents share a
    * small vocabulary and differ mainly in word order).
    */
  def minhashSignature(text: Column, numHashes: Int = 32, shingleK: Int = 5,
                       wordGrams: Int = 0): Column =
    signatureOverHashes(shingleHashes(text, shingleK, wordGrams), numHashes)

  /** Hashed shingles of a text column: xxhash64 (seed 42) per shingle.
    * Character shingles come from the fused one-pass kernel
    * (graft.functions.CharShingleHashes), word n-grams from a per-gram
    * `transform`. Null text yields null (no shingles). Materialize this
    * once (its own projection) before the signature kernel consumes it.
    */
  def shingleHashes(text: Column, shingleK: Int = 5, wordGrams: Int = 0): Column =
    if (wordGrams > 0)
      transform(TextAnalysis.wordNgrams(text, wordGrams), s => xxhash64(s))
    else graft.functions.SketchFunctions.char_shingle_hashes(text, shingleK)

  /** The composed form of the character path of [[shingleHashes]]:
    * `substr` windows hashed one lambda call each. Kept as the
    * differential-spec oracle of the kernel (which differs on null text
    * only: this form hashes one null shingle to the seed, 42).
    */
  private[graft] def charShingleHashesComposable(text: Column, shingleK: Int): Column =
    transform(TextAnalysis.charShingles(text, shingleK), s => xxhash64(s))

  /** MinHash signature from a pre-computed shingle-hash array column —
    * the fused codegen kernel (graft.functions.MinHashFromHashes): all
    * `numHashes` minima in one primitive loop instead of `numHashes`
    * interpreted aggregate() folds.
    */
  def signatureOverHashes(hashes: Column, numHashes: Int = 32): Column = {
    val (as, bs) = hashParams(numHashes)
    graft.functions.SketchFunctions.minhash_from_hashes(hashes, numHashes, as, bs)
  }

  /** Staged `(id, _sh)` shingle-hash rows shared by the xxhash64
    * signature paths: tokens → shingles/word-grams → one xxhash64 per
    * shingle. Staged projections so each expensive array is computed
    * once per row (an expression subtree referenced inside a
    * higher-order lambda re-evaluates per element, so every stage must
    * hand the next one a plain attribute). Null-text rows are dropped
    * first: they have no shingles, so no signature and no band rows.
    */
  private def xxhashShingleRows(df: DataFrame, idCol: Column, textCol: Column,
                                shingleK: Int, wordGrams: Int): DataFrame = {
    val rows = df.filter(textCol.isNotNull)
    if (wordGrams > 0)
      rows.select(idCol.as("id"), TextAnalysis.tokens(textCol).as("_t"))
        .select(col("id"), transform(
          TextAnalysis.wordNgramsOver(col("_t"), wordGrams),
          s => xxhash64(s)).as("_sh"))
    else
      rows.select(idCol.as("id"),
        shingleHashes(textCol, shingleK, wordGrams).as("_sh"))
  }

  /** Banded rows `(id, band, band_hash)` from an `(id, sig)` table —
    * xxhash64 over each band's signature slice. The single definition
    * both the banding API and the NearDup pipeline use.
    */
  private def xxhashBandsOverSigs(sigs: DataFrame, numHashes: Int,
                                  bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs.select(col("id"), posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * r + 1, r))
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Banded signature rows: (id, band, band_hash) — `bands` rows per
    * document; equal band_hash within a band ⇒ candidate pair. One
    * explode, no join yet.
    */
  def minhashBands(df: DataFrame, idCol: Column, textCol: Column,
                   numHashes: Int = 32, bands: Int = 8, shingleK: Int = 5,
                   wordGrams: Int = 0): DataFrame =
    xxhashBandsOverSigs(
      xxhashShingleRows(df, idCol, textCol, shingleK, wordGrams)
        .select(col("id"), signatureOverHashes(col("_sh"), numHashes).as("sig")),
      numHashes, bands)

  /** All ordered element pairs (a < b in array position) of a sorted
    * array, as `struct(a, b)` — the bucket-local pair combination,
    * expressed over plain attributes (each lambda reads attributes only,
    * so no bound-subtree re-evaluation).
    */
  private def pairCombos(arr: Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), greatest(size(arr) - i - lit(1), lit(0))),
        y => struct(x.as("a"), y.as("b")))))

  /** Bucket-local candidate pairs WITHOUT a self-join: group ids per
    * bucket key (ONE shuffle — signatures are computed once, where a
    * self-join computes them twice and shuffles both sides), sort each
    * bucket, and explode its pair combinations. Buckets larger than
    * `maxBucket` — a giant near-dup cluster or adversarial collision —
    * fall back to a keyed self-join on just those buckets (AQE's
    * skew-join case), so no single row ever materializes an unbounded
    * pair array. No caching anywhere: nothing computes twice.
    *
    * The default cap (256) is MEASURED, not guessed: the r8 adversarial
    * sweep (`adversarial_sweep_r8.json`, `lsh_skew_fallback` points)
    * times both paths on identical pair counts — the in-row array wins
    * at width ≤ 64, the keyed join wins from ~128 up (2.9 s vs 5.0 s at
    * width 512 on 1.05 M pairs), because the array path builds C(c, 2)
    * structs inside ONE task while the join parallelizes. At cluster
    * scale the serial-task straggler argument lowers the crossover
    * further, so the default sits at the top of the array-wins band.
    */
  private[ext] def candidatesFromBuckets(banded: DataFrame,
                                         bucketCols: Seq[String], idCol: String,
                                         maxBucket: Int): DataFrame = {
    val keys = bucketCols.map(col)
    val buckets = banded.groupBy(keys: _*)
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")) > 1)
    val small = buckets.filter(size(col("_ids")) <= maxBucket)
      .select(explode(pairCombos(col("_ids"))).as("_p"))
      .select(col("_p.a").as("id_a"), col("_p.b").as("id_b"))
    val bigIds = buckets.filter(size(col("_ids")) > maxBucket)
      .select(keys :+ explode(col("_ids")).as("_id"): _*)
    val a = bigIds.alias("a")
    val b = bigIds.alias("b")
    val cond = bucketCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a._id") < col("b._id")
    val big = a.join(b, cond)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
    small.union(big).distinct()
  }

  // ---------- engine-portable MinHash (audit path) ----------

  /** Modulus/multiplier constants of the portable hash family. The base
    * shingle hash folds into the field GF(2^31 - 1); each family member
    * is (a·x + b) mod (2^31 - 1) with a odd < 2^20, so a·x < 2^51 and the
    * arithmetic stays exact in any engine's 64-bit integers (ANSI-safe:
    * no overflow). Band combination chains (acc·K + m) mod 2^31.
    */
  private[ext] val PortP = 2147483647L // 2^31 - 1 (Mersenne prime)
  private[ext] val PortM = 2147483648L // 2^31
  private[ext] val PortK = 1000003L
  private[ext] val portableAs: Seq[Long] = Seq(
    999983L, 999979L, 999961L, 999959L, 999953L, 999931L, 999917L, 999907L,
    999883L, 999863L, 999841L, 999809L, 999773L, 999749L, 999727L, 999721L)
  private[ext] val portableBs: Seq[Long] = Seq(
    12345L, 67891L, 234567L, 345679L, 456789L, 567891L, 678901L, 789013L,
    890123L, 901237L, 123457L, 234563L, 345677L, 456791L, 567899L, 678911L)

  /** Engine-portable MinHash band rows — same output shape and banding
    * semantics as `minhashBands`, but the base shingle hash is md5-derived
    * (first 12 hex chars parsed as an integer, folded mod 2^31-1) instead
    * of xxhash64, so ANY engine with md5 recomputes the exact signature:
    * this is the cross-engine audit path the DuckDB gate value-checks end
    * to end. The fused xxhash64 kernel (`minhashBands`) remains the
    * throughput path — md5 is ~10× the hash cost, worth paying only when
    * a second engine must reproduce the signature bit for bit.
    */
  /** Engine-portable MinHash signature `(id, sig)` — the md5-derived
    * family every engine recomputes bit for bit (see
    * [[minhashBandsPortable]] for why/when to pay md5 over xxhash64).
    * Staged projections (tokens → grams → base hashes → signature):
    * each lambda consumes a plain attribute, nothing re-evaluates.
    */
  def minhashSignaturePortable(df: DataFrame, idCol: Column, textCol: Column,
                               wordGrams: Int = 3,
                               numHashes: Int = 16): DataFrame = {
    require(numHashes <= portableAs.size, s"at most ${portableAs.size} hashes")
    df.select(idCol.as("id"), TextAnalysis.tokens(textCol).as("_t"))
      .select(col("id"), TextAnalysis.wordNgramsOver(col("_t"), wordGrams).as("_g"))
      .select(col("id"), transform(col("_g"),
        g => conv(substring(md5(g), 1, 12), 16, 10).cast("long") % PortP)
        .as("_x"))
      .select(col("id"), array((0 until numHashes).map { j =>
        array_min(transform(col("_x"),
          x => (lit(portableAs(j)) * x + lit(portableBs(j))) % lit(PortP)))
      }: _*).as("sig"))
  }

  /** Banded rows from an `(id, sig)` table in the PORTABLE band-hash
    * arithmetic ((acc·K + m) mod 2³¹ chain) — the single definition the
    * banding API, the NearDup pipeline, and therefore the DuckDB x47
    * oracle all share: any change here must change the oracle SQL too.
    */
  private def portableBandsOverSigs(sigs: DataFrame, numHashes: Int,
                                    bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs.select(col("id"), posexplode(array((0 until bands).map { b =>
        (0 until r).foldLeft(lit(0L): Column) { (acc, i) =>
          (acc * lit(PortK) + element_at(col("sig"), b * r + i + 1)) % lit(PortM)
        }
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  def minhashBandsPortable(df: DataFrame, idCol: Column, textCol: Column,
                           wordGrams: Int = 3, numHashes: Int = 16,
                           bands: Int = 4): DataFrame =
    portableBandsOverSigs(
      minhashSignaturePortable(df, idCol, textCol, wordGrams, numHashes),
      numHashes, bands)

  /** LSH candidate pairs over the portable band rows — same bucket-local
    * shape as [[minhashCandidates]]. Documents with fewer than
    * `wordGrams` tokens carry a null band hash (no grams → no
    * signature) and are excluded: a null bucket key would otherwise
    * pair every gramless document with every other.
    */
  def minhashCandidatesPortable(df: DataFrame, idCol: Column, textCol: Column,
                                wordGrams: Int = 3, numHashes: Int = 16,
                                bands: Int = 4,
                                maxBucket: Int = 256): DataFrame =
    candidatesFromBuckets(
      minhashBandsPortable(df, idCol, textCol, wordGrams, numHashes, bands)
        .filter(col("band_hash").isNotNull),
      Seq("band", "band_hash"), "id", maxBucket)

  /** The full Lee et al. 2022 NearDup pipeline (arXiv:2107.06499 §3) as
    * ONE composition over the engine-portable signature path: LSH
    * candidate pairs → estimated-Jaccard verification at `threshold` →
    * [[connectedComponents]] over the surviving edges. Returns `(id,
    * component)` for every document in the verified candidate graph
    * (component = min id — the canonical survivor; all other members
    * are the documents NearDup removes).
    *
    * Every stage is the portable variant, so an independent engine can
    * recompute the ENTIRE pipeline — signatures, buckets, similarity,
    * components — and value-check the output (the x47 DuckDB oracle
    * does exactly that, closing components with a recursive
    * reachability query). The xxhash64 kernel path ([[minhashCandidates]]
    * → [[signatureSimilarity]] → [[connectedComponents]]) is the
    * throughput twin with identical shape.
    */
  /** Shared tail of both NearDup twins: estimated-Jaccard verification
    * of the candidate pairs against a MATERIALIZED `(id, sig)` table
    * (the expensive signature stage is computed once, feeding both
    * banding and verification), then [[connectedComponents]]; the
    * signature checkpoint is released once the components' edge list
    * has captured it.
    */
  private def verifyAndCluster(sigs: DataFrame, cands: DataFrame,
                               threshold: Double): DataFrame = {
    val verified = cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("_siga")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("_sigb")), Seq("id_b"))
      .filter(signatureSimilarity(col("_siga"), col("_sigb")) >= threshold)
      .select("id_a", "id_b")
    val comps = connectedComponents(verified)
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(sigs)
    comps
  }

  def nearDupComponentsPortable(df: DataFrame, idCol: Column, textCol: Column,
                                threshold: Double = 0.5, wordGrams: Int = 3,
                                numHashes: Int = 16, bands: Int = 4,
                                maxBucket: Int = 256): DataFrame = {
    val sigs = minhashSignaturePortable(df, idCol, textCol, wordGrams, numHashes)
      .localCheckpoint()
    val banded = portableBandsOverSigs(sigs, numHashes, bands)
      .filter(col("band_hash").isNotNull)
    verifyAndCluster(sigs,
      candidatesFromBuckets(banded, Seq("band", "band_hash"), "id", maxBucket),
      threshold)
  }

  /** LSH candidate pairs: bucket on (band, band_hash), id_a < id_b,
    * distinct. Pair generation is bucket-local (`candidatesFromBuckets`)
    * — never globally quadratic, one shuffle, no cache to leak.
    */
  def minhashCandidates(df: DataFrame, idCol: Column, textCol: Column,
                        numHashes: Int = 32, bands: Int = 8, shingleK: Int = 5,
                        wordGrams: Int = 0, maxBucket: Int = 256): DataFrame =
    candidatesFromBuckets(
      minhashBands(df, idCol, textCol, numHashes, bands, shingleK, wordGrams),
      Seq("band", "band_hash"), "id", maxBucket)

  /** Connected components over an undirected candidate-pair edge list
    * `(id_a, id_b)` — the clustering step that turns pairwise near-dup
    * candidates into dedup GROUPS (canonical = min id per component =
    * the emitted `component`).
    *
    * Min-label propagation with self-loops, iterated TO FIXPOINT: every
    * node's label starts at its own id, and each round every node takes
    * the minimum label over its closed neighborhood, so a component's
    * minimum id travels one hop per round. Round 1 therefore needs no
    * label table: it is the edge list grouped by source, keeping the
    * minimum destination. Every round is materialized once
    * (`localCheckpoint`), and the probe that decides whether it changed
    * anything runs inside that same job: for integral ids (and scale-0
    * decimals) an `Observation` on the checkpoint reads the exact
    * DECIMAL label sum, which strictly decreases iff some label did
    * (labels only ever decrease); round 1 observes the initial sum, the
    * sum of the node ids, beside its own. For any other id type the
    * probe is a separate id-keyed join of the two materialized label
    * tables that early-exits on the first decreased label. The loop
    * stops at the first round that changes nothing, so a component of
    * diameter d costs d + 1 rounds, and it THROWS if no such round is
    * observed within `maxIterations` rounds — a component whose
    * diameter reaches the budget must fail loudly, never silently keep
    * two labels.
    *
    * Scale shape: the edge list is `localCheckpoint`ed once up front
    * (the upstream candidate pipeline — LSH banding, bucket joins —
    * computes exactly once, not once per round), and since every round
    * is checkpointed, both the Catalyst plan depth and the RDD lineage
    * stay one round deep no matter how deep a boilerplate/license chain
    * runs. Each round is one join + one partial aggregate keyed on node
    * id; a label table under Spark's broadcast threshold (its size is
    * known from the row count the previous round observed) is
    * broadcast into the join, so only the aggregate shuffles. Superseded
    * checkpoints are unpersisted as the loop advances; the RETURNED
    * labels stay checkpointed for reuse — call [[releaseComponents]]
    * once the result is consumed.
    *
    * `shortcut = false` (default) runs linear rounds — NOT
    * pointer-jumped: the jump is a self-join of the evolving label
    * table whose unresolved plan doubles per round if left lazy, and
    * near-dup graphs converge in (single-digit) diameter rounds anyway.
    * `shortcut = true` enables pointer jumping from round two for
    * KNOWN-high-diameter graphs (citation chains, linked boilerplate):
    * each round adds a label-of-label shortcut after the propagation,
    * made safe by materializing every round via `localCheckpoint`
    * before the self-join — O(log diameter) rounds at twice the
    * per-round cost (r8 measurement: 4M-vertex length-64 chains,
    * 62.6 → 19.3 s). Identical output (differential-pinned).
    * Either way, a linear walk still moving after `shortcutAfter`
    * rounds AUTO-ESCALATES to pointer jumping — the default
    * configuration converges on any graph whose diameter is within
    * ~2^(remaining budget), instead of failing past `maxIterations`
    * hops, and the caller never needs to know the diameter up front.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 200,
                          shortcut: Boolean = false,
                          shortcutAfter: Int = 25): DataFrame = {
    require(maxIterations >= 1, "maxIterations must be >= 1")
    require(shortcutAfter >= 1, "shortcutAfter must be >= 1")
    // the edge list with self-loops, from ONE reference to `pairs` (the
    // caller's plan is typically an expensive candidate pipeline — LSH
    // banding, bucket joins, signature verification — that must run
    // once), materialized once. A node's self-loop repeats once per
    // incident pair; the partial aggregation ahead of every round's
    // shuffle folds the repeats, so no deduplicating shuffle is paid
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")),
        struct(col("id_a").as("src"), col("id_a").as("dst")),
        struct(col("id_b").as("src"), col("id_b").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .localCheckpoint()
    // the sum probe is only sound where the decimal(38,0) cast is EXACT
    // — integral types and scale-0 decimals; a scaled decimal would
    // round (two labels could collide after truncation and fake a
    // fixpoint), and any other id type (string, binary, float…) falls
    // back to the join probe
    val sumProbe = {
      import org.apache.spark.sql.types._
      edges.schema("src").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case dt: DecimalType if dt.scale == 0 && dt.precision <= 38 => true
        case _ => false
      }
    }
    // the planner cannot see a checkpoint's size, so a label table under
    // Spark's own broadcast threshold is broadcast explicitly (the
    // checkpoint job observes its row count): the round's join then
    // shuffles neither side
    val broadcastBytes =
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    final case class Labels(df: DataFrame, rows: Long,
                            sum: java.math.BigDecimal) {
      def joinSide: DataFrame =
        if (broadcastBytes >= 0 &&
            rows * (8L + df.schema.defaultSize) <= broadcastBytes) broadcast(df)
        else df
    }
    def decimalSum(c: String) = sum(col(c).cast("decimal(38,0)"))
    def sumOf(v: Any): java.math.BigDecimal =
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    /** Checkpoint a round's labels. The checkpoint job observes the row
      * count and, with the sum probe, the label sum — for round 1 also
      * the id sum, which is the initial labels' sum.
      */
    def materialize(df: DataFrame, first: Boolean)
        : (Labels, java.math.BigDecimal) = {
      val obs = new org.apache.spark.sql.Observation()
      val sums =
        if (!sumProbe) Nil
        else decimalSum("component").as("labels") +:
          (if (first) Seq(decimalSum("id").as("ids")) else Nil)
      val m = df.observe(obs, count(lit(1)).as("rows"), sums: _*)
        .localCheckpoint()
      val got = obs.get
      val rows = got("rows").asInstanceOf[Number].longValue
      if (!sumProbe) (Labels(m, rows, null), null)
      else (Labels(m, rows, sumOf(got("labels"))),
        if (first) sumOf(got("ids")) else null)
    }
    // one propagation round over a materialized label table
    def propagate(labels: Labels): DataFrame =
      edges.alias("e")
        .join(labels.joinSide.alias("l"), col("e.dst") === col("l.id"))
        .groupBy(col("e.src").as("id"))
        .agg(min(col("l.component")).as("component"))
    // round 1 from the edge list: every label starts at the node's id,
    // so the closed neighborhood's minimum label is its minimum id
    val (first, idSum) = materialize(
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("component")),
      first = true)
    var labels = first
    var converged =
      if (sumProbe) labels.sum.compareTo(idSum) == 0
      else labels.df.where(col("component") < col("id")).isEmpty
    var rounds = 1
    // AUTO-ESCALATION: a caller who doesn't know the graph's diameter
    // shouldn't have to. Linear rounds are cheaper while components are
    // shallow (the near-dup case, single-digit rounds); if the walk is
    // still moving after `shortcutAfter` rounds the diameter is deep and
    // the remaining rounds switch to pointer jumping — the budget throw
    // below then only triggers on graphs deeper than ~2^(budget
    // remaining), instead of budget hops.
    var jumping = shortcut
    while (!converged && rounds < maxIterations) {
      if (!jumping && rounds >= shortcutAfter) jumping = true
      val (next, _) = if (!jumping) materialize(propagate(labels), first = false)
      else {
        // POINTER JUMPING round: one neighbor propagation, then one
        // label-of-label shortcut — component chains halve per round, so
        // convergence takes O(log diameter) rounds instead of diameter.
        // The shortcut references the propagated table TWICE, the exact
        // plan-doubling hazard the linear path avoids by construction
        // (round-3 note): safe here because each round materializes via
        // localCheckpoint before the self-join and releases the
        // intermediate immediately after. Every component label is
        // itself a node id (labels are minima over node ids), so the
        // shortcut lookup is total and the label order stays
        // anti-monotone — the same convergence probes apply.
        val prop = Labels(propagate(labels).localCheckpoint(), labels.rows, null)
        val m = materialize(prop.df.alias("a")
          .join(prop.joinSide.alias("b"), col("a.component") === col("b.id"))
          .select(col("a.id").as("id"), col("b.component").as("component")),
          first = false)
        org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(prop.df)
        m
      }
      rounds += 1
      // anti-monotone labels: either the exact decimal sum strictly
      // decreased, or (fallback) some node's label is strictly smaller
      converged =
        if (sumProbe) next.sum.compareTo(labels.sum) == 0
        else next.df.alias("n")
          .join(labels.df.alias("p"), col("n.id") === col("p.id"))
          .where(col("n.component") < col("p.component"))
          .isEmpty
      // NB: Dataset.unpersist only clears CacheManager entries; a local
      // checkpoint persists at the RDD level, released via the bridge
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(labels.df)
      labels = next
    }
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(edges)
    if (!converged) {
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(labels.df)
      throw new IllegalStateException(
        s"connectedComponents observed no fixpoint within $maxIterations " +
          "rounds: the largest component diameter reaches the budget — " +
          "raise maxIterations above the expected diameter")
    }
    labels.df
  }

  /** Release the checkpointed blocks behind a [[connectedComponents]]
    * result once it has been consumed (joined, written, collected) —
    * the returned labels stay materialized for reuse until then.
    */
  def releaseComponents(labels: DataFrame): Unit =
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(labels)

  /** The THROUGHPUT twin of [[nearDupComponentsPortable]]: the same
    * Lee-et-al NearDup composition (LSH candidates → estimated-Jaccard
    * verify ≥ `threshold` → [[connectedComponents]]) on the fused
    * xxhash64 kernel path — the variant a 100 TB run uses. Spark-native
    * hashes are not replayable in another engine, so this path is
    * spec-pinned (planted copies must cluster to the base id; see
    * DedupSpec) while the portable variant is the oracle-audited twin.
    * Documents with no shingles carry no signature and are excluded
    * (same policy as the portable path — a degenerate shared signature
    * must not cross-pair every empty document).
    */
  def nearDupComponents(df: DataFrame, idCol: Column, textCol: Column,
                        threshold: Double = 0.5, numHashes: Int = 32,
                        bands: Int = 8, shingleK: Int = 5, wordGrams: Int = 0,
                        maxBucket: Int = 256): DataFrame = {
    val sigs = nearDupSignatures(df, idCol, textCol, numHashes, shingleK,
      wordGrams).localCheckpoint()
    verifyAndCluster(sigs,
      candidatesFromBuckets(
        xxhashBandsOverSigs(sigs.filter(col("sig").isNotNull), numHashes, bands),
        Seq("band", "band_hash"), "id", maxBucket),
      threshold)
  }

  /** `(id, sig)` for [[nearDupComponents]]: a document with no shingles
    * gets a null signature, which the caller filters out after
    * materializing. Filtering on the shingle array before the signature
    * projection would be pushed below the shingle projection, and the
    * shingle kernel would then run twice per document (once in the
    * filter, once in the projection).
    */
  private[graft] def nearDupSignatures(df: DataFrame, idCol: Column,
                                       textCol: Column, numHashes: Int,
                                       shingleK: Int, wordGrams: Int): DataFrame =
    xxhashShingleRows(df, idCol, textCol, shingleK, wordGrams)
      .select(col("id"), when(size(col("_sh")) > 0,
        signatureOverHashes(col("_sh"), numHashes)).as("sig"))

  /** Estimated Jaccard from signature agreement, for candidate scoring.
    * Runs once PER CANDIDATE PAIR in every near-dup verify, so it is the
    * fused codegen kernel (graft.functions.SigAgreement — one primitive
    * loop, bit-identical to the composable fold, pinned in
    * Round8PropSpec); [[signatureSimilarityComposable]] is the
    * executable oracle.
    */
  def signatureSimilarity(sigA: Column, sigB: Column): Column =
    graft.functions.SketchFunctions.sig_agreement(sigA, sigB)

  /** The composable-HOF twin of [[signatureSimilarity]] — kept as the
    * differential-spec oracle.
    */
  private[graft] def signatureSimilarityComposable(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      v => v === 1)).cast("double") / size(sigA).cast("double")

  // ---------- SimHash ----------

  /** 64-bit SimHash over whitespace tokens: per token take xxhash64,
    * accumulate ±1 per bit position, sign → bit. Returned as a Long.
    * Counter accumulation runs in the fused codegen kernel
    * (graft.functions.SimHash64FromHashes) — one primitive loop instead
    * of a 64-wide array zip per token.
    */
  def simhash64(text: Column): Column =
    graft.functions.SketchFunctions.simhash_from_hashes(
      transform(TextAnalysis.tokens(text), t => xxhash64(t)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dup candidates: band the 64 bits into four 16-bit keys;
    * two docs within Hamming distance 3 share at least one key
    * (pigeonhole). Bucket-local pair generation (signature computed once,
    * one shuffle — same shape as `candidatesFromBuckets`, carrying the
    * signature into the bucket for the exact Hamming verify ≤ `maxDist`).
    */
  def simhashCandidates(df: DataFrame, idCol: Column, textCol: Column,
                        maxDist: Int = 3, maxBucket: Int = 256): DataFrame = {
    val sigs = df.select(idCol.as("id"), simhash64(textCol).as("sig"))
    val banded = sigs.select(col("id"), col("sig"), posexplode(
        array((0 until 4).map { b =>
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))
        }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    val buckets = banded.groupBy("band", "band_key")
      .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("_m"))
      .filter(size(col("_m")) > 1)
    val small = buckets.filter(size(col("_m")) <= maxBucket)
      .select(explode(pairCombos(col("_m"))).as("_p"))
      .select(col("_p.a.id").as("id_a"), col("_p.b.id").as("id_b"),
        hamming64(col("_p.a.sig"), col("_p.b.sig")).as("hamming"))
    val bigRows = buckets.filter(size(col("_m")) > maxBucket)
      .select(col("band"), col("band_key"), explode(col("_m")).as("_m1"))
      .select(col("band"), col("band_key"),
        col("_m1.id").as("_id"), col("_m1.sig").as("_sig"))
    val a = bigRows.alias("a")
    val b = bigRows.alias("b")
    val big = a.join(b, col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        hamming64(col("a._sig"), col("b._sig")).as("hamming"))
    small.union(big).filter(col("hamming") <= maxDist).distinct()
  }

  // ---------- n-gram Jaccard ----------

  /** Exact Jaccard similarity of distinct word n-gram sets. */
  def ngramJaccard(textA: Column, textB: Column, n: Int): Column = {
    val ga = array_distinct(TextAnalysis.wordNgrams(textA, n))
    val gb = array_distinct(TextAnalysis.wordNgrams(textB, n))
    val inter = size(array_intersect(ga, gb)).cast("double")
    inter / (size(ga) + size(gb) - size(array_intersect(ga, gb))).cast("double")
  }

  /** Asymmetric n-gram CONTAINMENT |grams(A) ∩ grams(B)| / |grams(A)| —
    * the subset-duplication detector Jaccard misses: a short document
    * wholly embedded in a much longer one (a quoted article, a lifted
    * paragraph) scores ≈1 here while its Jaccard stays near
    * |A|/|B| ≈ 0. The Lee et al. (2022) near-dup family uses both:
    * Jaccard for mutual duplicates, containment for engulfment. Exact
    * rational arithmetic in doubles — both engines compute the same
    * count ratio bit-identically.
    */
  def ngramContainment(textA: Column, textB: Column, n: Int): Column = {
    val ga = array_distinct(TextAnalysis.wordNgrams(textA, n))
    val gb = array_distinct(TextAnalysis.wordNgrams(textB, n))
    size(array_intersect(ga, gb)).cast("double") / size(ga).cast("double")
  }

  // ---------- embedding cosine near-dup ----------

  /** Near-duplicate pairs by embedding cosine ≥ `minCos`: random-
    * hyperplane bucket (Similarity.hyperplaneBucket) then bucket-local
    * pairwise cosine — candidate generation is linear + bucket-quadratic,
    * never globally quadratic. Same bucket-grouped shape as the text
    * candidates: the bucket expression computes ONCE per vector and
    * vectors shuffle once (a self-join computes it twice and shuffles
    * both sides); buckets over `maxBucket` fall back to the keyed join.
    */
  def embeddingNearDup(df: DataFrame, idCol: Column, vecCol: Column,
                       minCos: Double = 0.95, planes: Int = 8,
                       maxBucket: Int = 256): DataFrame = {
    val bucketed = df.select(idCol.as("id"), vecCol.as("vec"),
      Similarity.hyperplaneBucket(vecCol, planes).as("bucket"))
    val buckets = bucketed.groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("vec")))).as("_m"))
      .filter(size(col("_m")) > 1)
    val small = buckets.filter(size(col("_m")) <= maxBucket)
      .select(explode(pairCombos(col("_m"))).as("_p"))
      .select(col("_p.a.id").as("id_a"), col("_p.b.id").as("id_b"),
        Similarity.cosineFloat(col("_p.a.vec"), col("_p.b.vec")).as("cos"))
    val bigRows = buckets.filter(size(col("_m")) > maxBucket)
      .select(col("bucket"), explode(col("_m")).as("_m1"))
      .select(col("bucket"), col("_m1.id").as("_id"), col("_m1.vec").as("_vec"))
    val a = bigRows.alias("a")
    val b = bigRows.alias("b")
    val big = a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        Similarity.cosineFloat(col("a._vec"), col("b._vec")).as("cos"))
    small.union(big).filter(col("cos") >= minCos)
  }

  // ---------- cross-document repeated n-grams ----------

  /** Per-document duplicate n-gram coverage across the WHOLE corpus —
    * the substring-level dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499),
    * word-n-gram granularity: for each document, what fraction of its
    * distinct n-grams also appears in at least one OTHER document.
    * High coverage flags boilerplate (headers, licenses, templates) that
    * whole-document dedup never catches.
    *
    * Scale shape: explode to distinct `(doc, gram)` once; count docs per
    * gram with ONE hash aggregation (map-side partial applies); join the
    * counts back on the gram key and fold per doc. Cost is linear in
    * total gram volume — there is no document-pairwise step anywhere.
    * At 100 TB, hash the gram strings first (the [[Contamination]]
    * `hashed` trick) to shuffle 8-byte keys instead of strings.
    *
    * Documents with fewer than `n` tokens have no n-grams and are
    * reported with `n_grams = 0` (coverage null), not dropped.
    */
  def dupNgramCoverage(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int = 5): DataFrame = {
    val grams = df
      .select(idCol.as("id"), TextAnalysis.tokens(textCol).as("_t"))
      .select(col("id"), explode(TextAnalysis.wordNgramsOver(col("_t"), n)).as("gram"))
      .distinct()
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("_docs"))
    val perDoc = grams.join(counts, Seq("gram"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_docs") > 1L, 1L).otherwise(0L)).as("n_shared"))
    df.select(idCol.as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("dup_coverage"))
  }

  /** Incremental corpus update: the rows of `incoming` whose content
    * fingerprint (md5 of the text — engine-portable, auditable in SQL)
    * does not already appear in `corpus` — deduplicated WITHIN the
    * batch too (lowest `idCol` wins, deterministically), since a batch
    * that carries the same new text twice must not plant a duplicate
    * the moment it lands. Null-text rows carry no fingerprint and are
    * excluded by policy (they would otherwise pass every anti-join
    * forever). One partitioned window over the batch + one anti-join on
    * the fingerprint: the corpus ships only its fingerprints (never the
    * text), so adding a daily batch to a 100 TB corpus shuffles hashes,
    * not documents; at that scale keep a fingerprint-only table as the
    * join's build side.
    */
  def newDocuments(corpus: DataFrame, incoming: DataFrame,
                   idCol: Column, textCol: Column): DataFrame = {
    val w = Window.partitionBy(col("_graft_fp")).orderBy(idCol)
    incoming.filter(textCol.isNotNull)
      .withColumn("_graft_fp", md5(textCol.cast("string")))
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
      .join(corpus.filter(textCol.isNotNull)
          .select(md5(textCol.cast("string")).as("_graft_fp")),
        Seq("_graft_fp"), "left_anti")
      .drop("_graft_fp")
  }

  /** Incremental NEAR-dup corpus update — the near-duplicate twin of
    * [[newDocuments]] and the production shape of the Lee-et-al NearDup
    * pipeline: admit from `incoming` only documents that are neither
    * near-duplicates (estimated Jaccard ≥ `threshold` on the portable
    * MinHash signature) of ANY corpus document, nor redundant within the
    * batch itself — batch-internal NearDup components keep their min-id
    * member, unpaired survivors pass through. Ids must be distinct
    * across `corpus` and `incoming` (they are labels, not joined data).
    *
    * Scale shape: the corpus contributes ONLY its signature table
    * (`numHashes` ints) and band rows (`bands` longs) per document —
    * never text — so admitting a daily batch against a 100 TB corpus
    * shuffles signatures, not documents; at that scale keep the corpus
    * signature/band tables persisted and bucketed by `band_hash`, and
    * the cross join is co-partitioned on both sides. Candidate
    * generation is band-bucketed everywhere (cross pairs by shared
    * bucket, batch pairs via `candidatesFromBuckets` with the
    * `maxBucket` skew fallback) — nothing is all-pairs.
    *
    * NOT a single lazy plan (the component stage iterates to fixpoint):
    * the returned frame embeds materialized checkpoints — consume it
    * once, then free the blocks with [[releaseNearDupUpdate]].
    */
  def newDocumentsNearDup(corpus: DataFrame, incoming: DataFrame,
                          idCol: Column, textCol: Column,
                          threshold: Double = 0.5, wordGrams: Int = 3,
                          numHashes: Int = 16, bands: Int = 4,
                          maxBucket: Int = 256,
                          ccMaxIterations: Int = 200): DataFrame = {
    val csigs = minhashSignaturePortable(corpus, idCol, textCol, wordGrams,
      numHashes).localCheckpoint()
    val isigs = minhashSignaturePortable(incoming, idCol, textCol, wordGrams,
      numHashes).localCheckpoint()
    val cbands = portableBandsOverSigs(csigs, numHashes, bands)
      .filter(col("band_hash").isNotNull)
    val ibands = portableBandsOverSigs(isigs, numHashes, bands)
      .filter(col("band_hash").isNotNull)
    val cross = ibands.alias("i")
      .join(cbands.alias("c"), col("i.band") === col("c.band") &&
        col("i.band_hash") === col("c.band_hash"))
      .select(col("i.id").as("iid"), col("c.id").as("cid")).distinct()
    val corpusDup = cross
      .join(isigs.select(col("id").as("iid"), col("sig").as("_isig")), Seq("iid"))
      .join(csigs.select(col("id").as("cid"), col("sig").as("_csig")), Seq("cid"))
      .filter(signatureSimilarity(col("_isig"), col("_csig")) >= threshold)
      .select(col("iid").as("id")).distinct()
    val survivors = isigs.join(corpusDup, Seq("id"), "left_anti")
      .localCheckpoint()
    // the survivor checkpoint is the only consumer of the two signature
    // checkpoints — release them as soon as it is materialized
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(csigs)
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(isigs)
    val sbands = portableBandsOverSigs(survivors, numHashes, bands)
      .filter(col("band_hash").isNotNull)
    val verified = candidatesFromBuckets(sbands, Seq("band", "band_hash"),
        "id", maxBucket)
      .join(survivors.select(col("id").as("id_a"), col("sig").as("_siga")),
        Seq("id_a"))
      .join(survivors.select(col("id").as("id_b"), col("sig").as("_sigb")),
        Seq("id_b"))
      .filter(signatureSimilarity(col("_siga"), col("_sigb")) >= threshold)
      .select("id_a", "id_b")
    val comps = connectedComponents(verified, ccMaxIterations)
    val keep = survivors.alias("s")
      .join(comps.alias("k"), col("s.id") === col("k.id"), "left")
      .filter(col("k.component").isNull || col("k.component") === col("s.id"))
      .select(col("s.id").as("_admit_id"))
    incoming.join(keep, idCol === col("_admit_id"), "left_semi")
  }

  /** Release the checkpoints (survivor signatures + component labels)
    * embedded in a consumed [[newDocumentsNearDup]] plan; the plan must
    * not be re-executed after release.
    */
  def releaseNearDupUpdate(result: DataFrame): Unit =
    org.apache.spark.sql.GraftColumnBridge.unpersistEmbeddedCheckpoints(result)

  // ---------- C4-style segment-level dedup ----------

  /** C4-style segment-level exact deduplication (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning with a Unified
    * Text-to-Text Transformer", §2.2 — "we discarded all but one of any
    * three-sentence span occurring more than once in the data set"),
    * generalized from sentence spans to fixed-width token segments so it
    * applies to corpora without sentence structure: re-line every
    * document into consecutive `segTokens`-token segments, keep only the
    * FIRST corpus-wide occurrence of each distinct segment (minimum
    * `(id, seg_idx)` — deterministic, and intra-document repeats dedup
    * too), then reassemble each document from its surviving segments in
    * order. This is the mid-granularity dedup between whole-document
    * [[exact]] and token-span [[ExactSubstring]]: it kills repeated
    * boilerplate lines (headers, license blocks, navigation chrome)
    * without the suffix blow-up of span scrubbing.
    *
    * Returns one row per input document:
    * `(id, n_segments, n_kept, text)` — documents whose every segment
    * was seen earlier survive with `n_kept = 0` and empty text (the
    * caller filters on `n_kept` to drop husks), so the output is a
    * total function of the input corpus.
    *
    * Scale shape: segment derivation is per-row expressions, computed
    * ONCE; the keep-first choice is ONE hash aggregation on the segment
    * key whose `min(struct(id, seg_idx, seg))` already carries
    * everything downstream needs — no membership join back, no window
    * over the corpus, and map-side partial `min` applies. Reassembly
    * groups the survivors (≤ one row per distinct segment) by document
    * id, and per-document segment totals come from a second scan that
    * reads only the text column. At 100 TB, `hashKeys` shuffles
    * `xxhash64(seg)` instead of the segment text; each segment then
    * crosses the wire once, inside the min-struct payload.
    *
    * `hashKeys = true` selects the wire-size mode: the keep-first
    * aggregation and the membership join key on `xxhash64(seg)` — an
    * 8-byte key instead of the segment string, the same trade as
    * [[Contamination]]'s and [[ExactSubstring]]'s hashed modes (a 64-bit
    * collision silently merges two distinct segments; negligible below
    * ~2^32 distinct segments, and not replayable in another SQL engine —
    * keep the default for oracle-audited runs).
    */
  def segmentDedup(df: DataFrame, idCol: Column, textCol: Column,
                   segTokens: Int = 10, hashKeys: Boolean = false): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val tk = filter(TextAnalysis.tokens(textCol), t => t =!= "")
    val segs = df.select(idCol.as("id"), tk.as("_t"))
      .select(col("id"),
        when(size(col("_t")) > 0,
          transform(
            sequence(lit(0),
              floor((size(col("_t")) - 1) / lit(segTokens)).cast("int")),
            i => array_join(
              slice(col("_t"), i * segTokens + 1, lit(segTokens)), " ")))
          .otherwise(array().cast("array<string>")).as("_segs"))
      .select(col("id"), posexplode(col("_segs")))
      .withColumnsRenamed(Map("pos" -> "seg_idx", "col" -> "seg"))
    // min over struct(id, seg_idx, seg): (id, seg_idx) is unique per
    // document, so seg never participates in the ordering — it rides
    // along so no join back is needed to recover the survivor's text
    val kept = segs
      .withColumn("_k", if (hashKeys) xxhash64(col("seg")) else col("seg"))
      .groupBy("_k")
      .agg(min(struct(col("id"), col("seg_idx"), col("seg"))).as("_f"))
      .select(col("_f.id").as("id"), col("_f.seg_idx").as("seg_idx"),
        col("_f.seg").as("seg"))
    val reassembled = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg")), " ").as("text"))
    // totals re-derive from a text-column-only scan: cheaper than a
    // second shuffle of the exploded segments
    df.select(idCol.as("id"),
        when(size(tk) > 0, floor((size(tk) - 1) / lit(segTokens)) + 1L)
          .otherwise(0L).cast("long").as("n_segments"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** LSH candidate pairs BETWEEN two corpora — never within one side:
    * the benchmark-leakage shape ("which training documents are
    * near-dups of an eval set?"), where the self-join variants would
    * waste the whole candidate budget on train-internal duplicates.
    * Both sides run the engine-portable banding
    * ([[minhashBandsPortable]]) and candidates are one equi-join on
    * `(band, band_hash)` restricted across sides; gramless documents
    * (null band hash) are excluded on both sides. Output
    * `(id_a from left, id_b from right)`, distinct.
    *
    * Scale note: the right side (an eval/benchmark set) is typically
    * tiny next to the corpus — Catalyst broadcasts its banded rows, so
    * the corpus side never shuffles. Unlike the within-side APIs, no
    * `maxBucket` device is needed here: those cap the per-bucket
    * `collect_list` ARRAY a bucket-grouping materializes, while this
    * join streams (band, band_hash)-matched rows pair by pair — a hot
    * bucket costs output rows (inherent to its candidate count), never
    * an unbounded per-row allocation.
    */
  def minhashCandidatesBetweenPortable(left: DataFrame, right: DataFrame,
      leftId: Column, leftText: Column, rightId: Column, rightText: Column,
      wordGrams: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val lb = minhashBandsPortable(left, leftId, leftText, wordGrams,
        numHashes, bands)
      .filter(col("band_hash").isNotNull)
      .select(col("id").as("id_a"), col("band"), col("band_hash"))
    val rb = minhashBandsPortable(right, rightId, rightText, wordGrams,
        numHashes, bands)
      .filter(col("band_hash").isNotNull)
      .select(col("id").as("id_b"), col("band"), col("band_hash"))
    lb.join(rb, Seq("band", "band_hash")).select("id_a", "id_b").distinct()
  }

  /** Cluster-representative selection: one surviving member per
    * duplicate component — the member with the LARGEST `score`, ties to
    * the SMALLEST id (both total orders, so the survivor is unique and
    * engine-independent). This is the "keep the best copy" step a
    * curation pipeline runs after near-dup clustering: components from
    * [[connectedComponents]], score from a quality model (pass an
    * integer-quantized score — e.g. micros — so cross-engine
    * comparisons are exact, per the repo-wide no-float-thresholds
    * discipline).
    *
    * One hash aggregation on the component key (map-side combined), no
    * join, no window: `(component, rep_id, rep_score, n_members)`.
    */
  def representatives(labeled: DataFrame, id: Column, component: Column,
                      score: Column): DataFrame =
    labeled.select(component.as("component"), id.cast("long").as("_id"),
        score.cast("long").as("_s"))
      .groupBy("component")
      .agg(max(struct(col("_s"), (-col("_id")).as("_neg"))).as("_m"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("_m._neg")).as("rep_id"),
        col("_m._s").as("rep_score"), col("n_members"))
}
