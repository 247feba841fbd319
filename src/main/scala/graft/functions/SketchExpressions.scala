package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fused codegen kernels for the document-sketch hot paths.
  *
  * MinHash needs `numHashes` minima over every shingle hash; composed as
  * `numHashes` separate `aggregate` higher-order calls the array is
  * walked 32 times through interpreted lambda dispatch. SimHash needs 64
  * counters updated per token; composed as `zip_with` over a 64-wide
  * array per token it allocates two arrays per token. Each becomes one
  * custom Expression whose `doGenCode` emits a single primitive nested
  * loop — the shape a hand-written sketch library would use, but still a
  * plan-level scalar expression Catalyst can pipeline.
  */

/** MinHash signature from an `array<long>` of shingle hashes:
  * out[j] = min over x of (a[j]·(x mod 2³¹) + b[j]) mod P, P = 2³¹−1.
  * The modulus must be smaller than a[j]·x + b[j] can grow (a[j] < 2²⁰):
  * a modulus that never reduces leaves every hash increasing in x, and
  * all minima then come from the same shingle.
  */
case class MinHashFromHashes(child: Expression, numHashes: Int,
                             as: Seq[Long], bs: Seq[Long])
    extends UnaryExpression with Serializable {

  private val P = 2147483647L

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val hashes = v.asInstanceOf[ArrayData]
    val n = hashes.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val aArr = as.toArray
    val bArr = bs.toArray
    var i = 0
    while (i < n) {
      val x = ((hashes.getLong(i) % 2147483648L) + 2147483648L) % 2147483648L
      var j = 0
      while (j < numHashes) {
        val h = (aArr(j) * x + bArr(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", as.toArray, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs.toArray, "long[]")
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $input.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = (($input.getLong($i) % 2147483648L) + 2147483648L) % 2147483648L;
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $h = ($aRef[$j] * $x + $bRef[$j]) % ${P}L;
         |    if ($h < $mins[$j]) $mins[$j] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** xxhash64 (seed 42) of every `k`-character window of a string, in
  * window order — bit-identical to
  * `transform(TextAnalysis.charShingles(text, k), s => xxhash64(s))`:
  * a text of `n ≥ k` characters yields the `n − k + 1` windows, a
  * shorter one (the empty string included) yields one shingle, the
  * whole text. Characters are counted the way `length`/`substr` count
  * them (UTF-8 lead bytes, `UTF8String.numBytesForFirstByte`), and each
  * window is hashed in place over the string's bytes, the way
  * `xxhash64` hashes a string. The composed form builds a `substr`
  * string per window and re-walks the text from its start for each
  * one through interpreted lambda dispatch; this kernel walks the bytes
  * once. A null text yields null: no shingles, so no signature.
  */
case class CharShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with Serializable {

  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def prettyName: String = "char_shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // the default collation only: xxhash64 hashes a collated string's
      // collation key, not its bytes
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      CharShingleHashes.hashes(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.CharShingleHashes.hashes($input, $k));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharShingleHashes {
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.expressions.XXH64

  private val Seed = 42L

  /** The kernel's loop, shared by the interpreted and generated paths.
    * Two byte cursors bound the current window; each slides one
    * character per shingle. A lead byte whose sequence runs past the
    * end (invalid UTF-8) is clamped to the string's end.
    */
  def hashes(s: UTF8String, k: Int): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    val n = s.numChars()
    if (n < k) return Array(XXH64.hashUnsafeBytes(base, off, nb, Seed))
    val out = new Array[Long](n - k + 1)
    if (n == nb) { // every character is one byte
      var w = 0
      while (w < out.length) {
        out(w) = XXH64.hashUnsafeBytes(base, off + w, k, Seed)
        w += 1
      }
    } else {
      def next(i: Int) = math.min(nb, i + UTF8String.numBytesForFirstByte(s.getByte(i)))
      var start = 0
      var end = 0
      var c = 0
      while (c < k) { end = next(end); c += 1 }
      var w = 0
      while (w < out.length) {
        out(w) = XXH64.hashUnsafeBytes(base, off + start, end - start, Seed)
        start = next(start)
        if (end < nb) end = next(end)
        w += 1
      }
    }
    out
  }
}

/** 64-bit SimHash from an `array<long>` of token hashes: per bit position
  * count +1/−1 by the token hash's bit, sign → bit of the result.
  */
case class SimHash64FromHashes(child: Expression)
    extends UnaryExpression with Serializable {

  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val hashes = v.asInstanceOf[ArrayData]
    val n = hashes.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counters(bit) += 1 else counters(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (counters(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val bit = ctx.freshName("bit")
      val counters = ctx.freshName("counters")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $input.numElements();
         |int[] $counters = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $input.getLong($i);
         |  for (int $bit = 0; $bit < 64; $bit++) {
         |    if ((($h >>> $bit) & 1L) == 1L) $counters[$bit]++; else $counters[$bit]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $bit = 0; $bit < 64; $bit++) {
         |  if ($counters[$bit] > 0) $sig |= (1L << $bit);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-profile marker-word hit counts from an `array<string>` of tokens:
  * out[p] = |{ i : tokens[i] ∈ profiles(p) }|, all profiles in ONE token
  * pass via a shared token→profiles hash lookup. Composed as one
  * `filter(array_contains)` HOF per profile, the token array is walked
  * |profiles| times through interpreted lambda dispatch — this is the
  * language-ID hot path (`TextAnalysis.langScoresOver`).
  */
case class MarkerCounts(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression with Serializable {

  override def prettyName: String = "marker_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.sql}")
    }

  /** token → indices of the profiles containing it (a word may mark
    * several languages, e.g. "la" in both es and fr).
    */
  @transient private lazy val lookup: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]]()
    profiles.zipWithIndex.foreach { case (words, p) =>
      words.foreach { w =>
        val k = org.apache.spark.unsafe.types.UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, if (prev == null) Array(p) else prev :+ p)
      }
    }
    m
  }

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val counts = new Array[Long](profiles.length)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val hits = lookup.get(toks.getUTF8String(i))
      if (hits != null) {
        var j = 0
        while (j < hits.length) { counts(hits(j)) += 1L; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("markerLookup", lookup, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val hits = ctx.freshName("hits")
      val counts = ctx.freshName("counts")
      s"""
         |int $n = $input.numElements();
         |long[] $counts = new long[${profiles.length}];
         |for (int $i = 0; $i < $n; $i++) {
         |  int[] $hits = (int[]) $mapRef.get($input.getUTF8String($i));
         |  if ($hits != null) {
         |    for (int $j = 0; $j < $hits.length; $j++) $counts[$hits[$j]]++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($counts);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kept tokens after masking covered positions: `masked_keep(toks,
  * sorted_covered)` emits the elements of `toks` whose 0-based position
  * is NOT in `sorted_covered` (an ascending, distinct `array<int>`).
  * One two-pointer walk, O(n_tokens + n_covered): the token index visits
  * each position once and the covered pointer advances at most once per
  * position. Composed as `filter(toks, (t, i) -> !array_contains(cov,
  * i))` the covered array is re-scanned per token — O(n·k), quadratic
  * exactly on the heavily-duplicated documents exact-substring dedup
  * exists for.
  */
case class MaskedKeep(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with Serializable {

  override def prettyName: String = "masked_keep"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.StringType, _),
            ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, array<int>), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(toksV: Any, covV: Any): Any = {
    val toks = toksV.asInstanceOf[ArrayData]
    val cov = covV.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val k = cov.numElements()
    val out = new Array[AnyRef](n)
    var kept = 0
    var p = 0
    var i = 0
    while (i < n) {
      if (p < k && cov.getInt(p) == i) {
        p += 1
      } else {
        out(kept) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        kept += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, kept))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, cov) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val kept = ctx.freshName("kept")
      val out = ctx.freshName("out")
      s"""
         |int $n = $toks.numElements();
         |int $k = $cov.numElements();
         |Object[] $out = new Object[$n];
         |int $kept = 0;
         |int $p = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($p < $k && $cov.getInt($p) == $i) {
         |    $p++;
         |  } else {
         |    $out[$kept++] = $toks.isNullAt($i) ? null : $toks.getUTF8String($i);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($out, $kept));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Signature-agreement ratio: |{j : sigA[j] = sigB[j]}| / |sigA| — the
  * estimated Jaccard every near-dup verify computes PER CANDIDATE PAIR.
  * The composable `size(filter(zip_with(...)))` chain allocates two
  * arrays per pair through interpreted lambda dispatch; at millions of
  * candidates that is the ADC lesson again (see `PqAdcDistance`), so
  * the count is one primitive loop. Arithmetic mirrors the composable
  * form exactly: integer count, cast to double, divided by |sigA| as a
  * double — bit-identical. A length mismatch is impossible by
  * construction (both signatures carry one model's numHashes) and fails
  * loudly rather than null-propagating.
  */
case class SigAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with Serializable {

  override def prettyName: String = "sig_agreement"
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<long>, array<long>), " +
            s"got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(aV: Any, bV: Any): Any = {
    val a = aV.asInstanceOf[ArrayData]
    val b = bV.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalStateException(
        s"$prettyName: signature lengths ${n} vs ${b.numElements()}")
    var same = 0
    var j = 0
    while (j < n) {
      if (a.getLong(j) == b.getLong(j)) same += 1
      j += 1
    }
    same.toDouble / n.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val same = ctx.freshName("same")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalStateException("sig_agreement: signature lengths "
         |    + $n + " vs " + $b.numElements());
         |}
         |int $same = 0;
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($a.getLong($j) == $b.getLong($j)) $same++;
         |}
         |${ev.value} = (double) $same / (double) $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Multiplicity of the most frequent element of an `array<string>` —
  * the numerator of the top-token repetition signal. The composable
  * form (`aggregate(array_distinct(toks), greatest(acc,
  * size(filter(toks, _ === t))))`) is O(distinct · n) interpreted
  * element dispatches PLUS one filtered-array allocation per distinct
  * token, per document; this kernel is the one-pass hash count. Null
  * elements contribute nothing (the composable `filter(x === null)`
  * matches no rows); an all-null or empty array scores 0 — identical.
  */
case class TopTokenCount(child: Expression)
    extends UnaryExpression with Serializable {

  override def prettyName: String = "top_token_count"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = new java.util.HashMap[AnyRef, Integer]()
    var best = 0
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j)) {
        val t = a.getUTF8String(j)
        val c = m.get(t)
        val nc = if (c == null) 1 else c + 1
        m.put(t, nc)
        if (nc > best) best = nc
      }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val t = ctx.freshName("t")
      val c = ctx.freshName("c")
      val nc = ctx.freshName("nc")
      val best = ctx.freshName("best")
      s"""
         |int $n = $input.numElements();
         |java.util.HashMap $m = new java.util.HashMap();
         |int $best = 0;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$input.isNullAt($j)) {
         |    Object $t = $input.getUTF8String($j);
         |    // raw map + explicit cast: janino compiles generics-free
         |    Integer $c = (Integer) $m.get($t);
         |    int $nc = ($c == null) ? 1 : $c.intValue() + 1;
         |    $m.put($t, Integer.valueOf($nc));
         |    if ($nc > $best) $best = $nc;
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchFunctions {

  def top_token_count(toks: Column): Column =
    GraftColumnBridge.column(TopTokenCount(GraftColumnBridge.expression(toks)))

  def sig_agreement(sigA: Column, sigB: Column): Column =
    GraftColumnBridge.column(SigAgreement(
      GraftColumnBridge.expression(sigA), GraftColumnBridge.expression(sigB)))

  def char_shingle_hashes(text: Column, k: Int): Column =
    GraftColumnBridge.column(CharShingleHashes(GraftColumnBridge.expression(text), k))

  def minhash_from_hashes(hashes: Column, numHashes: Int,
                          as: Seq[Long], bs: Seq[Long]): Column =
    GraftColumnBridge.column(MinHashFromHashes(
      GraftColumnBridge.expression(hashes), numHashes, as, bs))

  def simhash_from_hashes(hashes: Column): Column =
    GraftColumnBridge.column(SimHash64FromHashes(
      GraftColumnBridge.expression(hashes)))

  def marker_counts(tokens: Column, profiles: Seq[Seq[String]]): Column =
    GraftColumnBridge.column(MarkerCounts(
      GraftColumnBridge.expression(tokens), profiles))

  def masked_keep(tokens: Column, sortedCovered: Column): Column =
    GraftColumnBridge.column(MaskedKeep(
      GraftColumnBridge.expression(tokens),
      GraftColumnBridge.expression(sortedCovered)))
}
