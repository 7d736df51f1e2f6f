package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.PortableHash.Mod

/** Native codegen'd form of the portable polynomial string hash
  * (PortableHash.sparkCharFold). The HOF formulation walks
  * `split(s, '')` — one lambda dispatch and one single-char UTF8String
  * allocation PER CHARACTER; this expression folds over the raw bytes of
  * the UTF8String buffer inside whole-stage codegen. Byte == codepoint for
  * ASCII corpora (all testdata text is ASCII), so results are identical to
  * the HOF form and to the DuckDB oracle — asserted in the differential.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"poly_hash expects string, got " +
        child.dataType.catalogString)

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * 31 + (s.getByte(i) & 0xff)) % Mod
      i += 1
    }
    h
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |int $n = $s.numBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $h = ($h * 31 + ($s.getByte($i) & 0xff)) % ${Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): PolyHash =
    copy(child = c)
}

/** 32-bit SimHash over an array of token hashes in ONE pass: maintains 32
  * bit-counters while scanning the array, instead of the 32 separate
  * aggregate() folds the HOF formulation needs. Bit b of the result is set
  * iff more tokens have bit b set than not (ties → 0), matching the
  * generated SQL oracle exactly. */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"simhash32 expects array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[32];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 32; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 32; $b++) {
         |  if ($counts[$b] > 0) $out |= 1L << $b;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash32 =
    copy(child = c)
}

/** All `k` minhash signature values in ONE pass over the shingle-hash
  * array: sig_i = min over h of (A_i*h + B_i) mod P. The HOF formulation
  * (k × array_min(transform(...))) walks the array k times and allocates
  * k intermediate arrays per document. Constants match
  * PortableHash.minhashA/B and are a PREFIX-STABLE family — sig i is the
  * same value at every k, so widening the geometry (Dedup.LshGeometry)
  * never changes existing hashes, it only appends. Registered as
  * `minhash16` (k=16, the default geometry) and `minhash_k(arr, k)`.
  * Precondition: non-empty input (callers filter size >= shingle width);
  * an empty array yields Long.MaxValue sentinels. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  private val as: Array[Long] = Array.tabulate(k)(PortableHash.minhashA)
  private val bs: Array[Long] = Array.tabulate(k)(PortableHash.minhashB)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"minhash16 expects array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sigs = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val x = (as(j) * h + bs(j)) % PortableHash.MersennePrime
        if (x < sigs(j)) sigs(j) = x
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val x = ctx.freshName("x")
      val sigs = ctx.freshName("sigs")
      s"""
         |int $n = $arr.numElements();
         |long[] $sigs = new long[$k];
         |java.util.Arrays.fill($sigs, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $arr.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $x = ($aRef[$j] * $h + $bRef[$j]) %
         |      ${PortableHash.MersennePrime}L;
         |    if ($x < $sigs[$j]) $sigs[$j] = $x;
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Hashes of all n-word shingles of a words array in one pass, WITHOUT
  * materializing the shingle strings: for each window, the polynomial
  * fold runs over the member words' bytes with a single 0x20 separator
  * byte folded between them — byte-for-byte what
  * `poly_hash(concat_ws(' ', w[i], ..., w[i+n-1]))` computes, minus the
  * per-shingle string allocation and copy. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"shingle_hashes expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val m = len - n + 1
    if (m <= 0) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    } else {
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        var h = 0L
        var k = 0
        while (k < n) {
          if (k > 0) h = (h * 31 + 0x20) % PortableHash.Mod
          val s = arr.getUTF8String(i + k)
          val nb = s.numBytes()
          var j = 0
          while (j < nb) {
            h = (h * 31 + (s.getByte(j) & 0xff)) % PortableHash.Mod
            j += 1
          }
          k += 1
        }
        out(i) = h
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val len = ctx.freshName("len")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      val nb = ctx.freshName("nb")
      s"""
         |int $len = $arr.numElements();
         |int $m = $len - $n + 1;
         |if ($m < 0) $m = 0;
         |long[] $out = new long[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  long $h = 0L;
         |  for (int $k = 0; $k < $n; $k++) {
         |    if ($k > 0) $h = ($h * 31 + 0x20) % ${PortableHash.Mod}L;
         |    org.apache.spark.unsafe.types.UTF8String $s =
         |      $arr.getUTF8String($i + $k);
         |    int $nb = $s.numBytes();
         |    for (int $j = 0; $j < $nb; $j++) {
         |      $h = ($h * 31 + ($s.getByte($j) & 0xff)) % ${PortableHash.Mod}L;
         |    }
         |  }
         |  $out[$i] = $h;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Space-joined adjacent n-gram STRINGS of a token array in one native
  * pass: `gram_strings(ws, n)` ≡
  * `transform(sequence(1, size(ws) - n + 1), i ->
  *    concat_ws(' ', ws[i], .., ws[i + n - 1]))` — the generator shape
  * behind the bigram/trigram census queries (q72, q144, q346). The HOF
  * form runs INTERPRETED (one lambda dispatch per gram, plus a
  * sequence() array allocation per row); this expression builds each
  * gram with one UTF8String.concatWs inside whole-stage codegen.
  * Byte-identical output: concatWs(' ', a, b) == concat(a, ' ', b). */
case class GramStrings(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 2, "gram width must be >= 2")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"gram_strings expects array<string>, got ${other.catalogString}")
    }

  private lazy val space = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements() - n + 1
    if (m <= 0) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    } else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val spaceRef = ctx.addReferenceObj("gsSpace", space,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, arr => {
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val parts = (0 until n)
        .map(k => s"$arr.getUTF8String($i + $k)").mkString(", ")
      s"""
         |int $m = $arr.numElements() - $n + 1;
         |if ($m < 0) $m = 0;
         |Object[] $out = new Object[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $out[$i] = org.apache.spark.unsafe.types.UTF8String
         |    .concatWs($spaceRef, $parts);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): GramStrings =
    copy(child = c)
}

/** Adjacent token PAIRS of a token array as structs, one native pass:
  * `adjacent_pairs(ws)` ≡
  * `transform(sequence(1, size(ws) - 1), i ->
  *    struct(ws[i] AS w1, ws[i + 1] AS w2))` — the shared generator
  * behind the bigram-census operators (q214, q337/q340/q341, the q347
  * micro-batch census, q348). Replaces the interpreted HOF with a
  * codegen'd loop; each token is cloned once off its source buffer so
  * the emitted structs own their bytes regardless of how the consumer
  * buffers them. A null token becomes a null struct field, as in the
  * lambda form, so the fields are nullable exactly when the input's
  * elements are. */
case class AdjacentPairs(child: Expression) extends UnaryExpression {

  private def tokensNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w1", StringType,
        nullable = tokensNullable),
      org.apache.spark.sql.types.StructField("w2", StringType,
        nullable = tokensNullable))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"adjacent_pairs expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements() - 1
    if (m <= 0) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    } else {
      def token(j: Int): UTF8String =
        if (arr.isNullAt(j)) null else arr.getUTF8String(j).clone()
      val out = new Array[Any](m)
      var prev = token(0)
      var i = 0
      while (i < m) {
        val next = token(i + 1)
        out(i) =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](prev, next))
        prev = next
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val prev = ctx.freshName("prev")
      val next = ctx.freshName("next")
      s"""
         |int $m = $arr.numElements() - 1;
         |if ($m < 0) $m = 0;
         |Object[] $out = new Object[$m];
         |org.apache.spark.unsafe.types.UTF8String $prev =
         |  $m > 0 && !$arr.isNullAt(0) ? $arr.getUTF8String(0).clone() : null;
         |for (int $i = 0; $i < $m; $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $next =
         |    $arr.isNullAt($i + 1) ? null : $arr.getUTF8String($i + 1).clone();
         |  $out[$i] =
         |    new org.apache.spark.sql.catalyst.expressions
         |      .GenericInternalRow(new Object[] { $prev, $next });
         |  $prev = $next;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): AdjacentPairs =
    copy(child = c)
}

/** Winnowing fingerprint selection (Schleimer et al. 2003) over an array
  * of k-gram hashes in ONE pass: for every window of `w` consecutive
  * hashes keep the minimum packed key `h(i)·posBase + (posBase-1-i)`
  * (1-based i — minimal hash, rightmost position on hash ties), then
  * collapse repeats. A packed key encodes a unique position, so a key can
  * win only a CONTIGUOUS run of windows — collapsing consecutive repeats
  * is exactly `array_distinct` over the per-window mins, which is what
  * the HOF formulation this replaces computed in O(len·w) interpreted
  * lambda dispatches. Here: a monotonic-deque sliding minimum, O(len)
  * amortized, inside whole-stage codegen.
  *
  * Positions must fit the pack: documents with ≥ posBase-1 k-grams throw
  * instead of silently corrupting fingerprints (hash bits would bleed
  * into position bits).
  */
case class WinnowKeys(child: Expression, w: Int, posBase: Long)
    extends UnaryExpression {

  require(w >= 1, "winnow window must be >= 1")
  require(posBase >= 2, "position base must be >= 2")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"winnow_keys expects array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n >= posBase) throw new IllegalArgumentException(
      s"winnow_keys: $n k-gram positions exceed pack capacity " +
        s"${posBase - 1}; fingerprints would corrupt")
    val vals = new Array[Long](n)
    val dq = new Array[Int](n)
    val out = new Array[Long](if (n >= w) n - w + 1 else 0)
    var head = 0
    var tail = 0
    var m = 0
    var i = 0
    while (i < n) {
      val vi = arr.getLong(i) * posBase + (posBase - 2 - i)
      vals(i) = vi
      while (tail > head && vals(dq(tail - 1)) >= vi) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) < i - w + 1) head += 1
      if (i >= w - 1) {
        val mn = vals(dq(head))
        if (m == 0 || out(m - 1) != mn) { out(m) = mn; m += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, m))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val vals = ctx.freshName("vals")
      val dq = ctx.freshName("dq")
      val out = ctx.freshName("out")
      val head = ctx.freshName("head")
      val tail = ctx.freshName("tail")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val vi = ctx.freshName("vi")
      val mn = ctx.freshName("mn")
      s"""
         |int $n = $arr.numElements();
         |if ($n >= ${posBase}L) {
         |  throw new IllegalArgumentException(
         |    "winnow_keys: " + $n + " k-gram positions exceed pack " +
         |    "capacity ${posBase - 1}; fingerprints would corrupt");
         |}
         |long[] $vals = new long[$n];
         |int[] $dq = new int[$n];
         |long[] $out = new long[$n >= $w ? $n - $w + 1 : 0];
         |int $head = 0; int $tail = 0; int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $vi = $arr.getLong($i) * ${posBase}L + (${posBase - 2}L - $i);
         |  $vals[$i] = $vi;
         |  while ($tail > $head && $vals[$dq[$tail - 1]] >= $vi) $tail--;
         |  $dq[$tail] = $i; $tail++;
         |  if ($dq[$head] < $i - $w + 1) $head++;
         |  if ($i >= $w - 1) {
         |    long $mn = $vals[$dq[$head]];
         |    if ($m == 0 || $out[$m - 1] != $mn) { $out[$m] = $mn; $m++; }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($out, $m));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): WinnowKeys =
    copy(child = c)
}

/** True (unrestricted) Damerau–Levenshtein distance over UTF8String
  * BYTES — the Lowrance & Wagner (1975) alphabet-indexed dynamic
  * program, NOT the restricted optimal-string-alignment shortcut (the
  * distinguishing case: dist("CA","ABC") = 2 true / 3 OSA — DuckDB's
  * `damerau_levenshtein` returns 2, and the differential pins this
  * implementation against it on real data). Byte == codepoint for
  * ASCII corpora (all testdata text is ASCII — PolyHash's standing
  * caveat); `da` is a 256-slot last-seen-row table. */
object DamerauLev {
  def dist(a: UTF8String, b: UTF8String): Int = {
    val la = a.numBytes()
    val lb = b.numBytes()
    val inf = la + lb
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= lb) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    val da = new Array[Int](256)
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val ca = a.getByte(i - 1) & 0xff
        val cb = b.getByte(j - 1) & 0xff
        val i1 = da(cb)
        val j1 = db
        var cost = 1
        if (ca == cb) { cost = 0; db = j }
        var m = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        if (ins < m) m = ins
        val del = d(i)(j + 1) + 1
        if (del < m) m = del
        val tra = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        if (tra < m) m = tra
        d(i + 1)(j + 1) = m
        j += 1
      }
      da(a.getByte(i - 1) & 0xff) = i
      i += 1
    }
    d(la + 1)(lb + 1)
  }
}

/** `damerau_lev(a, b)`: [[DamerauLev.dist]] as a codegen'd binary
  * expression — the generated code calls the static helper (Spark's own
  * `levenshtein` pattern), so it stays inside whole-stage codegen. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"damerau_lev expects (string, string), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLev.dist(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String]).toLong

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"(long) graft.functions.DamerauLev.dist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}
