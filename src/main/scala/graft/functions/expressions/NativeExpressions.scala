package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the signature/vector hot paths.
  *
  * The declarative formulations in TextFunctions/VectorFunctions use
  * higher-order array functions (`transform`/`aggregate`/`zip_with`),
  * which Catalyst evaluates per-element through the interpreted expression
  * path (HOFs don't participate in whole-stage codegen) — a ~100×
  * constant-factor penalty on 64-wide inner loops. These expressions
  * compute the same values in tight JIT-compiled Scala loops
  * (CodegenFallback costs one virtual call per row; the loop itself is
  * hot JIT code).
  *
  * BIT-FOR-BIT parity with the declarative versions is part of the
  * contract (asserted in NativeParitySpec): same xxhash64 (via
  * XxHash64Function, seed 42 — identical to the `xxhash64` SQL function),
  * same left-to-right double accumulation, same null semantics.
  */
object NativeExpressions {
  private[expressions] val XxSeed = 42L

  def col(e: Expression): Column = GraftColumnBridge.column(e)
  def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  /** xxhash64 of a UTF8String, identical to the SQL `xxhash64(col)`. */
  @inline private[expressions] def hashString(s: UTF8String): Long =
    XxHash64Function.hash(s, StringType, XxSeed)
}

/** 64-bit SimHash over an array<string> of tokens. Matches
  * TextFunctions.simHashDeclarative: per token, xxhash64 bits vote ±1 per
  * position; final bit i set iff counter_i > 0. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counters = new Array[Int](64)
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val h = NativeExpressions.hashString(arr.getUTF8String(t))
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counters(i) += 1 else counters(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (counters(i) > 0) out |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** MinHash signature (array<bigint>, length = as.length) over an
  * array<string> of tokens: word shingles of `shingleSize` (short docs
  * collapse to one whole-doc shingle), distinct, base hash reduced into
  * [0, prime), then per-function affine min. Matches
  * Dedup.minHashSignatureDeclarative. */
case class MinHashSig(
    child: Expression,
    shingleSize: Int,
    as: Seq[Long],
    bs: Seq[Long],
    prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    // shingles, distinct (insertion order irrelevant for min)
    val nSh = math.max(n - (shingleSize - 1), 1)
    val seen = new java.util.HashSet[String](nSh * 2)
    val bases = new Array[Long](nSh)
    var nBases = 0
    i = 0
    while (i < nSh) {
      // concat_ws(" ", slice(toks, i+1, shingleSize)) skips nulls
      val sb = new java.lang.StringBuilder()
      var j = i
      val end = math.min(i + shingleSize, n)
      var first = true
      while (j < end) {
        if (toks(j) != null) {
          if (!first) sb.append(' ')
          sb.append(toks(j)); first = false
        }
        j += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        bases(nBases) = java.lang.Math.floorMod(
          NativeExpressions.hashString(UTF8String.fromString(sh)), prime)
        nBases += 1
      }
      i += 1
    }
    val k = as.length
    val sig = new Array[Long](k)
    var f = 0
    while (f < k) {
      val a = as(f); val b = bs(f)
      var mn = Long.MaxValue
      var s = 0
      while (s < nBases) {
        val v = java.lang.Math.floorMod(bases(s) * a + b, prime)
        if (v < mn) mn = v
        s += 1
      }
      sig(f) = mn
      f += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Word n-gram shingles over an array<string> of tokens. Matches
  * TextFunctions.wordShinglesDeclarative exactly: nShingles =
  * max(numTokens - (n-1), 1); shingle i = concat_ws(" ",
  * slice(tokens, i+1, n)) — null tokens skipped, an empty window
  * yields "". NOT deduplicated (callers apply array_distinct, as with
  * the declarative form). The declarative HOF chain (transform over
  * sequence + slice + concat_ws) allocates per element through the
  * interpreted path; this is one tight loop per row. */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nTok = arr.numElements()
    val toks = new Array[UTF8String](nTok)
    var i = 0
    while (i < nTok) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val nSh = math.max(nTok - (n - 1), 1)
    val out = new Array[Any](nSh)
    i = 0
    val sb = new java.lang.StringBuilder()
    while (i < nSh) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + n, nTok)
      var first = true
      while (j < end) {
        if (toks(j) != null) {
          if (!first) sb.append(' ')
          sb.append(toks(j).toString); first = false
        }
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordShinglesExpr =
    copy(child = c)
}

/** Distinct character n-grams of a (pre-collapsed) string. Matches
  * TextFunctions.charNgramsDeclarative: cnt = max(len - (n-1), 1);
  * gram i = substring(s, i, n) (SQL code-point semantics via
  * UTF8String.substringSQL — NOT Java UTF-16 units); first-occurrence
  * order preserved like array_distinct. Whitespace collapsing happens
  * in the composed child expression (Spark's own trim/regexp_replace)
  * so the two formulations share it verbatim. */
case class CharNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "ngram size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    // one forward walk recording each code point's byte offset —
    // substringSQL per gram would re-scan from byte 0 every time
    // (O(len²) on long documents)
    val len = s.numChars()
    val starts = new Array[Int](len + 1)
    var b = 0
    var c = 0
    while (b < bytes.length) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    starts(len) = bytes.length
    val cnt = math.max(len - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String](cnt * 2)
    var i = 0
    while (i < cnt) {
      val from = starts(i)
      val to = starts(math.min(i + n, len))
      seen.add(UTF8String.fromBytes(bytes, from, to - from))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): CharNgramsExpr =
    copy(child = c)
}

/** Numeric-array element accessor shared by the vector expressions. */
private[expressions] object VecAccess {
  /** Returns a reader (arrayData, idx) → double for the element type, or
    * null if unsupported. */
  def reader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _) => (a, i) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case ArrayType(LongType, _) => (a, i) => a.getLong(i).toDouble
    case other => throw new IllegalArgumentException(
      s"unsupported vector type $other")
  }

  /** Java accessor snippet for generated code, e.g. `a.getFloat(i)`. */
  def javaGetter(dt: DataType, arr: String, idx: String): String = dt match {
    case ArrayType(FloatType, _) => s"(double) $arr.getFloat($idx)"
    case ArrayType(DoubleType, _) => s"$arr.getDouble($idx)"
    case ArrayType(IntegerType, _) => s"(double) $arr.getInt($idx)"
    case ArrayType(LongType, _) => s"(double) $arr.getLong($idx)"
    case other => throw new IllegalArgumentException(
      s"unsupported vector type $other")
  }

  def hasNull(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }
}

/** Shared shape of the vector-pair expressions: interpreted path + a
  * whole-stage-codegen doGenCode emitting the same tight loop (full
  * codegen — NOT CodegenFallback — so pairwise similarity stays fused
  * inside the join/projection stage with no per-row virtual calls). */
sealed trait VectorPairExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Emit loop body + result assignment; both arrays verified same
    * length and null-free, accumulators dot/aa/bb precomputed. Any
    * locals must come from `ctx.freshName` (several instances of the
    * expression may share one generated method). */
  protected def genResult(ctx: CodegenContext, dotV: String, aaV: String,
      bbV: String, ev: ExprCode): String

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val bad = ctx.freshName("bad")
      val getA = VecAccess.javaGetter(left.dataType, a, i)
      val getB = VecAccess.javaGetter(right.dataType, b, i)
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = $b.numElements() != $n;
         |double $dot = 0.0; double $aa = 0.0; double $bb = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    final double $x = $getA;
         |    final double $y = $getB;
         |    $dot += $x * $y; $aa += $x * $x; $bb += $y * $y;
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${genResult(ctx, dot, aa, bb, ev)}
         |}
       """.stripMargin
    })
  }

  protected def evalPair(l: Any, r: Any)(
      result: (Double, Double, Double) => Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n || VecAccess.hasNull(a) || VecAccess.hasNull(b))
      return null
    val readL = VecAccess.reader(left.dataType)
    val readR = VecAccess.reader(right.dataType)
    var dot = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val x = readL(a, i); val y = readR(b, i)
      dot += x * y; aa += x * x; bb += y * y
      i += 1
    }
    result(dot, aa, bb)
  }
}

/** Cosine similarity of two numeric arrays in double precision,
  * left-to-right accumulation; null on length mismatch / null element /
  * zero norm. Matches VectorFunctions.cosineDeclarative. */
case class CosineSim(left: Expression, right: Expression)
    extends VectorPairExpression {

  override def nullSafeEval(l: Any, r: Any): Any =
    evalPair(l, r) { (dot, aa, bb) =>
      val norm = math.sqrt(aa) * math.sqrt(bb)
      if (norm > 0) java.lang.Double.valueOf(dot / norm) else null
    }

  override protected def genResult(ctx: CodegenContext, dotV: String,
      aaV: String, bbV: String, ev: ExprCode): String = {
    val norm = ctx.freshName("norm")
    s"""
       |final double $norm = Math.sqrt($aaV) * Math.sqrt($bbV);
       |if ($norm > 0) { ${ev.value} = $dotV / $norm; }
       |else { ${ev.isNull} = true; }
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSim = copy(left = l, right = r)
}

/** Dot product in double precision (left-to-right), null on mismatch. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorPairExpression {

  override def nullSafeEval(l: Any, r: Any): Any =
    evalPair(l, r)((dot, _, _) => java.lang.Double.valueOf(dot))

  override protected def genResult(ctx: CodegenContext, dotV: String,
      aaV: String, bbV: String, ev: ExprCode): String =
    s"${ev.value} = $dotV;"

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(left = l, right = r)
}

/** Random-hyperplane LSH signature: `bits` sign bits packed into a long.
  * Hyperplane component (bitIdx, j) = (floorMod(xxhash64(seed, bitIdx, j),
  * 2000001) - 1000000) / 1e6 — the multi-arg xxhash64 chain is replicated
  * exactly (LongType seed, IntegerType bitIdx and j, chained from seed
  * 42), matching VectorFunctions.rhpSignatureDeclarative. */
case class RhpSig(child: Expression, bits: Int, dim: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  @transient private lazy val read = VecAccess.reader(child.dataType)

  // hyperplanes precomputed once per expression instance
  @transient private lazy val planes: Array[Array[Double]] = {
    Array.tabulate(bits) { i =>
      Array.tabulate(dim) { j =>
        var h = XxHash64Function.hash(seed, LongType, NativeExpressions.XxSeed)
        h = XxHash64Function.hash(i, IntegerType, h)
        h = XxHash64Function.hash(j, IntegerType, h)
        (java.lang.Math.floorMod(h, 2000001L).toDouble - 1000000.0) / 1000000.0
      }
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // vectors of the wrong dimensionality get signature 0 — identical to
    // the declarative version, where the zip_with null-padding poisons
    // every projection and all bits fall to the otherwise(0) branch
    if (v.numElements() != dim) return java.lang.Long.valueOf(0L)
    val n = dim
    var out = 0L
    var i = 0
    while (i < bits) {
      val u = planes(i)
      var proj = 0.0
      var j = 0
      while (j < n) { proj += read(v, j) * u(j); j += 1 }
      if (proj > 0) out |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): RhpSig =
    copy(child = c)
}

/** Polynomial rolling-hash fingerprint of a string (whitespace collapsed):
  * h = fold(h*31 + codepoint mod 1e9+7). Matches
  * TextFunctions.fingerprintDeclarative (which uses `ascii` per char =
  * first-codepoint, identical for BMP text).
  *
  * Normalization uses an EXPLICIT whitespace class (space \t \n \r \f),
  * collapse-then-strip — not String.trim (strips all chars <= U+0020)
  * and not `\s` (Java includes \x0B, RE2 does not): the DuckDB oracle
  * must reproduce the normalization byte-for-byte. */
case class Fingerprint64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  private val Mod = 1000000007L

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
      .replaceAll("[ \t\n\r\f]+", " ")
      .replaceAll("^ | $", "")
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = java.lang.Math.floorMod(acc * 31L + cp, Mod)
      i += Character.charCount(cp)
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildInternal(c: Expression): Fingerprint64 =
    copy(child = c)
}

/** Unicode NFC normalization (java.text.Normalizer) — the
  * normalize-before-hash step of a dedup pipeline: visually identical
  * strings with different codepoint sequences (é as U+00E9 vs
  * e+U+0301) must fingerprint/minhash identically or every dedup
  * operator under-merges. NFC (not NFKC) so compatibility characters
  * (ligatures, full-width forms) are preserved — and so the DuckDB
  * oracle (`nfc_normalize`) mirrors it exactly. Already-normalized
  * text (the common case) short-circuits via `isNormalized` without
  * allocating. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(
        s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(java.text.Normalizer.normalize(
      s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

/** Reconstructed SQ8 dot product of two quantized vectors — the
  * candidate-scoring inner loop of the IVF+SQ8 indexed ANN path
  * (`AnnIndex.ivfSq8Core`), as a FULL-codegen expression so the
  * integer MAC stays fused inside the cell join's projection instead
  * of crossing a Ser/De + mapPartitions boundary.
  *
  * sim = d·mnA·mnB + mnA·scB·sumB + mnB·scA·sumA + scA·scB·Σ(qA·qB)
  *
  * BIT-FOR-BIT identical to `Similarity.sq8CandidateScan`'s closure:
  * the MAC is exact in long, and the double formula keeps the same
  * left-to-right operation order (parity is load-bearing — the
  * combined indexed path is spec-asserted bit-identical to sq8TopK
  * when probing all cells). Null on any null input or code-length
  * mismatch. Children: (qA, minA, scaleA, sumA, qB, minB, scaleB,
  * sumB) with q BinaryType, min/scale DoubleType, sum LongType. */
case class Sq8ReconstructedDot(children: Seq[Expression])
    extends Expression {
  require(children.length == 8,
    "Sq8ReconstructedDot takes (qA, minA, scaleA, sumA, qB, minB, scaleB, sumB)")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val qa = vs(0).asInstanceOf[Array[Byte]]
    val mna = vs(1).asInstanceOf[Double]
    val sca = vs(2).asInstanceOf[Double]
    val sa = vs(3).asInstanceOf[Long]
    val qb = vs(4).asInstanceOf[Array[Byte]]
    val mnb = vs(5).asInstanceOf[Double]
    val scb = vs(6).asInstanceOf[Double]
    val sb = vs(7).asInstanceOf[Long]
    val d = qa.length
    if (qb.length != d) return null
    var mac = 0L
    var j = 0
    while (j < d) {
      mac += (qa(j) & 0xff).toLong * (qb(j) & 0xff).toLong
      j += 1
    }
    // same double-op order as sq8CandidateScan
    java.lang.Double.valueOf(
      d * mna * mnb + mna * scb * sb + mnb * sca * sa + sca * scb * mac)
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val Seq(qa, mna, sca, sa, qb, mnb, scb, sb) = evals.map(_.value)
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val d = ctx.freshName("d")
    val mac = ctx.freshName("mac")
    val j = ctx.freshName("j")
    ev.copy(code = code"""
      |${evals.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = $anyNull;
      |double ${ev.value} = 0.0;
      |if (!${ev.isNull}) {
      |  final int $d = $qa.length;
      |  if ($qb.length != $d) {
      |    ${ev.isNull} = true;
      |  } else {
      |    long $mac = 0L;
      |    for (int $j = 0; $j < $d; $j++) {
      |      $mac += (long)($qa[$j] & 0xff) * (long)($qb[$j] & 0xff);
      |    }
      |    ${ev.value} = (double)$d * $mna * $mnb + $mna * $scb * (double)$sb
      |      + $mnb * $sca * (double)$sa + $sca * $scb * (double)$mac;
      |  }
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Sq8ReconstructedDot = copy(children = cs)
}

/** ADC (asymmetric distance computation) dot product of an EXACT query
  * vector against a product-quantized corpus code word — the candidate
  * scoring of the IVF+PQ indexed ANN path
  * (`AnnIndex.ivfPqCore`), as a FULL-codegen expression fused in
  * the cell join's projection.
  *
  *   sim = Σ_s dot(query[bounds(s)..bounds(s+1)), codebook_s[code_s])
  *
  * The codebooks ride as a compile-time REFERENCE OBJECT (flattened to
  * `m·ksub` sub-centroid arrays, indexed `s·ksub + code`), not as
  * literals — m=8 × ksub=256 × 8-dim sub-centroids is 16k doubles,
  * which as inline constants would blow janino's constant-pool/method
  * limits and knock the projection off codegen entirely.
  *
  * BIT-FOR-BIT identical to `Similarity.pqCandidateScan`'s per-query
  * lookup-table scoring: the LUT entry lut[s][c] is exactly
  * dot(query-sub, centroid) accumulated in ascending-j order, and the
  * final score sums subspaces in ascending-s order — this expression
  * runs the same multiplies and adds in the same order, so the
  * combined indexed path can be spec-asserted bit-identical to pqTopK
  * when probing all cells. (The classical per-query LUT amortization —
  * build m·ksub partial dots once, then m lookups per pair — needs
  * query-contiguous candidate processing, which a shuffled cell join
  * does not guarantee; at dim mults per pair this form costs the same
  * as the SQ8 integer MAC while the CORPUS side of the join carries
  * only m bytes per row, 8× less than SQ8's dim bytes.)
  *
  * Null on null inputs or a code word whose length ≠ m. Children:
  * (query array<double>, codes binary). */
case class PqAdcDot(
    query: Expression,
    codes: Expression,
    codebooks: Array[Array[Double]], // flattened: (s * ksub + code) -> sub-centroid
    ksub: Int,
    bounds: Array[Int]) extends BinaryExpression {

  override def left: Expression = query
  override def right: Expression = codes
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def m: Int = bounds.length - 1

  override def nullSafeEval(q: Any, c: Any): Any = {
    val u = q.asInstanceOf[ArrayData]
    val code = c.asInstanceOf[Array[Byte]]
    if (code.length != m) return null
    var sim = 0.0
    var s = 0
    while (s < m) {
      val ctr = codebooks(s * ksub + (code(s) & 0xff))
      val lo = bounds(s)
      var d = 0.0
      var j = 0
      while (j < ctr.length) { d += u.getDouble(lo + j) * ctr(j); j += 1 }
      sim += d
      s += 1
    }
    java.lang.Double.valueOf(sim)
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", codebooks,
      "double[][]")
    val boundsRef = ctx.addReferenceObj("pqBounds", bounds, "int[]")
    nullSafeCodeGen(ctx, ev, (u, code) => {
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val ctr = ctx.freshName("ctr")
      val sim = ctx.freshName("sim")
      s"""
        |if ($code.length != ${m}) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $sim = 0.0;
        |  for (int $s = 0; $s < ${m}; $s++) {
        |    double[] $ctr = $booksRef[$s * ${ksub} + ($code[$s] & 0xff)];
        |    double $d = 0.0;
        |    for (int $j = 0; $j < $ctr.length; $j++) {
        |      $d += $u.getDouble($boundsRef[$s] + $j) * $ctr[$j];
        |    }
        |    $sim += $d;
        |  }
        |  ${ev.value} = $sim;
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcDot = copy(query = l, codes = r)
}
