package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot loops the built-in higher-order
  * functions make slow (SURVEY §7.4 revisited): interpreted lambda eval
  * costs ~1 µs/element, so a 64-dim dot product over 200k pairs costs ~20 s;
  * these run the loop in (generated) Java over primitive ArrayData instead —
  * the (b)-tier custom-operator path of the north star (custom `Expression`
  * before custom plans).
  */

/** dot_product(array<float|double>, array<float|double>) → double.
  * Sequential left-to-right fold — same summation order as the interpreted
  * `aggregate(zip_with(...))` formulation and the DuckDB oracle's
  * list_dot_product, so results stay bit-identical. Codegen'd; whole-stage
  * span preserved. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (lf, rf) = (isFloat(left), isFloat(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, NOT literal locals: several DotProducts land in ONE
      // generated function (cosine = dot(a,b)/sqrt(dot(a,a)*dot(b,b))) and
      // literal `i`/`n`/`acc` collide — janino "Redefinition of local
      // variable" makes the WHOLE projection fall back to interpreted mode.
      val n = ctx.freshName("dpN")
      val i = ctx.freshName("dpI")
      val acc = ctx.freshName("dpAcc")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $acc += $getA * $getB; }
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact int64 pairwise fold Σ term(a[i], b[i]) over two long arrays — the
  * shared body of [[DotLong]] and [[SqDistLong]]. NULL on unequal lengths or
  * any null element, the semantics of the `aggregate(zip_with(...))` form
  * these kernels replaced (zip_with pads the shorter side with nulls, and
  * a null term nulls the sum). Same left-to-right fold; int64 + and * are
  * exact, so results are bit-identical to the HOF form and the DuckDB
  * oracle. Codegen'd; whole-stage span preserved. */
abstract class LongPairFold extends BinaryExpression {

  protected def term(x: Long, y: Long): Long

  protected def termCode(x: String, y: String): String

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += term(a.getLong(i), b.getLong(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, NOT literal locals: several kernels can land in ONE
      // generated function (see DotProduct)
      val n = ctx.freshName("lfN")
      val i = ctx.freshName("lfI")
      val acc = ctx.freshName("lfAcc")
      val x = ctx.freshName("lfX")
      val y = ctx.freshName("lfY")
      s"""
         |int $n = $a.numElements();
         |${ev.isNull} = $n != $b.numElements();
         |long $acc = 0L;
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |  else {
         |    long $x = $a.getLong($i);
         |    long $y = $b.getLong($i);
         |    $acc += ${termCode(x, y)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** dot_long(array<long>, array<long>) → long: exact int64 dot product.
  * The quantized-lattice families (IVF/PQ/graph-ANN/semdedup/k-center)
  * previously ran `aggregate(zip_with(a, b, (x,y) => x*y), 0L, _+_)` —
  * interpreted lambda eval at ~1 µs/element, which at √n-cell kNN-build
  * fanout dominates whole queries (r15 measured the Lloyd assign stages of
  * q_ann_graph_recall at 8.5 CPU-s each from this alone). */
case class DotLong(left: Expression, right: Expression) extends LongPairFold {

  override protected def term(x: Long, y: Long): Long = x * y

  override protected def termCode(x: String, y: String): String = s"$x * $y"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sqdist_long(array<long>, array<long>) → long: exact int64 squared
  * euclidean distance, Σ (x−y)² — the assign/argmin kernel of the
  * integer-Lloyd fits. */
case class SqDistLong(left: Expression, right: Expression) extends LongPairFold {

  override protected def term(x: Long, y: Long): Long = (x - y) * (x - y)

  override protected def termCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** minhash_sig(array<string>, numHashes) → array<long>: per hash function i,
  * min over the input strings of xxhash64(s, seed = i). One expression eval
  * does the whole numHashes × |shingles| loop in the JVM (cold path — once
  * per document — so CodegenFallback is fine). */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      var i = 0
      while (i < numHashes) {
        val h = XxHash64Function.hash(s, StringType, i.toLong)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** bigram_shingles(array<string>) → array<string>: distinct adjacent-token
  * bigrams ("a b"), order of first appearance. Replaces the interpreted
  * transform(sequence…)+array_distinct formulation (~0.7 ms/doc interpreted
  * vs ~1 µs native — array_distinct alone is O(n²) string compares). */
case class BigramShingles(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < n - 1) {
      val a = arr.getUTF8String(i)
      val b = arr.getUTF8String(i + 1)
      seen.add(UTF8String.concatWs(UTF8String.fromString(" "), a, b))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** word_shingles(array<string>, k) → distinct k-word shingles in first-
  * occurrence order (Broder'97 w-shingling — the generalization of
  * [[BigramShingles]] used where near-dup detection needs a heavy-tailed
  * shingle space: k ≥ 4 makes shingles nearly unique, which is what makes
  * rarity-ordered prefix filtering effective). Cold path — one eval per
  * document — so CodegenFallback, same as BigramShingles. */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "word shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= n - k) {
      val words = new Array[UTF8String](k)
      var j = 0
      while (j < k) { words(j) = arr.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, words: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** chunk_rows(text, width) — a native GENERATOR (the Catalyst extension
  * tier built-in explode covers for arrays): streams (chunk_idx, chunk)
  * rows straight off the input string under `GenerateExec`, without ever
  * materializing the index array + per-element substring projection the
  * `explode(sequence(...))` formulation builds first. Same row semantics
  * as [[graft.ops.TextOps.docChunks]] (whose oracle it shares); on empty
  * input it generates zero rows (the SQL `range(1, 0)` convention). */
case class ChunkRows(child: Expression, width: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  require(width > 0, "chunk width must be positive")

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val s = v.asInstanceOf[UTF8String]
      val n = s.numChars()
      val chunks = (n + width - 1) / width
      (0 until chunks).map { i =>
        org.apache.spark.sql.catalyst.InternalRow(
          i, s.substringSQL(i * width + 1, width))
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** hamming-style signature agreement: fraction of equal positions of two
  * long arrays — the MinHash Jaccard estimator, one eval per candidate pair. */
case class SigAgreement(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** simhash64(array<string>) → long: classic SimHash — per input string a
  * 64-bit xxhash; bit j of the result is the sign of Σ(±1) votes across
  * strings. Near-duplicate docs differ in few bits (compare via
  * bit_count(a ^ b)). One JVM loop per doc. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(j), StringType, 0L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** srp_sig(array<float|double>, nBits) → long: sign-random-projection
  * signature for cosine-similarity LSH (up to 63 bits — widened from int
  * in r13 so corpus-adaptive banding can size bucket spaces to the corpus;
  * bit values for any given nBits are unchanged). Hyperplane i's component
  * for dim d is ±1 derived from xxhash64(i * 8191 + d) parity
  * (deterministic, no stored planes); bit i = [dot(v, plane_i) > 0].
  * Vectors with high cosine similarity agree on most bits. */
case class SrpSig(child: Expression, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  require(nBits > 0 && nBits < 64, s"srp_sig supports 1..63 bits, got $nBits")

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var sig = 0L
    var i = 0
    while (i < nBits) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        val h = XxHash64Function.hash(i.toLong * 8191L + d, LongType, 42L)
        acc += (if ((h & 1L) == 1L) x else -x)
        d += 1
      }
      if (acc > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** winnow_fingerprint(string, k, w) → array<long>: document fingerprinting
  * by winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003, public
  * algorithm): Rabin-Karp rolling hash over character k-grams; from each
  * window of w consecutive hashes keep the minimum (rightmost on ties),
  * recording each selected position once. Guarantees any shared substring
  * of length >= k + w - 1 contributes a shared fingerprint — the standard
  * copy-detection primitive. */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val B = 1000003L

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    // rolling k-gram hashes
    val nh = n - k + 1
    val hs = new Array[Long](nh)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < nh) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
      hs(i) = h
      i += 1
    }
    // winnow: min of each window of w hashes, dedup by selected position
    val out = new java.util.ArrayList[Any]()
    var lastPos = -1
    val windows = math.max(1, nh - w + 1)
    var start = 0
    while (start < windows) {
      var minPos = start
      var j = start
      val end = math.min(start + w, nh)
      while (j < end) {
        if (hs(j) <= hs(minPos)) minPos = j // rightmost minimum
        j += 1
      }
      if (minPos != lastPos) {
        out.add(java.lang.Long.valueOf(hs(minPos)))
        lastPos = minPos
      }
      start += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GraftFunctions {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  private def int(e: Expression): Int = e.eval(null).asInstanceOf[Int]

  /** The one name -> builder table of the native functions. [[GraftExtensions]]
    * injects every entry, so SQL text resolves each `graft_*` name in an
    * extensions session; the Column wrappers below build the same
    * expressions directly and need no session state at all. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", e => DotProduct(e(0), e(1))),
    ("graft_dot_long", e => DotLong(e(0), e(1))),
    ("graft_sqdist_long", e => SqDistLong(e(0), e(1))),
    ("graft_minhash_sig", e => MinHashSig(e(0), int(e(1)))),
    ("graft_sig_agreement", e => SigAgreement(e(0), e(1))),
    ("graft_bigram_shingles", e => BigramShingles(e(0))),
    ("graft_word_shingles", e => WordShingles(e(0), int(e(1)))),
    ("graft_chunk_rows", e => ChunkRows(e(0), int(e(1)))),
    ("graft_cdc_ends", e => CdcBoundaries(e(0))),
    ("graft_simhash64", e => SimHash64(e(0))),
    ("graft_srp_sig", e => SrpSig(e(0), int(e(1)))),
    ("graft_jaro_winkler", e => JaroWinklerSim(e(0), e(1))),
    ("graft_damerau_lev", e => DamerauLev(e(0), e(1))),
    ("graft_hamming", e => HammingDist(e(0), e(1))),
    ("graft_topk", e => TopKByValue(e(0), e(1), int(e(2)))),
    ("graft_winnow", e => WinnowFingerprint(e(0), int(e(1)), int(e(2)))),
    ("graft_nfc", e => NfcNormalize(e(0))),
    ("graft_strip_accents", e => StripAccents(e(0))))

  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def dotLong(a: Column, b: Column): Column =
    column(DotLong(expression(a), expression(b)))

  def sqDistLong(a: Column, b: Column): Column =
    column(SqDistLong(expression(a), expression(b)))

  def minhashSig(shingles: Column, numHashes: Int): Column =
    column(MinHashSig(expression(shingles), numHashes))

  def sigAgreement(a: Column, b: Column): Column =
    column(SigAgreement(expression(a), expression(b)))

  def bigramShingles(tokens: Column): Column =
    column(BigramShingles(expression(tokens)))

  def wordShingles(tokens: Column, k: Int): Column =
    column(WordShingles(expression(tokens), k))

  def chunkRows(text: Column, width: Int): Column =
    column(ChunkRows(expression(text), width))

  def cdcEnds(text: Column): Column =
    column(CdcBoundaries(expression(text)))

  def winnowFingerprint(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprint(expression(text), k, w))

  def simhash64(shingles: Column): Column =
    column(SimHash64(expression(shingles)))

  def srpSig(vec: Column, nBits: Int): Column =
    column(SrpSig(expression(vec), nBits))

  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinklerSim(expression(a), expression(b)))

  def damerauLev(a: Column, b: Column): Column =
    column(DamerauLev(expression(a), expression(b)))

  def hamming(a: Column, b: Column): Column =
    column(HammingDist(expression(a), expression(b)))

  def topK(value: Column, id: Column, k: Int): Column =
    column(TopKByValue(expression(value), expression(id), k).toAggregateExpression())

  def nfc(text: Column): Column = column(NfcNormalize(expression(text)))

  def stripAccents(text: Column): Column = column(StripAccents(expression(text)))
}
