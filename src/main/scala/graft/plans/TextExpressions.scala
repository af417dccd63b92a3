package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared hot-loop kernels, callable from both interpreted eval and
  * generated code. Keeping the loop in one static method means codegen
  * emits a single call (JIT inlines it) and eval/codegen can never
  * drift apart.
  */
object MinHashKernel {

  /** Polynomial string hash matching TextFunctions.polyHash:
    * fold over code points, h = (h*31 + cp) % 2^bits, seeded. The same
    * math is mirrored in the DuckDB oracles (ascii(c) per character),
    * so it must stay code-point based, not UTF-16-unit based. */
  def polyHash(s: String, seed: Int, mod: Int): Long = {
    var h = seed.toLong
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      j += Character.charCount(cp)
      h = (h * 31 + cp) % mod
    }
    h
  }

  /** MinHash signature of a shingle array in ONE pass: for each shingle
    * the base polynomial hash, then K universal-hash transforms
    * h_k(x) = (x*(2k+1) + (97k+31)) % 2^bits, tracking the min per k.
    * Mirrors graft.operators.Dedup's hash family exactly. Empty input
    * yields an array of 2^bits (greater than any real hash) so callers
    * can detect/drop unsigned documents. */
  def signature(arr: ArrayData, numHashes: Int, seed: Int,
      bits: Int): ArrayData = {
    val mod = 1 << bits
    val mins = Array.fill(numHashes)(mod.toLong)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = polyHash(arr.getUTF8String(i).toString, seed, mod)
      var k = 0
      while (k < numHashes) {
        val v = (h * (2 * k + 1) + (97 * k + 31)) % mod
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

object ShingleKernel {
  private val Space = UTF8String.fromString(" ")

  /** Distinct word n-gram shingles of a token array, SORTED ascending
    * in binary (UTF8String) order — semantically
    * array_sort(array_distinct(transform(sequence(...),
    * i -> concat_ws(" ", w[i..i+n-1])))) but as one JIT loop. The HOF
    * composition evaluates interpreted AND re-evaluates captured
    * expressions per element; worse, CollapseProject can inline the
    * upstream split() into the lambda, re-tokenizing the document once
    * per shingle (the round-1 8s→0.3s lesson — this expression makes
    * that failure mode impossible, not just avoided). Sortedness is
    * part of the contract: prefix-filtering slices it directly and
    * [[intersectCount]] merge-scans it. */
  def shingleSet(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.TreeSet[UTF8String]
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(
      new Array[AnyRef](seen.size())))
  }

  /** |a ∩ b| of two SORTED-distinct string arrays by linear merge —
    * O(m+n) string compares. Spark's array_intersect on string arrays
    * walks O(m·n) interpreted comparisons; on hundreds of thousands of
    * candidate pairs that was 15s of a 7s-budget query. */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** Codegen'd |a ∩ b| over two sorted-distinct array<string> columns
  * (the [[ShingleKernel.shingleSet]] contract). */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_count expects two array<string>, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    ShingleKernel.intersectCount(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.ShingleKernel.intersectCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd distinct-shingle-set over an array<string> of tokens. */
case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_set n must be >= 1, got $n")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_set expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.shingleSet(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.ShingleKernel.shingleSet($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleSet = copy(child = newChild)
}

/** Codegen'd MinHash signature over an array<string> of shingles.
  *
  * The composed column form (transform + aggregate higher-order
  * functions) evaluates INTERPRETED, one lambda dispatch per element
  * per hash — on |docs|·|shingles|·K evaluations that dominated the
  * dedup pipeline. This expression runs the whole signature as a tight
  * JIT-compiled loop inside whole-stage codegen (build-brief preference
  * order: custom Expression with doGenCode > UDF > interpreted HOFs).
  */
case class MinHashSig(child: Expression, numHashes: Int, seed: Int,
    bits: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // bits > 30 would wrap the Int shift (1 << 31 < 0, 1 << 32 == 1)
    // and silently collapse every signature — reject at analysis
    case _ if bits < 1 || bits > 30 => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig bits must be in [1, 30], got $bits")
    case _ if numHashes < 1 => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig numHashes must be >= 1, got $numHashes")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[ArrayData], numHashes, seed,
      bits)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.MinHashKernel.signature($c, $numHashes, $seed, $bits)")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)
}

object SimHashKernel {

  /** SimHash signature of a token array in ONE pass: per token the
    * seeded polynomial hash ([[MinHashKernel.polyHash]], the family the
    * DuckDB oracles mirror), then a per-bit majority vote over the
    * `bits` low bits; bit b of the result is set iff strictly more
    * token-hashes have bit b set than clear. Matches the
    * composed-column form it replaces bit-for-bit (Dedup.scala's
    * per-bit `aggregate` HOF passes — `bits` interpreted scans per
    * document; this is one JIT loop), INCLUDING the empty-token case:
    * tokenizing empty text yields one "" token, and both Spark's
    * `split(c, "")` and DuckDB's `string_split(wd, '')` turn "" into
    * [""] with ascii('') = 0 — one fold step with code point 0, NOT
    * zero steps, so hash('') = (seed*31) % 2^bits (217 for seed 7),
    * not `seed`. */
  def simhash(arr: ArrayData, seed: Int, bits: Int): Long = {
    val mod = 1 << bits
    val votes = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i).toString
      val h =
        if (s.isEmpty) (seed * 31L) % mod // ascii('') = 0, one step
        else MinHashKernel.polyHash(s, seed, mod)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }
}

/** Codegen'd SimHash signature over an array<string> of tokens. */
case class SimHashSig(child: Expression, seed: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // bits > 30 would wrap the Int modulus (1 << 31 < 0) like
    // graft_minhash_sig; reject at analysis
    case _ if bits < 1 || bits > 30 => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash bits must be in [1, 30], got $bits")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.simhash(input.asInstanceOf[ArrayData], seed, bits)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.SimHashKernel.simhash($c, $seed, $bits)")

  override protected def withNewChildInternal(
      newChild: Expression): SimHashSig = copy(child = newChild)
}

/** Shared extractor for the integer-literal parameters of graft
  * expression builders (function registry + GraftExtensions). */
object LitArg {
  def int(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects integer literal parameters, got $other")
  }
}

/** One-stop invocation of a graft expression from Column code:
  * registers the graft functions in the active session the first time
  * its registry lacks `name` (a lookup per call after that, no
  * re-registration), then calls it. Keeps call sites free of the
  * register-then-call boilerplate and of implicit registration-order
  * dependencies. */
object GraftCall {
  def apply(name: String, args: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column = {
    val spark = SparkSession.active
    if (!spark.sessionState.functionRegistry.functionExists(
        FunctionIdentifier(name))) {
      TextExpressions.ensureRegistered(spark)
      VectorExpressions.ensureRegistered(spark)
      SketchExpressions.ensureRegistered(spark)
    }
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}

object TextExpressions {
  val MinHashName = "graft_minhash_sig"
  val ShingleSetName = "graft_shingle_set"
  val IntersectCountName = "graft_intersect_count"
  val SimHashName = "graft_simhash"

  /** Idempotent per-session registration so `call_function` resolves. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(MinHashName,
      { exprs =>
        MinHashSig(exprs(0), LitArg.int(MinHashName, exprs(1)),
          LitArg.int(MinHashName, exprs(2)),
          LitArg.int(MinHashName, exprs(3)))
      }, "built-in")
    reg.createOrReplaceTempFunction(ShingleSetName,
      { exprs => ShingleSet(exprs(0), LitArg.int(ShingleSetName, exprs(1))) },
      "built-in")
    reg.createOrReplaceTempFunction(IntersectCountName,
      { exprs => IntersectCountSorted(exprs(0), exprs(1)) }, "built-in")
    reg.createOrReplaceTempFunction(SimHashName,
      { exprs =>
        SimHashSig(exprs(0), LitArg.int(SimHashName, exprs(1)),
          LitArg.int(SimHashName, exprs(2)))
      }, "built-in")
  }
}
