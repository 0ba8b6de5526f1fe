package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for the embedding hot path.
  *
  * The pure-builtin form — `aggregate(zip_with(a, b, (x,y) -> x*y), 0d,
  * (acc,v) -> acc+v)` — is correct but interpreted: higher-order functions
  * are CodegenFallback, so every 64-float dot product pays per-element
  * lambda dispatch and boxing. This expression generates a tight primitive
  * loop inside whole-stage codegen instead (and provides the identical
  * interpreted path for completeness).
  *
  * Floating-point parity: the loop multiplies each float pair widened to
  * double and accumulates left-to-right — the exact operation sequence of
  * the HOF form and of the DuckDB oracle's list comprehension, so results
  * are bit-identical, not just close.
  *
  * Null/length semantics: a null array yields null (BinaryExpression
  * default). Null *elements* contribute 0 and mismatched lengths sum over
  * min(length) — both intentional divergences from the HOF form (whose
  * sum turns null via zip_with padding); embedding columns are fixed-width
  * non-null float vectors by contract, so neither case arises there.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** 60-bit SimHash fingerprint from pre-hashed token longs: bit b of the
  * result is set iff Σ_tokens (2·bit_b(h) − 1) > 0.
  *
  * The sketch inner loop (tokens × 60 bit positions) is pure integer work;
  * as nested HOFs it pays per-element lambda dispatch and a fresh 60-long
  * accumulator array per token (~12 s at sf0.1). Here it's one primitive
  * loop — interpreted and codegen paths identical — with the token
  * pre-hash (md5 → long) left upstream where built-ins handle it fine.
  * Same math as the DuckDB oracle's list-comprehension form.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash expects array<bigint>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val cnt = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = a.getLong(i)
        var b = 0
        while (b < 60) {
          cnt(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (cnt(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $cnt = new int[60];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 60; $b++) {
         |      $cnt[$b] += (((($h >> $b) & 1L) == 1L) ? 1 : -1);
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if ($cnt[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Sign-random-projection LSH bucket: bit p of the result is set iff
  * Σ_i w(p, i+1)·v[i] > 0 over `nPlanes` deterministic hyperplanes, where
  * w(p, i) = ((p·131071 + i·524287)·2654435761 mod 1000003)/1000003 − 0.5 —
  * a Knuth-style multiplicative hash of (plane, dim), no RNG, so the same
  * arithmetic is reproducible on the DuckDB oracle side.
  *
  * The pure-builtin form — nested `aggregate(sequence(...))` over planes ×
  * dims — is CodegenFallback: per-element lambda dispatch for every one of
  * the nPlanes·64 multiply-adds, per row of the FULL embeddings table in the
  * ANN/near-dup queries. This expression is the same tight primitive loop
  * pattern as [[DotProductFloat]]: projections accumulate in double,
  * ascending dim order, so buckets are bit-identical to the HOF form
  * (parity spec-asserted). Null elements contribute 0 (embedding columns
  * are non-null fixed-width by contract; the HOF form would turn the whole
  * sum null — same documented divergence as graft_dot).
  */
case class LshBucketFloat(vec: Expression, planes: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = planes

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, planes.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) if planes.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_bucket expects (array<float>, foldable int), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val nPlanes = b.asInstanceOf[Int]
    val n = x.numElements()
    var out = 0L
    var p = 0
    while (p < nPlanes) {
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i)) {
          val w = ((p * 131071L + (i + 1) * 524287L) * 2654435761L) % 1000003L
          s += (w.toDouble / 1000003.0 - 0.5) * x.getFloat(i).toDouble
        }
        i += 1
      }
      if (s > 0) out |= (1L << p)
      p += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val w = ctx.freshName("w")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |long $out = 0L;
         |for (int $p = 0; $p < $b; $p++) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i)) {
         |      long $w = (($p * 131071L + ($i + 1) * 524287L) * 2654435761L) % 1000003L;
         |      $s += ((double) $w / 1000003.0 - 0.5) * (double) $a.getFloat($i);
         |    }
         |  }
         |  if ($s > 0) $out |= (1L << $p);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBucketFloat =
    copy(vec = newLeft, planes = newRight)
}

/** Count of DISTINCT values present in BOTH sorted long arrays — exactly
  * `size(array_intersect(a, b))` for ascending-sorted inputs, without
  * materializing the intersection: `array_intersect` builds a hash set
  * and an output array PER CALL, and a verify join evaluates it once
  * per candidate pair (15.6 M pairs for q66 at ×30 in SCALE.md's sf0.1
  * record — the allocation cost center of the whole containment family).
  * Every near-dup verify counts with it: q66's containment
  * (`DocQueries.containmentJoin`) and the Jaccard verifies of q25/q79,
  * q74 and q87 (`DocQueries.withOverlapUnion`). This is the classic merge-style
  * two-pointer count: one pass, zero allocation, duplicate values
  * counted once (matching array_intersect's distinct semantics — the
  * 56-bit shingle hashes can collide, so duplicates are possible).
  *
  * SORTED inputs are the caller's contract (the shared shingle table
  * sorts `hs` once per document); unsorted inputs silently undercount —
  * the operator-level parity spec runs both paths against
  * `array_intersect` to keep the contract honest. Null array → null
  * (BinaryExpression default); null ELEMENTS are not expected by
  * contract (hash arrays are non-null) and are skipped. */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_overlap expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (la, lb) = (x.numElements(), y.numElements())
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < la && j < lb) {
      val va = x.getLong(i)
      val vb = y.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        cnt += 1
        while (i < la && x.getLong(i) == va) i += 1
        while (j < lb && y.getLong(j) == va) j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val la = ctx.freshName("la")
      val lb = ctx.freshName("lb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val va = ctx.freshName("va")
      val vb = ctx.freshName("vb")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $la = $a.numElements();
         |int $lb = $b.numElements();
         |int $i = 0; int $j = 0;
         |long $cnt = 0L;
         |while ($i < $la && $j < $lb) {
         |  long $va = $a.getLong($i);
         |  long $vb = $b.getLong($j);
         |  if ($va < $vb) { $i++; }
         |  else if ($va > $vb) { $j++; }
         |  else {
         |    $cnt++;
         |    while ($i < $la && $a.getLong($i) == $va) { $i++; }
         |    while ($j < $lb && $b.getLong($j) == $va) { $j++; }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapCount =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  private val dotInfo = new ExpressionInfo(
    classOf[DotProductFloat].getName, "graft_dot")

  private val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProductFloat(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_dot expects 2 arguments, got ${other.size}")
  }

  private val simhashInfo = new ExpressionInfo(
    classOf[SimHash64].getName, "graft_simhash")

  private val simhashBuilder: Seq[Expression] => Expression = {
    case Seq(a) => SimHash64(a)
    case other => throw new IllegalArgumentException(
      s"graft_simhash expects 1 argument, got ${other.size}")
  }

  private val lshInfo = new ExpressionInfo(
    classOf[LshBucketFloat].getName, "graft_lsh_bucket")

  private val lshBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => LshBucketFloat(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_lsh_bucket expects 2 arguments, got ${other.size}")
  }

  private val overlapInfo = new ExpressionInfo(
    classOf[SortedOverlapCount].getName, "graft_overlap")

  private val overlapBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SortedOverlapCount(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_overlap expects 2 arguments, got ${other.size}")
  }

  /** Idempotent runtime registration for library callers (the queries call
    * this themselves; no session config needed). */
  def register(spark: SparkSession): Unit =
    SessionFunctions.register(spark, "graft_dot" -> dotBuilder,
      "graft_simhash" -> simhashBuilder, "graft_lsh_bucket" -> lshBuilder,
      "graft_overlap" -> overlapBuilder)

  /** `SparkSessionExtensions` hook so a cluster can load the functions
    * globally via `spark.sql.extensions=graft.functions.GraftExtensions`. */
  def inject(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction(
      (FunctionIdentifier("graft_dot"), dotInfo, dotBuilder))
    extensions.injectFunction(
      (FunctionIdentifier("graft_simhash"), simhashInfo, simhashBuilder))
    extensions.injectFunction(
      (FunctionIdentifier("graft_lsh_bucket"), lshInfo, lshBuilder))
    extensions.injectFunction(
      (FunctionIdentifier("graft_overlap"), overlapInfo, overlapBuilder))
  }
}

/** Entry point for spark.sql.extensions: the custom functions plus the
  * geo-join auto-rewrite rule (crossJoin + haversine radius filter →
  * grid-bucketed equi-join). Per-session runtime scoping is also
  * available via `spark.experimental.extraOptimizations`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    VectorExpressions.inject(extensions)
    TextExpressions.inject(extensions)
    FreqSketch.inject(extensions)
    KmvSketch.inject(extensions)
    CmsSketch.inject(extensions)
    QuantileSketch.inject(extensions)
    extensions.injectOptimizerRule(_ => graft.plans.GeoGridJoinRule)
  }
}

/** Runtime registration shared by every `register` method: a name the
  * session's function registry already holds (an earlier call, or the
  * [[GraftExtensions]] hook) is left alone, so a query that registers
  * its functions on every call neither rebuilds the entry nor makes
  * Spark warn that it "replaced a previously registered function". */
private[functions] object SessionFunctions {
  def register(spark: SparkSession,
               fns: (String, Seq[Expression] => Expression)*): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
