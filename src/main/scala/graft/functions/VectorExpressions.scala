package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * The declarative formulation (`aggregate(zip_with(...))`) runs in the
  * interpreted expression evaluator — fine at the edges, too slow inside
  * an N×M candidate join. This expression generates a tight primitive
  * loop inside whole-stage codegen: no array allocation, no boxing, one
  * pass computing dot and both norms.
  *
  * Numerics match the declarative path exactly (sequential double
  * accumulation from index 0, `dot / (sqrt(na) * sqrt(nb))`) for
  * arrays without null elements. Caveat: a null ELEMENT inside an
  * array reads as 0.0 here (ArrayData.getFloat on a null slot), while
  * the declarative zip_with path would propagate NULL — embedding
  * columns are dense by contract, so this trade keeps the inner loop
  * branch-free.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes isn't implementable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); validate input types directly.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.getFloat($i);
         |  double y = (double) $b.getFloat($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Multi-table random-hyperplane LSH buckets for an `array<float>`
  * vector: returns `array<long>` of `nTables` sign-bit bucket ids, each
  * from `nPlanes` deterministic pseudo-random hyperplanes (splitmix64 of
  * (table, plane, dim) — no RNG state, stable under repartition, and
  * every engine run regenerates identical planes).
  *
  * One expression call computes all tables' buckets in a single pass —
  * the declarative alternative (one zip_with/aggregate per plane per
  * table) runs interpreted and costs nTables × nPlanes array traversals
  * per row. OR-ing tables raises recall: a near-neighbor pair missed by
  * one table's planes is caught by another, P(miss) = (1−agreeᵖ)ᵀ.
  */
case class LshBuckets(child: Expression, nTables: Int, nPlanes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      if (nTables >= 1 && nPlanes >= 1 && nPlanes <= 63) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires 1 <= nTables and 1 <= nPlanes <= 63")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  override protected def nullSafeEval(a: Any): Any =
    LshBuckets.compute(a.asInstanceOf[ArrayData], nTables, nPlanes)

  // codegen delegates to the static helper — the call sits inside the
  // whole-stage-generated class, so there is no interpreted expression
  // tree in the hot loop (the helper itself is a tight JVM loop)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.LshBuckets.compute($a, $nTables, $nPlanes)")

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {
  /** Deterministic plane component in (−1, 1): splitmix64 finalizer over
    * the packed (table, plane, dim) index.
    */
  @inline def component(t: Int, p: Int, j: Int): Double = {
    var z = ((t.toLong << 26) | (p.toLong << 20) | j.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    z.toDouble / 9.223372036854776e18
  }

  /** `component` packs (table << 26 | plane << 20 | dim) into one long
    * before mixing — a dimension index at or above 2^20 would overlap
    * the plane bits and silently correlate hyperplanes across planes
    * and tables, so oversized vectors are rejected outright.
    */
  val MaxDims: Int = 1 << 20

  def compute(v: ArrayData, nTables: Int, nPlanes: Int): ArrayData = {
    val dims = v.numElements()
    if (dims >= MaxDims) throw new IllegalArgumentException(
      s"graft_lsh_buckets supports vectors of fewer than $MaxDims dimensions, got $dims")
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        var proj = 0.0
        var j = 0
        while (j < dims) {
          proj += v.getFloat(j).toDouble * component(t, p, j)
          j += 1
        }
        if (proj >= 0) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Exact integer dot product of two `array<long>` columns — the
  * codegen'd twin of `aggregate(zip_with(a, b, (x, y) -> x * y),
  * 0L, (acc, v) -> acc + v)`, which runs in the interpreted
  * higher-order-function evaluator (measured as the dominant cost of
  * the SemDeDup within-cell pair stage: the quadratic candidate join
  * evaluates it per pair). Arithmetic is raw Java long ops, so results
  * are bit-identical to the declarative form for the repo contract:
  * dense equal-length arrays without null elements (quantized vectors
  * are built by `transform(round(...))` over non-null floats) whose
  * products stay IN RANGE — call sites bound |q| via the quantScale
  * range analysis. Out of range the two forms differ by construction:
  * default-ANSI Spark throws on long overflow, this kernel wraps.
  */
case class DotQ(left: Expression, right: Expression)
    extends BinaryExpression {

  // containsNull = false REQUIRED (r15 ADVICE): the branch-free kernel
  // would read a null element slot as a raw long (0) and return a
  // plausible non-null value where the declarative zip_with twin
  // returns NULL. The functions are registered session-wide, so the
  // type check — not a call-site convention — is what keeps a future
  // caller from silently diverging. Null handling belongs in the
  // LINEAR projection that builds the quantized array (a coalesce
  // there is n ops), never in this n×k / n² kernel.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments with " +
        s"non-nullable elements, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_q"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = DotQ.checkedLength(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += x.getLong(i) * y.getLong(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = graft.functions.DotQ.checkedLength($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotQ =
    copy(left = newLeft, right = newRight)
}

object DotQ {
  /** Unequal lengths throw (r15 ADVICE) instead of silently truncating
    * to the shorter array: the declarative zip_with twin pads with
    * nulls and returns NULL there — a wrong non-null answer is the one
    * outcome both contracts forbid. Shared by [[DotQ]] and [[Dist2Q]],
    * interpreted and generated code alike (one length check per CALL,
    * zero per-element cost).
    */
  @inline def checkedLength(a: Int, b: Int): Int = {
    if (a != b) throw new IllegalArgumentException(
      s"graft_dot_q/graft_dist2_q require equal-length arrays, got $a vs $b")
    a
  }
}

/** Exact integer squared L2 distance of two `array<long>` columns —
  * codegen'd twin of `aggregate(zip_with(a, b, (x, y) ->
  * (x - y) * (x - y)), 0L, (acc, v) -> acc + v)`, the k-means
  * assignment kernel (evaluated n × k times per pass). Same exactness
  * contract as [[DotQ]].
  */
case class Dist2Q(left: Expression, right: Expression)
    extends BinaryExpression {

  // same containsNull/length contract as [[DotQ]] — see the note there
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments with " +
        s"non-nullable elements, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dist2_q"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = DotQ.checkedLength(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = graft.functions.DotQ.checkedLength($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2Q =
    copy(left = newLeft, right = newRight)
}

/** Cosine between a float query vector and a PER-VECTOR-AFFINE int8
  * QUANTIZED corpus vector, dequantized on the fly: codes are stored
  * int8 (offset by -128, so the 0..255 affine level of element i is
  * `codes[i] + 128` and its value is `(codes[i] + 128) * scale + lo`)
  * — genuinely 1 byte per dimension in Tungsten's packed array. The scoring loop of the
  * IVF-SQ index probe ([[graft.ops.Similarity.ivfPqTopK]]) — the codes
  * array is what the inverted cells store (4× smaller than float32),
  * so the hot path never materializes a dequantized array: one codegen
  * pass computes dot and both norms, like [[CosineSimilarity]].
  *
  * Numerics are the declarative double formulation exactly (sequential
  * accumulation from index 0; `code * scale + lo` per element in
  * doubles; `dot / (sqrt(na) * sqrt(nb))`), so a DuckDB
  * `list_dot_product` over `list_transform(codes, q -> q*scale+lo)`
  * reproduces it bit-for-bit — the oracle relies on that.
  */
case class QuantizedCosine(query: Expression, codes: Expression,
    lo: Expression, scale: Expression) extends QuaternaryExpression {

  override def first: Expression = query
  override def second: Expression = codes
  override def third: Expression = lo
  override def fourth: Expression = scale

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (query.dataType, codes.dataType, lo.dataType, scale.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ByteType, _), DoubleType, DoubleType) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<tinyint>, double, double), got " +
        s"(${query.dataType.simpleString}, ${codes.dataType.simpleString}, " +
        s"${lo.dataType.simpleString}, ${scale.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_q"

  override protected def nullSafeEval(q: Any, c: Any, l: Any, s: Any): Any = {
    val x = q.asInstanceOf[ArrayData]
    val y = c.asInstanceOf[ArrayData]
    val loV = l.asInstanceOf[Double]
    val scV = s.asInstanceOf[Double]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = (y.getByte(i) + 128) * scV + loV
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c, l, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($q.numElements(), $c.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $q.getFloat($i);
         |  double y = ($c.getByte($i) + 128) * $s + $l;
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, sec: Expression,
      t: Expression, fo: Expression): QuantizedCosine =
    copy(query = f, codes = sec, lo = t, scale = fo)
}

/** Function registration: both an idempotent in-session helper and a
  * `SparkSessionExtensions` hook
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftFunctions {
  val cosineBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_cosine requires exactly 2 arguments, got ${exprs.length}")
    CosineSimilarity(exprs(0), exprs(1))
  }

  val lshBucketsBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3,
      s"graft_lsh_buckets requires (vec, nTables, nPlanes), got ${exprs.length} args")
    def intArg(e: Expression, name: String): Int = e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_lsh_buckets $name must be an integer literal, got $other")
    }
    LshBuckets(exprs(0), intArg(exprs(1), "nTables"), intArg(exprs(2), "nPlanes"))
  }

  val cosineQBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 4,
      s"graft_cosine_q requires (query, codes, lo, scale), got ${exprs.length} args")
    QuantizedCosine(exprs(0), exprs(1), exprs(2), exprs(3))
  }

  val dotQBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_dot_q requires exactly 2 arguments, got ${exprs.length}")
    DotQ(exprs(0), exprs(1))
  }

  val dist2QBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_dist2_q requires exactly 2 arguments, got ${exprs.length}")
    Dist2Q(exprs(0), exprs(1))
  }

  // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
  // own runtime row-level filtering but does not expose them in the
  // SQL registry; graft's Membership ops surface them (same codegen'd
  // implementations, nothing re-implemented). The analyzer wraps a raw
  // AggregateFunction returned from a registry builder.
  val bloomAggBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3,
      s"graft_bloom_agg requires (hash, expectedItems, numBits), got ${exprs.length} args")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      exprs(0), exprs(1), exprs(2))
  }

  val mightContainBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"graft_might_contain requires (bloom, hash), got ${exprs.length} args")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      exprs(0), exprs(1))
  }

  /** `DESCRIBE FUNCTION` text for the quantized-array kernels, which
    * reject arrays whose element type is nullable (arrays read from
    * Parquet usually are) and so carry the fix in their usage.
    */
  private def quantizedInfo(cls: Class[_], name: String, what: String) =
    new ExpressionInfo(cls.getName, null, name,
      s"_FUNC_(a, b) - Returns the $what of two equal-length array<bigint> " +
        "arguments. Array elements must be non-null: an argument whose element type " +
        "is nullable fails analysis. Coalesce the elements where the array is built, " +
        "e.g. _FUNC_(transform(a, x -> coalesce(x, 0L)), transform(b, x -> coalesce(x, 0L))); " +
        "arrays of unequal length raise an error.",
      "", "", "", "", "", "", "built-in")

  def register(spark: SparkSession): Unit = {
    // idempotent: re-registering per query spams "replaced a previously
    // registered function" warnings into the bench/verify output
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("graft_cosine")))
      reg.createOrReplaceTempFunction("graft_cosine", cosineBuilder, "built-in")
    if (!reg.functionExists(FunctionIdentifier("graft_lsh_buckets")))
      reg.createOrReplaceTempFunction("graft_lsh_buckets", lshBucketsBuilder, "built-in")
    if (!reg.functionExists(FunctionIdentifier("graft_cosine_q")))
      reg.createOrReplaceTempFunction("graft_cosine_q", cosineQBuilder, "built-in")
    if (!reg.functionExists(FunctionIdentifier("graft_bloom_agg")))
      reg.createOrReplaceTempFunction("graft_bloom_agg", bloomAggBuilder, "built-in")
    if (!reg.functionExists(FunctionIdentifier("graft_might_contain")))
      reg.createOrReplaceTempFunction("graft_might_contain", mightContainBuilder, "built-in")
    if (!reg.functionExists(FunctionIdentifier("graft_dot_q")))
      reg.registerFunction(FunctionIdentifier("graft_dot_q"),
        quantizedInfo(classOf[DotQ], "graft_dot_q", "exact integer dot product"), dotQBuilder)
    if (!reg.functionExists(FunctionIdentifier("graft_dist2_q")))
      reg.registerFunction(FunctionIdentifier("graft_dist2_q"),
        quantizedInfo(classOf[Dist2Q], "graft_dist2_q", "exact integer squared L2 distance"),
        dist2QBuilder)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      GraftFunctions.cosineBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      GraftFunctions.lshBucketsBuilder))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine_q"),
      new ExpressionInfo(classOf[QuantizedCosine].getName, "graft_cosine_q"),
      GraftFunctions.cosineQBuilder))
  }
}
