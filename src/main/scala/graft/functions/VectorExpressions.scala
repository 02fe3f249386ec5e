package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, LongType, StructType}

/** Native Catalyst vector expressions with whole-stage codegen.
  *
  * The HOF formulation (`aggregate(zip_with(a, b, ...))`) allocates a
  * zipped array per row and interprets a lambda per element — fine for
  * one query vector, ruinous for pairwise similarity at 100 TB. These
  * fuse the loop into one codegen'd pass over both `ArrayData`s with no
  * allocation. Evaluation order (ascending index, sequential adds) is
  * identical to the HOF left fold, so results are bit-for-bit unchanged
  * and the DuckDB oracles still hash-match.
  *
  * Preference tier (b) of the build brief: custom Expression beats UDF;
  * only used where built-ins genuinely can't express the fused loop.
  */

/** Shared pre-compiled loop kernels for the vector expressions below.
  *
  * doGenCode used to emit each loop INLINE into the per-query generated
  * class — semantically fine, but a fresh copy of every loop per query
  * means every query's first execution runs its hot kernel interpreted
  * until the JIT warms, which is exactly what a one-shot-per-query
  * bench (and a first production run) measures. A static method is one
  * shared, already-JIT-hot body for the whole session; the generated
  * code shrinks to a call. Arithmetic and iteration order are the ones
  * the inline codegen and nullSafeEval used, so results are
  * bit-identical.
  */
object VectorKernels {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineI8(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getByte(i).toDouble; val yv = y.getByte(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def maxAbs(x: ArrayData): Double = {
    val n = x.numElements()
    var m = 0.0
    var i = 0
    while (i < n) { m = math.max(m, math.abs(x.getDouble(i))); i += 1 }
    m
  }

  def quantizeI8(x: ArrayData, scale: Double):
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData = {
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q = if (scale == 0.0) 0.0 else x.getDouble(i) / scale
      out(i) = math.floor(q + 0.5).toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def nearestCentroid(v: ArrayData, cents: ArrayData): Long = {
    var best = -1L
    var bestSc = -2.0
    var bi = 0
    val k = cents.numElements()
    while (bi < k) {
      val c = cents.getStruct(bi, 2)
      val cv = c.getArray(1)
      val n = math.min(v.numElements(), cv.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val x = v.getDouble(j); val y = cv.getDouble(j)
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      val sc = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sc > bestSc) { bestSc = sc; best = c.getLong(0) }
      bi += 1
    }
    best
  }

  /** Sign-LSH bucket: bit b set iff the fold
    * Σ_j v(j) * (xxhash64(b, j) even ? 1.0 : -1.0) is >= 0, summed in
    * ascending index order from 0.0 — the exact IEEE op sequence of the
    * `aggregate(zip_with(...))` SQL it replaces (multiplying by ±1.0 is
    * exact, so the adds are the only rounding and they run in the same
    * order). The hash chain is Spark's own two-argument xxhash64
    * (seed 42, per-child fold), called directly. Null/empty edge cases
    * reproduce the CASE-sum: a null vector, any null element, or an
    * empty vector yields bucket 0 (each per-bit CASE falls to ELSE 0).
    */
  def lshBucket(v: ArrayData, bits: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = v.numElements()
    if (n == 0) return 0L
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var b = 0
    while (b < bits) {
      val seedB = XXH64.hashLong(b.toLong, 42L)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val r = if ((XXH64.hashLong(j.toLong, seedB) & 1L) == 0L) 1.0 else -1.0
        acc += v.getDouble(j) * r
        j += 1
      }
      // !(acc < 0), not acc >= 0: a NaN sum sets the bit, like the
      // SQL CASE form under Spark's NaN-is-largest ordering
      if (!(acc < 0)) bucket += (1L << b)
      b += 1
    }
    bucket
  }

  /** ±1 random projection: component b is the same fold as
    * [[lshBucket]]'s hyperplane b (identical hash chain, identical add
    * order), so projected doubles are bit-identical to the
    * `array(aggregate(zip_with(...)), ...)` SQL. Null vector, null
    * element, or empty input yields an array of `dOut` nulls — exactly
    * what `array(agg, ...)` produced when each aggregate went null.
    */
  def rpProject(v: ArrayData, dOut: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = if (v == null) 0 else v.numElements()
    var hasNull = n == 0
    var i = 0
    while (!hasNull && i < n) { hasNull = v.isNullAt(i); i += 1 }
    if (hasNull)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](dOut))
    val out = new Array[Double](dOut)
    var b = 0
    while (b < dOut) {
      val seedB = XXH64.hashLong(b.toLong, 42L)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val r = if ((XXH64.hashLong(j.toLong, seedB) & 1L) == 0L) 1.0 else -1.0
        acc += v.getDouble(j) * r
        j += 1
      }
      out(b) = acc
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def nearestCentroidL2(v: ArrayData, cents: ArrayData): Long = {
    var best = -1L
    var bestD = Double.PositiveInfinity
    var bi = 0
    val k = cents.numElements()
    while (bi < k) {
      val c = cents.getStruct(bi, 2)
      val cv = c.getArray(1)
      val n = math.min(v.numElements(), cv.numElements())
      var d = 0.0
      var j = 0
      while (j < n) {
        val diff = v.getDouble(j) - cv.getDouble(j)
        d += diff * diff
        j += 1
      }
      if (d < bestD) { bestD = d; best = c.getLong(0) }
      bi += 1
    }
    best
  }
}

final case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true; case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot / (sqrt(||a||²) * sqrt(||b||²)), fused into a
  * single pass; formula identical to the previous HOF expression.
  */
final case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true; case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim_i8(a, b)`: cosine over int8-quantized vectors
  * (array<tinyint>), the scoring kernel of the quantized ANN scan.
  * Components are integers bounded by 127, so dot and norms are sums
  * of integers ≤ 127²·dim — exact in double on any summation order —
  * and the result is bit-identical to the HOF formulation
  * (`aggregate(zip_with(...))`) it replaces, which interpreted a
  * lambda and allocated a zipped array per corpus row. On the 100×
  * probe the interpreted form made the "cheap" quantized scan 8×
  * slower than the exact codegen'd one; this restores the intended
  * cost ordering.
  */
final case class CosineSimilarityI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true; case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<tinyint> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.cosineI8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityI8 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim_i8"
}

/** `vec_maxabs(v)`: max(|v_i|) over an array<double> — the scale
  * numerator of symmetric int8 quantization, fused into one codegen'd
  * loop (the HOF `aggregate(v, 0.0, (m, x) -> greatest(m, abs(x)))`
  * interprets a lambda per element; on the offline index-build scan —
  * which IS a full-corpus pass at 100 TB — that interpreter overhead
  * dominated the probe). max is order-insensitive, so the value is
  * identical to the HOF fold.
  */
final case class VecMaxAbs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.sql}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any =
    VectorKernels.maxAbs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.maxAbs($a)")

  override protected def withNewChildInternal(newChild: Expression): VecMaxAbs =
    copy(child = newChild)

  override def prettyName: String = "vec_maxabs"
}

/** `quantize_i8(v, scale)`: array<tinyint> of
  * `floor(v_i / scale + 0.5)` (scale = 0 → all zeros), the symmetric
  * int8 code of [[graft.api.Similarity.quantize]] fused into one
  * codegen'd loop writing a primitive byte[] — no per-row lambda
  * interpretation, no boxed array. The arithmetic is the exact IEEE op
  * sequence of the SQL `CAST(floor(CASE WHEN scale = 0 THEN 0 ELSE
  * x / scale END + 0.5) AS TINYINT)` it replaces (floor'd values are
  * integral in [-127, 127], so the narrowing cast is exact), so codes
  * are byte-identical and the DuckDB oracles still hash-match.
  */
final case class QuantizeI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, double), got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.quantizeI8(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.quantizeI8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizeI8 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "quantize_i8"
}

/** `nearest_centroid(v, cents)`: id of the cosine-nearest centroid in
  * `cents` (an array of (id: bigint, cv: array<double>) structs, sorted
  * ascending by id). Ties keep the FIRST maximum — i.e. the lowest id —
  * via the strict `>`, matching the fold/window assignments it
  * replaced. Returns -1 for an empty centroid array.
  *
  * The HOF formulation (`aggregate(transform(cents, ...))`) evaluates
  * its lambda interpreted, re-entering eval per centroid; this fuses
  * the whole k×dim argmax into one codegen'd nested loop with no
  * allocation — the difference between fine-at-k=16 and
  * fine-at-k=4096 on a 100 TB assignment scan. Struct fields are read
  * POSITIONALLY (id at 0, vector at 1), so both named structs and
  * typedlit tuples work.
  */
final case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(StructType(Array(idF, cvF)), _))
        if idF.dataType == LongType &&
           (cvF.dataType match {
             case ArrayType(DoubleType, _) => true; case _ => false
           }) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<struct<bigint, array<double>>>), " +
        s"got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestCentroid(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, cents) => s"graft.functions.VectorKernels.nearestCentroid($v, $cents)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_centroid"
}

/** `nearest_centroid_l2(v, cents)`: id of the EUCLIDEAN-nearest
  * centroid — the assignment metric of product-quantization codebooks,
  * where the goal is reconstruction error, not angular similarity
  * (cosine assignment ignores subvector magnitude and reconstructs the
  * wrong norm). Same contract as [[NearestCentroid]]: `cents` sorted
  * ascending by id, ties keep the first (lowest-id) minimum via the
  * strict `<`, squared distance summed in index order (sequential adds
  * — the same fold a relational oracle's list_reduce replays
  * bit-identically), -1 for an empty array, codegen'd single fused
  * loop.
  */
final case class NearestCentroidL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(StructType(Array(idF, cvF)), _))
        if idF.dataType == LongType &&
           (cvF.dataType match {
             case ArrayType(DoubleType, _) => true; case _ => false
           }) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<struct<bigint, array<double>>>), " +
        s"got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestCentroidL2(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, cents) => s"graft.functions.VectorKernels.nearestCentroidL2($v, $cents)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidL2 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_centroid_l2"
}

/** `lsh_bucket(v, bits)`: sign-LSH bucket id over an array<double>, the
  * per-row key of the LSH index builds. The SQL form expanded to bits ×
  * (zip_with + transform + sequence + aggregate) interpreted lambdas —
  * a bits×dim interpreted fold per corpus row on the ONE pass that
  * touches every row at 100 TB scale. One shared static kernel, hash
  * chain and add order identical (see [[VectorKernels.lshBucket]]), so
  * buckets are bit-identical. Never null: a null/empty/null-element
  * vector buckets to 0, exactly like the CASE-sum it replaces.
  */
final case class LshBucket(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 62, s"lsh_bucket needs 1 <= bits <= 62, got $bits")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else VectorKernels.lshBucket(v.asInstanceOf[ArrayData], bits)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L :
        graft.functions.VectorKernels.lshBucket(${c.value}, $bits);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
  override def prettyName: String = "lsh_bucket"
}

/** `rp_project(v, dOut)`: deterministic ±1 random projection to `dOut`
  * components — [[LshBucket]]'s hyperplane folds with the dot values
  * kept instead of their signs. Replaces a dOut × dim interpreted HOF
  * expansion on the full-corpus projection pass; values bit-identical
  * (see [[VectorKernels.rpProject]]). Never null at the top level: a
  * null/empty/null-element vector projects to an array of dOut nulls,
  * exactly what `array(aggregate(...), ...)` produced.
  */
final case class RpProject(child: Expression, dOut: Int)
    extends UnaryExpression {
  require(dOut >= 1, s"rp_project needs dOut >= 1, got $dOut")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    VectorKernels.rpProject(
      child.eval(input).asInstanceOf[ArrayData], dOut)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.functions.VectorKernels.rpProject(
          ${c.isNull} ? null : ${c.value}, $dOut);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): RpProject =
    copy(child = newChild)
  override def prettyName: String = "rp_project"
}

object VectorFunctions {
  /** Idempotently register `vec_dot` / `cosine_sim` /
    * `nearest_centroid` as SQL functions on the session, usable from
    * `expr(...)` and `spark.sql(...)`.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot",
      exprs => VectorDot(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim",
      exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim_i8",
      exprs => CosineSimilarityI8(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_maxabs",
      exprs => VecMaxAbs(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("quantize_i8",
      exprs => QuantizeI8(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("nearest_centroid",
      exprs => NearestCentroid(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("nearest_centroid_l2",
      exprs => NearestCentroidL2(exprs(0), exprs(1)), "scala_udf")
    def litInt(e: Expression, fn: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v, org.apache.spark.sql.types.IntegerType) => v.asInstanceOf[Int]
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal int, got $other")
    }
    reg.createOrReplaceTempFunction("lsh_bucket",
      exprs => LshBucket(exprs(0), litInt(exprs(1), "lsh_bucket")),
      "scala_udf")
    reg.createOrReplaceTempFunction("rp_project",
      exprs => RpProject(exprs(0), litInt(exprs(1), "rp_project")),
      "scala_udf")
  }
}
