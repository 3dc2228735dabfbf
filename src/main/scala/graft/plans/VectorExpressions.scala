package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for float-vector dot products.
  *
  * The composable alternative (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * allocates an intermediate array per row and evaluates through the
  * interpreted higher-order-function path — it cannot participate in
  * whole-stage codegen, which made the all-pairs similarity join
  * interpreter-bound (~115 s for 2M pairs at sf0.1). This expression
  * generates a tight primitive loop instead (no boxing, no intermediate
  * array) and keeps the surrounding join stage inside codegen.
  *
  * Accumulation is in double precision, index order — bit-identical to
  * the sequential semantics the DuckDB oracle uses, so swapping it in
  * changes nothing about query results.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<FLOAT|DOUBLE> args, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(t: DataType): Boolean = elemType(t).contains(FloatType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left.dataType), isFloat(right.dataType))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      // acc MUST be freshName'd too: with non-nullable inputs the code is
      // inlined unscoped, and a projection with several dots (cosine has
      // three) would declare `double acc` twice → Janino error → silent
      // interpreted fallback for the whole stage
      val acc = ctx.freshName("acc")
      def get(arr: String, fl: Boolean) =
        if (fl) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, isFloat(left.dataType))} * ${get(b, isFloat(right.dataType))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Symmetric int8 quantization of a float/double vector: byteᵢ =
  * round(vᵢ / scale · 127), clamped to [-127, 127], emitted as BINARY —
  * the 4× storage format for a 100 TB embedding index. Codegen'd tight
  * loop, no boxing; the inverse is folded into [[Int8VectorDot]]'s
  * caller as a single `· scale / 127` on the summed product. */
case class Int8Quantize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects (ARRAY<FLOAT|DOUBLE>, DOUBLE), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val scale = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val q = Math.rint(v / scale * 127.0)
      out(i) = Math.max(-127.0, Math.min(127.0, q)).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val q = ctx.freshName("q")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $q = java.lang.Math.rint($get / $b * 127.0);
         |  $out[$i] = (byte) java.lang.Math.max(-127.0, java.lang.Math.min(127.0, $q));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8Quantize =
    copy(left = newLeft, right = newRight)
}

/** Dot product of an int8-quantized BINARY vector against a float/double
  * query vector, accumulated in double — multiply the result by
  * `scale / 127` to recover the approximate real-valued dot. */
case class Int8VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def isFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType,
          ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects (BINARY, ARRAY<FLOAT|DOUBLE>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.length, y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val yv = if (isFloat) y.getFloat(i).toDouble else y.getDouble(i)
      s += x(i).toDouble * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val get = if (isFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.length, $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a[$i]) * $get;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8VectorDot =
    copy(left = newLeft, right = newRight)
}

/** ADC lookup sum for a PQ-coded vector: `codes` (ARRAY<TINYINT|INT>, M
  * entries, each in [0, K)) indexed into a flattened per-query lookup
  * table (ARRAY<LONG>, M·K entries, subspace-major): Σₛ lut[s·K + codeₛ].
  * This is the entire per-candidate cost of an IVF-PQ probe — M integer
  * loads and adds instead of a 64-dim float loop — so it must stay inside
  * whole-stage codegen. K is derived from the operand lengths, so one
  * expression serves any (M, K) codebook shape. */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  private def isByte: Boolean = left.dataType match {
    case ArrayType(org.apache.spark.sql.types.ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.IntegerType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects (ARRAY<TINYINT|INT>, ARRAY<BIGINT>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val k = lut.numElements() / m
    var acc = 0L
    var s = 0
    while (s < m) {
      val c = if (isByte) codes.getByte(s).toInt else codes.getInt(s)
      acc += lut.getLong(s * k + c)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      val get = if (isByte) s"(int) $a.getByte($s)" else s"$a.getInt($s)"
      s"""
         |int $m = $a.numElements();
         |int $k = $b.numElements() / $m;
         |long $acc = 0L;
         |for (int $s = 0; $s < $m; $s++) {
         |  $acc += $b.getLong($s * $k + ($get));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcSum =
    copy(left = newLeft, right = newRight)
}

/** All LSH hyperplane buckets of a vector in ONE native expression:
  * returns ARRAY<LONG> of `nTables` bucket ids, bit j of table t set iff
  * dot(v, plane[t·B+j]) > 0, accumulated in double precision, index
  * order — bit-identical to chaining [[FloatVectorDot]] per plane (IEEE
  * multiplication is commutative and the add order is unchanged), so
  * swapping it in changes no query result.
  *
  * Why it exists (r10): the composed form — `array(...)` over
  * nTables·bits `when(dot > 0, 1<<j)` trees — UNROLLS every plane into
  * the whole-stage-codegen method body. At the registry's 4×4 that is
  * 16 inline loops (fine); at a large-corpus layout (12 tables ×
  * 16 bits = 192 planes) the generated doConsume exceeds HotSpot's
  * huge-method JIT limit and the stage silently executes as INTERPRETED
  * BYTECODE — the r10 x1000 probe measured the bucketing scan burning
  * 370+ s of CPU per task, turning the whole embed-dedup family
  * round-overhead analysis on its head. Here the planes live in one
  * flat double[] reference and the generated code is three short
  * runtime-bounded loops — constant bytecode size at ANY dial, always
  * JIT-compiled. */
case class HyperplaneBuckets(child: Expression, planes: IndexedSeq[Double],
    nTables: Int, bitsPerTable: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects ARRAY<FLOAT|DOUBLE> input, got $other")
    }

  @transient private lazy val flat: Array[Double] = planes.toArray

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val fl = isFloat
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var j = 0
      while (j < bitsPerTable) {
        val base = (t * bitsPerTable + j) * dim
        var s = 0.0
        var i = 0
        while (i < n) {
          val xv = if (fl) v.getFloat(i).toDouble else v.getDouble(i)
          s += xv * flat(base + i)
          i += 1
        }
        if (s > 0.0) bucket |= 1L << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.addReferenceObj("planes", flat, "double[]")
      val (n, t, j, i) = (ctx.freshName("n"), ctx.freshName("t"),
        ctx.freshName("j"), ctx.freshName("i"))
      val (out, bucket, base, s) = (ctx.freshName("out"),
        ctx.freshName("bucket"), ctx.freshName("base"), ctx.freshName("s"))
      val get = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |long[] $out = new long[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bucket = 0L;
         |  for (int $j = 0; $j < $bitsPerTable; $j++) {
         |    int $base = ($t * $bitsPerTable + $j) * $dim;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += ($get) * $p[$base + $i];
         |    }
         |    if ($s > 0.0) $bucket |= 1L << $j;
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBuckets = copy(child = newChild)
}

object VectorExpressions {
  /** Column wrapper for [[FloatVectorDot]]. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVectorDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper for [[HyperplaneBuckets]]: `planes` is the
    * (nTables·bitsPerTable) × dim hyperplane matrix. */
  def hyperplaneBuckets(v: Column, planes: Array[Array[Double]],
      nTables: Int, bitsPerTable: Int, dim: Int): Column =
    ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(v),
      planes.flatten.toIndexedSeq, nTables, bitsPerTable, dim))

  /** Column wrapper for [[Int8Quantize]]. */
  def int8Quantize(v: Column, scale: Column): Column =
    ColumnBridge.column(Int8Quantize(
      ColumnBridge.expression(v), ColumnBridge.expression(scale)))

  /** Column wrapper for [[Int8VectorDot]]. */
  def int8Dot(qv: Column, v: Column): Column =
    ColumnBridge.column(Int8VectorDot(
      ColumnBridge.expression(qv), ColumnBridge.expression(v)))

  /** Column wrapper for [[PqAdcSum]]. */
  def pqAdc(codes: Column, lut: Column): Column =
    ColumnBridge.column(PqAdcSum(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut)))
}
