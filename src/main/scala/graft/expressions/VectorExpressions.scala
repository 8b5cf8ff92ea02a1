package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the engine's numeric hot paths.
  *
  * The higher-order-function formulations (`aggregate`/`zip_with`) are
  * interpreted per element with boxed lambda variables; at corpus scale the
  * inner loop of a 2M-pair cosine join must be a primitive loop inside
  * whole-stage codegen instead. Semantics are identical to the HOF versions
  * (double accumulation, sequential order), so DuckDB oracles are unaffected.
  */
object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(ArrayDotProduct(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  def cosine(a: Column, b: Column): Column =
    ColumnShim.column(ArrayCosineSim(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  def minhash(hashes: Column, numHashes: Int): Column =
    ColumnShim.column(MinHashSig(ColumnShim.expression(hashes), numHashes))

  def simhash64(hashes: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(hashes)))

  def hyperplaneSig(vec: Column, nBits: Int, planeOffset: Int = 0): Column =
    ColumnShim.column(HyperplaneSig(ColumnShim.expression(vec), nBits, planeOffset))

  def l2Normalize(vec: Column): Column =
    ColumnShim.column(L2Normalize(ColumnShim.expression(vec)))

  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnShim.column(NearestCentroid(ColumnShim.expression(vec), centroids))

  def quantizeInt8(vec: Column): Column =
    ColumnShim.column(QuantizeInt8(ColumnShim.expression(vec)))

  def dequantizeInt8(qv: Column): Column =
    ColumnShim.column(DequantizeInt8(ColumnShim.expression(qv)))

  def randomProjection(vec: Column, outDim: Int, seed: Int = 0): Column =
    ColumnShim.column(RandomProjection(ColumnShim.expression(vec), outDim, seed))

  /** Element type as an int code, resolved at PLAN time so generated code
    * passes a literal and the per-row kernel switches on a primitive.
    */
  private[expressions] def typeCode(et: DataType): Int = et match {
    case FloatType   => 0
    case DoubleType  => 1
    case LongType    => 2
    case IntegerType => 3
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  /** Kernel-side element accessor for [[typeCode]] codes. */
  def elemAt(arr: ArrayData, i: Int, code: Int): Double = code match {
    case 0 => arr.getFloat(i).toDouble
    case 1 => arr.getDouble(i)
    case 2 => arr.getLong(i).toDouble
    case _ => arr.getInt(i).toDouble
  }

  /** SplitMix64 finalizer — the shared deterministic PRNG of the
    * hyperplane / random-projection kernels.
    */
  private[expressions] def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L // 0x9E3779B97F4A7C15
    z = (z ^ (z >>> 30)) * -4658895280553007687L // 0xBF58476D1CE4E5B9
    z = (z ^ (z >>> 27)) * -7723592293110705685L // 0x94D049BB133111EB
    z ^ (z >>> 31)
  }

  private[expressions] def elemGetter(arr: String, idx: String, et: DataType): String =
    et match {
      case FloatType  => s"(double) $arr.getFloat($idx)"
      case DoubleType => s"$arr.getDouble($idx)"
      case LongType   => s"(double) $arr.getLong($idx)"
      case IntegerType => s"(double) $arr.getInt($idx)"
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }

  private[expressions] def elemEval(arr: ArrayData, i: Int, et: DataType): Double =
    et match {
      case FloatType   => arr.getFloat(i).toDouble
      case DoubleType  => arr.getDouble(i)
      case LongType    => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }
}

/** Sum of elementwise products of two numeric arrays, in double. */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  private def leftElem  = left.dataType.asInstanceOf[ArrayType].elementType
  private def rightElem = right.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += VectorExpressions.elemEval(a, i, leftElem) *
        VectorExpressions.elemEval(b, i, rightElem)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${VectorExpressions.elemGetter(a, i, leftElem)} *
         |        ${VectorExpressions.elemGetter(b, i, rightElem)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity of two numeric arrays (0.0 on zero norm), single pass. */
case class ArrayCosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  private def leftElem  = left.dataType.asInstanceOf[ArrayType].elementType
  private def rightElem = right.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = VectorExpressions.elemEval(a, i, leftElem)
      val y = VectorExpressions.elemEval(b, i, rightElem)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${VectorExpressions.elemGetter(a, i, leftElem)};
         |  double $y = ${VectorExpressions.elemGetter(b, i, rightElem)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Packed random-hyperplane LSH signature: bit b is the sign of the
  * projection onto pseudo-random plane (planeOffset + b). Plane components
  * are SplitMix64-derived from (planeId, dimIdx), so every executor
  * regenerates them identically with no broadcast plane matrix, and
  * `planeOffset` selects disjoint plane families for OR-amplified multi-table
  * hashing. One primitive nBits x dims loop per row.
  */
case class HyperplaneSig(child: Expression, nBits: Int, planeOffset: Int)
    extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63, "signature must fit in a long")

  override def dataType: DataType = LongType
  private def elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any =
    HyperplaneSig.compute(v.asInstanceOf[ArrayData], nBits, planeOffset,
      VectorExpressions.typeCode(elem))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HyperplaneSig.compute($c, $nBits, $planeOffset, " +
        s"${VectorExpressions.typeCode(elem)})")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HyperplaneSig {
  /** Uniform [-0.5, 0.5) component for (plane, dim). */
  private def component(plane: Int, dim: Int): Double = {
    val h = VectorExpressions.mix64((plane.toLong << 32) | (dim.toLong & 0xFFFFFFFFL))
    (h >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  def compute(arr: ArrayData, nBits: Int, planeOffset: Int, tc: Int): Long = {
    val dims = arr.numElements()
    var sig = 0L
    var b = 0
    while (b < nBits) {
      val plane = planeOffset + b
      var proj = 0.0
      var d = 0
      while (d < dims) {
        proj += VectorExpressions.elemAt(arr, d, tc) * component(plane, d)
        d += 1
      }
      if (proj >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** MinHash signature over an array of (arbitrary 64-bit) shingle hashes:
  * element j is min over shingles of (a_j * (h & 0xFFFFFFFF) + b_j) mod p,
  * p = first prime above 2^32. Same parameter schedule as
  * [[graft.llm.Dedup.minhashSignature]]; a tight primitive loop replacing a
  * numHashes-wide HOF zip per shingle.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinHashSig.compute($c, $numHashes)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashSig {
  private val prime = 4294967311L
  // (a, b) schedules memoized per numHashes — the kernel is called once
  // per row from generated code, so the schedule must not re-tabulate
  private val schedules =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def schedule(numHashes: Int): (Array[Long], Array[Long]) =
    schedules.computeIfAbsent(numHashes, k => (
      Array.tabulate(k)(i => 1L + (2654435761L * (i + 1)) % 1073741789L),
      Array.tabulate(k)(i => (2246822519L * (i + 1)) % 1073741789L)))

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def compute(hashes: ArrayData, numHashes: Int): ArrayData = {
    val (as, bs) = schedule(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i) & 0xFFFFFFFFL
      var j = 0
      while (j < numHashes) {
        val p = (as(j) * h + bs(j)) % prime
        if (p < sig(j)) sig(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** L2-normalized copy (array<double>); zero vectors pass through as-is
  * (cast to double). Semantics identical to the HOF form
  * `transform(a, v -> v / sqrt(dot(a,a)))`: the norm is the same
  * sequential-order dot, and each element is divided by it (not multiplied
  * by a precomputed reciprocal), so results are bit-identical and oracle
  * comparisons are unaffected. One primitive pass; the HOF form pays a
  * boxed lambda per element on every corpus row of an embedding pipeline.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any =
    L2Normalize.compute(v.asInstanceOf[ArrayData],
      VectorExpressions.typeCode(elem))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.L2Normalize.compute($c, ${VectorExpressions.typeCode(elem)})")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Index of the max-dot centroid for a numeric vector — the k-means /
  * IVF / SemDeDup assignment hot path as ONE codegen expression over a
  * reference-object centroid matrix. Replaces the
  * vector×centroid crossJoin + max(struct(dot, -cid)) formulation, whose
  * shuffle carried the full vector in the aggregation buffer (~512 B ×
  * corpus × nCentroids rows); this is a primitive loop inside
  * whole-stage codegen, zero join, zero shuffle, and the matrix is a
  * single JVM reference — not the per-element literal expression tree
  * that blew up Catalyst analysis in round 3. Ties break to the smaller
  * centroid id, exactly matching the struct-max it replaces
  * (parity-tested in ExpressionsSpec). Empty matrix yields -1.
  */
case class NearestCentroid(child: Expression,
                           centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  private def elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.compute(v.asInstanceOf[ArrayData],
      VectorExpressions.typeCode(elem), centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.NearestCentroid.compute($c, " +
        s"${VectorExpressions.typeCode(elem)}, $m)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NearestCentroid {
  def compute(arr: ArrayData, tc: Int, cents: Array[Array[Double]]): Int = {
    var best = -1
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val n = math.min(arr.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        s += VectorExpressions.elemAt(arr, i, tc) * cv(i)
        i += 1
      }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }
}

object L2Normalize {
  def compute(arr: ArrayData, tc: Int): ArrayData = {
    val n = arr.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = VectorExpressions.elemAt(arr, i, tc)
      ss += x * x
      i += 1
    }
    val norm = math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    if (norm == 0.0)
      while (i < n) { out(i) = VectorExpressions.elemAt(arr, i, tc); i += 1 }
    else
      while (i < n) { out(i) = VectorExpressions.elemAt(arr, i, tc) / norm; i += 1 }
    new GenericArrayData(out)
  }
}

/** Symmetric int8 scalar quantization: struct(scale = max|x|/127,
  * codes = round_half_up(x/scale) as tinyint). Two primitive passes per row
  * — the HOF formulation (abs-transform + array_max + round-transform) is
  * interpreted with boxed lambdas and measured ~1 ms/row at dim 64, which
  * disqualifies it for billion-vector storage rewrites. Rounding is
  * half-away-from-zero, matching Spark's `round()` and DuckDB's `round()`
  * so the storage transform stays oracle-comparable.
  */
case class QuantizeInt8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)))
  private def elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any =
    QuantizeInt8.compute(v.asInstanceOf[ArrayData],
      VectorExpressions.typeCode(elem))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.QuantizeInt8.compute($c, ${VectorExpressions.typeCode(elem)})")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object QuantizeInt8 {
  def compute(arr: ArrayData, tc: Int): InternalRow = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(VectorExpressions.elemAt(arr, i, tc))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = maxAbs / 127.0
    val safe = if (scale == 0.0) 1.0 else scale
    val codes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val q = VectorExpressions.elemAt(arr, i, tc) / safe
      val r = if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)
      codes(i) = r.toByte
      i += 1
    }
    InternalRow(scale, new GenericArrayData(codes.map(b => b: Any)))
  }
}

/** Inverse of [[QuantizeInt8]]: codes * scale as array<double>. */
case class DequantizeInt8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    DequantizeInt8.compute(v.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.DequantizeInt8.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object DequantizeInt8 {
  def compute(row: InternalRow): ArrayData = {
    val scale = row.getDouble(0)
    val codes = row.getArray(1)
    val n = codes.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = codes.getByte(i).toDouble * scale; i += 1 }
    new GenericArrayData(out)
  }
}

/** 64-bit SimHash over an array of token hashes: bit b of the result is set
  * iff more token hashes have bit b set than unset.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SimHash64.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  /** Per-row kernel, shared by interpreted eval and generated code. */
  def compute(hashes: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Deterministic Rademacher random projection array<numeric>[d] ->
  * array<double>[outDim]: out_j = sum_i v_i * s(j, i) with signs s in
  * {-1, +1} SplitMix64-derived from (seed, j, i) — every executor
  * regenerates the implicit projection matrix identically with NO broadcast
  * matrix, the Johnson-Lindenstrauss distortion bound holds for +-1 entries
  * (Achlioptas 2003), and cosine is scale-invariant so the conventional
  * 1/sqrt(outDim) factor is unnecessary. One primitive outDim x d loop per
  * row; reducing 64-dim embeddings to 16 dims cuts downstream ANN dot-product
  * and shuffle cost 4x at a small recall tax.
  */
case class RandomProjection(child: Expression, outDim: Int, seed: Int)
    extends UnaryExpression {
  require(outDim >= 1 && outDim <= 4096, "outDim must be in [1, 4096]")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any =
    RandomProjection.compute(v.asInstanceOf[ArrayData], outDim, seed,
      VectorExpressions.typeCode(elem))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.RandomProjection.compute($c, $outDim, $seed, " +
        s"${VectorExpressions.typeCode(elem)})")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RandomProjection {
  def compute(arr: ArrayData, outDim: Int, seed: Int, tc: Int): ArrayData = {
    val dims = arr.numElements()
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      // (seed, j) picks the row of the implicit matrix; i indexes within it
      val base = (seed.toLong << 40) ^ (j.toLong << 20)
      var acc = 0.0
      var i = 0
      while (i < dims) {
        val s = if ((VectorExpressions.mix64(base ^ i.toLong) & 1L) == 0L) 1.0 else -1.0
        acc += VectorExpressions.elemAt(arr, i, tc) * s
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}
