package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Native expressions for the text-hashing hot paths. Shingling a 100 TB
  * corpus through `transform(..., concat_ws/slice/xxhash64)` pays an
  * interpreted lambda per gram; these run one primitive loop per document
  * and never materialize gram strings — an n-gram is hashed by mixing the
  * per-token hashes (tokens cannot contain the split whitespace, so the
  * token sequence determines the joined string and vice versa).
  */
object TextExpressions {

  /** xxhash64 (seed 42 — same as Spark's `xxhash64` on strings) of each
    * element of a string array.
    */
  def tokenHashes(tokens: Column): Column =
    ColumnShim.column(TokenHashes(ColumnShim.expression(tokens)))

  /** 64-bit hashes of the contiguous n-grams of a string array (FNV-style
    * mix over per-token xxhash64s). Equal token windows hash equal; distinct
    * windows collide with ~2^-64 probability.
    */
  def ngramHashes(tokens: Column, n: Int): Column =
    ColumnShim.column(NgramHashes(ColumnShim.expression(tokens), n))

  /** The `(idB, inter)` candidates of one document A from the posting-list
    * tails A collected (`array<array<long>>`: for each of A's rare grams,
    * the ids after A in that gram's id-sorted list, so A's rare-gram count
    * is the number of tails): each B with its count of shared grams, kept
    * where `inter / szA >= threshold`. See [[JaccardOverlap]].
    */
  def jaccardOverlap(tails: Column, threshold: Double): Column =
    ColumnShim.column(JaccardOverlap(ColumnShim.expression(tails), threshold))

  /** Aggregate: the sorted non-null ids (longs) of a group with at most
    * `cap` of them; past the cap, `cap + 1` of them. See [[CappedIdList]].
    */
  def cappedIdList(ids: Column, cap: Int): Column =
    ColumnShim.column(CappedIdList(ColumnShim.expression(ids.cast(LongType)), cap)
      .toAggregateExpression())

  /** Fraction of positions at which two equal-length long arrays agree —
    * the MinHash Jaccard estimate.
    */
  def matchFraction(a: Column, b: Column): Column =
    ColumnShim.column(ArrayMatchFraction(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Shannon entropy (nats) of the character distribution — the gibberish
    * / repetitive-text filter. One pass per document, no per-character
    * rows: the relational formulation explodes |text| rows per doc into a
    * shuffle; this keeps the histogram in a per-row map.
    */
  def charEntropy(text: Column): Column =
    ColumnShim.column(CharEntropy(ColumnShim.expression(text)))

  /** Jaro-Winkler similarity in [0, 1] — the entity-resolution scoring
    * function for short identifier-like strings (names, codes), where
    * edit distance over-penalizes transpositions. Standard parameters
    * (match window max(|a|,|b|)/2 - 1, prefix bonus up to 4 chars at 0.1,
    * bonus only above Jaro 0.7) — byte-for-byte the definition DuckDB's
    * jaro_winkler_similarity implements, so an external oracle can score
    * the same pairs independently.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnShim.column(JaroWinkler(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  private[expressions] def hashUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
}

/** -sum(p_c * ln(p_c)) over code-point frequencies. Counts CODE POINTS
  * (surrogate pairs count once), matching what `regexp_extract_all(text,
  * '[\s\S]')` enumerates in an RE2 oracle. Terms accumulate in ascending
  * code-point order, so the value is deterministic per input; oracle
  * parity is at round(6) (float association differs across engines).
  * Generated code calls the static kernel directly, so the expression
  * stays inside whole-stage codegen (no interpreted fallback per row).
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    CharEntropy.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.CharEntropy.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CharEntropy {
  /** The per-row kernel, shared by interpreted eval and generated code. */
  def compute(u: org.apache.spark.unsafe.types.UTF8String): Double = {
    val s = u.toString
    if (s.isEmpty) 0.0
    else {
      val counts = scala.collection.mutable.TreeMap.empty[Int, Long]
      var i = 0
      var n = 0L
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts.update(cp, counts.getOrElse(cp, 0L) + 1L)
        n += 1
        i += Character.charCount(cp)
      }
      var ent = 0.0
      counts.valuesIterator.foreach { c =>
        val p = c.toDouble / n
        ent -= p * math.log(p)
      }
      ent
    }
  }
}

case class TokenHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    TokenHashes.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenHashes.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenHashes {
  def compute(arr: ArrayData): ArrayData = {
    val n   = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = TextExpressions.hashUtf8(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "ngram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    NgramHashes.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.NgramHashes.compute($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NgramHashes {
  private val FnvOffset = -3750763034362895579L // FNV-1a 64 offset basis
  private val FnvPrime  = 1099511628211L

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](m)
    var i = 0
    while (i < m) { th(i) = TextExpressions.hashUtf8(arr.getUTF8String(i)); i += 1 }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var h = FnvOffset
      var j = 0
      while (j < n) { h = (h ^ th(i + j)) * FnvPrime; j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-document overlap kernel of the n-gram Jaccard pairs: counts how
  * often each B occurs across A's posting-list tails (an open-addressing
  * long-keyed table sized to the tails, so the buffer is bounded by A's
  * rare-gram count x the df cap) and emits `(idB, inter)` where
  * `inter / szA >= threshold`, szA being A's rare-gram count (its number of
  * tails). Only B sharing at least one gram with A is ever counted.
  *
  * The bound is exact pruning, not an approximation: every pair the
  * Jaccard test `inter / (szA + szB - inter) >= threshold` keeps passes it.
  * `szA + szB - inter >= szA` holds in longs (B's rare set holds its
  * `inter` shared grams, so `szB >= inter`), and double division rounds
  * monotonically, so `inter / szA` is at least the Jaccard. A's size is
  * all the bound needs, which keeps B's size out of the tails; the caller
  * joins it and applies the exact test.
  *
  * The threshold is a reference object, not a literal in the generated
  * code, so every threshold shares one compiled class.
  */
case class JaccardOverlap(child: Expression, threshold: Double)
    extends UnaryExpression {

  override def dataType: DataType = JaccardOverlap.ResultType

  override def nullSafeEval(tails: Any): Any =
    JaccardOverlap.compute(tails.asInstanceOf[ArrayData], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("threshold", threshold, "java.lang.Double")
    defineCodeGen(ctx, ev, a =>
      s"graft.expressions.JaccardOverlap.compute($a, $t.doubleValue())")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object JaccardOverlap {
  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("idB", LongType, nullable = false),
    StructField("inter", LongType, nullable = false))), containsNull = false)

  /** The per-row kernel, shared by interpreted eval and generated code. */
  def compute(tails: ArrayData, threshold: Double): ArrayData = {
    val nt = tails.numElements()
    val szA = nt.toDouble
    var total = 0
    var i = 0
    while (i < nt) { total += tails.getArray(i).numElements(); i += 1 }
    // power-of-two table at load <= 1/2
    val mask = Integer.highestOneBit(math.max(total, 1)) * 4 - 1
    val ids  = new Array[Long](mask + 1)
    val hits = new Array[Int](mask + 1) // 0 = empty slot
    i = 0
    while (i < nt) {
      val tail = tails.getArray(i)
      var j = 0
      while (j < tail.numElements()) {
        val id = tail.getLong(j)
        var slot = VectorExpressions.mix64(id).toInt & mask
        while (hits(slot) != 0 && ids(slot) != id) slot = (slot + 1) & mask
        ids(slot) = id
        hits(slot) += 1
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var slot = 0
    while (slot <= mask) {
      val inter = hits(slot).toLong
      if (inter != 0 && inter.toDouble / szA >= threshold)
        out += new GenericInternalRow(Array[Any](ids(slot), inter))
      slot += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** The sorted non-null ids of a group, holding at most `cap + 1` of them:
  * every id of a group with at most `cap` non-null ids, and `cap + 1` of
  * them (which ones is unspecified) past that. A `collect_list` whose
  * buffer is bounded, for a caller that keeps only the groups under the
  * cap: the posting lists of the n-gram Jaccard pairs, where a boilerplate
  * gram in every document would otherwise buffer every document's id.
  */
case class CappedIdList(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedIdList.Buffer]
    with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "capped_id_list"

  override def createAggregationBuffer(): CappedIdList.Buffer =
    new CappedIdList.Buffer(cap + 1L)

  override def update(b: CappedIdList.Buffer, row: InternalRow): CappedIdList.Buffer = {
    val v = child.eval(row)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }

  override def merge(b: CappedIdList.Buffer, o: CappedIdList.Buffer): CappedIdList.Buffer = {
    var i = 0
    while (i < o.n) { b.add(o.ids(i)); i += 1 }
    b
  }

  override def eval(b: CappedIdList.Buffer): Any = {
    val ids = java.util.Arrays.copyOf(b.ids, b.n)
    java.util.Arrays.sort(ids)
    UnsafeArrayData.fromPrimitiveArray(ids)
  }

  override def serialize(b: CappedIdList.Buffer): Array[Byte] = {
    val bytes = java.nio.ByteBuffer.allocate(8 * b.n)
    var i = 0
    while (i < b.n) { bytes.putLong(b.ids(i)); i += 1 }
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedIdList.Buffer = {
    val b = new CappedIdList.Buffer(cap + 1L)
    val in = java.nio.ByteBuffer.wrap(bytes)
    while (in.hasRemaining) b.add(in.getLong())
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedIdList =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedIdList =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CappedIdList =
    copy(child = c)
}

object CappedIdList {
  /** Up to `limit` ids, in arrival order; later ids are dropped. A Long,
    * so a cap of `Int.MaxValue` (no cap) does not wrap.
    */
  final class Buffer(limit: Long) {
    var ids = new Array[Long](4)
    var n = 0
    def add(id: Long): Unit = if (n < limit) {
      if (n == ids.length) ids = java.util.Arrays.copyOf(ids, math.min(2L * n, limit).toInt)
      ids(n) = id
      n += 1
    }
  }
}

/** Jaro similarity + Winkler prefix bonus (window = max/2 - 1, prefix
  * <= 4, scale 0.1, boost threshold 0.7). One primitive two-pointer pass
  * per pair; generated code calls the static kernel, keeping blocked
  * similarity joins inside whole-stage codegen.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.compute(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.JaroWinkler.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaroWinkler {
  def compute(ua: org.apache.spark.unsafe.types.UTF8String,
              ub: org.apache.spark.unsafe.types.UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    if (a == b) return 1.0
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val matchedA = new Array[Boolean](la)
    val matchedB = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matchedB(j) && a.charAt(i) == b.charAt(j)) {
          matchedA(i) = true
          matchedB(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars, in order, that disagree
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (matchedA(i)) {
        while (!matchedB(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - t / 2.0) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxPrefix = math.min(4, math.min(la, lb))
    while (prefix < maxPrefix && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}

case class ArrayMatchFraction(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any =
    ArrayMatchFraction.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.ArrayMatchFraction.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ArrayMatchFraction {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n.toDouble
  }
}
