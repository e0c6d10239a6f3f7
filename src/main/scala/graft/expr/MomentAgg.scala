package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Second-moment accumulator state: the UPPER TRIANGLE (j ≤ k) of
  * Σᵢ t12(vᵢⱼ·vᵢₖ) as exact scale-12 decimals, each cell held as an
  * unscaled long with a lazy BigInteger spill on overflow (the same
  * exact-decimal value Spark's `sum(decimal(28,12))` accumulates,
  * without a per-term Decimal object). `d` is the largest row
  * dimension seen — exactly the (j, k) universe the posexplode
  * fan-out's groupBy produced. `seen` distinguishes a cell whose every
  * term was null (sum = null) from a populated one. Triangle index
  * k·(k+1)/2 + j is append-only in k, so growing `d` never reindexes. */
final class MomentBuf {
  var d: Int = 0
  var sums: Array[Long] = new Array[Long](0)
  var bigs: Array[java.math.BigInteger] = null
  var seen: Array[Boolean] = new Array[Boolean](0)

  @inline def tri(d0: Int): Int = d0 * (d0 + 1) / 2

  def grow(nd: Int): Unit = if (nd > d) {
    val ns = new Array[Long](tri(nd))
    System.arraycopy(sums, 0, ns, 0, sums.length)
    val nn = new Array[Boolean](tri(nd))
    System.arraycopy(seen, 0, nn, 0, seen.length)
    if (bigs != null) {
      val nb = new Array[java.math.BigInteger](tri(nd))
      System.arraycopy(bigs, 0, nb, 0, bigs.length)
      bigs = nb
    }
    sums = ns; seen = nn; d = nd
  }

  @inline def addUnscaled(idx: Int, u: Long): Unit = {
    seen(idx) = true
    val prev = sums(idx)
    val s = prev + u
    // overflow check (Math.addExact without the throw in the hot path)
    if (((prev ^ s) & (u ^ s)) < 0) {
      if (bigs == null) bigs = new Array[java.math.BigInteger](sums.length)
      val b = if (bigs(idx) == null) java.math.BigInteger.ZERO else bigs(idx)
      bigs(idx) = b.add(java.math.BigInteger.valueOf(prev))
        .add(java.math.BigInteger.valueOf(u))
      sums(idx) = 0L
    } else sums(idx) = s
  }

  def addBig(idx: Int, b: java.math.BigInteger): Unit = {
    seen(idx) = true
    if (bigs == null) bigs = new Array[java.math.BigInteger](sums.length)
    val prev = if (bigs(idx) == null) java.math.BigInteger.ZERO else bigs(idx)
    bigs(idx) = prev.add(b)
  }

  def cellTotal(idx: Int): java.math.BigInteger = {
    val l = java.math.BigInteger.valueOf(sums(idx))
    if (bigs != null && bigs(idx) != null) bigs(idx).add(l) else l
  }
}

/** One-pass second-moment matrix aggregate over `array<double>` rows:
  * Mⱼₖ = Σᵢ t12(vᵢⱼ·vᵢₖ) with t12 the engine's
  * `round(x, 12)::decimal(28,12)` discipline, evaluated through the
  * EXACT same BigDecimal calls Spark's Round + Cast execute — the
  * decimal sums are order-independent, so the result is bit-identical
  * to the former posexplode×posexplode fan-out + `sum(t12(p))` while
  * materializing ZERO intermediate rows (the fan-out pushed n·d² rows
  * through codegen + a d²-group hash probe each; guide §1.2 step 2).
  * Symmetry halves the rounding work: vⱼ·vₖ ≡ vₖ·vⱼ bitwise, so only
  * the j ≤ k triangle is accumulated and eval mirrors it. Emits
  * array<struct<j int, k int, m double>> — m is the decimal sum cast
  * to double (null when every term of an existing cell was null, or
  * on decimal-38 overflow, matching non-ANSI `sum`). Buffer is
  * d²-bounded (the embedding dimension), never data-sized. */
case class MomentMatrix(child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("m", DoubleType, nullable = true))), containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${t.catalogString}")
    }

  override def createAggregationBuffer(): MomentBuf = new MomentBuf

  override def update(b: MomentBuf, input: InternalRow): MomentBuf = {
    val e = child.eval(input)
    if (e == null) return b
    val arr = e.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n == 0) return b
    b.grow(n)
    val vals = new Array[Double](n)
    val nulls = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) nulls(i) = true else vals(i) = arr.getDouble(i)
      i += 1
    }
    var k = 0
    while (k < n) {
      if (!nulls(k)) {
        val base = k * (k + 1) / 2
        val y = vals(k)
        var j = 0
        while (j <= k) {
          if (!nulls(j)) {
            val bd = graft.util.DriverLocal.t12(vals(j) * y)
            val bits = bd.unscaledValue().bitLength()
            if (bits < 63) b.addUnscaled(base + j, bd.unscaledValue().longValue())
            else b.addBig(base + j, bd.unscaledValue())
          }
          j += 1
        }
      }
      k += 1
    }
    b
  }

  override def merge(b: MomentBuf, o: MomentBuf): MomentBuf = {
    b.grow(o.d)
    var idx = 0
    val n = o.tri(o.d)
    while (idx < n) {
      if (o.seen(idx)) {
        b.addUnscaled(idx, o.sums(idx))
        if (o.bigs != null && o.bigs(idx) != null) b.addBig(idx, o.bigs(idx))
      }
      idx += 1
    }
    b
  }

  override def eval(b: MomentBuf): Any = {
    // decimal(38,12) sum semantics: > 38 digits of precision → null
    val maxUnscaled = java.math.BigInteger.TEN.pow(38)
    val out = new Array[Any](b.d * b.d)
    var p = 0
    var k = 0
    while (k < b.d) {
      var j = 0
      while (j <= k) {
        val idx = k * (k + 1) / 2 + j
        val m: Any =
          if (!b.seen(idx)) null
          else {
            val tot = b.cellTotal(idx)
            if (tot.abs.compareTo(maxUnscaled) >= 0) null
            else new java.math.BigDecimal(tot, 12).doubleValue()
          }
        out(p) = InternalRow(j, k, m); p += 1
        if (j != k) { out(p) = InternalRow(k, j, m); p += 1 }
        j += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: MomentBuf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    o.writeInt(b.d)
    val n = b.tri(b.d)
    var i = 0
    while (i < n) {
      val big = if (b.bigs != null) b.bigs(i) else null
      var flags = 0
      if (b.seen(i)) flags |= 1
      if (big != null) flags |= 2
      o.writeByte(flags)
      o.writeLong(b.sums(i))
      if (big != null) {
        val bytes = big.toByteArray
        o.writeInt(bytes.length); o.write(bytes)
      }
      i += 1
    }
    o.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MomentBuf = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val b = new MomentBuf
    b.grow(in.readInt())
    val n = b.tri(b.d)
    var i = 0
    while (i < n) {
      val flags = in.readByte()
      b.seen(i) = (flags & 1) != 0
      b.sums(i) = in.readLong()
      if ((flags & 2) != 0) {
        val len = in.readInt()
        val bb = new Array[Byte](len); in.readFully(bb)
        if (b.bigs == null)
          b.bigs = new Array[java.math.BigInteger](b.sums.length)
        b.bigs(i) = new java.math.BigInteger(bb)
      }
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): MomentMatrix =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MomentMatrix =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MomentMatrix =
    copy(child = newChildren(0))
  override def prettyName: String = "moment_matrix"
}

object MomentMatrix {
  /** Column builder: moment_matrix(e) → array<struct<j, k, m>> of the
    * full (mirrored) second-moment matrix on the 12-dp decimal grid. */
  def moment_matrix(e: Column): Column =
    GraftColumn.column(MomentMatrix(GraftColumn.expression(e))
      .toAggregateExpression())
}
