package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.expr.VectorKernels.cmpSim

/** Top-k-neighbors aggregate: the map-side-bounded replacement for
  * `row_number().over(partitionBy(q).orderBy(sim DESC, id ASC)) <= k` on
  * an n·|collection| sim stream. The window form (even with Spark 4's
  * WindowGroupLimit) sorts every partition's sim rows before limiting;
  * this aggregate keeps a k-slot insertion buffer per group, so the
  * partial phase is one O(k) probe per row with no sort, and the
  * exchange carries one ≤ k-entry buffer per (task, group). Emits
  * array<struct<sim double, neighbor_id long>> in (sim DESC, id ASC)
  * order — posexplode to recover (rn, neighbor, sim).
  *
  * The buffer is fixed-width columns — an int count `n`, then k sims
  * and k ids, kept sorted — so Spark plans the aggregate in
  * `HashAggregateExec` (the precedent is its own `HyperLogLogPlusPlus`).
  * That operator keeps any number of groups per task in its hash map and
  * sorts and spills only under memory pressure; an object buffer would
  * land in `ObjectHashAggregateExec`, which falls back to sort-based
  * aggregation after 128 groups per task — the per-task sort this
  * aggregate exists to avoid. The fixed layout costs 2k + 1 buffer
  * columns per group and an O(k) shift per insertion, so k is bounded by
  * [[TopKNeighbors.MaxK]]: a kNN fan-out, not a full ranking. */
case class TopKNeighbors(simChild: Expression, idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ImperativeAggregate {
  require(k >= 1 && k <= TopKNeighbors.MaxK,
    s"topk_neighbors: k must be in [1, ${TopKNeighbors.MaxK}], got $k")

  override def children: Seq[Expression] = Seq(simChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (simChild.dataType, idChild.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (double, bigint), got " +
            s"${s.catalogString}, ${i.catalogString}")
    }

  // buffer layout relative to the offset: n, sim_0 .. sim_{k-1},
  // id_0 .. id_{k-1}; slots below n are sorted (sim DESC, id ASC)
  override val aggBufferAttributes: Seq[AttributeReference] =
    AttributeReference("n", IntegerType)() +:
      ((0 until k).map(i => AttributeReference(s"sim$i", DoubleType)()) ++
        (0 until k).map(i => AttributeReference(s"id$i", LongType)()))
  override lazy val aggBufferSchema: StructType =
    DataTypeUtils.fromAttributes(aggBufferAttributes)
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  // slots at and above n are never read, so an empty buffer is just n = 0
  override def initialize(b: InternalRow): Unit =
    b.setInt(mutableAggBufferOffset, 0)

  /** (s, id) ranks before the entry in slot i of the buffer at `o`. */
  @inline private def better(b: InternalRow, o: Int, s: Double, id: Long,
      i: Int): Boolean = {
    val c = cmpSim(s, b.getDouble(o + 1 + i))
    c > 0 || (c == 0 && id < b.getLong(o + 1 + k + i))
  }

  /** Linear-shift insertion; O(1) for the common reject (no better than
    * the current k-th). */
  private def insert(b: InternalRow, s: Double, id: Long): Unit = {
    val o = mutableAggBufferOffset
    val n = b.getInt(o)
    if (n == k && !better(b, o, s, id, k - 1)) return
    var pos = if (n == k) k - 1 else { b.setInt(o, n + 1); n }
    while (pos > 0 && better(b, o, s, id, pos - 1)) {
      b.setDouble(o + 1 + pos, b.getDouble(o + pos))
      b.setLong(o + 1 + k + pos, b.getLong(o + k + pos))
      pos -= 1
    }
    b.setDouble(o + 1 + pos, s)
    b.setLong(o + 1 + k + pos, id)
  }

  override def update(b: InternalRow, input: InternalRow): Unit = {
    val s = simChild.eval(input)
    val id = idChild.eval(input)
    if (s != null && id != null)
      insert(b, s.asInstanceOf[Double], id.asInstanceOf[Long])
  }

  override def merge(b: InternalRow, in: InternalRow): Unit = {
    val o = inputAggBufferOffset
    val n = in.getInt(o)
    var i = 0
    while (i < n) {
      insert(b, in.getDouble(o + 1 + i), in.getLong(o + 1 + k + i)); i += 1
    }
  }

  override def eval(b: InternalRow): Any = {
    val o = mutableAggBufferOffset
    val out = new Array[Any](b.getInt(o))
    var i = 0
    while (i < out.length) {
      out(i) = InternalRow(b.getDouble(o + 1 + i), b.getLong(o + 1 + k + i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKNeighbors =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKNeighbors =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKNeighbors =
    copy(simChild = newChildren(0), idChild = newChildren(1))
  override def prettyName: String = "topk_neighbors"
}

object TopKNeighbors {
  /** Largest k: the buffer is 2k + 1 columns per group, and each
    * insertion shifts up to k slots. */
  val MaxK = 1024

  /** Column builder: topk_neighbors(sim, id, k) → array<struct<sim,
    * neighbor_id>> ordered (sim DESC, id ASC). */
  def topk_neighbors(sim: Column, id: Column, k: Int): Column =
    GraftColumn.column(TopKNeighbors(
      GraftColumn.expression(sim), GraftColumn.expression(id), k)
      .toAggregateExpression())
}
