package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k best (score desc, id asc) pairs.
  * Scores compare under Spark's double ordering — NaN greatest, -0.0
  * equal to 0.0 — so the kept set is the one a `(score DESC, id)` sort
  * keeps, whatever the arrival order.
  *
  * Implemented as a primitive-array binary min-heap (root = worst kept
  * element) over two parallel arrays — no boxing, no tuple allocation per
  * candidate or per sift comparison. `update` runs once per scored input
  * row, so its constant factor is the aggregate's hot path.
  */
final class TopKBuffer(val k: Int) {
  private[functions] var size: Int = 0
  private[functions] val scores: Array[Double] = new Array[Double](k)
  private[functions] val ids: Array[Long] = new Array[Long](k)

  // (sa, ia) is WORSE than (sb, ib): lower score, or equal score, larger id.
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(sa, sb)
    c < 0 || (c == 0 && ia > ib)
  }

  def add(score: Double, id: Long): Unit = {
    if (size < k) {
      // insert at the end, sift up
      var i = size
      scores(i) = score; ids(i) = id
      size += 1
      var continue = i > 0
      while (continue) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) {
          val ts = scores(i); val ti = ids(i)
          scores(i) = scores(p); ids(i) = ids(p)
          scores(p) = ts; ids(p) = ti
          i = p
          continue = i > 0
        } else continue = false
      }
    } else if (worse(scores(0), ids(0), score, id)) {
      // new element beats the worst kept one: replace root, sift down
      scores(0) = score; ids(0) = id
      var i = 0
      var continue = true
      while (continue) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i // index of the worst among i and its children
        if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w != i) {
          val ts = scores(i); val ti = ids(i)
          scores(i) = scores(w); ids(i) = ids(w)
          scores(w) = ts; ids(w) = ti
          i = w
        } else continue = false
      }
    }
  }

  /** Descending score, ascending id. */
  def sorted: Seq[(Double, Long)] =
    (0 until size).map(i => (scores(i), ids(i)))
      .sortWith { case ((sa, ia), (sb, ib)) => worse(sb, ib, sa, ia) }
}

/** Top-k-per-group as a [[TypedImperativeAggregate]] — the heap-based
  * alternative to `row_number().over(window) <= k`: no per-partition sort,
  * O(k) state per group, and partial buffers merge associatively so
  * map-side combine applies. Returns `array<struct<score,id>>` ordered by
  * (score desc, id asc) — the window formulation's rows (NaN first), minus
  * rows whose score or id is null, which the aggregate skips.
  *
  * The 100 TB case for this operator: ranking N candidates per query via a
  * window requires shuffling and SORTING every partition's candidates;
  * this aggregate reduces each map partition to k rows before the
  * exchange.
  */
case class TopKByScore(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(scoreChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreChild.eval(input)
    val i = idChild.eval(input)
    if (s != null && i != null)
      b.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < o.size) { b.add(o.scores(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val rows = b.sorted.map { case (s, i) =>
      InternalRow(s, i)
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.k)
    out.writeInt(b.size)
    var i = 0
    while (i < b.size) { out.writeDouble(b.scores(i)); out.writeLong(b.ids(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b  = new TopKBuffer(in.readInt())
    val n  = in.readInt()
    (0 until n).foreach(_ => b.add(in.readDouble(), in.readLong()))
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(scoreChild = c(0), idChild = c(1))

  override def prettyName: String = "graft_topk"
}
