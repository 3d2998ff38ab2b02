package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded top-k buffer: a binary max-heap over (dist, id) with the worst
 * entry — largest dist, then largest id — at the root, stored in two
 * primitive arrays. Memory: exactly k*(8+8) bytes + a header; no boxing.
 */
final class TopKPairsBuffer(val k: Int) {
  val ids = new Array[Long](k)
  val dists = new Array[Double](k)
  var size = 0

  /** a-entry worse than b-entry (larger dist, then larger id)? */
  @inline private def worse(da: Double, ia: Long, db: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(da, db)
    c > 0 || (c == 0 && ia > ib)
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(dists(i), ids(i), dists(p), ids(p))) {
        val td = dists(i); dists(i) = dists(p); dists(p) = td
        val ti = ids(i); ids(i) = ids(p); ids(p) = ti
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == i) return
      val td = dists(i); dists(i) = dists(m); dists(m) = td
      val ti = ids(i); ids(i) = ids(m); ids(m) = ti
      i = m
    }
  }

  def insert(id: Long, dist: Double): Unit = {
    if (size < k) {
      ids(size) = id; dists(size) = dist; size += 1
      siftUp(size - 1)
    } else if (k > 0 && worse(dists(0), ids(0), dist, id)) {
      ids(0) = id; dists(0) = dist
      siftDown()
    }
  }

  def mergeFrom(o: TopKPairsBuffer): Unit = {
    var i = 0
    while (i < o.size) { insert(o.ids(i), o.dists(i)); i += 1 }
  }

  /** (id, dist) pairs sorted ascending (best first). */
  def sorted(): Array[(Long, Double)] = {
    val out = (0 until size).map(i => (ids(i), dists(i))).toArray
    java.util.Arrays.sort(out, new java.util.Comparator[(Long, Double)] {
      override def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(a._2, b._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    })
    out
  }

  /** k, size, then each entry's id and dist; a dist keeps its raw bits
    * (NaN sign and payload), which Java and Kryo serialization of a
    * double would canonicalize. */
  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * size)
    bb.putInt(k).putInt(size)
    var i = 0
    while (i < size) { bb.putLong(ids(i)).putDouble(dists(i)); i += 1 }
    bb.array()
  }
}

object TopKPairsBuffer {
  /** The buffer [[TopKPairsBuffer.toBytes]] wrote, entries re-inserted. */
  def fromBytes(bytes: Array[Byte]): TopKPairsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new TopKPairsBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { b.insert(bb.getLong(), bb.getDouble()); i += 1 }
    b
  }
}

/**
 * Top-k (id, dist) pairs per group as a Catalyst TypedImperativeAggregate
 * (SURVEY §2 B2 knn join). Replaces the Encoders.kryo Aggregator: the
 * partial-aggregate buffer that crosses the shuffle is now a flat
 * 16-bytes-per-entry binary blob instead of a Kryo object graph of a
 * scala PriorityQueue, and update/merge run on primitive arrays.
 *
 * Map-side partial aggregation still applies — each partition ships at
 * most k entries per group — which is the property that makes the knn
 * join scale (the shuffle never carries the corpus).
 *
 * Output: array<struct<nid:long, dist:double>> ascending by (dist, id).
 */
case class TopKPairsAgg(left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKPairsBuffer] with BinaryLike[Expression] {
  require(k > 0, "k must be positive")

  override def prettyName: String = "topk_pairs"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("nid", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKPairsBuffer = new TopKPairsBuffer(k)

  override def update(b: TopKPairsBuffer, input: InternalRow): TopKPairsBuffer = {
    val idv = left.eval(input)
    val dv = right.eval(input)
    if (idv != null && dv != null)
      b.insert(idv.asInstanceOf[Long], dv.asInstanceOf[Double])
    b
  }

  override def merge(b: TopKPairsBuffer, o: TopKPairsBuffer): TopKPairsBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: TopKPairsBuffer): Any =
    new GenericArrayData(b.sorted().map { case (id, d) =>
      new GenericInternalRow(Array[Any](id, d))
    })

  override def serialize(b: TopKPairsBuffer): Array[Byte] = b.toBytes

  override def deserialize(bytes: Array[Byte]): TopKPairsBuffer =
    TopKPairsBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKPairsAgg =
    copy(left = l, right = r)
}
