package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `graft_capped_ids(id BIGINT, cap) -> ARRAY<BIGINT> | NULL`
  *
  * Bounded id-set collection with a hard cardinality cap: collects the
  * group's ids while the group stays ≤ `cap` rows, and collapses to
  * NULL ("poisoned") the moment it exceeds the cap — state is freed
  * immediately, so per-group memory is bounded by `cap` ids no matter
  * how hot the key is. The result array holds the distinct ids sorted
  * ascending (deterministic at any parallelism); the cap counts rows.
  *
  * This is the single-pass replacement for the df-cap discipline in
  * inverted-index pair generation (d2 / t4): the old shape needed one
  * aggregate pass to find hot keys, a broadcast anti-join to drop
  * them, and a second pass to group the survivors — this aggregate
  * does all three in ONE combiner-friendly pass (`NULL` ⇔ the key's
  * row count exceeds `cap`, exactly the old `df > cap` hot set, since
  * the inverted index is distinct per (id, key)). A web-scale stop
  * shingle ("terms of service" in 10^9 docs) costs each partition at
  * most cap+1 buffered ids before poisoning; poisoned partials merge
  * to poisoned without materializing anything.
  */
case class CappedIdsAgg(
    idExpr: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedIdsAgg.Buf] {

  require(cap >= 1, s"graft_capped_ids: cap must be >= 1, got $cap")

  override def prettyName: String = "graft_capped_ids"

  override def children: Seq[Expression] = Seq(idExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): CappedIdsAgg.Buf = new CappedIdsAgg.Buf(cap)

  override def update(buf: CappedIdsAgg.Buf, input: InternalRow): CappedIdsAgg.Buf = {
    val v = idExpr.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: CappedIdsAgg.Buf, b: CappedIdsAgg.Buf): CappedIdsAgg.Buf = {
    a.absorb(b)
    a
  }

  override def eval(buf: CappedIdsAgg.Buf): Any = {
    if (buf.poisoned) null
    else new GenericArrayData(buf.sortedIds.map(l => l: Any))
  }

  override def serialize(buf: CappedIdsAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    if (buf.poisoned) out.writeInt(-1)
    else {
      out.writeInt(buf.size)
      buf.foreach(out.writeLong)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CappedIdsAgg.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new CappedIdsAgg.Buf(cap)
    if (n < 0) buf.poison()
    else {
      var j = 0
      while (j < n) { buf.add(in.readLong()); j += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedIdsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedIdsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(idExpr = cs(0))
}

object CappedIdsAgg {
  /** Append-only long buffer that self-destructs past `cap` entries. */
  final class Buf(cap: Int) {
    private var ids: Array[Long] = new Array[Long](math.min(cap, 8))
    private var n = 0
    private var dead = false

    def poisoned: Boolean = dead
    def size: Int = n

    def poison(): Unit = { dead = true; ids = null; n = 0 }

    def add(id: Long): Unit = {
      if (dead) return
      if (n == cap) { poison(); return }
      if (n == ids.length)
        ids = java.util.Arrays.copyOf(ids, math.min(cap, ids.length * 2))
      ids(n) = id
      n += 1
    }

    def absorb(other: Buf): Unit = {
      if (dead) return
      if (other.dead) { poison(); return }
      var j = 0
      while (j < other.n && !dead) { add(other.ids(j)); j += 1 }
    }

    def foreach(f: Long => Unit): Unit = {
      var j = 0
      while (j < n) { f(ids(j)); j += 1 }
    }

    /** The distinct ids, ascending: duplicate input rows count toward
      * the cap but appear once, so no caller can pair an id with itself. */
    def sortedIds: Array[Long] = {
      val out = java.util.Arrays.copyOf(ids, n)
      java.util.Arrays.sort(out)
      var m = 0
      var j = 0
      while (j < n) {
        if (m == 0 || out(j) != out(m - 1)) { out(m) = out(j); m += 1 }
        j += 1
      }
      if (m == n) out else java.util.Arrays.copyOf(out, m)
    }
  }
}
