package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native heavy-hitters aggregate: `graft_top_k(value, k, capacity)` —
  * the ClickHouse `topK()` surface as a MERGEABLE Misra–Gries summary
  * (Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
  * Summaries", PODS 2012): each partial keeps at most `capacity`
  * counters, a miss against a full summary decrements every counter
  * (amortized O(1) per row — each decrement pass pays for prior
  * increments), and merge sums counters then subtracts the
  * (capacity+1)-th largest to re-bound the size.
  *
  * Guarantees:
  *  - counts are UNDERestimates with error ≤ N/(capacity+1) (N = group
  *    row count), so any value with true frequency > N/(capacity+1)
  *    survives to the merged summary;
  *  - when a group's GLOBAL distinct-value count is ≤ `capacity`, no
  *    update-time decrement fires and no merge overflows (every partial
  *    holds a subset of ≤ capacity global values, so the merged map
  *    never exceeds capacity), and the result is EXACT — the regime the
  *    DuckDB oracle gates. Per-partial under-capacity is NOT enough:
  *    partials with disjoint value sets can merge past capacity and pay
  *    the merge-time subtraction. The approx regime is spec-gated
  *    against a brute-force count on a skewed synthetic stream.
  *
  * Output: the top `k` entries as `array<struct<value, n>>` ordered by
  * (n desc, value asc) — a deterministic tie-break both engines share.
  *
  * The 100 TB shape this exists for: "top terms per source/domain" as
  * ONE aggregation whose shuffle carries at most `capacity` counters
  * per (task, group) with map-side combine — t8's exact path shuffles
  * the full (source, term) grain, which is the right tool for exact
  * lift analytics but a 30× heavier exchange when only the heads are
  * wanted.
  */
case class TopKAggregate(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  require(k > 0, s"graft_top_k: k must be positive, got $k")
  require(capacity >= k,
    s"graft_top_k: capacity ($capacity) must be >= k ($k)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_top_k requires STRING, got ${other.sql}")
    }

  override def dataType: DataType = TopKAggregate.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf // null values are skipped, like count(col)
    val s = v.asInstanceOf[UTF8String]
    buf.get(s) match {
      case Some(c) => buf.update(s, c + 1)
      case None if buf.size < capacity =>
        // the input UTF8String may view a reused row buffer — copy
        buf.update(s.clone(), 1L)
      case None =>
        // Misra–Gries miss on a full summary: decrement everything,
        // drop zeros (this pass pays for at least `capacity` prior
        // increments, so total work stays ~2 passes over the stream)
        val dead = mutable.ArrayBuffer.empty[UTF8String]
        buf.keysIterator.foreach { key =>
          val c = buf(key) - 1
          if (c == 0L) dead += key else buf.update(key, c)
        }
        dead.foreach(buf.remove)
    }
    buf
  }

  override def merge(
      b: mutable.HashMap[UTF8String, Long],
      o: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] =
    TopKAggregate.mergeSummaries(b, o, capacity)

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any =
    TopKAggregate.evalTop(buf, k)

  override def serialize(
      buf: mutable.HashMap[UTF8String, Long]): Array[Byte] =
    TopKAggregate.ser(buf)

  override def deserialize(
      bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] =
    TopKAggregate.de(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(
      newChild: Expression): TopKAggregate = copy(child = newChild)
}

/** The WEIGHTED heavy-hitters aggregate:
  * `graft_top_k_weighted(value, weight, k, capacity)` — the ClickHouse
  * `topKWeighted()` surface, the form a corpus audit actually wants
  * ("top sources by TOKEN volume", not by row count). Same mergeable
  * Misra–Gries summary as [[TopKAggregate]] with weighted updates: an
  * update of weight w adds w to the value's counter, and an overflow
  * past `capacity` subtracts the (capacity+1)-th largest count from
  * every counter (the identical PODS 2012 merge rule, which is weight-
  * agnostic), so:
  *
  *  - counts are UNDERestimates with error ≤ W/(capacity+1) where W is
  *    the group's TOTAL weight — any value with true weight share
  *    above 1/(capacity+1) survives;
  *  - when the group's GLOBAL distinct-value count is ≤ `capacity`, no
  *    subtraction ever fires and the result is EXACT (the q23b
  *    oracle-gated regime — same argument as the unweighted sketch).
  *
  * Null values are skipped like count(col); null or non-positive
  * weights are skipped (a zero-weight update carries no information,
  * and negative weights would break the underestimate invariant).
  * Unweighted topK is the w = 1 special case (spec-asserted equal).
  */
case class TopKWeightedAggregate(
    left: Expression,
    right: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(k > 0, s"graft_top_k_weighted: k must be positive, got $k")
  require(capacity >= k,
    s"graft_top_k_weighted: capacity ($capacity) must be >= k ($k)")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType | org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_top_k_weighted requires (STRING, INT/BIGINT), got " +
          s"(${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = TopKAggregate.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k_weighted"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = left.eval(input)
    val wv = right.eval(input)
    if (v == null || wv == null) return buf
    val w = wv match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }
    if (w <= 0L) return buf
    val s = v.asInstanceOf[UTF8String]
    buf.get(s) match {
      case Some(c) => buf.update(s, c + w)
      case None =>
        buf.update(s.clone(), w)
        // weighted overflow = a merge with the singleton {s: w} (the
        // classic decrement-by-one loop has no weighted analogue with
        // the same amortization; the merge rule's bound covers both) —
        // subtractOverflow's overflow-by-one fast path keeps this
        // per-tail-row call allocation-light. A skip-the-insert
        // variant for w ≤ min was measured SLOWER on TopKProbe's
        // weighted stream (4.6s vs 3.5s) — the subtraction's removals
        // shrink the map below capacity either way, amortizing the
        // pass over the free inserts that follow, and the extra
        // branch/min-scan bought nothing.
        if (buf.size > capacity)
          TopKAggregate.subtractOverflow(buf, capacity)
    }
    buf
  }

  override def merge(
      b: mutable.HashMap[UTF8String, Long],
      o: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] =
    TopKAggregate.mergeSummaries(b, o, capacity)

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any =
    TopKAggregate.evalTop(buf, k)

  override def serialize(
      buf: mutable.HashMap[UTF8String, Long]): Array[Byte] =
    TopKAggregate.ser(buf)

  override def deserialize(
      bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] =
    TopKAggregate.de(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKWeightedAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKWeightedAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKWeightedAggregate =
    copy(left = newLeft, right = newRight)
}

/** `graft_top_k_merge(summary, k, capacity)` — fold STORED Misra–Gries
  * summaries (rows in [[TopKAggregate.schema]]'s `array<struct<value,
  * n>>` shape) back into one summary and emit its top `k`: the
  * read-side of a persisted heavy-hitters table ([[graft.sources
  * .TopKStore]], the st20 serving face) and the SQL face that lets
  * stored summaries compose in plain SQL the way the KMV sketch
  * algebra does (`graft_kmv_union`).
  *
  * Merging summaries is the PODS 2012 mergeable-summaries rule
  * ([[TopKAggregate.mergeSummaries]] — sum counters, subtract the
  * (capacity+1)-th largest): the folded summary carries the SAME
  * N/(capacity+1) error bound as a single-pass sketch over the
  * concatenated streams, and is EXACT when the union's distinct-value
  * count is ≤ capacity (every stored summary is then an exact subset
  * and no merge overflows — the spec-gated regime). Stored summaries
  * must be FULL-capacity (written with k = capacity): a top-k-
  * truncated row discards counters the bound needs.
  *
  * Unlike the KMV fold, this fold is NOT idempotent — a summary
  * merged twice double-counts (counters are not a set). Exactly-once
  * under replay is the STORE's job (the [[graft.sources.SummaryStore]]
  * visibility rule), not the algebra's; the aggregate itself assumes
  * each stored row appears once.
  */
case class TopKMergeAggregate(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  require(k > 0, s"graft_top_k_merge: k must be positive, got $k")
  require(capacity >= k,
    s"graft_top_k_merge: capacity ($capacity) must be >= k ($k)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(f1, f2)), _)
          if f1.dataType == StringType && f2.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_top_k_merge requires array<struct<string, bigint>> " +
          s"(a stored top-k summary), got ${other.sql}")
    }

  override def dataType: DataType = TopKAggregate.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k_merge"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf // null summaries are skipped
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val incoming = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < arr.numElements()) {
      val row = arr.getStruct(i, 2)
      // the UTF8String may view a reused row buffer — copy
      incoming.update(row.getUTF8String(0).clone(), row.getLong(1))
      i += 1
    }
    TopKAggregate.mergeSummaries(buf, incoming, capacity)
  }

  override def merge(
      b: mutable.HashMap[UTF8String, Long],
      o: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] =
    TopKAggregate.mergeSummaries(b, o, capacity)

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any =
    TopKAggregate.evalTop(buf, k)

  override def serialize(
      buf: mutable.HashMap[UTF8String, Long]): Array[Byte] =
    TopKAggregate.ser(buf)

  override def deserialize(
      bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] =
    TopKAggregate.de(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKMergeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKMergeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(
      newChild: Expression): TopKMergeAggregate = copy(child = newChild)
}

object TopKAggregate {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("n", LongType, nullable = false))),
    containsNull = false)

  /** Column form (aggregate function). */
  def topK(c: Column, k: Int, capacity: Int = 4096): Column =
    GraftSqlBridge.column(
      TopKAggregate(GraftSqlBridge.expression(c), k, capacity)
        .toAggregateExpression())

  /** Column form of the weighted aggregate. */
  def topKWeighted(
      c: Column, w: Column, k: Int, capacity: Int = 4096): Column =
    GraftSqlBridge.column(
      TopKWeightedAggregate(GraftSqlBridge.expression(c),
        GraftSqlBridge.expression(w), k, capacity)
        .toAggregateExpression())

  /** Column form of the stored-summary fold (aggregate function). */
  def topKMerge(c: Column, k: Int, capacity: Int = 4096): Column =
    GraftSqlBridge.column(
      TopKMergeAggregate(GraftSqlBridge.expression(c), k, capacity)
        .toAggregateExpression())

  /** Subtract the (capacity+1)-th largest count and drop ≤ 0 — the
    * PODS'12 mergeable-summaries rule; at most `capacity` entries
    * survive and every error stays within the MG bound. Shared by
    * merge (both sketches) and the weighted update's overflow. The
    * overflow-by-ONE case (every weighted-update overflow, and the
    * common merge case) finds its threshold — then just the minimum —
    * in one allocation-free pass instead of sorting the counts; that
    * is the per-tail-row hot path of the weighted sketch's designed
    * regime.
    */
  private[functions] def subtractOverflow(
      b: mutable.HashMap[UTF8String, Long], capacity: Int): Unit = {
    val t =
      if (b.size == capacity + 1) {
        var mn = Long.MaxValue
        b.valuesIterator.foreach(c => if (c < mn) mn = c)
        mn
      } else {
        val counts = b.values.toArray
        java.util.Arrays.sort(counts)
        counts(counts.length - capacity - 1)
      }
    val dead = mutable.ArrayBuffer.empty[UTF8String]
    b.keysIterator.foreach { key =>
      val c = b(key) - t
      if (c <= 0L) dead += key else b.update(key, c)
    }
    dead.foreach(b.remove)
  }

  private[functions] def mergeSummaries(
      b: mutable.HashMap[UTF8String, Long],
      o: mutable.HashMap[UTF8String, Long],
      capacity: Int): mutable.HashMap[UTF8String, Long] = {
    o.foreach { case (v, c) =>
      b.update(v, b.getOrElse(v, 0L) + c)
    }
    if (b.size > capacity) subtractOverflow(b, capacity)
    b
  }

  /** Top `k` as array<struct<value, n>> ordered (n desc, value asc). */
  private[functions] def evalTop(
      buf: mutable.HashMap[UTF8String, Long], k: Int): Any = {
    val top = buf.toArray
      .sortWith { case ((v1, c1), (v2, c2)) =>
        c1 > c2 || (c1 == c2 && v1.compareTo(v2) < 0) }
      .take(k)
      .map { case (v, c) =>
        new GenericInternalRow(Array[Any](v, c)): InternalRow
      }
    new GenericArrayData(top.asInstanceOf[Array[Any]])
  }

  private[functions] def ser(
      buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    var size = 4
    buf.foreach { case (v, _) => size += 4 + v.numBytes() + 8 }
    val bb = ByteBuffer.allocate(size)
    bb.putInt(buf.size)
    buf.foreach { case (v, c) =>
      val bytes = v.getBytes
      bb.putInt(bytes.length)
      bb.put(bytes)
      bb.putLong(c)
    }
    bb.array()
  }

  private[functions] def de(
      bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val vb = new Array[Byte](len)
      bb.get(vb)
      out.update(UTF8String.fromBytes(vb), bb.getLong)
      i += 1
    }
    out
  }
}
