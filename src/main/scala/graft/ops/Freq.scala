package graft.ops

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items ("heavy hitters") sketches as the
  * engine's third native Catalyst `TypedImperativeAggregate` — the
  * per-slice token/domain/host DISTRIBUTION HEAD at 100 TB from one
  * scan, without materializing a (slice, item) count table first.
  *
  * The summary is the classic Misra-Gries k-counter array (Misra &
  * Gries 1982), merged with pointwise count addition followed by a
  * subtract-the-(k+1)-th-largest rebase (Agarwal et al., "Mergeable
  * Summaries", PODS 2012 — the merge that keeps the deterministic
  * error bound): every stored count `est` satisfies
  * `est <= true <= est + n/(k+1)`, and every item with true count
  * > n/(k+1) is guaranteed present. No randomness anywhere — a sketch
  * is a pure function of its merge tree.
  *
  * Exactness contract (the [[Sketch]]/[[Quantile]] pattern): while a
  * group's DISTINCT item count stays at or below k, no decrement ever
  * fires — counts are exact, every item is present, and the blob
  * (items stored sorted) is a canonical function of the multiset, so
  * partials merged in any order reproduce the one-shot blob
  * bit-for-bit. Size k with [[exactRegimeK]] to pin that regime from
  * the data; past it the MG bound above is what the spec pins.
  *
  * Reference anchor: the reference's closest operation is pandas
  * `value_counts` over the collected db (psweep.py df passthrough) —
  * exact, driver-bound; this is the scale-path analog, exact in the
  * regime the reference can actually reach. */
object Freq {

  // ---------------------------------------------------------------- //
  // buffer + blob format
  // ---------------------------------------------------------------- //

  /** k-counter Misra-Gries buffer over string items. */
  final class MgBuffer(val k: Int) {
    var n: Long = 0L
    val counts = new java.util.HashMap[String, Long]()

    def add(item: String): Unit = {
      n += 1
      val cur = counts.get(item)
      if (cur != 0L || counts.containsKey(item)) counts.put(item, cur + 1)
      else if (counts.size < k) counts.put(item, 1L)
      else decrementAll(1L) // the arriving item pays for one decrement
    }

    private def decrementAll(by: Long): Unit = {
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= by) it.remove() else e.setValue(e.getValue - by)
      }
    }

    /** Pointwise count addition, then rebase by the (k+1)-th largest
      * combined count when over k items (Agarwal et al. 2012). */
    def merge(o: MgBuffer): Unit = {
      n += o.n
      o.counts.forEach { (item, c) =>
        counts.merge(item, c, (a, b) => a + b); ()
      }
      if (counts.size > k) {
        val arr = new Array[Long](counts.size)
        val it = counts.values().iterator()
        var i = 0
        while (it.hasNext) { arr(i) = it.next(); i += 1 }
        java.util.Arrays.sort(arr)
        decrementAll(arr(arr.length - k - 1))
      }
    }
  }

  /** Blob: [k:int][n:long][m:int][(len:int, utf8 bytes, count:long)*m],
    * items SORTED lexicographically — canonical in the exact regime
    * (a pure function of the multiset, independent of arrival and
    * merge order). */
  private[ops] def toBlob(b: MgBuffer): Array[Byte] = {
    val items = new Array[String](b.counts.size)
    b.counts.keySet().toArray(items)
    java.util.Arrays.sort(items, java.util.Comparator.naturalOrder[String]())
    val bytes = items.map(_.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + 8 + 4 +
      bytes.map(a => 4 + a.length + 8).sum)
    bb.putInt(b.k).putLong(b.n).putInt(items.length)
    items.indices.foreach { i =>
      bb.putInt(bytes(i).length).put(bytes(i))
        .putLong(b.counts.get(items(i)))
    }
    bb.array()
  }

  private[ops] def fromBlob(blob: Array[Byte]): MgBuffer = {
    val bb = ByteBuffer.wrap(blob)
    val b = new MgBuffer(bb.getInt)
    b.n = bb.getLong
    val m = bb.getInt
    var i = 0
    while (i < m) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      b.counts.put(new String(arr, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    b
  }

  /** `(item, est)` pairs ordered (est desc, item asc), truncated to
    * `topN` (all items when topN <= 0). */
  private[ops] def topOf(b: MgBuffer, topN: Int): Seq[(String, Long)] = {
    val all = new Array[String](b.counts.size)
    b.counts.keySet().toArray(all)
    val ordered = all.sortBy(item => (-b.counts.get(item), item))
    (if (topN > 0) ordered.take(topN) else ordered)
      .map(item => item -> b.counts.get(item)).toSeq
  }

  // ---------------------------------------------------------------- //
  // Catalyst aggregate
  // ---------------------------------------------------------------- //

  /** `child` must be StringType ([[mgAgg]] casts); null items are
    * ignored like COUNT(item). Capacity cap 2^18 counters — memory is
    * k (item + 8B) per group, item sizes are the caller's contract. */
  case class MgSketchAgg(child: Expression, k: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MgBuffer] with UnaryLike[Expression] {
    require(k >= 8 && k <= (1 << 18),
      s"counter capacity k must be in [8, 2^18], got $k")

    override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)

    override def update(buffer: MgBuffer, input: InternalRow): MgBuffer = {
      val v = child.eval(input)
      if (v != null) buffer.add(v.asInstanceOf[UTF8String].toString)
      buffer
    }

    override def merge(buffer: MgBuffer, other: MgBuffer): MgBuffer = {
      buffer.merge(other); buffer
    }

    override def eval(buffer: MgBuffer): Any = toBlob(buffer)
    override def serialize(buffer: MgBuffer): Array[Byte] = toBlob(buffer)
    override def deserialize(bytes: Array[Byte]): MgBuffer = fromBlob(bytes)

    override def withNewMutableAggBufferOffset(o: Int): MgSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MgSketchAgg =
      copy(inputAggBufferOffset = o)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def prettyName: String = "mg_sketch"
    override protected def withNewChildInternal(c: Expression): MgSketchAgg =
      copy(child = c)
  }

  // ---------------------------------------------------------------- //
  // scalar expressions (per-GROUP rows — eval-mode CodegenFallback)
  // ---------------------------------------------------------------- //

  private val itemStruct = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false)))

  case class MgTopItems(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(itemStruct, containsNull = false)
    override protected def nullSafeEval(sk: Any, topN: Any): Any = {
      val rows = topOf(fromBlob(sk.asInstanceOf[Array[Byte]]),
        topN.asInstanceOf[Int]).map { case (item, est) =>
        InternalRow(UTF8String.fromString(item), est)
      }
      new GenericArrayData(rows.toArray[Any])
    }
    override def prettyName: String = "mg_top_items"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): MgTopItems = copy(left = l, right = r)
  }

  case class MgN(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(sk: Any): Any =
      fromBlob(sk.asInstanceOf[Array[Byte]]).n
    override def prettyName: String = "mg_n"
    override protected def withNewChildInternal(c: Expression): MgN =
      copy(child = c)
  }

  case class MgMerge(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = fromBlob(l.asInstanceOf[Array[Byte]])
      a.merge(fromBlob(r.asInstanceOf[Array[Byte]]))
      toBlob(a)
    }
    override def prettyName: String = "mg_merge"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): MgMerge = copy(left = l, right = r)
  }

  // ---------------------------------------------------------------- //
  // Column API
  // ---------------------------------------------------------------- //

  /** Frequent-items sketch of `item` — nulls ignored. */
  def mgAgg(item: Column, k: Int = 4096): Column =
    shim.column(MgSketchAgg(
      shim.expression(item.cast("string")), k).toAggregateExpression())

  /** Top `n` `(item, est)` structs, (est desc, item asc); all items
    * when n <= 0. */
  def topItems(sketch: Column, n: Int): Column =
    shim.column(MgTopItems(shim.expression(sketch), Literal(n)))

  def itemCount(sketch: Column): Column =
    shim.column(MgN(shim.expression(sketch)))

  def mergeFreqSketch(a: Column, b: Column): Column =
    shim.column(MgMerge(shim.expression(a), shim.expression(b)))

  // ---------------------------------------------------------------- //
  // DataFrame ops
  // ---------------------------------------------------------------- //

  /** Smallest power-of-two capacity keeping EVERY group exact: probe
    * max per-group approx distinct items, double for headroom, round
    * up to a power of two, floor at `minK`, throw past the 2^18 cap
    * (the [[Sketch.exactRegimeK]] rule). */
  def exactRegimeK(df: DataFrame, groupCol: String, item: Column,
                   minK: Int = 1024): Int = {
    require(minK >= 8 && (minK & (minK - 1)) == 0,
      s"minK must be a power of two >= 8, got $minK")
    // probe served through the stats cache ([[Sketch.exactRegimeK]]'s
    // rule): repeat sizings of the same derivation are driver lookups
    val maxDistinct = Stats.cachedLong(df,
      s"mg_max_group_distinct:$groupCol:$item") {
      df.groupBy(col(groupCol))
        .agg(approx_count_distinct(item, 0.01).as("__d"))
        .agg(max(col("__d"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    }
    val need = math.max(minK.toLong, 2L * maxDistinct)
    if (need > (1L << 18)) throw new IllegalArgumentException(
      s"largest group of '$groupCol' holds ~$maxDistinct distinct items; " +
        s"an exact-regime frequent-items sketch would need k=$need > " +
        "2^18 counters. Pass an explicit k to accept Misra-Gries " +
        "estimates (est <= true <= est + n/(k+1)) instead of exact " +
        "counts.")
    math.max(java.lang.Integer.highestOneBit(need.toInt - 1) << 1, minK)
  }

  /** Per-group top-`n` item table `(group, item, cnt)` from ONE scan,
    * ordered (group, cnt desc, item). Exact while each group's
    * distinct item count stays at or below k. */
  def groupTopItems(df: DataFrame, groupCol: String, item: Column,
                    n: Int, k: Int = 4096): DataFrame = {
    require(n >= 1, "n must be positive")
    df.groupBy(col(groupCol)).agg(mgAgg(item, k).as("__sk"))
      .select(col(groupCol), explode(topItems(col("__sk"), n)).as("__t"))
      .select(col(groupCol), col("__t.item").as("item"),
        col("__t.est").as("cnt"))
      .orderBy(col(groupCol), col("cnt").desc, col("item"))
  }

  /** Fold a batch into the persisted per-group frequent-items table at
    * `indexPath` (the [[Sketch.incrementalSketch]] lifecycle:
    * null-safe group merge, [[graft.core.Fold.swap]] commit). Like the KLL
    * fold — and unlike KMV — counts are a MULTISET, so re-delivered
    * content double-counts. Pass `batchId` to make re-delivery a
    * no-op: applied ids ride the [[graft.core.Fold]] ledger inside the
    * swapped directory (ledger and data commit in one rename —
    * exactly-once folds under at-least-once delivery, the
    * [[Quantile.incrementalQuantileSketch]] contract). Without ids,
    * deliver each batch at most once. */
  def incrementalFreqSketch(batch: DataFrame, indexPath: String,
                            groupCol: String, item: Column,
                            k: Int = 4096,
                            batchId: Option[String] = None): DataFrame =
    Sketch.foldGroups(batch, indexPath, groupCol, mgAgg(item, k),
      mergeFreqSketch, batchId)
}
