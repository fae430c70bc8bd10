package graft.ops

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types._

/** Mergeable quantile sketches as the engine's second native Catalyst
  * `TypedImperativeAggregate` — per-slice latency/value DISTRIBUTIONS
  * at 100 TB without a per-slice global sort.
  *
  * The structure is the compactor hierarchy of Manku-Rajagopalan-
  * Lindsay (SIGMOD 1998) in the deterministic-offset form KLL
  * (Karnin, Lang, Liberty, FOCS 2016) analyzes: level i holds values
  * of weight 2^i; when a level overflows its capacity k it is sorted
  * and every other element (alternating offset per level, so the
  * rank bias cancels across compactions) is promoted to level i+1 at
  * doubled weight. An odd survivor stays behind at its own level, so
  * the TOTAL WEIGHT ALWAYS EQUALS THE TRUE COUNT — rank queries never
  * drift, only blur. A quantile probe sorts the (value, weight) pairs
  * and walks the cumulative weight to rank `max(1, ceil(q * n))` —
  * the inverted-CDF discrete quantile, always an element of the
  * input multiset (no interpolation, so engine and oracle compare
  * bit-for-bit as doubles).
  *
  * Exactness contract (the KMV pattern, [[Sketch]]): while a group's
  * value COUNT stays at or below k, no compaction ever fires — the
  * sketch IS the sorted multiset and every quantile is exact; the
  * blob is canonical (levels stored sorted), so merging partials in
  * any order or folding any batch split reproduces the one-shot blob
  * bit-for-bit. Past k it degrades to a rank estimate whose
  * normalized error grows like (number of compaction levels) / k —
  * the spec pins <= 5% at n/k ~ 800. Size k with [[exactRegimeK]]
  * to pin the exact regime from the data.
  *
  * Reference anchor: the reference exposes only pandas' exact
  * `describe`/quantile over the collected db
  * (/root/reference/src/psweep/psweep.py df passthrough); this is the
  * scale-path analog — one scan, 8k-ish bytes per group crossing the
  * wire, exact in the regime the reference can actually reach. */
object Quantile {

  // ---------------------------------------------------------------- //
  // buffer + blob format
  // ---------------------------------------------------------------- //

  import scala.collection.mutable.ArrayBuffer

  /** Compactor hierarchy. `flips` holds one alternating-offset bit per
    * level so consecutive compactions of a level drop complementary
    * halves (the deterministic KLL variant — no RNG, so a sketch is a
    * pure function of its merge tree). */
  final class KllBuffer(val k: Int) {
    var n: Long = 0L
    var flips: Long = 0L
    val levels: ArrayBuffer[ArrayBuffer[Double]] =
      ArrayBuffer(new ArrayBuffer[Double]())

    def add(v: Double): Unit = {
      levels(0) += v
      n += 1
      if (levels(0).length > k) compact(0)
    }

    private def levelAt(i: Int): ArrayBuffer[Double] = {
      while (levels.length <= i) levels += new ArrayBuffer[Double]()
      levels(i)
    }

    /** Sort level i, leave the smallest element behind when the count
      * is odd (weight conservation), promote alternating elements of
      * the even remainder to level i+1 at doubled weight; cascade. */
    private def compact(i: Int): Unit = {
      val arr = levels(i).toArray
      java.util.Arrays.sort(arr)
      val leftover = arr.length % 2
      val off = leftover + ((flips >>> i) & 1L).toInt
      flips ^= (1L << i)
      val up = levelAt(i + 1)
      var j = off
      while (j < arr.length) { up += arr(j); j += 2 }
      levels(i).clear()
      if (leftover == 1) levels(i) += arr(0)
      if (up.length > k) compact(i + 1)
    }

    def merge(o: KllBuffer): Unit = {
      n += o.n
      var i = 0
      while (i < o.levels.length) {
        if (o.levels(i).nonEmpty) levelAt(i) ++= o.levels(i)
        i += 1
      }
      i = 0
      while (i < levels.length) {
        if (levels(i).length > k) compact(i)
        i += 1
      }
    }
  }

  /** Blob: [k:int][n:long][flips:long][nLevels:int]
    * [count:int per level][values:double..., each level SORTED] —
    * sorting at serialization makes the exact-regime blob canonical
    * (a pure function of the multiset, independent of arrival and
    * merge order), which is what lets the incremental fold promise
    * bit-identity with the one-shot aggregate. */
  private[ops] def toBlob(b: KllBuffer): Array[Byte] = {
    val total = b.levels.map(_.length).sum
    val bb = ByteBuffer.allocate(4 + 8 + 8 + 4 +
      4 * b.levels.length + 8 * total)
    bb.putInt(b.k).putLong(b.n).putLong(b.flips).putInt(b.levels.length)
    b.levels.foreach(l => bb.putInt(l.length))
    b.levels.foreach { l =>
      val arr = l.toArray
      java.util.Arrays.sort(arr)
      arr.foreach(bb.putDouble)
    }
    bb.array()
  }

  private[ops] def fromBlob(bytes: Array[Byte]): KllBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new KllBuffer(bb.getInt)
    b.n = bb.getLong
    b.flips = bb.getLong
    val nLevels = bb.getInt
    val counts = Array.fill(nLevels)(bb.getInt)
    b.levels.clear()
    counts.foreach { c =>
      val l = new ArrayBuffer[Double](c)
      var i = 0
      while (i < c) { l += bb.getDouble; i += 1 }
      b.levels += l
    }
    if (b.levels.isEmpty) b.levels += new ArrayBuffer[Double]()
    b
  }

  /** Inverted-CDF discrete quantile at rank max(1, ceil(q*n)) over the
    * weighted value multiset; null for an empty sketch. */
  private[ops] def quantileOf(b: KllBuffer, q: Double): Any = {
    if (b.n == 0L) return null
    val pairs = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < b.levels.length) {
      val w = 1L << i
      b.levels(i).foreach(v => pairs += ((v, w)))
      i += 1
    }
    val sorted = pairs.sortBy(_._1)
    val rank = math.max(1L, math.ceil(q * b.n).toLong)
    var cum = 0L
    var j = 0
    while (j < sorted.length) {
      cum += sorted(j)._2
      if (cum >= rank) return sorted(j)._1
      j += 1
    }
    sorted.last._1
  }

  // ---------------------------------------------------------------- //
  // Catalyst aggregate
  // ---------------------------------------------------------------- //

  /** `child` must be a DoubleType value; nulls are ignored like
    * `percentile`. Capacity cap 2^21 (16 MiB of level-0 doubles) —
    * memory per group is ~ k * 8 bytes * active levels. */
  case class KllSketchAgg(child: Expression, k: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllBuffer] with UnaryLike[Expression] {
    require(k >= 16 && k <= (1 << 21),
      s"sketch capacity k must be in [16, 2^21], got $k")

    override def createAggregationBuffer(): KllBuffer = new KllBuffer(k)

    override def update(buffer: KllBuffer, input: InternalRow): KllBuffer = {
      val v = child.eval(input)
      if (v != null) buffer.add(v.asInstanceOf[Double])
      buffer
    }

    override def merge(buffer: KllBuffer, other: KllBuffer): KllBuffer = {
      buffer.merge(other); buffer
    }

    override def eval(buffer: KllBuffer): Any = toBlob(buffer)

    override def serialize(buffer: KllBuffer): Array[Byte] = toBlob(buffer)

    override def deserialize(bytes: Array[Byte]): KllBuffer = fromBlob(bytes)

    override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KllSketchAgg =
      copy(inputAggBufferOffset = o)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def prettyName: String = "kll_sketch"
    override protected def withNewChildInternal(c: Expression): KllSketchAgg =
      copy(child = c)
  }

  // ---------------------------------------------------------------- //
  // scalar expressions (per-GROUP rows — eval-mode CodegenFallback)
  // ---------------------------------------------------------------- //

  case class KllQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def nullSafeEval(sk: Any, q: Any): Any =
      quantileOf(fromBlob(sk.asInstanceOf[Array[Byte]]),
        q.asInstanceOf[Double])
    override def prettyName: String = "kll_quantile"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KllQuantile = copy(left = l, right = r)
  }

  case class KllN(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(sk: Any): Any =
      fromBlob(sk.asInstanceOf[Array[Byte]]).n
    override def prettyName: String = "kll_n"
    override protected def withNewChildInternal(c: Expression): KllN =
      copy(child = c)
  }

  case class KllMerge(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = fromBlob(l.asInstanceOf[Array[Byte]])
      a.merge(fromBlob(r.asInstanceOf[Array[Byte]]))
      toBlob(a)
    }
    override def prettyName: String = "kll_merge"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KllMerge = copy(left = l, right = r)
  }

  // ---------------------------------------------------------------- //
  // Column API
  // ---------------------------------------------------------------- //

  /** Quantile sketch of `value` — nulls ignored like `percentile`. */
  def kllAgg(value: Column, k: Int = 4096): Column =
    shim.column(KllSketchAgg(
      shim.expression(value.cast("double")), k).toAggregateExpression())

  def kllQuantile(sketch: Column, q: Double): Column = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    shim.column(KllQuantile(shim.expression(sketch), Literal(q)))
  }

  def sketchCount(sketch: Column): Column =
    shim.column(KllN(shim.expression(sketch)))

  def mergeQuantileSketch(a: Column, b: Column): Column =
    shim.column(KllMerge(shim.expression(a), shim.expression(b)))

  // ---------------------------------------------------------------- //
  // DataFrame ops
  // ---------------------------------------------------------------- //

  /** Smallest power-of-two capacity keeping EVERY group exact: probe
    * the max per-group non-null count, double for headroom, round up
    * to a power of two, floor at `minK`. The cap is [[KllSketchAgg]]'s
    * 2^21; past it the caller must OPT INTO rank estimates with an
    * explicit k (the [[Sketch.exactRegimeK]] rule, count-based instead
    * of distinct-based because quantile exactness needs the whole
    * multiset retained, not the distinct set). */
  def exactRegimeK(df: DataFrame, groupCol: String, value: Column,
                   minK: Int = 1024): Int = {
    require(minK >= 16 && (minK & (minK - 1)) == 0,
      s"minK must be a power of two >= 16, got $minK")
    // probe served through the stats cache ([[Sketch.exactRegimeK]]'s
    // rule): repeat sizings of the same derivation are driver lookups
    val maxCount = Stats.cachedLong(df,
      s"kll_max_group_count:$groupCol:$value") {
      df.filter(value.isNotNull).groupBy(col(groupCol))
        .agg(count(lit(1)).as("__c"))
        .agg(max(col("__c"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    }
    val need = math.max(minK.toLong, 2L * maxCount)
    if (need > (1L << 21)) throw new IllegalArgumentException(
      s"largest group of '$groupCol' holds $maxCount values; an " +
        s"exact-regime quantile sketch would need k=$need > 2^21 " +
        "(16 MiB/group). Pass an explicit k to accept rank estimates " +
        "with ~levels/k normalized error instead of exact quantiles.")
    math.max(java.lang.Integer.highestOneBit(need.toInt - 1) << 1, minK)
  }

  /** Output column names `p<NN>` for the requested quantiles, validated
    * UP FRONT: two quantiles within 0.5% of each other (0.50 and 0.504)
    * would silently round to the same name and only error downstream as
    * an ambiguous column reference — fail loudly here instead. */
  private[ops] def quantileNames(qs: Seq[Double]): Seq[String] = {
    require(qs.nonEmpty, "need at least one quantile")
    val names = qs.map(q => s"p${math.round(q * 100)}")
    require(names.distinct.size == names.size,
      s"quantiles ${qs.mkString(", ")} collide after rounding to output " +
        s"column names ${names.mkString(", ")}; request quantiles that " +
        "differ by at least 0.005")
    names
  }

  /** Per-group quantile table: `(group, p<NN> ...)` for each requested
    * q. One scan, sketches merged map-side; exact while each group's
    * count stays at or below k. */
  def groupQuantiles(df: DataFrame, groupCol: String, value: Column,
                     qs: Seq[Double], k: Int = 4096): DataFrame = {
    val names = quantileNames(qs)
    val sk = df.groupBy(col(groupCol)).agg(kllAgg(value, k).as("__sk"))
    sk.select(col(groupCol) +: qs.zip(names).map { case (q, n) =>
      kllQuantile(col("__sk"), q).as(n) }: _*)
  }

  /** Fold a batch into the persisted per-group quantile-sketch table
    * at `indexPath` (`(g string, sk binary)`, the [[Sketch
    * .incrementalSketch]] lifecycle: null-safe group merge,
    * [[graft.core.Fold.swap]] commit). UNLIKE the KMV fold this one is
    * NOT idempotent on re-delivered content — values are a multiset, so
    * a replayed batch doubles its weight.
    *
    * Pass `batchId` to make re-delivery a NO-OP: applied ids ride the
    * [[graft.core.Fold]] ledger INSIDE the swapped table directory, so
    * ledger and data commit in the same atomic rename — a crash at any
    * point leaves either (old table, old ledger) or (new table, new
    * ledger), never a half state. With ids the fold is exactly-once
    * under at-least-once delivery (the streaming sink passes a
    * checkpoint-lineage-qualified id); withOUT ids the caller must
    * deliver each batch at most once — a replay of an in-flight batch
    * after a crash between the sink's table swap and its checkpoint
    * commit double-counts, and the checkpoint alone cannot prevent
    * that. */
  def incrementalQuantileSketch(batch: DataFrame, indexPath: String,
                                groupCol: String, value: Column,
                                k: Int = 4096,
                                batchId: Option[String] = None)
      : DataFrame =
    Sketch.foldGroups(batch, indexPath, groupCol, kllAgg(value, k),
      mergeQuantileSketch, batchId)
}
