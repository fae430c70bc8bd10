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

/** KMV / theta distinct-count sketches as a native Catalyst aggregate —
  * the 100 TB way to answer "how many distinct keys does each corpus
  * slice have, and how much do slices OVERLAP" without ever joining the
  * slices pairwise.
  *
  * The aggregate ([[kmvAgg]]) keeps the k minimum values of `xxhash64`
  * over the key (Bar-Yossef et al. 2002; the mergeable-summary framing
  * is Dasgupta et al. 2016, "Theta sketches"). A sketch is k longs
  * (k=4096 → 32 KiB) regardless of input size; partial aggregation
  * merges sketches map-side, so the only thing that ever crosses the
  * wire per group is the sketch itself. Union / intersection /
  * cardinality are then driver-cheap sketch algebra ([[unionSketch]],
  * [[intersectEstimate]], [[estimate]]): a 190-pair source-overlap
  * matrix over a petabyte corpus costs ONE scan plus 190 32 KiB ops.
  *
  * Exactness contract: while a group's distinct count stays below k the
  * sketch IS the distinct set — estimate, union, and intersection are
  * exact integers (this is what the DuckDB oracle pins). Past k they
  * degrade gracefully to estimates with relative standard error
  * ~ 1/sqrt(k-2) (~1.6% at k=4096), which is the honest trade at
  * corpus scale.
  *
  * Reference anchor: the reference engine exposes only exact
  * `db.groupby(...).nunique()`-style audits (psweep.py's pandas
  * passthrough); this is the scale-path analog, exact in the regime the
  * reference can actually reach.
  */
object Sketch {

  // ---------------------------------------------------------------- //
  // buffer + blob format
  // ---------------------------------------------------------------- //

  /** Unsigned-ascending ordering positions hashes on the [0,1) unit
    * line (u = h / 2^64 with h read as unsigned). */
  private[ops] val unsignedOrd: java.util.Comparator[java.lang.Long] =
    (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b)

  /** Top 53 bits as a double in [0,1) — exact in IEEE754, uniform. */
  private[ops] def toUnit(h: Long): Double =
    (h >>> 11).toDouble / (1L << 53).toDouble

  /** k-minimum-values buffer: the k unsigned-smallest distinct hashes. */
  final class KmvBuffer(val k: Int) {
    val set = new java.util.TreeSet[java.lang.Long](unsignedOrd)
    def add(h: Long): Unit = {
      if (set.size < k) { set.add(h); () }
      else if (java.lang.Long.compareUnsigned(h, set.last()) < 0) {
        if (set.add(h)) { set.pollLast(); () }
      }
    }
    def merge(o: KmvBuffer): Unit = {
      val it = o.set.iterator()
      while (it.hasNext) add(it.next())
    }
  }

  /** Blob: [k:int][n:int][theta:double bits][n longs unsigned-asc].
    * Aggregate output always has theta = 1.0 (pure KMV); only
    * [[unionSketch]] produces theta < 1.0 blobs. */
  private[ops] def toBlob(k: Int, theta: Double,
                          values: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(16 + 8 * values.length)
    bb.putInt(k).putInt(values.length)
      .putLong(java.lang.Double.doubleToLongBits(theta))
    values.foreach(bb.putLong)
    bb.array()
  }

  private[ops] final case class Decoded(k: Int, theta: Double,
                                        values: Array[Long]) {
    /** Canonical theta view: a FULL pure-KMV sketch's implicit theta is
      * the unit position of its k-th value, with that value excluded
      * from the retained set — so estimate = retained/theta reproduces
      * the textbook (k-1)/R. Union-produced blobs carry theta
      * explicitly and retain everything. */
    def thetaView: (Double, Array[Long]) =
      if (theta < 1.0 || values.length < k) (theta, values)
      else (toUnit(values.last), values.init)
    def estimate: Double = {
      val (th, kept) = thetaView
      if (th >= 1.0) kept.length.toDouble else kept.length / th
    }
  }

  private[ops] def decode(blob: Array[Byte]): Decoded = {
    val bb = ByteBuffer.wrap(blob)
    val k = bb.getInt; val n = bb.getInt
    val theta = java.lang.Double.longBitsToDouble(bb.getLong)
    val values = Array.fill(n)(bb.getLong)
    Decoded(k, theta, values)
  }

  /** Sketch algebra shared by the expressions below (driver- or
    * executor-side, always on two <=32 KiB blobs). */
  private[ops] def unionBlobs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val da = decode(a); val db = decode(b)
    val (ta, va) = da.thetaView; val (tb, vb) = db.thetaView
    val k = math.min(da.k, db.k)
    var theta = math.min(ta, tb)
    val merged = new java.util.TreeSet[java.lang.Long](unsignedOrd)
    va.foreach(v => if (toUnit(v) < theta) merged.add(v))
    vb.foreach(v => if (toUnit(v) < theta) merged.add(v))
    while (merged.size > k) {
      val dropped = merged.pollLast()
      theta = math.min(theta, toUnit(dropped))
    }
    val out = new Array[Long](merged.size)
    val it = merged.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    toBlob(k, theta, out)
  }

  /** Theta-sketch a-NOT-b (Dasgupta et al. 2016's third set
    * operation, completing union/intersection): count a's retained
    * values below the common theta that b does not hold, scaled by
    * 1/theta. Exact while both groups are in the exact regime (full
    * sets retained, theta = 1). */
  private[ops] def aNotBBlobs(a: Array[Byte], b: Array[Byte]): Double = {
    val da = decode(a); val db = decode(b)
    val (ta, va) = da.thetaView; val (tb, vb) = db.thetaView
    val theta = math.min(ta, tb)
    val inB = new java.util.HashSet[java.lang.Long]()
    vb.foreach(v => if (toUnit(v) < theta) inB.add(v))
    var only = 0
    va.foreach(v => if (toUnit(v) < theta && !inB.contains(v)) only += 1)
    if (theta >= 1.0) only.toDouble else only / theta
  }

  private[ops] def intersectBlobs(a: Array[Byte], b: Array[Byte]): Double = {
    val da = decode(a); val db = decode(b)
    val (ta, va) = da.thetaView; val (tb, vb) = db.thetaView
    val theta = math.min(ta, tb)
    val inB = new java.util.HashSet[java.lang.Long]()
    vb.foreach(v => if (toUnit(v) < theta) inB.add(v))
    var common = 0
    va.foreach(v => if (toUnit(v) < theta && inB.contains(v)) common += 1)
    if (theta >= 1.0) common.toDouble else common / theta
  }

  // ---------------------------------------------------------------- //
  // Catalyst aggregate
  // ---------------------------------------------------------------- //

  /** The KMV aggregate. `child` must already be a nullable LongType
    * hash ([[kmvAgg]] wraps the key in xxhash64, preserving null so
    * null keys are ignored like COUNT(DISTINCT)). */
  case class KmvSketchAgg(child: Expression, k: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {
    require(k >= 16 && k <= (1 << 22),
      s"sketch size k must be in [16, 2^22], got $k")

    override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

    override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
      val v = child.eval(input)
      if (v != null) buffer.add(v.asInstanceOf[Long])
      buffer
    }

    override def merge(buffer: KmvBuffer, other: KmvBuffer): KmvBuffer = {
      buffer.merge(other); buffer
    }

    override def eval(buffer: KmvBuffer): Any = {
      val out = new Array[Long](buffer.set.size)
      val it = buffer.set.iterator(); var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      toBlob(k, 1.0, out)
    }

    override def serialize(buffer: KmvBuffer): Array[Byte] =
      eval(buffer).asInstanceOf[Array[Byte]]

    override def deserialize(bytes: Array[Byte]): KmvBuffer = {
      val d = decode(bytes)
      val b = new KmvBuffer(d.k)
      d.values.foreach(b.add)
      b
    }

    override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
      copy(inputAggBufferOffset = o)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def prettyName: String = "kmv_sketch"
    override protected def withNewChildInternal(c: Expression): KmvSketchAgg =
      copy(child = c)
  }

  // ---------------------------------------------------------------- //
  // scalar sketch-algebra expressions (per-GROUP rows — never a hot
  // path, so eval-mode CodegenFallback is the right cost)
  // ---------------------------------------------------------------- //

  case class KmvEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(input: Any): Any =
      decode(input.asInstanceOf[Array[Byte]]).estimate
    override def prettyName: String = "kmv_estimate"
    override protected def withNewChildInternal(c: Expression): KmvEstimate =
      copy(child = c)
  }

  case class KmvUnion(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(l: Any, r: Any): Any =
      unionBlobs(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
    override def prettyName: String = "kmv_union"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KmvUnion = copy(left = l, right = r)
  }

  /** Pure-KMV merge: k smallest of the combined value sets, theta kept
    * at 1.0 — the EXACT buffer-merge the aggregate itself performs, so
    * folding batch sketches incrementally reproduces the one-shot
    * aggregate blob bit-for-bit (the contract a streaming sketch sink
    * pins). Only valid on aggregate-produced (theta = 1.0) sketches;
    * a theta-union blob has already discarded values it would need. */
  private[ops] def mergeBlobs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val da = decode(a); val db = decode(b)
    require(da.theta >= 1.0 && db.theta >= 1.0,
      "kmv_merge needs pure-KMV (theta=1) sketches; use kmv_union for " +
        "theta sketches")
    val buf = new KmvBuffer(math.min(da.k, db.k))
    da.values.foreach(buf.add)
    db.values.foreach(buf.add)
    val out = new Array[Long](buf.set.size)
    val it = buf.set.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    toBlob(buf.k, 1.0, out)
  }

  case class KmvMerge(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(l: Any, r: Any): Any =
      mergeBlobs(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
    override def prettyName: String = "kmv_merge"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KmvMerge = copy(left = l, right = r)
  }

  case class KmvIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(l: Any, r: Any): Any =
      intersectBlobs(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
    override def prettyName: String = "kmv_intersect_estimate"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KmvIntersectEstimate =
      copy(left = l, right = r)
  }

  case class KmvANotBEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(l: Any, r: Any): Any =
      aNotBBlobs(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
    override def prettyName: String = "kmv_a_not_b_estimate"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): KmvANotBEstimate =
      copy(left = l, right = r)
  }

  // ---------------------------------------------------------------- //
  // Column API
  // ---------------------------------------------------------------- //

  /** Distinct sketch of `key` (any orderable type) — null keys are
    * ignored, matching COUNT(DISTINCT). */
  def kmvAgg(key: Column, k: Int = 4096): Column = {
    val e = shim.expression(key)
    val hashed = If(IsNull(e), Literal(null, LongType),
      new XxHash64(Seq(e)))
    shim.column(KmvSketchAgg(hashed, k).toAggregateExpression())
  }

  def estimate(sketch: Column): Column =
    shim.column(KmvEstimate(shim.expression(sketch)))

  def unionSketch(a: Column, b: Column): Column =
    shim.column(KmvUnion(shim.expression(a), shim.expression(b)))

  /** Lossless fold of aggregate-produced sketches (see [[KmvMerge]]). */
  def mergeSketch(a: Column, b: Column): Column =
    shim.column(KmvMerge(shim.expression(a), shim.expression(b)))

  def intersectEstimate(a: Column, b: Column): Column =
    shim.column(KmvIntersectEstimate(shim.expression(a), shim.expression(b)))

  /** Estimated |A \ B| — "how many of slice A's keys are NEW relative
    * to slice B": the audience/vocabulary growth audit, 32 KiB sketch
    * algebra per pair instead of a distinct anti-join per pair. Exact
    * integers in the exact regime. */
  def aNotBEstimate(a: Column, b: Column): Column =
    shim.column(KmvANotBEstimate(shim.expression(a), shim.expression(b)))

  // ---------------------------------------------------------------- //
  // DataFrame ops
  // ---------------------------------------------------------------- //

  /** Smallest power-of-two sketch size that keeps EVERY group of
    * `groupCol` in the exact regime: probe `max` per-group
    * `approx_count_distinct` (1% precision), double it for headroom
    * (covering the probe's own error, plus growth up to 2x before the
    * next sizing), and round up to the next power of two, floored at
    * `minK`. A sketch is exact while a group's distinct count stays
    * STRICTLY below k (at exactly k the buffer fills and the theta view
    * kicks in), so the doubling is what makes "sized from the data"
    * safe rather than flaky at the boundary.
    *
    * Throws when the needed k would exceed [[KmvSketchAgg]]'s 2^22 cap
    * (32 MiB/group): past that the caller must OPT INTO estimates by
    * passing an explicit k, not silently fall out of the exact regime —
    * exactly the failure mode that turns a data-scale bump into a
    * silent wrong answer for consumers pinning exact counts. */
  def exactRegimeK(df: DataFrame, groupCol: String, key: Column,
                   minK: Int = 1024): Int = {
    require(minK >= 16 && (minK & (minK - 1)) == 0,
      s"minK must be a power of two >= 16, got $minK")
    // probe served through the stats cache (plan+file fingerprint): a
    // repeated sizing of the same derivation over the same bytes costs
    // a driver lookup, not a second corpus scan; any data/shape change
    // misses and re-probes (StatsSpec)
    val maxDistinct = Stats.cachedLong(df,
      s"kmv_max_group_distinct:$groupCol:$key") {
      df.groupBy(col(groupCol))
        .agg(approx_count_distinct(key, 0.01).as("__d"))
        .agg(max(col("__d"))).head() match {
          case r if r.isNullAt(0) => 0L // empty input
          case r => r.getLong(0)
        }
    }
    val need = math.max(minK.toLong, 2L * maxDistinct)
    if (need > (1L << 22)) throw new IllegalArgumentException(
      s"largest group of '$groupCol' holds ~$maxDistinct distinct keys; " +
        s"an exact-regime sketch would need k=$need > 2^22 (32 MiB/group). " +
        "Pass an explicit k to accept ~1/sqrt(k-2) relative-error " +
        "estimates instead of exact counts.")
    java.lang.Integer.highestOneBit(need.toInt - 1) << 1 match {
      case 0 => minK
      case p => math.max(p, minK)
    }
  }

  /** Pairwise overlap matrix over the groups of `groupCol`:
    * `(g_a, g_b, n_a, n_b, n_common, n_union)`, one row per unordered
    * pair, ordered (g_a, g_b). Estimates are rounded to longs —
    * exact integers while every group's distinct count is under k.
    *
    * Scale shape: ONE corpus scan builds the per-group sketches
    * (partial-merged map-side); the pair join is G x G over the GROUP
    * table — G is the slice count (sources, dumps, snapshots), a
    * driver-small relation, which is why the all-pairs shape here is
    * bounded and deliberate where a row-level all-pairs would not be.
    * 100 TB cost: the scan; everything after is 32 KiB sketch algebra. */
  def overlapMatrix(df: DataFrame, groupCol: String, key: Column,
                    k: Int = 4096): DataFrame =
    overlapMatrixFromSketches(
      df.groupBy(col(groupCol).as("g")).agg(kmvAgg(key, k).as("sk")))

  /** The pair-algebra half of [[overlapMatrix]], over an existing
    * sketch table `(g, sk)` — e.g. one maintained incrementally by
    * [[incrementalSketch]] / a streaming sink. */
  def overlapMatrixFromSketches(sketches: DataFrame): DataFrame = {
    val a = sketches.select(col("g").as("g_a"), col("sk").as("__sk_a"))
    val b = sketches.select(col("g").as("g_b"), col("sk").as("__sk_b"))
    a.join(b, col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"),
        round(estimate(col("__sk_a"))).cast("long").as("n_a"),
        round(estimate(col("__sk_b"))).cast("long").as("n_b"),
        round(intersectEstimate(col("__sk_a"), col("__sk_b")))
          .cast("long").as("n_common"),
        round(estimate(unionSketch(col("__sk_a"), col("__sk_b"))))
          .cast("long").as("n_union"))
      .orderBy(col("g_a"), col("g_b"))
  }

  /** One-scan per-slice audit: `(group, n_rows, est_distinct,
    * p<NN>...)` — row count, distinct-`key` estimate (KMV), and
    * `value` quantiles (KLL) from a SINGLE pass. Both custom
    * aggregates ride one ObjectHashAggregate (partial-merged
    * map-side), so the corpus is read once no matter how many audit
    * columns the table carries — the shape that matters when "once"
    * means 100 TB. Exact while each group stays under kDistinct
    * distinct keys / at most kQuant values (size with
    * [[exactRegimeK]] / [[Quantile.exactRegimeK]]); PlanSpec gates
    * the single-scan plan. */
  def sliceProfile(df: DataFrame, groupCol: String, key: Column,
                   value: Column, qs: Seq[Double],
                   kDistinct: Int = 4096, kQuant: Int = 4096): DataFrame = {
    val names = Quantile.quantileNames(qs)
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_rows"),
      kmvAgg(key, kDistinct).as("__kmv"),
      Quantile.kllAgg(value, kQuant).as("__kll"))
    agg.select(
      Seq(col(groupCol), col("n_rows"),
        round(estimate(col("__kmv"))).cast("long").as("est_distinct")) ++
      qs.zip(names).map { case (q, n) =>
        Quantile.kllQuantile(col("__kll"), q).as(n) }: _*)
  }

  /** Sizing probe for [[columnProfile]]: ONE pass computing the table
    * row count and a ~1%-error distinct estimate per profiled column,
    * then the family's exact-regime rule (double for headroom, round
    * up to a power of two) applied to both sketch families at once:
    * `kDistinct` from the max per-column distinct count (KMV cap
    * 2^22), `kQuant` from the row count (KLL cap 2^21 — quantile
    * exactness needs the whole multiset retained, not the distinct
    * set). Throws past either cap with the same opt-into-estimates
    * message as [[exactRegimeK]] — a data-scale bump must fail loudly,
    * never silently leave the exact regime consumers pinned. */
  def profileK(df: DataFrame, cols: Seq[String],
               minKDistinct: Int = 1024, minKQuant: Int = 1024)
      : (Int, Int) = {
    require(cols.nonEmpty, "need at least one column")
    def pow2(need: Long, minK: Int): Int =
      math.max(java.lang.Integer.highestOneBit(need.toInt - 1) << 1, minK)
    val Seq(n, maxDistinct) = Stats.cachedLongs(df,
      s"profile_n_maxdistinct:${cols.mkString(",")}") {
      val probe = df.agg(count(lit(1)).as("__n"),
        cols.map(c =>
          approx_count_distinct(col(c), 0.01).as(s"__d_$c")): _*)
        .head()
      Seq(probe.getLong(0),
        cols.indices.map(i => probe.getLong(i + 1)).max)
    }
    val needD = math.max(minKDistinct.toLong, 2L * maxDistinct)
    if (needD > (1L << 22)) throw new IllegalArgumentException(
      s"widest profiled column holds ~$maxDistinct distinct values; an " +
        s"exact-regime distinct sketch would need k=$needD > 2^22. Pass " +
        "an explicit kDistinct to accept ~1/sqrt(k-2) relative error.")
    val needQ = math.max(minKQuant.toLong, 2L * n)
    if (needQ > (1L << 21)) throw new IllegalArgumentException(
      s"table holds $n rows; an exact-regime quantile sketch would " +
        s"need k=$needQ > 2^21 (16 MiB). Pass an explicit kQuant to " +
        "accept rank estimates with ~levels/k normalized error.")
    (pow2(needD, minKDistinct), pow2(needQ, minKQuant))
  }

  /** Combined sizing probe for [[sliceProfile]]: ONE scan (served
    * through the stats cache) computing the max per-group row count and
    * the max per-group ~1%-error distinct-`key` estimate, then the
    * exact-regime rule applied to both sketch families — `kQuant` from
    * the count (KLL cap 2^21), `kDistinct` from the distinct estimate
    * (KMV cap 2^22) — with the same fail-loud over-cap contract as
    * [[exactRegimeK]] (no ad-hoc sizing at call sites: the inline
    * variant this replaces wrapped `.toInt` past 2^31 and silently
    * clamped to minK, quietly leaving the exact regime). */
  def sliceProfileK(df: DataFrame, groupCol: String, key: Column,
                    minKDistinct: Int = 1024, minKQuant: Int = 1024)
      : (Int, Int) = {
    Seq(minKDistinct, minKQuant).foreach(m =>
      require(m >= 16 && (m & (m - 1)) == 0,
        s"minK must be a power of two >= 16, got $m"))
    val Seq(maxCount, maxDistinct) = Stats.cachedLongs(df,
      s"slice_profile_probe:$groupCol:$key") {
      val r = df.groupBy(col(groupCol))
        .agg(count(lit(1)).as("__c"),
          approx_count_distinct(key, 0.01).as("__d"))
        .agg(max(col("__c")), max(col("__d"))).head()
      Seq(if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def pow2(need: Long, minK: Int): Int =
      math.max(java.lang.Integer.highestOneBit(need.toInt - 1) << 1, minK)
    val needD = math.max(minKDistinct.toLong, 2L * maxDistinct)
    if (needD > (1L << 22)) throw new IllegalArgumentException(
      s"largest group of '$groupCol' holds ~$maxDistinct distinct keys; " +
        s"an exact-regime sketch would need k=$needD > 2^22 (32 MiB/" +
        "group). Pass an explicit kDistinct to accept ~1/sqrt(k-2) " +
        "relative-error estimates.")
    val needQ = math.max(minKQuant.toLong, 2L * maxCount)
    if (needQ > (1L << 21)) throw new IllegalArgumentException(
      s"largest group of '$groupCol' holds $maxCount rows; an " +
        s"exact-regime quantile sketch would need k=$needQ > 2^21 " +
        "(16 MiB/group). Pass an explicit kQuant to accept rank " +
        "estimates with ~levels/k normalized error.")
    (pow2(needD, minKDistinct), pow2(needQ, minKQuant))
  }

  /** Whole-table column audit from ONE scan — the profile a 100 TB
    * pipeline runs before any training job (the Deequ / TFDV
    * statistics pass): per column, row count, null count, distinct
    * estimate (KMV), and for the numeric columns min/max and KLL
    * quantiles. Every per-column aggregate rides a SINGLE
    * ObjectHashAggregate partial/final pair, so the corpus is read
    * once no matter how wide the audit — at 100 TB the scan IS the
    * cost, and it is paid once here where a naive profiler pays it
    * per column. The single aggregated row is transposed in-plan
    * (array-of-structs explode over ONE row) into the long-form
    * `(col_name, n_rows, n_nulls, est_distinct, vmin, vmax, p<NN>..)`
    * table, so nothing ever collects to the driver.
    *
    * Exact regime (size with [[profileK]]): distinct counts are exact
    * integers while each column's distinct count stays under
    * `kDistinct`; quantiles are exact input elements (inverted-CDF
    * discrete, [[Quantile]]) while the row count stays at or below
    * `kQuant`. Key columns report null min/max/quantiles.
    *
    * Reference anchor: the reference's whole-db audit is pandas
    * `describe` over the collected frame
    * (/root/reference/src/psweep/psweep.py df passthrough) — this is
    * the one-scan distributed analog. */
  def columnProfile(df: DataFrame, keyCols: Seq[String],
                    numCols: Seq[String], qs: Seq[Double],
                    kDistinct: Int = 4096, kQuant: Int = 4096)
      : DataFrame =
    columnProfileFromState(
      profileState(df, keyCols, numCols, kDistinct, kQuant), qs)

  /** The MERGEABLE form behind [[columnProfile]]: per profiled column,
    * one row `(col_name, n_rows, n_nulls, kmv binary, vmin, vmax,
    * kll binary)` from ONE scan — the same single ObjectHashAggregate
    * pair and in-plan explode as the rendered audit, but keeping the
    * sketch BLOBS so states fold across batches/partitions/days
    * ([[incrementalColumnProfile]] is the fold,
    * [[columnProfileFromState]] the render). Key columns carry null
    * vmin/vmax/kll. */
  def profileState(df: DataFrame, keyCols: Seq[String],
                   numCols: Seq[String],
                   kDistinct: Int = 4096, kQuant: Int = 4096)
      : DataFrame = {
    val all = keyCols ++ numCols
    require(all.nonEmpty, "need at least one column")
    require(all.distinct.size == all.size,
      s"duplicate profiled column in ${all.mkString(", ")}")
    val aggs: Seq[Column] =
      (count(lit(1)).as("__n") +:
        all.flatMap(c => Seq(
          count(col(c)).as(s"__nn_$c"),
          kmvAgg(col(c), kDistinct).as(s"__kmv_$c")))) ++
      numCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__min_$c"),
        max(col(c).cast("double")).as(s"__max_$c"),
        Quantile.kllAgg(col(c).cast("double"), kQuant).as(s"__kll_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val nullD = lit(null).cast("double")
    val nullB = lit(null).cast("binary")
    val entries = all.map { c =>
      val isNum = numCols.contains(c)
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__kmv_$c").as("kmv"),
        (if (isNum) col(s"__min_$c") else nullD).as("vmin"),
        (if (isNum) col(s"__max_$c") else nullD).as("vmax"),
        (if (isNum) col(s"__kll_$c") else nullB).as("kll"))
    }
    one.select(explode(array(entries: _*)).as("__p")).select(col("__p.*"))
  }

  /** Render the long-form audit of [[columnProfile]] from a profile
    * STATE (one-shot or folded): distinct estimate from the KMV blob,
    * quantiles probed from the KLL blob (null for key columns — the
    * probe expression is null-propagating). */
  def columnProfileFromState(state: DataFrame, qs: Seq[Double])
      : DataFrame = {
    val qNames = Quantile.quantileNames(qs)
    state.select(
      Seq(col("col_name"), col("n_rows"), col("n_nulls"),
        round(estimate(col("kmv"))).cast("long").as("est_distinct"),
        col("vmin"), col("vmax")) ++
      qs.zip(qNames).map { case (q, n) =>
        Quantile.kllQuantile(col("kll"), q).as(n) }: _*)
  }

  /** Fold a batch's [[profileState]] into the persisted profile table
    * at `indexPath` — the INGEST-TIME data-quality monitor: every
    * micro-batch/partition/day folds its one-scan state, and the live
    * table renders the full-history audit ([[columnProfileFromState]])
    * at any moment without ever rescanning the corpus. Counts add,
    * min/max extremize, KMV blobs union (set semantics), KLL blobs
    * merge; in the exact regime the folded state is bit-identical to
    * the one-shot [[profileState]] over everything that arrived
    * (SketchSpec pins split-invariance), so batch and streaming
    * profiles share one oracle.
    *
    * The count/KLL halves are MULTISET state — a re-delivered batch
    * would double-count — so the fold takes the same optional
    * `batchId` ledger as [[Quantile.incrementalQuantileSketch]]:
    * applied ids ride [[graft.core.Fold]]'s ledger INSIDE the swapped
    * directory (atomic with the data), making replays a no-op. The audit's
    * column set is fixed at table birth: a widened audit needs a new
    * table (fail-fast on mismatch, never silent partial columns). */
  def incrementalColumnProfile(batch: DataFrame, indexPath: String,
                               keyCols: Seq[String], numCols: Seq[String],
                               kDistinct: Int = 4096, kQuant: Int = 4096,
                               batchId: Option[String] = None)
      : DataFrame = {
    val incoming = profileState(batch, keyCols, numCols, kDistinct, kQuant)
    graft.core.Fold.swapTable(batch.sparkSession, indexPath, batchId) {
      case None => incoming
      case Some(current) =>
        val have = current.select(col("col_name"))
          .collect().map(_.getString(0)).toSet
        require(have == (keyCols ++ numCols).toSet,
          s"profile table at $indexPath audits columns " +
            s"${have.toSeq.sorted.mkString(", ")} but the batch audits " +
            s"${(keyCols ++ numCols).sorted.mkString(", ")} — widen into " +
            "a NEW table, the fold cannot backfill history")
        def m2(a: Column, b: Column, f: (Column, Column) => Column) =
          when(a.isNull, b).when(b.isNull, a).otherwise(f(a, b))
        current.select(col("col_name").as("__c"), col("n_rows").as("__nr"),
            col("n_nulls").as("__nl"), col("kmv").as("__kmv"),
            col("vmin").as("__mn"), col("vmax").as("__mx"),
            col("kll").as("__kll"))
          .join(incoming, col("__c") === col("col_name"))
          .select(col("col_name"),
            (col("__nr") + col("n_rows")).as("n_rows"),
            (col("__nl") + col("n_nulls")).as("n_nulls"),
            mergeSketch(col("__kmv"), col("kmv")).as("kmv"),
            m2(col("__mn"), col("vmin"), (a, b) => least(a, b)).as("vmin"),
            m2(col("__mx"), col("vmax"), (a, b) => greatest(a, b)).as("vmax"),
            m2(col("__kll"), col("kll"),
              Quantile.mergeQuantileSketch).as("kll"))
    }
  }

  /** Fold a batch into the persisted per-group sketch table at
    * `indexPath` — one `(g string, sk binary)` row per group, rewritten
    * per batch via [[graft.core.Fold.swap]] (the priority-reservoir
    * lifecycle). The fold is the pure-KMV merge: order-free,
    * associative, and IDEMPOTENT on re-delivered content (set
    * semantics), so after any batch sequence — including at-least-once
    * replays — the table is bit-identical to the one-shot aggregate
    * over the union of everything that arrived. Returns the updated
    * sketch table. */
  def incrementalSketch(batch: DataFrame, indexPath: String,
                        groupCol: String, key: Column,
                        k: Int = 4096): DataFrame =
    foldGroups(batch, indexPath, groupCol, kmvAgg(key, k), mergeSketch,
      batchId = None)

  /** The one `(g string, sk binary)` group fold behind the KMV, KLL
    * ([[Quantile.incrementalQuantileSketch]]) and frequent-items
    * ([[Freq.incrementalFreqSketch]]) tables: aggregate the batch per
    * group with `agg`, full-outer merge with the stored rows (`merge`
    * where both sides hold a group), swap-commit via
    * [[graft.core.Fold.swapTable]]. Null-SAFE group equality (<=>): a
    * null group key must MERGE with the stored null-group row, not miss
    * (null != null under plain join equality) and mint a fresh row per
    * batch — that would break the bit-identical-to-one-shot contract
    * (Spark's groupBy keeps null as one group) and grow the table
    * unboundedly. */
  private[ops] def foldGroups(batch: DataFrame, indexPath: String,
                              groupCol: String, agg: Column,
                              merge: (Column, Column) => Column,
                              batchId: Option[String]): DataFrame = {
    val incoming = batch.groupBy(col(groupCol).cast("string").as("g"))
      .agg(agg.as("sk"))
    graft.core.Fold.swapTable(batch.sparkSession, indexPath, batchId) {
      case None => incoming
      case Some(current) =>
        current.select(col("g").as("__ga"), col("sk").as("__a"))
          .join(incoming.select(col("g").as("__gb"), col("sk").as("__b")),
            col("__ga") <=> col("__gb"), "full_outer")
          .select(coalesce(col("__ga"), col("__gb")).as("g"),
            when(col("__a").isNull, col("__b"))
              .when(col("__b").isNull, col("__a"))
              .otherwise(merge(col("__a"), col("__b"))).as("sk"))
    }
  }
}
