package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegralDivide, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types._
import graft.core.Fs

/** Physical-layout control for 100 TB tables: Z-order (Morton)
  * clustering so multi-column range predicates touch few files, and a
  * file-level min/max skip manifest so a reader can PRUNE files before
  * Spark ever lists their row groups.
  *
  * Parquet row-group statistics already skip WITHIN a file Spark reads;
  * what they cannot do is keep the scan from opening every file of a
  * petabyte table. That file-level cut is what lakehouse formats add
  * (Delta OPTIMIZE ZORDER, Iceberg metadata pruning) — this module is
  * the engine-native, format-free version of the same two ideas:
  *
  *   - [[zOrderWrite]]: normalize the cluster columns onto an integer
  *     grid, interleave their bits ([[InterleaveBits]], codegen'd), and
  *     range-partition + sort by the Morton code before writing. Rows
  *     close in the multi-dimensional key space land in the same files,
  *     so EVERY clustered column gets tight per-file min/max ranges —
  *     unlike a linear sort, which gives one column tight ranges and
  *     the rest the full domain in every file.
  *   - [[writeSkipManifest]] / [[skipScan]]: one scan builds
  *     `(file, per-column min/max, rows)` into `dir/_graft_skip`
  *     (underscore-prefixed: invisible to plain parquet readers, the
  *     shard-manifest convention); a box query then reads the manifest
  *     (file-count rows, driver-cheap), keeps only files whose ranges
  *     intersect the box, and scans just those — re-applying the exact
  *     predicate, so pruning is a pure optimization, never a filter.
  *
  * Normalization is INTEGER arithmetic end to end ((v - min) * gridMax
  * `div` range) — deterministic and replayable bit-for-bit by the
  * DuckDB oracle, with no float-boundary flips. */
object Layout {

  /** Morton interleave: bit j of input i lands at position
    * j * n_inputs + i. Inputs are masked to `bits` bits, so callers
    * normalize first ([[gridCoord]]); any null input yields null. */
  case class InterleaveBits(children: Seq[Expression], bits: Int)
      extends Expression {
    require(children.size >= 2 && children.size * bits <= 63,
      s"interleave needs >=2 inputs with inputs*bits <= 63, " +
        s"got ${children.size} x $bits")

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "interleave_bits"

    override def checkInputDataTypes(): TypeCheckResult =
      if (children.forall(_.dataType == LongType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"interleave_bits requires long inputs, got " +
          children.map(_.dataType).mkString(", "))

    def compute(vals: Array[Any]): Any = {
      val n = vals.length
      var z = 0L
      var i = 0
      while (i < n) {
        if (vals(i) == null) return null
        val v = vals(i).asInstanceOf[Long] & ((1L << bits) - 1)
        var j = 0
        while (j < bits) {
          z |= ((v >>> j) & 1L) << (j * n + i)
          j += 1
        }
        i += 1
      }
      java.lang.Long.valueOf(z)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      compute(children.map(_.eval(input)).toArray)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val gens = children.map(_.genCode(ctx))
      val n = children.size
      val acc = ctx.freshName("z")
      val body = gens.zipWithIndex.map { case (g, i) =>
        val v = ctx.freshName("v")
        s"""
           |if (!${ev.isNull}) {
           |  if (${g.isNull}) { ${ev.isNull} = true; }
           |  else {
           |    long $v = ${g.value} & ${(1L << bits) - 1}L;
           |    for (int j = 0; j < $bits; j++) {
           |      $acc |= ((($v >>> j) & 1L) << (j * $n + $i));
           |    }
           |  }
           |}""".stripMargin
      }.mkString("\n")
      ev.copy(code =
        org.apache.spark.sql.catalyst.expressions.codegen.Block
          .BlockHelper(
            new StringContext(
              gens.map(_.code.toString).mkString("\n") + s"""
              |boolean ${ev.isNull} = false;
              |long $acc = 0L;
              |$body
              |long ${ev.value} = $acc;
              |""".stripMargin)).code())
    }

    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): Expression = copy(children = cs)
  }

  /** Map a long column with known [min, max] onto [0, 2^bits):
    * `(v - min) * gridMax div (max - min)` — all-integer, so the oracle
    * replays it exactly. Degenerate range (min == max) pins to 0.
    * Overflow guard: (max - min) * gridMax must fit a long. */
  def gridCoord(v: Column, min: Long, max: Long, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    require(max >= min, s"max < min ($max < $min)")
    val gridMax = (1L << bits) - 1
    require(max - min <= Long.MaxValue / math.max(gridMax, 1L),
      s"range ${max - min} * grid $gridMax overflows long — shrink bits")
    if (max == min) lit(0L)
    else shim.column(IntegralDivide(
      shim.expression((v - lit(min)) * lit(gridMax)),
      Literal(max - min), evalMode = org.apache.spark.sql.catalyst
        .expressions.EvalMode.LEGACY))
  }

  /** Morton code over 2+ long columns already on the [0, 2^bits) grid. */
  def zValue(gridCols: Seq[Column], bits: Int): Column =
    shim.column(InterleaveBits(gridCols.map(shim.expression), bits))

  /** Z-order the frame by `zCols` (long-typed) and write `numFiles`
    * parquet files at `path`: one stats pass for per-column min/max,
    * grid-normalize, Morton-interleave, then repartitionByRange + sort
    * on the code. Returns the (col -> (min, max)) stats used, so a
    * caller can reuse the same grid for query-side codes.
    *
    * Scale shape: the stats pass is one column-pruned aggregate; the
    * clustering itself is ONE range shuffle on the z code (exactly what
    * a global sort costs) — paid once at write time, repaid on every
    * box query that prunes to a handful of files. */
  def zOrderWrite(df: DataFrame, zCols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 16)
      : Map[String, (Long, Long)] = {
    require(zCols.size >= 2, "zOrderWrite needs >= 2 cluster columns")
    require(numFiles >= 1, "numFiles must be positive")
    val statsRow = df.select(zCols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long")))): _*).head()
    val stats = zCols.zipWithIndex.map { case (c, i) =>
      c -> ((statsRow.getLong(2 * i), statsRow.getLong(2 * i + 1)))
    }.toMap
    val grids = zCols.map { c =>
      val (lo, hi) = stats(c)
      gridCoord(col(c).cast("long"), lo, hi, bits)
    }
    df.withColumn("__graft_z", zValue(grids, bits))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
      .write.mode("overwrite").parquet(path)
    stats
  }

  /** One scan -> `(file, rows, <c>_min, <c>_max ...)` for each long
    * column in `cols`, written to `dir/_graft_skip` (invisible to plain
    * readers). Re-running replaces the manifest (idempotent). */
  def writeSkipManifest(spark: SparkSession, dir: String,
                        cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "need at least one manifest column")
    val m = Fs.parquet(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        cols.flatMap(c => Seq(
          min(col(c).cast("long")).as(s"${c}_min"),
          max(col(c).cast("long")).as(s"${c}_max"))): _*)
    // small by construction (one row per data file) — single output file
    m.coalesce(1).write.mode("overwrite").parquet(s"$dir/_graft_skip")
  }

  /** Box scan through the manifest: keep files whose [min,max] ranges
    * intersect EVERY requested [lo,hi] (a null-stats file — all-null
    * column — has NULL min/max, so its keep predicate is NULL; it is
    * coalesced to false and pruned, since an all-null column cannot
    * match a box), read only those, and re-apply the exact predicate.
    * Returns the filtered frame; also the pruning arithmetic
    * `(files kept, files total)` via the counter so specs and operators
    * can assert on layout quality. */
  def skipScan(spark: SparkSession, dir: String,
               box: Seq[(String, Long, Long)]): (DataFrame, (Int, Int)) = {
    require(box.nonEmpty, "need at least one box dimension")
    val manifest = Fs.parquet(spark, s"$dir/_graft_skip")
    val keep = box.foldLeft(lit(true)) { case (acc, (c, lo, hi)) =>
      acc && col(s"${c}_max") >= lit(lo) && col(s"${c}_min") <= lit(hi)
    }
    // driver-side file list: bounded by the table's FILE count (what a
    // lakehouse metadata layer holds in memory anyway), not its rows
    val all = manifest
      .select(col("file"), coalesce(keep, lit(false)).as("k")).collect()
    val files = all.filter(_.getBoolean(1)).map(_.getString(0))
    val pruned = (files.length, all.length)
    val precise = box.foldLeft(lit(true)) { case (acc, (c, lo, hi)) =>
      acc && col(c).cast("long").between(lit(lo), lit(hi))
    }
    val df =
      if (files.isEmpty)
        Fs.parquet(spark, dir).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*).filter(precise)
    (df, pruned)
  }
}
