package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One measured operation's outcome. `check` runs after the timed
  * window and returns an error text when the op's output was wrong. */
final case class OpResult(name: String, items: Long, rows: Long = -1L,
                          check: () => Option[String] = () => None)

/** A closed-loop, single-client workload over generated inputs in `in`,
  * keeping its own state under `work`. */
trait Workload {
  /** A tiny run through the same code paths (JIT and codegen). */
  def warmup(spark: SparkSession): Unit
  def hasNext: Boolean = true
  /** Whether the window may end here (a workload that cycles over a
    * fixed set ends only after whole cycles). */
  def atBoundary: Boolean = true
  def step(spark: SparkSession): OpResult
  /** Whole-run checks after the window; error texts. */
  def finalChecks(spark: SparkSession): Seq[String] = Nil
  /** Workload-specific per-layer metrics of the traced run. */
  def layerMetrics(cap: Capture): Map[String, Double] = Map.empty
}

object Workloads {
  private val mapper = new ObjectMapper()
  def readJson(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
  }

  def files(path: String, suffix: String): Int = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0
    else java.nio.file.Files.walk(p).iterator().asScala
      .count(f => f.toString.endsWith(suffix))
  }

  def rm(path: String): Unit = graft.core.Fs.delete(path)

  /** Spans of `name` in the traced run, as (start, end) windows. */
  def windows(name: String): Seq[(Double, Double)] =
    Trace.spans.filter(_.name == name).map(s => (s.start, s.end)).toSeq

  def meanSecs(name: String): Double = {
    val w = windows(name)
    if (w.isEmpty) 0.0 else w.map { case (a, b) => b - a }.sum / 1e3 / w.size
  }

  def apply(name: String, in: String, work: String, seed: Long): Workload =
    name match {
      case "sweep" => new Sweep(in, work, seed)
      case "analytics" => new Analytics(in, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

import Workloads._

/** psweep's own traffic: each op is one round — a `Study.run` of the
  * round's psets (half repeat the previous round, so skipDups drops
  * them) followed by four database reads. One round adds a parameter
  * column, which forces the schema-evolution rehash; its repeats lack
  * the new column and must still match the rehashed rows. */
final class Sweep(in: String, work: String, seed: Long) extends Workload {
  type Pset = Map[String, Any]
  private val plan = readJson(s"$in/sweep_plan.json").get("rounds").asScala.toVector
  private val rng = new scala.util.Random(seed)
  private var round = 0
  private val calc = s"$work/calc"
  // a -> (c, result, pset id): every row the database should hold
  private val known = scala.collection.mutable.LinkedHashMap[Long, (String, Long, String)]()
  private val executedPerRound = ArrayBuffer[Long]()
  private var submitted, executed = 0L
  private var evolveRound = -1

  private def psets(r: Int): Seq[Pset] = plan(r).get("psets").asScala.toSeq.map { p =>
    p.fields().asScala.map { e =>
      val v = e.getValue
      // typed per branch: an if/else over Long and Double would widen to Double
      val x: Any =
        if (v.isTextual) v.asText
        else if (v.isIntegralNumber) v.asLong: Any
        else v.asDouble: Any
      e.getKey -> x
    }.toMap: Pset
  }

  private def study(spark: SparkSession, dir: String) =
    graft.core.Study(spark, graft.core.StudyConfig(calcDir = dir, skipDups = true))

  def warmup(spark: SparkSession): Unit = {
    val dir = s"$work/warm"
    rm(dir)
    val st = study(spark, dir)
    st.run(Sweep.func, psets(0).take(8))
    st.run(Sweep.func, psets(1).take(8))
    st.database.changes(0L).collect()
    st.database.asOf(0L).count()
    rm(dir)
    rm(calc) // the measured window starts from an empty database
  }

  override def hasNext: Boolean = round < plan.size

  def step(spark: SparkSession): OpResult = {
    val r = round
    round += 1
    val ps = psets(r)
    val want = plan(r).get("new").asLong
    if (plan(r).get("evolve").asBoolean) evolveRound = r
    val st = study(spark, calc)
    val out = Trace.span("core.study_run", "core")(st.run(Sweep.func, ps))
    submitted += ps.size
    executed += out.executed
    executedPerRound += out.executed
    val db = st.database
    val fresh = ps.takeRight(want.toInt).map(p => p("a").asInstanceOf[Long]).toSet
    // this round's rows, the change feed since the previous round
    val rows = Trace.span("core.changes", "core") {
      db.changes(r - 1L).select("_pset_id", "_pset_hash", "a", "c", "result_")
        .collect()
    }
    rows.foreach(x => known(x.getLong(2)) = (x.getString(3), x.getLong(4), x.getString(0)))
    val ids = rng.shuffle(known.valuesIterator.map(_._3).toVector).take(10)
    val looked = Trace.span("core.lookup", "core") {
      db.lookupAll(ids).select("_pset_id").collect().map(_.getString(0)).toSet
    }
    val mid = rng.nextInt(r + 1)
    val asOfRows = Trace.span("core.asof", "core")(db.asOf(mid.toLong).count())
    val asOfWant = executedPerRound.take(mid + 1).sum
    val agg = Trace.span("core.scan_agg", "core") {
      db.read().filter(col("a") % 3 === 0).groupBy("c")
        .agg(count(lit(1)).as("n"), sum("result_").as("s")).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    }
    val aggWant = known.filter(_._1 % 3 == 0).values.groupBy(_._1)
      .map { case (c, vs) => c -> (vs.size.toLong, vs.map(_._2).sum) }
    val got = rows.map(_.getLong(2)).toSet
    val hashes = rows.map(_.getString(1))
    OpResult("sweep.round", out.executed, check = () => {
      val errs = Seq(
        (out.executed == want) -> s"executed ${out.executed} != $want",
        (got == fresh) -> s"changes returned ${got.size} rows, want ${fresh.size}",
        (hashes.distinct.length == hashes.length) -> "duplicate _pset_hash in run",
        (looked == ids.toSet) -> s"lookupAll returned ${looked.size} of ${ids.size} ids",
        (asOfRows == asOfWant) -> s"asOf($mid) rows $asOfRows != $asOfWant",
        (agg == aggWant) -> "filter+group-by over read() disagrees")
        .collect { case (false, e) => s"round $r: $e" }
      errs.headOption
    })
  }

  override def finalChecks(spark: SparkSession): Seq[String] = {
    val df = study(spark, calc).database.read()
    val n = df.count()
    val distinct = df.select("_pset_hash").distinct().count()
    Seq((n == executed) -> s"database holds $n rows, $executed executed",
      (distinct == n) -> s"$distinct distinct _pset_hash over $n rows",
      (n == known.size) -> s"database holds $n rows, ${known.size} seen in changes")
      .collect { case (false, e) => e }
  }

  override def layerMetrics(cap: Capture): Map[String, Double] = {
    val writes = windows("core.study_run")
    val jobs = writes.map { case (a, b) => cap.jobStats(a, b)("jobs") }
    val runs = writes.map { case (a, b) => (b - a) / 1e3 }
    val plain = runs.indices.filterNot(_ == evolveRound).map(runs)
    val rehash =
      if (evolveRound < 0 || evolveRound >= runs.size || plain.isEmpty) 0.0
      else math.max(0.0, runs(evolveRound) - Stats.median(plain))
    val rows = math.max(1L, executed)
    Map(
      "core.study_run_s" -> meanSecs("core.study_run"),
      "core.jobs_per_write" -> (if (jobs.isEmpty) 0.0 else jobs.sum / jobs.size),
      "core.db_files" -> files(s"$calc/database", ".parquet").toDouble,
      "core.rehash_s" -> rehash,
      "core.executed_ratio" -> executed.toDouble / math.max(1L, submitted),
      "core.lookup_s" -> meanSecs("core.lookup"),
      "core.changes_s" -> meanSecs("core.changes"),
      "core.asof_s" -> meanSecs("core.asof"),
      "core.scan_agg_s" -> meanSecs("core.scan_agg"),
      "core.disk_bytes_per_row" -> dirBytes(calc).toDouble / rows)
  }
}

object Sweep {
  /** The swept function: cheap and exact, so the engine is what is timed.
    * Its output is postfixed `_` (psweep's result-column convention), so
    * it stays out of `_pset_hash` when a schema change rehashes the rows. */
  val func: Map[String, Any] => Map[String, Any] = p =>
    Map("result_" -> (p("a").asInstanceOf[Long] * 3 + p("c").toString.length +
      p.get("d").map(_.asInstanceOf[Long]).getOrElse(0L)))
}

/** Read-only queries in a seeded order: each op builds one registered
  * query and counts it. The set covers scan, filter, aggregation, joins,
  * windows, as-of joins (`graft.ops.AsOf`), the interval joins that
  * `graft.plans.IntervalJoinRewrite` plans, and two bounded stream drains
  * through `graft.streaming.Monitor`: a windowed aggregation and the
  * ledgered quantile-sketch sink. Each cycle of the sequence is a seeded
  * permutation of the set and a window ends only after whole cycles, so
  * every run times the same multiset of queries, all warmed in set-up. */
final class Analytics(in: String, seed: Long) extends Workload {
  val names: Vector[String] = Vector("q_filter_proj", "q_agg_pricing",
    "q_join_stars", "q_join_semi", "q_window_rank", "q_dedup_first",
    "q_rollup_orders", "q_events_hourly", "q_events_sessionize",
    "q_events_asof", "q_events_attribution", "q_events_window_volume",
    "q_stream_windowed", "q_stream_quantiles")
  private val order = readJson(s"$in/order.json").asScala.toVector.flatMap(
    _.asScala.map(_.asInt).filter(_ < names.size).map(names))
  private var i = 0
  val seen = scala.collection.mutable.LinkedHashSet[String]()

  /** Every query once on the tiny tables, four at a time. */
  def warmup(spark: SparkSession): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map(q => pool.submit(() =>
        graft.SparkEntry.queries(q)(spark, s"$in/tiny").count()))
      .foreach(_.get())
    finally pool.shutdown()
  }

  override def hasNext: Boolean = i < order.size
  override def atBoundary: Boolean = i % names.size == 0

  def step(spark: SparkSession): OpResult = {
    val q = order(i)
    i += 1
    val df = Trace.span("queries.build", "queries")(graft.SparkEntry.queries(q)(spark, in))
    val n = Trace.span("spark.action", "spark.driver")(df.count())
    seen += q
    OpResult(q, 1L, rows = n)
  }

  /** The full result of a few seeded queries, written for the DuckDB
    * comparison (outside the timed window). */
  def writeSamples(spark: SparkSession, out: String, k: Int): Seq[String] = {
    val pick = new scala.util.Random(seed).shuffle(seen.toVector).take(k)
    pick.foreach(q => graft.SparkEntry.queries(q)(spark, in)
      .write.mode("overwrite").parquet(s"$out/$q"))
    pick
  }

  override def layerMetrics(cap: Capture): Map[String, Double] =
    Map("queries.build_s" -> meanSecs("queries.build"))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
