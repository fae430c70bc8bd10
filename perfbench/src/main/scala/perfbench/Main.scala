package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up three times (the last set-up is
  * kept; `setup_s` is their median), runs the workload closed-loop for
  * `--seconds`, checks outputs outside the timed window, and writes one
  * result JSON to `--out`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --in INPUT_DIR --work WORK_DIR --out RESULT_JSON
  */
object Main {
  final case class Op(name: String, startMs: Double, endMs: Double,
                      items: Long, rows: Long, error: Option[String]) {
    def secs: Double = (endMs - startMs) / 1e3
  }

  private def rootSpan(w: String) = if (w == "sweep") "sweep.round" else "analytics.query"

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"

  private def vmHwmMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) return Double.NaN
    java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat: time the
    * hypervisor ran something else while this guest's CPUs were ready. */
  private def cpuJiffies(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) return (0L, 0L)
    val v = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (v.length > 7) v(7) else 0L, v.sum)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val (in, work, out) = (a("in"), a("work"), a("out"))
    val cpus = 4
    val setups = 3

    val wl = Workloads(workload, in, work, seed)
    val cap = new Capture
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (k <- 0 until setups) {
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      if (trace && k == setups - 1) cap.register(spark)
      val tSession = (System.nanoTime() - t0) / 1e9
      wl.warmup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $k: session $tSession%.2f s, total ${setupS.last}%.2f s")
      if (k < setups - 1) stopSession(spark)
    }
    val calib = if (trace) Some((Calib.cpu(), Calib.io(spark))) else None

    // the measured window
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val (steal0, total0) = cpuJiffies()
    val ops = ArrayBuffer[Op]()
    val checks = ArrayBuffer[() => Option[String]]()
    Trace.on = trace
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var streak = 0
    while ((elapsed < seconds || !wl.atBoundary) && wl.hasNext && streak < 3) {
      Trace.op = ops.size
      val t0 = Trace.nowMs
      val r =
        try Right(Trace.span(rootSpan(workload), "harness")(wl.step(spark)))
        catch { case e: Exception => Left(errText(e)) }
      val t1 = Trace.nowMs
      r match {
        case Right(res) =>
          streak = 0
          ops += Op(res.name, t0, t1, res.items, res.rows, None)
          checks += res.check
        case Left(err) =>
          streak += 1
          System.err.println(s"[perfbench] op ${ops.size} failed: $err")
          ops += Op(rootSpan(workload), t0, t1, 0L, -1L, Some(err))
          checks += (() => None)
      }
      if (trace) cap.drain(spark)
    }
    val window = elapsed
    Trace.on = false
    val gcWindow = (gcMs() - gc0) / 1e3
    val stealShare = {
      val (steal1, total1) = cpuJiffies()
      if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    if (!wl.hasNext)
      System.err.println(s"[perfbench] inputs ran out after ${ops.size} ops")

    // output checks, outside the timed window
    val checked = ops.zip(checks).map { case (op, c) =>
      op.error.orElse(try c() catch { case e: Exception => Some(errText(e)) })
    }
    val finalErrs =
      try wl.finalChecks(spark) catch { case e: Exception => Seq(errText(e)) }
    // analytics: what run.py needs for the DuckDB comparison
    val extra = wl match {
      case an: Analytics =>
        val picked = an.writeSamples(spark, s"$work/out", 3)
        Seq("\"samples\":" + picked.map(Json.str(_)).mkString("[", ",", "]"),
          "\"oracle\":" + Json.obj(an.seen.toSeq.map(q =>
            q -> Json.str(graft.SparkEntry.oracleSql(q), Int.MaxValue))))
      case _ => Nil
    }

    val lat = ops.filter(_.error.isEmpty).map(_.secs).toSeq
    val items = ops.map(_.items).sum
    val e2e = Seq(
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> Stats.quantile(lat, 0.9),
      "throughput_per_s" -> items / window,
      "peak_rss_mb" -> vmHwmMb())

    val layer = ArrayBuffer[(String, Double)]()
    if (trace) {
      Trace.resolve()
      val n = math.max(1, ops.size)
      val per = ops.map(o => cap.jobStats(o.startMs, o.endMs))
      def mean(k: String) = per.map(_(k)).sum / n
      Seq("jobs", "stages", "tasks", "sched_delay_s", "task_run_s", "task_cpu_s",
        "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_failures")
        .foreach(k => layer += s"spark.$k" -> mean(k))
      val wall = ops.map(_.secs).sum
      layer += "spark.parallel_eff" -> per.map(_("task_dur_s")).sum / math.max(1e-9, wall * cpus)
      val ph = ops.map(o => cap.phaseStats(o.startMs, o.endMs))
      Seq("analysis", "optimization", "planning").foreach { p =>
        layer += s"spark.${p}_s" -> ph.map(_(p)).sum / n
      }
      val trig = ops.flatMap(o => cap.triggersIn(o.startMs, o.endMs))
      Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
        "wal_commit" -> "walCommit", "query_planning" -> "queryPlanning",
        "latest_offset" -> "latestOffset").foreach { case (m, k) =>
        layer += s"stream.${m}_s" -> trig.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / n
      }
      layer ++= wl.layerMetrics(cap)
      val (self, coverage) = Trace.layerReport(n)
      Seq("harness", "core", "queries", "stream", "spark.plan",
        "spark.exec", "spark.driver").foreach { l =>
        layer += s"self.${l.replace('.', '_')}_s" -> self.getOrElse(l, 0.0)
      }
      layer += "trace.coverage" -> coverage
      layer += "trace.op_p50_s" -> Stats.median(lat)
      layer += "trace.self_s" -> Trace.selfNs.get / 1e9 / n
      layer += "jvm.gc_s" -> gcWindow
      layer += "jvm.heap_peak_mb" -> heapPeakMb
      layer += "host.steal_share" -> stealShare
      calib.foreach { case (c, i) =>
        layer += "host.calib_cpu_s" -> c
        layer += "host.calib_io_s" -> i
      }
      Trace.writeJsonLines(s"$work/trace.jsonl")
    }

    val opsJson = ops.zip(checked).map { case (o, err) =>
      Json.obj(Seq("name" -> Json.str(o.name), "secs" -> Json.num(o.secs),
        "items" -> o.items.toString, "rows" -> o.rows.toString,
        "error" -> err.map(Json.str(_)).getOrElse("null")))
    }.mkString("[", ",", "]")
    val json = Seq(
      "\"setup_s\":" + setupS.map(Json.num).mkString("[", ",", "]"),
      "\"window_s\":" + Json.num(window),
      "\"steal_share\":" + Json.num(stealShare),
      "\"cpus\":" + cpus,
      "\"ops\":" + opsJson,
      "\"final_errors\":" + finalErrs.map(Json.str(_)).mkString("[", ",", "]"),
      "\"e2e\":" + Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "\"layer\":" + Json.obj(layer.map { case (k, v) => k -> Json.num(v) })) ++ extra
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.mkString("{", ",", "}\n"))
    // Everything the run made lives under `work`, which the next run
    // wipes; skip the shutdown of session and streams and end the JVM.
    Runtime.getRuntime.halt(0)
  }
}

/** Host noise probes, the same shapes `graft.Bench` records: a
  * single-threaded hash loop, and a small parquet round trip plus a
  * state-store-shaped burst of small-file writes and renames. */
object Calib {
  @volatile private var sink = 0L

  def cpu(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { h = h * 0x100000001B3L; h ^= (h >>> 33); i += 1 }
      sink = h
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }

  def io(spark: SparkSession): Double = {
    def once(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("perfbench-io-")
      try {
        val t0 = System.nanoTime()
        val p = s"$dir/probe.parquet"
        spark.range(0, 50000, 1, 4).selectExpr("id", "md5(cast(id as string)) as v")
          .write.mode("overwrite").parquet(p)
        require(spark.read.parquet(p).count() == 50000L, "probe lost rows")
        val ss = dir.resolve("state")
        java.nio.file.Files.createDirectories(ss)
        val payload = Array.fill[Byte](4096)(0x5A)
        for (i <- 0 until 256) {
          val tmp = ss.resolve(s"f$i.tmp")
          java.nio.file.Files.write(tmp, payload)
          java.nio.file.Files.move(tmp, ss.resolve(s"f$i"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        (System.nanoTime() - t0) / 1e9
      } finally graft.core.Fs.delete(dir.toString)
    }
    once()
    math.min(once(), once())
  }
}
