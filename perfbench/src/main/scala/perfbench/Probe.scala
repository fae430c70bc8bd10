package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional for
  * driver spans, whole for listener events). `parent` is -1 until
  * [[Trace.resolve]] places listener events under the innermost driver
  * span that contains them. */
final class Span(val id: Int, val name: String, val layer: String,
                 val op: Int, var parent: Int, val start: Double,
                 var end: Double) {
  def dur: Double = end - start
}

/** The span recorder of the traced run. Driver spans nest on the one
  * client thread; listener events arrive later on the listener bus and
  * are parented by time containment. Everything stays in memory until
  * [[writeJsonLines]] at exit. */
object Trace {
  @volatile var on = false
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile var op: Int = -1
  /** Time spent inside the tracer and its listeners (listener queues run
    * on several threads). */
  val selfNs = new java.util.concurrent.atomic.AtomicLong(0L)

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val s = spans.synchronized {
        val s = new Span(spans.size, name, layer, op,
          stack.headOption.map(_.id).getOrElse(-1), nowMs, Double.NaN)
        spans += s
        s
      }
      stack = s :: stack
      try f
      finally {
        s.end = nowMs
        stack = stack.tail
      }
    }

  def event(name: String, layer: String, start: Double, end: Double): Unit =
    if (on) {
      val c0 = System.nanoTime()
      spans.synchronized {
        spans += new Span(spans.size, name, layer, -1, -1, start, end)
      }
      selfNs.addAndGet(System.nanoTime() - c0)
    }

  /** Place each listener event under the innermost span of its op that
    * contains it: a driver span containing its start, or another event
    * (a trigger holds the jobs of its micro-batch) containing all of it.
    * The op is the one whose root span contains the event's start. */
  def resolve(): Unit = {
    val c0 = System.nanoTime()
    val roots = spans.filter(s => s.op >= 0 && s.parent < 0)
    val events = spans.filter(_.op < 0)
    val opOfEvent = events.flatMap(e =>
      roots.find(r => r.start <= e.start && e.start <= r.end).map(r => e.id -> r.op)).toMap
    val driverByOp = spans.filter(_.op >= 0).groupBy(_.op)
    val eventsByOp = events.filter(e => opOfEvent.contains(e.id)).groupBy(e => opOfEvent(e.id))
    events.foreach { e =>
      opOfEvent.get(e.id).foreach { op =>
        val driver = driverByOp(op).filter(d => d.start <= e.start && e.start <= d.end)
        val enclosing = eventsByOp(op).filter(c => c.id != e.id &&
          c.start <= e.start && e.end <= c.end && c.dur > e.dur)
        e.parent = (driver ++ enclosing).maxBy(c => (c.start, -c.dur)).id
      }
    }
    selfNs.addAndGet(System.nanoTime() - c0)
  }

  private def opOf(s: Span): Int =
    if (s.op >= 0) s.op else if (s.parent >= 0) opOf(spans(s.parent)) else -1

  /** Self time per span: its duration minus the union of its children's
    * intervals (clipped to the span), so overlapping children count once. */
  def selfTimes(): Map[Int, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN || a > ce) {
          if (!cs.isNaN) covered += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Per layer, the mean self seconds per op; plus the share of each op's
    * wall time that its child spans account for (min over ops). */
  def layerReport(nOps: Int): (Map[String, Double], Double) = {
    val self = selfTimes()
    val attributed = spans.filter(s => opOf(s) >= 0)
    val perLayer = attributed.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1000.0 / math.max(1, nOps)
    }
    val roots = spans.filter(s => s.op >= 0 && s.parent < 0)
    val coverage =
      if (roots.isEmpty) 0.0
      else roots.map(r => 1.0 - self(r.id) / math.max(r.dur, 1e-9)).min
    (perLayer, coverage)
  }

  def writeJsonLines(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"op":${opOf(s)},"parent":${s.parent},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Spark's own listeners, registered from the benchmark: job, stage and
  * task metrics ([[SparkListener]]), planning phases
  * ([[QueryExecutionListener]]) and micro-batch progress
  * ([[StreamingQueryListener]]). Raw records are kept; per-op sums are
  * taken after the listener bus drains. */
object Capture {
  final case class Job(id: Int, start: Long, stages: Seq[Int])
  final class StageAgg {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, schedMs, durMs = 0L
    var shufRead, shufWrite, spill = 0L
  }
  final case class Phase(name: String, start: Long, end: Long)
  final case class Trigger(start: Long, durations: Map[String, Long])
}

final class Capture {
  import Capture._
  val jobs = ArrayBuffer[Job]()
  val stages = scala.collection.mutable.Map[Int, StageAgg]()
  val phases = ArrayBuffer[Phase]()
  val triggers = ArrayBuffer[Trigger]()

  private def timed(f: => Unit): Unit = {
    val c0 = System.nanoTime()
    synchronized(f)
    Trace.selfNs.addAndGet(System.nanoTime() - c0)
  }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.reverseIterator.find(_.id == e.jobId).foreach { j =>
        Trace.event("spark.job", "spark.exec", j.start.toDouble, e.time.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failures += 1
      val m = e.taskMetrics
      val d = e.taskInfo.duration
      a.durMs += d
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.schedMs += math.max(0L, d - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
      }
    }
  }

  val qe: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, q: QueryExecution, ns: Long): Unit =
      timed {
        q.tracker.phases.foreach { case (name, p) =>
          phases += Phase(name, p.startTimeMs, p.endTimeMs)
          Trace.event(s"spark.$name", "spark.plan", p.startTimeMs.toDouble,
            p.endTimeMs.toDouble)
        }
      }
    override def onFailure(f: String, q: QueryExecution, e: Exception): Unit = ()
  }

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        val p = e.progress
        if (p.numInputRows > 0) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
            .asScala.map { case (k, v) => k -> v.longValue }.toMap
          triggers += Trigger(start, d)
          Trace.event("stream.trigger", "stream", start.toDouble,
            (start + d.getOrElse("triggerExecution", 0L)).toDouble)
        }
      }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(qe)
    s.streams.addListener(stream)
  }

  def drain(s: SparkSession): Unit =
    org.apache.spark.perfbenchshim.Bus.drain(s.sparkContext)

  /** Sums over the jobs that started inside [startMs, endMs]. */
  def jobStats(startMs: Double, endMs: Double): Map[String, Double] = synchronized {
    val js = jobs.filter(j => j.start >= startMs - 1 && j.start <= endMs + 1)
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
    def sum(f: StageAgg => Long) = ss.map(f).sum.toDouble
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> sum(_.tasks),
      "task_failures" -> sum(_.failures),
      "task_run_s" -> sum(_.runMs) / 1e3,
      "task_dur_s" -> sum(_.durMs) / 1e3,
      "task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "gc_s" -> sum(_.gcMs) / 1e3,
      "sched_delay_s" -> sum(_.schedMs) / 1e3,
      "shuffle_read_mb" -> sum(_.shufRead) / 1e6,
      "shuffle_write_mb" -> sum(_.shufWrite) / 1e6,
      "spill_mb" -> sum(_.spill) / 1e6)
  }

  /** Planning-phase seconds of the queries whose phase began in the window. */
  def phaseStats(startMs: Double, endMs: Double): Map[String, Double] = synchronized {
    val ps = phases.filter(p => p.start >= startMs - 1 && p.start <= endMs + 1)
    Seq("analysis", "optimization", "planning").map { n =>
      n -> ps.filter(_.name == n).map(p => p.end - p.start).sum / 1e3
    }.toMap
  }

  def triggersIn(startMs: Double, endMs: Double): Seq[Trigger] = synchronized {
    triggers.filter(t => t.start >= startMs - 1 && t.start <= endMs + 1).toSeq
  }
}

/** Minimal JSON writing: numbers with all their digits, strings escaped
  * and capped so error text can never break the result line. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def str(s: String, cap: Int = 400): String = {
    val t = if (s == null) "" else if (s.length > cap) s.take(cap) + "..." else s
    val sb = new StringBuilder("\"")
    t.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
