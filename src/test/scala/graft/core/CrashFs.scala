package graft.core

import java.io.{IOException, OutputStream}
import java.net.URI

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator

/** Test-only local filesystem under the `crashfs` scheme (registered
  * through `META-INF/services/org.apache.hadoop.fs.FileSystem`, so both
  * [[Fs]] and Spark's readers/writers resolve `crashfs:///...` paths to
  * it). It behaves like the raw local filesystem, but every create,
  * rename and delete is first reported to [[CrashFs]], which can record
  * the sequence, kill the "process" before the Nth matching step, or run
  * a callback there (a racing writer). */
class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = CrashFs.scheme
  override def getUri: URI = URI.create(s"${CrashFs.scheme}:///")

  // every create/append of RawLocalFileSystem funnels through here
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): OutputStream =
    CrashFs.step("create", f)(
      super.createOutputStreamWithMode(f, append, permission))

  override def rename(src: Path, dst: Path): Boolean =
    CrashFs.step("rename", src)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    CrashFs.step("delete", p)(super.delete(p, recursive))
}

object CrashFs {
  val scheme = "crashfs"

  /** One mutation: `op` on the scheme-less absolute `path` (the source
    * of a rename). */
  final case class Step(op: String, path: String)

  private final case class Hook(matches: Step => Boolean, var left: Int,
                                action: Step => Unit)

  private var trace: Option[ArrayBuffer[Step]] = None
  private var hook: Option[Hook] = None
  @volatile private var down = false
  // nested calls (a rename that deletes internally) are one step
  private val inStep = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private def step[A](op: String, p: Path)(body: => A): A = {
    if (inStep.get) return body
    val s = Step(op, p.toUri.getPath)
    val fire = synchronized {
      if (down) throw new IOException(s"crashfs: process is down ($s)")
      trace.foreach(_ += s)
      hook.filter(_.matches(s)).flatMap { h =>
        h.left -= 1
        if (h.left > 0) None else { hook = None; Some(h.action) }
      }
    }
    fire.foreach(_(s))
    inStep.set(true)
    try body finally inStep.set(false)
  }

  /** Run `f`, returning the steps it performed. */
  def record(f: => Unit): Seq[Step] = {
    val buf = ArrayBuffer.empty[Step]
    synchronized { trace = Some(buf) }
    try f finally synchronized { trace = None }
    synchronized(buf.toList)
  }

  /** Run `action` once, just before the first step matching `matches`
    * inside `f` (steps taken by `action` itself are not matched). */
  def before[A](matches: Step => Boolean)(action: => Unit)(f: => A): A = {
    synchronized { hook = Some(Hook(matches, 1, _ => action)) }
    try f finally synchronized { hook = None }
  }

  /** Run `f`, killing the process just before the `nth` step matching
    * `matches`: that step and every later mutation fail, as after a real
    * crash — so `finally` blocks cannot release locks either. Returns
    * whether the crash point was reached; the filesystem is back up
    * afterwards (the restart). */
  def crashBefore(matches: Step => Boolean, nth: Int)(f: => Unit): Boolean = {
    val hit = new java.util.concurrent.atomic.AtomicBoolean(false)
    synchronized {
      hook = Some(Hook(matches, nth, s => {
        hit.set(true)
        down = true
        throw new IOException(s"crashfs: injected crash before $s")
      }))
    }
    val levels = noisy.map(n => n -> LogManager.getLogger(n).getLevel)
    noisy.foreach(Configurator.setLevel(_, Level.OFF))
    try f
    catch { case _: Exception if hit.get => () }
    finally {
      awaitIdle()
      synchronized { hook = None; down = false }
      levels.foreach { case (n, l) => Configurator.setLevel(n, l) }
    }
    hit.get
  }

  /** Loggers that report each injected crash with a stack trace. */
  private val noisy = Seq("org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager", "org.apache.spark.util.Utils",
    "org.apache.spark.sql.execution.datasources.FileFormatWriter",
    "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol")

  /** A crash inside a Spark task fails its job; wait until the job's
    * other tasks are gone so none of them writes after the restart. */
  private def awaitIdle(): Unit = {
    val tracker = graft.SparkSpec.spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
      System.nanoTime() < deadline) Thread.sleep(20)
  }
}
