package graft.core

import org.apache.spark.sql.Dataset

/** Eager materialization ("pinning") of an intermediate frame, with the
  * fault-tolerance mode chosen per session — the engine-wide answer to
  * the round-15 verdict's reliability finding.
  *
  * Every pin in the engine is per-invocation scratch: a frame computed
  * once and read 2+ times within one query/lifecycle call (candidate
  * sets, gated outputs, signature tables), never reused across runs.
  * `localCheckpoint` is the right default for that shape — eager,
  * executor-local blocks, no distributed-FS round trip — but it is NOT
  * fault-tolerant: the blocks die with their executor, so on a cluster
  * with dynamic allocation (or any executor loss) the consuming query
  * FAILS instead of recomputing. On `local[*]` the executor is the
  * driver, so the distinction is moot.
  *
  * The trade follows the session: a reliable `checkpoint()` when it
  * has a checkpoint dir (`SparkContext.setCheckpointDir` — the cluster
  * deployment shape, where the dir points at durable shared storage
  * and pins survive executor loss), `localCheckpoint()` otherwise
  * (single-JVM runs; an executor loss aborts loudly instead of
  * recomputing through lost state). This is [[graft.ops.Tokenize]]'s
  * long-standing `truncateLineage` rule, promoted engine-wide.
  *
  * Values are identical either way — both checkpoints materialize the
  * SAME rows this plan computed; only where the blocks live (and hence
  * what survives executor loss) differs. An eager reliable checkpoint
  * writes its files in the job that computes the plan, so it needs no
  * cache to avoid a second computation. PinSpec pins the selection,
  * value-identity, and that a reliable pin computes its plan once.
  */
object Pin {
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    // label the eager materialization job with the CALLER's site — the
    // helper would otherwise collapse every pin in the engine onto one
    // "localCheckpoint at Pin.scala" line in the UI and the job-level
    // profiler, losing exactly the attribution the optimization guide
    // says to keep (§1.5)
    val site = Thread.currentThread().getStackTrace
      .find { e =>
        val c = e.getClassName
        !c.startsWith("graft.core.Pin") && !c.startsWith("java.") &&
          !c.startsWith("jdk.") && !c.startsWith("scala.")
      }
      .map(e => s"${e.getFileName}:${e.getLineNumber}")
      .getOrElse("unknown")
    val sc = ds.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"pin at $site")
    try {
      if (sc.getCheckpointDir.isDefined) ds.checkpoint(eager = true)
      else ds.localCheckpoint(true)
    } finally sc.setJobDescription(prevDesc)
  }

  /** Syntax: `df.pinned()` — so pin sites read like the
    * `localCheckpoint(true)` calls they replace. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned(): Dataset[T] = pin(ds)
  }
}
