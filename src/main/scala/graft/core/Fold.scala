package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol for every persisted table the engine rewrites
  * in place: the incremental sketch/profile/reservoir folds, the online
  * classifier models, index compaction, and the database's own rewrites
  * ([[Database.swapIn]]). Layout beside a table directory `<path>`:
  *   - `<path>.__lock` — the single-writer lock file;
  *   - `<path>.__compact_tmp` — the replacement being staged;
  *   - `<path>.__old` — the live table, parked between the two renames;
  *   - `<path>/_graft_applied` — the applied-batch ledger, one id per
  *     line, INSIDE the table so ledger and data commit in one rename
  *     (underscore-prefixed: invisible to the parquet reader).
  *
  * A crash at any point leaves either the old or the new complete
  * (table, ledger) pair: before the first rename nothing changed;
  * between the two the old state sits at `.__old` and [[repairParked]]
  * restores it; after the second a stale `.__old` is dropped. */
object Fold {

  def lockPath(path: String): String = s"$path.__lock"

  private def oldPath(path: String): String = s"$path.__old"

  private def ledgerPath(dir: String): String = s"$dir/_graft_applied"

  /** Swap-commit one rewrite of the table at `path`, in a fixed order:
    *   1. create `<path>.__lock` — a second writer fails fast here;
    *   2. [[repairParked]] — under the lock, so it never races a live
    *      writer's renames;
    *   3. read the ledger — an already-applied `batchId` returns None
    *      without writing (exactly-once under at-least-once delivery);
    *   4. `build(tmp)` reads the current table and writes the
    *      replacement into the fresh staging dir `tmp` — under the lock,
    *      so an overlapping writer's update can never be folded over
    *      and lost; returning None declines the commit;
    *   5. write the ledger (existing ids + `batchId`) into `tmp` — an
    *      id-less fold carries recorded ids forward, never drops them;
    *   6. [[commit]] `tmp` into place; the lock is released on every
    *      exit (a crash leaves it: delete it, per the message).
    * Returns what `build` returned. */
  def swap[A](path: String, batchId: Option[String] = None)
             (build: String => Option[A]): Option[A] = {
    val lock = lockPath(path)
    if (!Fs.createExclusive(lock, s"pid=${ProcessHandle.current().pid()}"))
      throw new IllegalStateException(
        s"table $path is being updated by another writer; if that " +
          s"process crashed, delete $lock and re-run")
    try {
      repairParked(path)
      val applied = appliedIds(path)
      if (batchId.exists(applied.contains)) None
      else {
        val tmp = stage(path)
        val out = build(tmp)
        if (out.isDefined) {
          val ids = applied ++ batchId
          if (ids.nonEmpty)
            Fs.writeString(ledgerPath(tmp), ids.toSeq.sorted.mkString("\n"))
          commit(path, tmp)
        }
        out
      }
    } finally Fs.delete(lock)
  }

  /** [[swap]] for a one-file parquet table: `merge` maps the current
    * table (None while absent) to its replacement. Returns the committed
    * table (also on a ledger hit). */
  def swapTable(spark: SparkSession, path: String,
                batchId: Option[String] = None)
               (merge: Option[DataFrame] => DataFrame): DataFrame = {
    swap(path, batchId) { tmp =>
      val current = Fs.parquetOpt(spark, path)
      // the tmp write executes the merge plan (which reads the live
      // table) before any rename touches it — no lineage hazard
      Some(merge(current).coalesce(1).write.mode("overwrite").parquet(tmp))
    }
    Fs.parquet(spark, path)
  }

  /** The cleared staging directory for a rewrite of `path` (a crashed
    * predecessor's partial output is dropped). Call under the lock. */
  def stage(path: String): String = {
    val tmp = s"$path.__compact_tmp"
    Fs.delete(tmp)
    tmp
  }

  /** Swap the fully written `tmp` into place. Never delete-then-rename
    * the live path: the previous state is parked at `.__old` until the
    * new data is in place. Call under the lock. */
  def commit(path: String, tmp: String): Unit = {
    val old = oldPath(path)
    Fs.delete(old)
    if (Fs.exists(path)) Fs.rename(path, old)
    Fs.rename(tmp, path)
    Fs.delete(old)
  }

  /** Batch ids already folded into the table at `path` (empty for a
    * missing or pre-ledger table). */
  private def appliedIds(path: String): Set[String] = {
    val p = ledgerPath(path)
    if (!Fs.exists(p)) Set.empty
    else Fs.readString(p).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).toSet
  }

  /** Guard + repair for every lock-free READ path of a swapped table or
    * append-shaped index. A present lock means a rewrite is running or
    * died mid-swap — either way the state is unknowable from here, so
    * reading FAILS FAST with the remedy instead of silently treating a
    * parked (renamed-away) index as empty, which would re-keep the
    * entire history's duplicates and bury the original under a fresh
    * index. With no lock, parked state is repaired. Idempotent. */
  def recoverIndex(path: String): Unit = {
    val lock = lockPath(path)
    if (Fs.exists(lock))
      throw new IllegalStateException(
        s"index $path has a compaction lock at $lock — a " +
          "compaction is running (wait for it) or crashed (delete the " +
          "lock; the next read repairs any parked state). Reading " +
          "through the lock could silently see an empty index and " +
          "re-keep every historical duplicate")
    repairParked(path)
  }

  /** The `.__old` repair itself: present WITHOUT the table means a crash
    * between the two renames — restore the parked state; WITH the table
    * present it is post-swap residue — drop it. Safe only with no live
    * writer: lock-free readers go through [[recoverIndex]], writers call
    * it holding the lock. */
  def repairParked(path: String): Unit = {
    val old = oldPath(path)
    if (Fs.exists(old)) {
      if (!Fs.exists(path)) Fs.rename(old, path)
      else Fs.delete(old)
    }
  }
}
