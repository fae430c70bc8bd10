package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The results database: an append-only, Parquet-backed, `_run_id`-
  * partitioned table replacing the reference's single rewritten pickle
  * (ref psweep.py:36,1401-1407,1487-1488; deliberate deviation SURVEY §4.3
  * — the representation changes, the semantics don't).
  *
  * Scale design:
  *   - appends write only the new run's partition; old data is never
  *     touched except on pset-schema growth, where the hash column must be
  *     recomputed (ref psweep.py:690-710) — a single distributed rewrite;
  *   - a [[Study]] run writes
  *     `max(1, min(nParts, ceil(cachedBytes / maxPartitionBytes)))`
  *     files: its cached result size over
  *     `spark.sql.files.maxPartitionBytes`, within one and its `nParts`
  *     execution partitions, so a small run is one file and a large one
  *     still writes in parallel;
  *   - [[read]] merges the schema through [[Fs.parquet]]'s footer cache:
  *     a read of an unchanged db starts no Spark job, and the first read
  *     after an append reads only the new files' footers, on the driver;
  *   - a [[Study]] round learns its counters, its skip-dups hits and its
  *     `_pset_id` collisions from ONE column-pruned `mapPartitions` job
  *     over the base, with or without a skip manifest: the probe sets
  *     ride its closure, and the driver merges the per-partition
  *     partials;
  *   - the opt-in skip manifest prunes reads only: [[lookupAll]],
  *     [[asOf]] and [[changes]] read the files its per-file ranges keep
  *     ([[pruned]]), and [[asOfTime]] resolves commit times from it.
  *
  * Every public read recovers a crashed swap ([[recover]]) once at its
  * entry; the internals below it never recover again.
  */
class Database(val spark: SparkSession, val calcDir: String,
               val basename: String = "database") {

  val dbPath: String = s"$calcDir/$basename"

  // this db is an ENGINE-OWNED store: sizing probes over frames read
  // from it persist under `$dbPath/_graft_stats` by default (the
  // underscore dir is invisible to the parquet reader, like
  // `_graft_skip`), so a fresh process serves them without re-probing;
  // read-only inputs stay opt-in via Stats.enablePersistence. The
  // fingerprint (path + len + mtime of every input file) makes a stale
  // serve impossible across appends/rewrites. Construction registers
  // the tier READ-ONLY (a purely read-only consumer serves persisted
  // entries but never writes into a directory it does not own); the
  // first write-lock acquisition — the single-writer claim every
  // mutation passes through — upgrades it writable. [[close]]
  // unregisters, so long-lived sessions over many transient dbs do
  // not accumulate registry entries.
  graft.ops.Stats.registerStore(dbPath, s"$dbPath/_graft_stats",
    writable = false)

  /** Release this handle's process-global side effects (the stats-
    * store registration). Idempotent; the handle stays usable for
    * reads afterwards, just without the persisted stats tier. */
  def close(): Unit = {
    graft.ops.Stats.unregisterStore(dbPath)
    Fs.forgetFooters(dbPath)
    ()
  }

  /** Single-writer lock file. The database supports ONE writer at a time
    * (same contract as the reference's pickle database); the lock turns a
    * silent race into a loud error. */
  val lockPath: String = Fold.lockPath(dbPath)

  def exists: Boolean = { recover(); present }

  /** [[exists]] without the recovery step. */
  private def present: Boolean = Fs.listNames(dbPath).nonEmpty

  /** Recover from a crash mid-swap ([[swapIn]] windows): a crash between
    * the two renames leaves the data under `.__old` — restore it; a crash
    * after the second rename leaves a stale `.__old` next to a complete
    * db — drop it. Idempotent and cheap (two existence checks), called on
    * every read path.
    *
    * A LIVE lock suppresses recovery: `.__old` + lock means a writer is
    * mid-swap right now, and a concurrent reader restoring `.__old`
    * between the writer's two renames would make the writer's final
    * rename land on an occupied path. After a CRASH the lock is stale by
    * definition — delete it (per [[withWriteLock]]'s error message) and
    * the next read or write restores the parked state. */
  def recover(): Unit =
    if (!Fs.exists(lockPath)) Fold.repairParked(dbPath)

  /** Run `f` holding the database's single-writer lock. Concurrent
    * mutators fail fast with the holder's identity instead of corrupting
    * the store. A crashed holder leaves a stale lock: remove `lockPath`
    * manually after confirming the writer is gone. The first acquisition
    * repairs a crashed SWAP's parked state before `f` reads anything —
    * the caller's own lock suppresses [[recover]], so without it a
    * writer would see the parked db as empty and commit over it.
    *
    * Reentrant WITHIN one Database handle FOR THE OWNING THREAD only:
    * [[graft.core.Study]] holds the lock across its whole disk-backed
    * mutation pipeline — counter read, rehash, append — so the nested
    * per-operation acquisitions on that thread must pass through
    * instead of self-deadlocking. A DIFFERENT thread of the same
    * process falls through to the lock-file acquisition and fails fast
    * there (a handle-wide boolean would silently admit it — silent
    * concurrent mutation, the exact corruption the lock exists to
    * prevent). Cross-process and cross-handle exclusion rides the lock
    * FILE. */
  def withWriteLock[A](f: => A): A = {
    val me = Thread.currentThread().getId
    if (lockOwner.get() == me) return f
    val info = s"pid=${ProcessHandle.current().pid()} " +
      s"thread=$me acquired=${java.time.Instant.now()}"
    if (!Fs.createExclusive(lockPath, info)) {
      val holder =
        try Fs.readString(lockPath) catch { case _: Exception => "unknown" }
      throw new IllegalStateException(
        s"database $dbPath is locked by another writer ($holder); " +
          "the store is single-writer. If that process crashed, delete " +
          s"$lockPath and re-run.")
    }
    lockOwner.set(me)
    // write intent proven: this handle owns the store — its stats tier
    // may now write (lazily created under the existing db dir)
    graft.ops.Stats.registerStore(dbPath, s"$dbPath/_graft_stats")
    try { Fold.repairParked(dbPath); f }
    finally { lockOwner.set(-1L); Fs.delete(lockPath) }
  }

  /** Thread id of the in-process lock holder, -1 when unheld. */
  private val lockOwner = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Rewrite the database: `build` writes the replacement into a fresh
    * staging dir, which [[Fold.commit]] swaps into place — every crash
    * point leaves the old or the new complete state recoverable
    * ([[recover]]). Call under [[withWriteLock]]. */
  private[core] def swapIn(build: String => Unit): Unit = {
    val tmp = Fold.stage(dbPath)
    build(tmp)
    Fold.commit(dbPath, tmp)
  }

  /** Read the database; schemas of all appended runs are unioned
    * (missing columns read as null — the Parquet analog of the
    * reference's NA-fill on append, ref psweep.py:707-709). */
  def read(): DataFrame = { recover(); scan() }

  def readOpt(): Option[DataFrame] = { recover(); scanOpt() }

  private def scanOpt(): Option[DataFrame] =
    if (present) Some(scan()) else None

  /** [[read]] without the recovery step. */
  private def scan(): DataFrame = Fs.parquet(spark, dbPath, mergeSchema = true)

  /** Append new rows (one run) as a new `_run_id` partition. When the
    * opt-in skip manifest exists ([[optimizeLayout]] /
    * [[rebuildSkipManifest]]), the new files' stats are appended
    * incrementally — one scan of the NEW files only, never the db. */
  def append(df: DataFrame): Unit = withWriteLock {
    // the commit marker must not attest manifest completeness while the
    // new partition's files exist without manifest rows — drop it
    // BEFORE the data lands; updateSkipManifest re-writes it after the
    // fresh stats commit (a crash in between degrades the pruned reads
    // to the plain scan, never to wrong answers)
    if (Fs.exists(manifestDir)) Fs.delete(commitMarker)
    df.write.mode("append").partitionBy("_run_id").parquet(dbPath)
    updateSkipManifestUnlocked()
  }

  // ---------------------------------------------------------------- //
  // physical layout: clustering + file-level skip manifest
  // ---------------------------------------------------------------- //

  /** The db's file-level skip manifest (`_graft_skip` inside the db
    * dir, so crash-swap parking moves data and manifest atomically):
    * one row per data file with min/max of `xxhash64(_pset_id)`. With
    * the db clustered on that hash ([[optimizeLayout]]), a point
    * lookup ([[lookup]] / [[extractRow]]) prunes to the one file whose
    * hash range covers the probe — the reference's `_pset_id` row
    * extraction (ref psweep.py:798-831) served as a manifest-prunable
    * scan instead of a full pass, which is exactly what it must be at
    * 100 TB. Underscore-prefixed, so plain readers and [[read]] never
    * see it. */
  private val manifestDir: String = s"$dbPath/_graft_skip"

  /** Completeness marker (`_graft_skip_commit` inside the db dir, so
    * crash-swap parking moves data, manifest, and marker atomically):
    * present ⇒ every data file is covered by manifest rows, because
    * every mutation deletes it BEFORE data lands and re-writes it only
    * AFTER the manifest caught up, all under the single-writer lock.
    * Only with the marker do the manifest-served reads use the manifest;
    * without it (a crash window, or a pre-marker manifest) they fall
    * back to the plain scan — pruning degrades, never correctness. */
  private val commitMarker: String = s"$dbPath/_graft_skip_commit"

  /** Columns the manifest's readers need; an older manifest lacking
    * them is fully rebuilt on the next maintenance pass, a manifest
    * carrying more (older writers kept seq and hash ranges for the
    * write path) is appended to as it is. */
  private val manifestCols = Seq("file", "rows", "pid_hmin", "pid_hmax",
    "run_seq_min", "run_seq_max", "time_utc_max")

  private def normalizePath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  def hasSkipManifest: Boolean = { recover(); Fs.exists(manifestDir) }

  /** Manifest present AND attested complete by the commit marker. */
  def manifestFresh: Boolean = { recover(); fresh }

  /** [[manifestFresh]] without the recovery step. */
  private def fresh: Boolean =
    Fs.exists(manifestDir) && Fs.exists(commitMarker)

  private def fileStats(src: DataFrame): DataFrame = {
    def opt(name: String, c: Column, t: DataType): Column =
      if (src.columns.contains(name)) c else lit(null).cast(t)
    src.select(
        regexp_replace(input_file_name(), "^file:/+", "/").as("file"),
        xxhash64(col("_pset_id")).as("__h"),
        opt("_run_seq", col("_run_seq").cast(LongType), LongType).as("__rs"),
        opt("_time_utc", col("_time_utc").cast(TimestampType),
          TimestampType).as("__t"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("rows"),
        min(col("__h")).as("pid_hmin"), max(col("__h")).as("pid_hmax"),
        min(col("__rs")).as("run_seq_min"),
        max(col("__rs")).as("run_seq_max"),
        max(col("__t")).as("time_utc_max"))
  }

  /** Full manifest rebuild: one column-pruned scan of the db. */
  def rebuildSkipManifest(): Unit = withWriteLock {
    require(present, s"no database at $dbPath")
    rebuildSkipManifestUnlocked()
  }

  private def rebuildSkipManifestUnlocked(): Unit = {
    Fs.delete(commitMarker)
    val tmp = s"$dbPath/_graft_skip_tmp"
    Fs.delete(tmp)
    fileStats(scan()).coalesce(1).write.mode("overwrite").parquet(tmp)
    Fs.delete(manifestDir)
    Fs.rename(tmp, manifestDir)
    Fs.writeString(commitMarker, s"committed=${java.time.Instant.now()}")
  }

  /** Incremental maintenance: stat only files absent from the
    * manifest (an append's new partition). No-op while the manifest
    * does not exist — the layout machinery is opt-in. A manifest
    * missing any of [[manifestCols]] is fully rebuilt once instead of
    * appended to with a mismatched schema. */
  private def updateSkipManifestUnlocked(): Unit = {
    if (!Fs.exists(manifestDir)) return
    Fs.delete(commitMarker)
    val m = Fs.parquet(spark, manifestDir)
    if (!manifestCols.forall(m.columns.contains)) {
      rebuildSkipManifestUnlocked(); return
    }
    val known = m.select(col("file"))
      .collect().map(r => normalizePath(r.getString(0))).toSet
    val db = scan()
    val added = db.inputFiles.map(normalizePath).filterNot(known)
    if (added.nonEmpty) {
      val src = spark.read.option("basePath", dbPath).schema(db.schema)
        .parquet(added.toIndexedSeq: _*)
      fileStats(src).coalesce(1).write.mode("append").parquet(manifestDir)
    }
    Fs.writeString(commitMarker, s"committed=${java.time.Instant.now()}")
  }

  /** `scan().filter(probe)`, read from only the data files whose
    * manifest row passes `keep` — the one read path of [[lookupAll]],
    * [[asOf]] and [[changes]]. The manifest is used only when it is
    * fresh (so it lists every data file) and carries `cols`; otherwise
    * this is the plain filter scan. `keep` sees one manifest row's
    * `cols`, in order, and must keep any file that may hold a matching
    * row (a null bound cannot attest a miss). The probe is always
    * re-applied — pruning is an optimization, never a filter. */
  private def pruned(probe: Column, cols: String*)(
      keep: Row => Boolean): DataFrame = {
    val m = if (fresh) Some(Fs.parquet(spark, manifestDir)) else None
    m.filter(df => cols.forall(df.columns.contains)) match {
      case None => scan().filter(probe)
      case Some(df) =>
        val files = df.select(cols.map(col) :+ col("file"): _*).collect()
          .filter(keep).map(r => normalizePath(r.getString(cols.size)))
        if (files.isEmpty) scan().filter(probe).limit(0)
        else spark.read.option("basePath", dbPath).schema(scan().schema)
          .parquet(files.toIndexedSeq: _*).filter(probe)
    }
  }

  /** xxhash64 of each probe under Spark's own implementation (the one
    * the manifest ranges were built with). */
  private def hashProbes(vs: Seq[String]): Array[Long] =
    spark.createDataset(vs.distinct)(
        org.apache.spark.sql.Encoders.STRING)
      .select(xxhash64(col("value"))).collect().map(_.getLong(0))

  /** Opt-in clustered rewrite of the whole db into ~`numFiles` files,
    * plus a fresh skip manifest. Default clustering key is
    * `xxhash64(_pset_id)` — each file covers a narrow hash range, so
    * a point lookup touches ONE file per run. Pass numeric `zCols` to
    * Z-order instead (multi-column box locality, [[graft.ops.Layout]]),
    * trading point-lookup pruning for range pruning. One range shuffle
    * (a global sort's cost), paid once at layout time — the
    * `OPTIMIZE`/`ZORDER` maintenance action of a lakehouse table,
    * expressed on the plain-parquet db. Values, schema, and the
    * `_run_id` partitioning are unchanged (DatabaseSpec pins it). */
  def optimizeLayout(numFiles: Int, zCols: Seq[String] = Seq.empty,
                     bits: Int = 12): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    withWriteLock {
      if (present) {
        val df = scan()
        val key: Column =
          if (zCols.isEmpty) xxhash64(col("_pset_id"))
          else if (zCols.size == 1) col(zCols.head).cast("long")
          else {
            val r = df.select(zCols.flatMap(c =>
              Seq(min(col(c).cast("long")), max(col(c).cast("long")))): _*)
              .head()
            val grids = zCols.zipWithIndex.map { case (c, i) =>
              graft.ops.Layout.gridCoord(col(c).cast("long"),
                r.getLong(2 * i), r.getLong(2 * i + 1), bits)
            }
            graft.ops.Layout.zValue(grids, bits)
          }
        swapIn(df.withColumn("__graft_ck", key)
          .repartitionByRange(numFiles, col("_run_id"), col("__graft_ck"))
          .sortWithinPartitions(col("_run_id"), col("__graft_ck"))
          .drop("__graft_ck")
          .write.mode("overwrite").partitionBy("_run_id").parquet(_))
        rebuildSkipManifestUnlocked()
      }
    }
  }

  /** Point lookup by `_pset_id`, served through a fresh skip manifest:
    * keep files whose hash range covers the probe, re-apply the exact
    * predicate ([[pruned]]). Without one (no manifest, or the crash
    * window between a data append and its manifest rows) it is the
    * plain filter scan — pruning is an optimization, never a filter. */
  def lookup(psetId: String): DataFrame = lookupAll(Seq(psetId))

  /** Batch form of [[lookup]]: rows for ANY of `psetIds`, pruned to
    * the union of each probe's manifest-matching files. With a
    * clustered layout, m probes read ~m files of a million-file table
    * instead of scanning it m times — the shape of a training-run's
    * "fetch these specific psets" follow-up at 100 TB. */
  def lookupAll(psetIds: Seq[String]): DataFrame = {
    recover()
    require(psetIds.nonEmpty, "need at least one _pset_id")
    lazy val hs = hashProbes(psetIds)
    pruned(col("_pset_id").isin(psetIds: _*), "pid_hmin", "pid_hmax") { r =>
      r.isNullAt(0) || hs.exists(h => r.getLong(0) <= h && h <= r.getLong(1))
    }
  }

  /** Time travel: the database as of run `runSeq` — every row with
    * `_run_seq <= runSeq`, i.e. exactly the frame a reader saw after
    * that run committed (the append-only run log never rewrites
    * history, so every past state is addressable by the reference's
    * own run counter, ref psweep.py:1409-1415 — the lakehouse
    * `VERSION AS OF`, for free). Scale path: each `_run_id` partition
    * carries ONE `_run_seq`, so a fresh manifest resolves the
    * qualifying files from its per-file `run_seq_min` (a file whose
    * EARLIEST row is already past `runSeq` holds no history; min, not
    * max, so a file holding ANY qualifying row is always kept and the
    * re-applied predicate trims the rest) — zero data
    * files touched beyond the ones the historical frame actually
    * holds, and a 10-run read of a 10,000-run db lists nothing.
    * Fallback without an attested manifest is the plain filter, which
    * still partition-prunes at execution (per-file constant
    * `_run_seq` ⇒ row-group stats skip whole files). The predicate is
    * always re-applied — pruning is an optimization, never a
    * filter. */
  def asOf(runSeq: Long): DataFrame = { recover(); asOfRecovered(runSeq) }

  private def asOfRecovered(runSeq: Long): DataFrame =
    pruned(col("_run_seq") <= runSeq, "run_seq_min")(r =>
      r.isNullAt(0) || r.getLong(0) <= runSeq)

  /** Time travel by WALL CLOCK: the database as of instant `ts` —
    * [[asOf]] of the latest run whose COMMIT TIME (the max `_time_utc`
    * across its rows, the reference's own per-run bookkeeping,
    * ref psweep.py:1216-1217) is ≤ `ts`. Operators think in
    * timestamps ("the db as of last night's snapshot"), the run log in
    * run numbers; this is the resolver between them. Scale path: with
    * a fresh manifest the per-run commit times come from the per-file
    * `time_utc_max` column — a driver-side fold over manifest rows,
    * zero data files touched; the fallback is one column-pruned
    * `groupBy(_run_seq).max(_time_utc)` scan. A run whose commit time
    * is unknown (null `_time_utc` throughout) cannot be ATTESTED ≤ ts
    * and never resolves as the boundary run — but it is still
    * INCLUDED whenever a later attested run resolves (asOf is a prefix
    * of the run log). Fails loudly when NO run committed by `ts`
    * (asking for history before the database existed is a caller bug,
    * not an empty frame). */
  def asOfTime(ts: java.time.Instant): DataFrame = {
    recover()
    val commits: Seq[(Long, java.sql.Timestamp)] = {
      val m =
        if (!fresh) None
        else {
          val mf = Fs.parquet(spark, manifestDir)
          if (!Seq("run_seq_max", "time_utc_max")
              .forall(mf.columns.contains)) None
          else Some(mf.select(col("run_seq_max"), col("time_utc_max"))
            .collect()
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
            .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq)
        }
      m.getOrElse {
        scanOpt() match {
          case None => Seq.empty
          case Some(df) =>
            if (!df.columns.contains("_time_utc")) Seq.empty
            else df.groupBy(col("_run_seq").cast(LongType).as("__r"))
              .agg(max(col("_time_utc").cast(TimestampType)).as("__t"))
              .collect()
              .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
              .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
        }
      }
    }
    // per-run commit time = max over that run's files/rows
    val byRun = commits.groupBy(_._1)
      .map { case (r, ts) => r -> ts.map(_._2.toInstant).max }
    val resolved = byRun.filter { case (_, t) => !t.isAfter(ts) }.keys
    require(resolved.nonEmpty,
      s"no run in $dbPath had committed by $ts — earliest commit is " +
        byRun.values.minOption.map(_.toString).getOrElse("unknown") +
        " (or the db records no _time_utc)")
    asOfRecovered(resolved.max)
  }

  /** Incremental read (change data feed): every row appended strictly
    * AFTER run `afterRun` committed and no later than run `untilRun` —
    * `afterRun < _run_seq <= untilRun`. The delta between two
    * [[asOf]] frames without materializing either: the consumer shape
    * at 100 TB is "I processed through run n last night; give me only
    * what landed since", and reading the delta instead of diffing two
    * full frames is the whole point of the append-only run log.
    * Pruning mirrors [[asOf]]: with a fresh manifest, keep only files
    * whose per-file `[run_seq_min, run_seq_max]` range OVERLAPS the
    * requested interval (a null bound cannot attest non-overlap —
    * keep, and the re-applied predicate corrects); so a one-run delta
    * of a 10,000-run db touches one run's files and lists nothing.
    * Fallback without an attested manifest is the plain filter scan,
    * which still skips whole files via per-file-constant `_run_seq`
    * row-group stats. Predicate always re-applied — pruning is an
    * optimization, never a filter. */
  def changes(afterRun: Long, untilRun: Long = Long.MaxValue): DataFrame = {
    recover()
    require(afterRun <= untilRun,
      s"empty change interval: afterRun=$afterRun > untilRun=$untilRun")
    // keep a file iff [min, max] OVERLAPS (afterRun, untilRun]: its
    // latest row is past afterRun AND its earliest row is within untilRun
    pruned(col("_run_seq") > afterRun && col("_run_seq") <= untilRun,
        "run_seq_min", "run_seq_max") { r =>
      (r.isNullAt(1) || r.getLong(1) > afterRun) &&
        (r.isNullAt(0) || r.getLong(0) <= untilRun)
    }
  }

  /** Manifest-served variants of the point extractors (the static
    * [[Database.extractRow]]/[[Database.extractPset]] operate on an
    * arbitrary frame and cannot prune). */
  def extractRow(psetId: String): Row =
    Database.extractRow(lookup(psetId), psetId)

  def extractPset(psetId: String): Map[String, Any] =
    Database.extractPset(lookup(psetId), psetId)

  /** Distributed rewrite recomputing `_pset_hash` over the grown pset
    * column set — triggered only when the pset schema actually grows,
    * same condition as the reference (ref psweep.py:690-710), where it is
    * an O(N) driver-side Python loop; here one `withColumn` pass. New
    * columns appear as nulls via mergeSchema; shared columns whose type
    * widened are cast. */
  def rehashWith(extraPsetCols: Map[String, DataType],
                 casts: Map[String, DataType]): Unit = withWriteLock {
    var df = scan()
    casts.foreach { case (c, t) => df = df.withColumn(c, col(c).cast(t)) }
    extraPsetCols.foreach { case (c, t) =>
      if (!df.columns.contains(c)) df = df.withColumn(c, lit(null).cast(t))
    }
    val hadManifest = Fs.exists(manifestDir)
    swapIn(df.withColumn("_pset_hash", PsetHash.expr(df.columns.toSeq))
      .write.mode("overwrite").partitionBy("_run_id").parquet(_))
    // the rewrite produced fresh files; a kept manifest must follow
    if (hadManifest) rebuildSkipManifestUnlocked()
  }

  /** Backup the whole calc dir to `calc.bak_<stamp>_run_id_<id>` before a
    * mutating run (ref psweep.py:1417-1427). */
  def backup(): Option[String] = {
    if (!exists) return None
    val stampRow = scan().agg(max(col("_time_utc")), first(col("_run_id")))
      .head()
    val stamp =
      if (stampRow.isNullAt(0)) "empty"
      else stampRow.getTimestamp(0).toInstant.toString.replace(":", "-")
    val lastRun = if (stampRow.isNullAt(1)) "none" else stampRow.getString(1)
    val dst = s"$calcDir.bak_${stamp}_run_id_$lastRun"
    require(!Fs.exists(dst), s"backup destination exists: $dst")
    Fs.copyDir(calcDir, dst)
    // the backup may have been taken under the run pipeline's live
    // write lock — a copied lock file would block writes on a restored
    // backup with a stale-holder message; drop it from the copy
    Fs.delete(Fold.lockPath(s"$dst/$basename"))
    Some(dst)
  }

  /** JSON export of the database (the `psweep-db2json` sink, ref
    * bin/psweep-db2json:48-51): records orient, ISO timestamps. */
  def writeJson(outPath: String): Unit = writeJson(outPath, read())

  /** [[writeJson]] over an explicit frame — the seam the CLI's
    * `--as-of` / `--changes` flags use to export a historical or
    * delta view with the same formatting contract. */
  def writeJson(outPath: String, frame: DataFrame): Unit =
    frame.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
      .write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(outPath)

  /** pandas-orient JSON DOCUMENT export (ref psweep.py:454-474
    * `df_to_json` with pandas `orient` kwarg; default "records" =
    * PANDAS_DEFAULT_ORIENT, ref psweep.py:31). All five orients are
    * single-document formats — the whole table is one JSON value — so
    * they are inherently driver-materialized; the explicit `maxRows`
    * guard turns a misuse at scale into a loud error. The 100 TB path
    * stays [[writeJson]]'s distributed line-delimited records. Values
    * follow [[Fs.toJson]]'s rules (ISO instants, null for NaN/Inf — the
    * analog of the reference's `double_precision=15, date_format="iso"`
    * defaults). */
  def writeJsonDoc(outPath: String, orient: String = "records",
                   maxRows: Long = 1L << 20): Unit = {
    val df = read()
    val n = df.count()
    require(n <= maxRows,
      s"writeJsonDoc is a driver-side document export: $n rows > maxRows=" +
        s"$maxRows; use writeJson (distributed records) for large tables")
    val names = df.columns.toSeq
    val rows = df.collect().toSeq
    def cell(r: Row, i: Int): String = Fs.toJson(r.get(i))
    def rowObj(r: Row): String =
      names.indices.map(i => Fs.jsonString(names(i)) + ":" + cell(r, i))
        .mkString("{", ",", "}")
    def rowArr(r: Row): String =
      names.indices.map(cell(r, _)).mkString("[", ",", "]")
    val doc = orient match {
      case "records" => rows.map(rowObj).mkString("[", ",", "]")
      case "values" => rows.map(rowArr).mkString("[", ",", "]")
      case "split" =>
        "{\"columns\":" + names.map(Fs.jsonString).mkString("[", ",", "]") +
          ",\"index\":" + rows.indices.map(_.toString)
            .mkString("[", ",", "]") +
          ",\"data\":" + rows.map(rowArr).mkString("[", ",", "]") + "}"
      case "index" =>
        rows.zipWithIndex
          .map { case (r, i) => Fs.jsonString(i.toString) + ":" + rowObj(r) }
          .mkString("{", ",", "}")
      case "columns" =>
        names.indices.map { i =>
          Fs.jsonString(names(i)) + ":" + rows.zipWithIndex
            .map { case (r, j) => Fs.jsonString(j.toString) + ":" + cell(r, i) }
            .mkString("{", ",", "}")
        }.mkString("{", ",", "}")
      case other => throw new IllegalArgumentException(
        s"unknown orient: $other (records|split|index|columns|values)")
    }
    Fs.writeString(outPath, doc)
  }

  /** Read back any [[writeJsonDoc]] orient (ref psweep.py:494-512
    * `df_read` fmt="json" with orient). The document is re-shaped
    * driver-side into record objects and parsed by Spark's JSON reader,
    * so the type-loss matrix — ints widen to long, timestamps need
    * `schema` to round-trip — is identical for every orient
    * (JsonRoundTripSpec / JsonDocOrientSpec pin it). `values` orient has
    * no column names; pandas-style positional names "0".."N" apply. */
  def readJsonDoc(path: String, orient: String = "records",
                  schema: Option[StructType] = None): DataFrame = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(Fs.readString(path))
    def obj(fields: Seq[(String, JsonNode)]): String =
      fields.map { case (k, v) => Fs.jsonString(k) + ":" + v.toString }
        .mkString("{", ",", "}")
    val records: Seq[String] = orient match {
      case "records" => root.elements().asScala.map(_.toString).toSeq
      case "values" =>
        // no names in the document: take them positionally from `schema`
        // when given, else pandas-style positional labels "0".."N"
        val colNames = schema.map(_.fieldNames.toSeq)
        root.elements().asScala.map { arr =>
          val vals = arr.elements().asScala.toSeq
          obj(colNames match {
            case Some(ns) => ns.zip(vals)
            case None => vals.zipWithIndex
              .map { case (v, i) => i.toString -> v }
          })
        }.toSeq
      case "split" =>
        val cols = root.get("columns").elements().asScala
          .map(_.asText).toSeq
        root.get("data").elements().asScala.map(arr =>
          obj(cols.zip(arr.elements().asScala.toSeq))).toSeq
      case "index" =>
        root.properties().asScala.toSeq.map(e => e.getValue.toString)
      case "columns" =>
        // transpose {col -> {label -> v}} back to one object per label,
        // preserving first-seen label order
        val byLabel =
          new java.util.LinkedHashMap[String, List[(String, JsonNode)]]()
        root.properties().asScala.foreach { colEntry =>
          colEntry.getValue.properties().asScala.foreach { cellEntry =>
            val prev = byLabel.getOrDefault(cellEntry.getKey, Nil)
            byLabel.put(cellEntry.getKey,
              prev :+ (colEntry.getKey -> cellEntry.getValue))
          }
        }
        byLabel.values().asScala.map(obj).toSeq
      case other => throw new IllegalArgumentException(
        s"unknown orient: $other (records|split|index|columns|values)")
    }
    import spark.implicits._
    val ds = spark.createDataset(records)
    schema.fold(spark.read.json(ds))(s => spark.read.schema(s).json(ds))
  }

  /** Compact the database's many small append files (an append-only store
    * accumulates one file set per run; at high run counts the scan's
    * file-listing and task-launch overhead dominates) down to ~one file
    * per `_run_id` partition. Atomic: rewrite to a temp dir, then swap.
    * Values, schema, and partitioning are unchanged. */
  def compact(numPartitions: Int = 0): Unit = withWriteLock {
    if (present) {
      val runs = scan().select("_run_id").distinct().count().toInt
      val n = if (numPartitions > 0) numPartitions else math.max(1, runs)
      val hadManifest = Fs.exists(manifestDir)
      swapIn(scan().repartition(n, col("_run_id"))
        .write.mode("overwrite").partitionBy("_run_id").parquet(_))
      if (hadManifest) rebuildSkipManifestUnlocked()
    }
  }

  /** Read a JSON-format database back (the S3 alternate format,
    * ref psweep.py:454-512). JSON is the lossy format — ints widen to
    * long, timestamps need the schema to round-trip (mirrors the
    * reference's documented JSON type-loss caveats,
    * ref tests/test_all.py:357-363). */
  def readJson(path: String,
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}

object Database {

  def apply(spark: SparkSession, calcDir: String,
            basename: String = "database"): Database =
    new Database(spark, calcDir, basename)

  /** Which of `values` already exist in `df`'s column `colName` — one
    * column-pruned pass, broadcast small side (the J1 dedup shape). */
  def existingAmong(df: DataFrame, colName: String,
                    values: Seq[String]): Set[String] = {
    if (!df.columns.contains(colName)) return Set.empty
    import df.sparkSession.implicits._
    val small = values.distinct.toDF(colName)
    df.select(colName)
      .join(broadcast(small), Seq(colName), "left_semi")
      .distinct().collect().map(_.getString(0)).toSet
  }

  /** Fuse boolean filter columns with and/or/xor and apply
    * (ref psweep.py:622-679 `df_filter_conds`). */
  def dfFilterConds(df: DataFrame, conds: Seq[Column],
                    op: String = "and"): DataFrame = {
    if (conds.isEmpty) return df
    val fused = op match {
      case "and" => conds.reduce(_ && _)
      case "or" => conds.reduce(_ || _)
      case "xor" => conds.reduce(_ =!= _)
      case other => throw new IllegalArgumentException(
        s"op must be and|or|xor, got $other")
    }
    df.filter(fused)
  }

  /** Kind-projection of a DataFrame (ref psweep.py:877-898). */
  def selectKind(df: DataFrame, kind: ColKind.Value): DataFrame = {
    val cols = ColKind.filterCols(df.columns.toSeq, kind)
    df.select(cols.map(col): _*)
  }

  /** Extract psets (pset-kind columns, nulls preserved) from a database
    * slice, such that re-running them reproduces the stored hashes
    * (ref psweep.py:755-795 `df_extract_params`; round-trip invariant of
    * tests/test_all.py:1440-1473). Driver-side by design: extracted params
    * seed a new sweep, which is driver-built. */
  def extractParams(df: DataFrame): Seq[Map[String, Any]] = {
    val slice = selectKind(df, ColKind.Pset)
    val names = slice.columns
    slice.collect().toSeq.map { r =>
      names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
    }
  }

  /** Single row for a `_pset_id`; asserts uniqueness
    * (ref psweep.py:798-850). */
  def extractRow(df: DataFrame, psetId: String): Row = {
    val rows = df.filter(col("_pset_id") === psetId).collect()
    require(rows.length == 1,
      s"expected exactly 1 row for _pset_id=$psetId, got ${rows.length}")
    rows(0)
  }

  /** The pset (parameter map) of one stored row. */
  def extractPset(df: DataFrame, psetId: String): Map[String, Any] = {
    val slice = df.filter(col("_pset_id") === psetId)
    val params = extractParams(slice)
    require(params.size == 1,
      s"expected exactly 1 row for _pset_id=$psetId, got ${params.size}")
    params.head
  }

  /** Consistency check between the database's `_pset_id`s and the per-pset
    * artifact dirs on disk (ref psweep.py:273-297): two anti-joins, fully
    * distributed (artifact listings can be large at scale). */
  def checkCalcDir(spark: SparkSession, calcDir: String, df: DataFrame,
                   basename: String = "database")
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val uuidRe = "^([0-9a-f]+-){4}[0-9a-f]+$"
    val disk = Fs.listNames(calcDir)
      .filter(_.matches(uuidRe)).toDF("_pset_id")
    val dbIds = df.select("_pset_id")
    val dbNotDisk = dbIds.join(disk, Seq("_pset_id"), "left_anti").distinct()
    val diskNotDb = disk.join(dbIds, Seq("_pset_id"), "left_anti").distinct()
    (dbNotDisk, diskNotDb)
  }

  /** Sorted-column display projection with the full `df_print` option
    * matrix (ref psweep.py:515-619): column names always sorted, prefix
    * cols hidden by default; `cols` selects explicitly and unions the
    * prefix set when `prefixCols` is also given; `skipCols` subtracts
    * (mutually exclusive with `cols`, like the reference); `index`
    * prepends a display ordinal in the frame's current order (an extra
    * zipWithIndex pass — display helper, not a pipeline operator). */
  def printableDF(df: DataFrame, prefixCols: Boolean = false,
                  cols: Seq[String] = Seq.empty,
                  skipCols: Seq[String] = Seq.empty,
                  index: Boolean = false): DataFrame = {
    require(cols.isEmpty || skipCols.isEmpty, "Use either skipCols or cols")
    val prefixSet = df.columns.filter(ColKind.isPrefix).toSet
    val disp =
      if (cols.nonEmpty)
        cols.toSet | (if (prefixCols) prefixSet else Set.empty[String])
      else
        (df.columns.toSet --
          (if (prefixCols) Set.empty[String] else prefixSet)) -- skipCols.toSet
    val chosen = disp.toSeq.sorted
    val proj = df.select(chosen.map(col): _*)
    if (!index) proj
    else {
      val schema = StructType(
        StructField("index", LongType, nullable = false) +:
          proj.schema.fields)
      val rdd = proj.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(i +: r.toSeq)
      }
      proj.sparkSession.createDataFrame(rdd, schema)
    }
  }
}
