package graft.core

import org.apache.spark.graftshim.Jobs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end sweep pipeline invariants, mirroring ref
  * tests/test_all.py:170-315 (test_run, test_run_skip_dups, test_simulate)
  * and the incremental-extension semantics of 1440-1524 (F5).
  */
class StudySpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  private val f1: Map[String, Any] => Map[String, Any] =
    p => Map("result_" -> p("a").asInstanceOf[Long] * 10.0)

  test("F1: minimal sweep — schema, counts, ids, seq order, round-trip") {
    val calc = tmpDir("graft-f1-")
    val params = Grid.plist("a", Seq(1, 2, 3, 4))
    val out = Study(spark, calc).run(f1, params)
    val db = out.db
    assert(db.count() == 4)
    // full bookkeeping column set (ref tests/test_all.py:200-214)
    val expected = Set("a", "result_", "_calc_dir", "_pset_id", "_run_id",
      "_pset_seq", "_run_seq", "_pset_hash", "_time_utc", "_pset_runtime",
      "_exec_host")
    assert(db.columns.toSet == expected)
    val rows = db.orderBy("_pset_seq").collect()
    assert(rows.map(_.getAs[Long]("_pset_seq")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("a")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_.getAs[Double]("result_")).toSeq ==
      Seq(10.0, 20.0, 30.0, 40.0))
    assert(rows.map(_.getAs[String]("_pset_id")).distinct.length == 4)
    assert(rows.map(_.getAs[String]("_run_id")).distinct.length == 1)
    assert(rows.forall(_.getAs[Long]("_run_seq") == 0L))
    assert(rows.forall(_.getAs[Double]("_pset_runtime") >= 0.0))
    // hashes recomputable from stored rows (ref tests/test_all.py:688-704)
    val stored = db.select((Seq(col("_pset_hash").as("h")) :+
      PsetHash.expr(db.columns.toSeq).as("re")): _*).collect()
    assert(stored.forall(r => r.getString(0) == r.getString(1)))
    // params round-trip (ref tests/test_all.py:1448,1473)
    val extracted = Database.extractParams(db.orderBy("_pset_seq"))
    assert(extracted.map(_("a")) == Seq(1L, 2L, 3L, 4L))
  }

  test("second run appends and continues counters") {
    val calc = tmpDir("graft-seq-")
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val out2 = study.run(f1, Grid.plist("a", Seq(3, 4)))
    val db = out2.db
    assert(db.count() == 4)
    assert(db.select("_run_id").distinct().count() == 2)
    val seqs = db.orderBy("_pset_seq").collect()
      .map(_.getAs[Long]("_pset_seq")).toSeq
    assert(seqs == Seq(0L, 1L, 2L, 3L))
    assert(db.agg(max("_run_seq")).head().getLong(0) == 1L)
  }

  test("skip_dups: repeated psets are not re-executed (ref 234-283)") {
    val calc = tmpDir("graft-dup-")
    val cfg = StudyConfig(calcDir = calc, skipDups = true)
    val study = Study(spark, cfg)
    val out1 = study.run(f1, Grid.plist("a", Seq(1, 2, 3)))
    assert(out1.executed == 3)
    val out2 = study.run(f1, Grid.plist("a", Seq(2, 3, 4)))
    assert(out2.executed == 1)
    assert(out2.db.count() == 4)
    assert(out2.db.select("_pset_hash").distinct().count() == 4)
  }

  test("F5: incremental extension with new column rehashes the db") {
    val calc = tmpDir("graft-f5-")
    val cfg = StudyConfig(calcDir = calc, skipDups = true)
    val study = Study(spark, cfg)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val hashesBefore = study.database.read()
      .select("_pset_hash").collect().map(_.getString(0)).toSet

    val params2 = Grid.pgrid(Grid.plist("a", Seq(1, 2)),
      Grid.plist("b", Seq(10L)))
    val out2 = study.run(f1, params2)
    assert(out2.executed == 2)
    val db = out2.db
    assert(db.count() == 4)
    // old rows are null-filled in b and REHASHED over {a, b}
    val old = db.filter(col("b").isNull)
    assert(old.count() == 2)
    val oldHashes = old.select("_pset_hash").collect().map(_.getString(0)).toSet
    assert(oldHashes.intersect(hashesBefore).isEmpty)
    // recomputed hash matches driver-side hash of {a, b:null}
    val expect = PsetHash.hash(Map[String, Any]("a" -> 1L, "b" -> null))
    assert(oldHashes.contains(expect))
    // a rerun over the union column set dedups against BOTH the rehashed
    // old rows ({a:1,b:null}) and run-2 rows ({a:2,b:10}) — nothing runs
    val out3 = study.run(f1,
      Seq(Map[String, Any]("a" -> 1L, "b" -> null),
        Map[String, Any]("a" -> 2L, "b" -> 10L)))
    assert(out3.executed == 0)
    assert(out3.db.count() == 4)
  }

  test("simulate: pipeline runs, func skipped, sandboxed (ref 286-315)") {
    val calc = tmpDir("graft-sim-")
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val sim = Study(spark, StudyConfig(calcDir = calc, simulate = true))
    val out = sim.run(f1, Grid.plist("a", Seq(3, 4)))
    assert(out.db.count() == 4)
    // result col of simulated rows is null
    assert(out.db.filter(col("result_").isNull).count() == 2)
    // real db untouched
    assert(Study(spark, calc).database.read().count() == 2)
    assert(Fs.exists(calc + ".simulate"))
  }

  test("failSafe: failures become _failed/_exc_txt rows (F6)") {
    val calc = tmpDir("graft-fail-")
    val fails: Map[String, Any] => Map[String, Any] = p => {
      val a = p("a").asInstanceOf[Long]
      if (a % 2 == 0) throw new RuntimeException(s"boom $a")
      Map("result_" -> a * 10.0)
    }
    val cfg = StudyConfig(calcDir = calc, failSafe = true)
    val out = Study(spark, cfg).run(fails, Grid.plist("a", Seq(0, 1, 2, 3)))
    val db = out.db
    assert(db.filter(col("_failed")).count() == 2)
    assert(db.filter(col("_failed") === false && col("result_").isNotNull)
      .count() == 2)
    assert(db.filter(col("_failed")).select("_exc_txt").collect()
      .forall(_.getString(0).contains("boom")))
    // repeat-failed pattern: extract failed psets, hashes must equal
    val failedParams = Database.extractParams(db.filter(col("_failed")))
    val failedHashes = failedParams.map(PsetHash.hash(_)).toSet
    val storedFailed = db.filter(col("_failed")).select("_pset_hash")
      .collect().map(_.getString(0)).toSet
    assert(failedHashes == storedFailed)
  }

  test("capture_logs db mode (F7, ref tests/test_all.py:1104-1261)") {
    val calc = tmpDir("graft-logs-")
    val loud: Map[String, Any] => Map[String, Any] = p => {
      println(s"hello from a=${p("a")}")
      Console.err.println("and stderr")
      Map("result_" -> 1.0)
    }
    val cfg = StudyConfig(calcDir = calc, captureLogs = "db+file")
    val out = Study(spark, cfg).run(loud, Grid.plist("a", Seq(1, 2)))
    val rows = out.db.orderBy("_pset_seq").collect()
    rows.foreach { r =>
      val logs = r.getAs[String]("_logs")
      assert(logs.contains(s"hello from a=${r.getAs[Long]("a")}"))
      assert(logs.contains("and stderr"))
      val onDisk = Fs.readString(s"$calc/${r.getAs[String]("_pset_id")}/logs.txt")
      assert(onDisk == logs)
    }
  }

  test("tmpsave writes per-pset checkpoints (S6, ref psweep.py:1230-1237)") {
    val calc = tmpDir("graft-tmpsave-")
    val cfg = StudyConfig(calcDir = calc, tmpsave = true)
    val out = Study(spark, cfg).run(f1, Grid.plist("a", Seq(1, 2, 3)))
    val files = Fs.listNames(s"$calc/tmpsave/${out.runId}")
    assert(files.size == 3)
    assert(files.forall(_.endsWith(".json")))
  }

  test("backup copies calc dir before run (S12, ref psweep.py:1417-1427)") {
    val calc = tmpDir("graft-bak-") + "/calc"
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1)))
    val cfg = StudyConfig(calcDir = calc, backup = true)
    Study(spark, cfg).run(f1, Grid.plist("a", Seq(2)))
    val parent = new java.io.File(calc).getParentFile
    val baks = parent.listFiles.map(_.getName).filter(_.startsWith("calc.bak_"))
    assert(baks.length == 1)
    // the backup contains only run 1
    val bakDb = spark.read.option("mergeSchema", "true")
      .parquet(s"$parent/${baks.head}/database")
    assert(bakDb.count() == 1)
  }

  test("interactive df mode (ref tests/test_all.py:496-531)") {
    val calc = tmpDir("graft-interactive-")
    val study = Study(spark, StudyConfig(calcDir = calc, save = false))
    val params = Grid.plist("a", Seq(1, 2, 3, 4))
    // save=false: nothing on disk
    val df1 = study.run(f1, params).db
    assert(!Fs.exists(s"$calc/database"))
    assert(df1.count() == 4)
    // empty df counts as "no base"
    val df1b = study.run(f1, params, Some(spark.emptyDataFrame)).db
    assert(df1b.count() == 4)
    assert(df1b.agg(org.apache.spark.sql.functions.max("_run_seq"))
      .head().getLong(0) == 0L)
    // extend in memory: counters continue from the base, hashes repeat
    val df2 = study.run(f1, params, Some(df1)).db
    assert(!Fs.exists(s"$calc/database"))
    assert(df2.count() == 8)
    assert(df2.select("_pset_hash").distinct().count() == 4)
    assert(df2.agg(org.apache.spark.sql.functions.max("_pset_seq"))
      .head().getLong(0) == 7L)
    assert(df2.agg(org.apache.spark.sql.functions.max("_run_seq"))
      .head().getLong(0) == 1L)
    // now save: disk content == base ∪ new
    val saver = Study(spark, StudyConfig(calcDir = calc))
    val df2disk = saver.run(f1, params, Some(df1)).db
    assert(df2disk.count() == 8)
    assert(Study(spark, calc).database.read().count() == 8)
  }

  /** `(_pset_seq, _run_seq)` of the rows of `db` whose `a` is in `as`. */
  private def seqs(db: org.apache.spark.sql.DataFrame,
                   as: Seq[Long]): Seq[(Long, Long)] =
    db.filter(col("a").isin(as: _*)).orderBy("_pset_seq")
      .select(col("_pset_seq").cast("long"), col("_run_seq").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Optimized plans of the queries `f` executes. */
  private def plans(f: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = { seen.add(qe.optimizedPlan.toString); () }
      def onFailure(fn: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    Jobs.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { f; Jobs.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Whether any of `plans` renders a probe of the round that made `out`:
    * the incoming hashes of `as` or the round's drawn `_pset_id`s. */
  private def carriesProbes(plans: Seq[String], out: RunOutput,
                            as: Seq[Long]): Boolean = {
    val probes = out.db.filter(col("a").isin(as: _*))
      .select("_pset_hash").collect().map(_.getString(0)) ++
      out.db.filter(col("_run_id") === out.runId)
        .select("_pset_id").collect().map(_.getString(0))
    assert(probes.length == as.size + out.executed)
    plans.exists(q => probes.exists(q.contains))
  }

  test("pre-write scan: one skipDups run on a db without a manifest " +
    "starts 3 Spark jobs; counters, dedup and executed hold") {
    val calc = tmpDir("graft-prewrite-")
    val study = Study(spark, StudyConfig(calcDir = calc, skipDups = true))
    study.run(f1, Grid.plist("a", Seq(1, 2, 3, 4)))
    assert(!study.database.hasSkipManifest)
    study.database.read() // caches the current files' footers
    var out: RunOutput = null
    val (queries, jobs) = Jobs.count(spark.sparkContext)(plans {
      out = study.run(f1, Grid.plist("a", Seq(3, 4, 5, 6)))
    })
    // the pre-write scan's one mapPartitions job, the result-schema
    // aggregate and the append; the returned read merges footers on the
    // driver, from the cache plus the new files. Three base scans and a
    // footer-merge job made it 11, the pre-write scan as an `isin`
    // aggregate (a map stage and its result under AQE) 4
    assert(jobs == 3, s"$jobs jobs")
    assert(!carriesProbes(queries, out, Seq(3L, 4L, 5L, 6L)))
    assert(out.executed == 2)
    assert(out.db.count() == 6)
    assert(seqs(out.db, Seq(5L, 6L)) == Seq((4L, 1L), (5L, 1L)))
    assert(out.db.select("_pset_id").distinct().count() == 6)
  }

  test("pre-write scan: the schema-evolution round dedups against the " +
    "rehashed hashes") {
    val calc = tmpDir("graft-prewrite-evolve-")
    val study = Study(spark, StudyConfig(calcDir = calc, skipDups = true))
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    // {a:1} lacks b: washed to {a:1, b:null}, the rehashed old row
    val out = study.run(f1, Seq(Map[String, Any]("a" -> 1L),
      Map[String, Any]("a" -> 3L, "b" -> 10L)))
    assert(out.executed == 1)
    assert(out.db.count() == 3)
    assert(seqs(out.db, Seq(3L)) == Seq((2L, 1L)))
    assert(out.db.select("_pset_hash").distinct().count() == 3)
  }

  test("pre-write scan: the in-memory base path") {
    val calc = tmpDir("graft-prewrite-mem-")
    val study = Study(spark,
      StudyConfig(calcDir = calc, save = false, skipDups = true))
    val base = study.run(f1, Grid.plist("a", Seq(1, 2, 3))).db
    val out = study.run(f1, Grid.plist("a", Seq(2, 3, 4)), Some(base))
    assert(out.executed == 1)
    assert(out.db.count() == 4)
    assert(seqs(out.db, Seq(4L)) == Seq((3L, 1L)))
    // a grown pset schema rehashes the in-memory base before the scan
    val grown = study.run(f1, Seq(Map[String, Any]("a" -> 4L),
      Map[String, Any]("a" -> 5L, "b" -> 1L)), Some(out.db))
    assert(grown.executed == 1)
    assert(seqs(grown.db, Seq(5L)) == Seq((4L, 2L)))
    assert(!Fs.exists(s"$calc/database"))
  }

  test("pre-write scan: repeatFailed re-runs without skipDups") {
    val calc = tmpDir("graft-prewrite-repeat-")
    val flaky: Map[String, Any] => Map[String, Any] = p => {
      val a = p("a").asInstanceOf[Long]
      if (a % 2 == 0) throw new RuntimeException(s"boom $a")
      Map("result_" -> a * 10.0)
    }
    val study = Study(spark,
      StudyConfig(calcDir = calc, skipDups = true, failSafe = true))
    study.run(flaky, Grid.plist("a", Seq(1, 2, 3, 4)))
    val out = study.repeatFailed(f1)
    assert(out.executed == 2)
    assert(out.db.count() == 6)
    assert(seqs(out.db.filter(col("result_").isNotNull &&
      col("a") % 2 === 0), Seq(2L, 4L)) == Seq((4L, 1L), (5L, 1L)))
  }

  test("pre-write scan: a manifest db round equals a manifest-less one") {
    val cfg = StudyConfig(skipDups = true)
    val Seq(plain, manifested) = Seq("plain", "manifest").map(n =>
      Study(spark, cfg.copy(calcDir = tmpDir(s"graft-prewrite-$n-"))))
    Seq(plain, manifested).foreach(_.run(f1, Grid.plist("a", Seq(1, 2, 3, 4))))
    manifested.database.optimizeLayout(numFiles = 2)
    assert(manifested.database.manifestFresh)
    assert(!plain.database.hasSkipManifest)
    val next = Grid.plist("a", Seq(3, 4, 5, 6))
    val p = plain.run(f1, next)
    manifested.database.read()
    var m: RunOutput = null
    val (queries, jobs) = Jobs.count(spark.sparkContext)(plans {
      m = manifested.run(f1, next)
    })
    // the plain round's 3, plus the manifest upkeep on append: its
    // known-file collect and the stats write (map stage and result).
    // The manifest read and the new files' schema take footers on the
    // driver; as jobs they made it 10
    assert(jobs == 6, s"$jobs jobs")
    assert(!carriesProbes(queries, m, Seq(3L, 4L, 5L, 6L)))
    assert(!queries.exists(_.contains("pset_seq_max")))
    assert(m.executed == 2 && p.executed == 2)
    assert(seqs(m.db, Seq(3L, 4L, 5L, 6L)) == seqs(p.db, Seq(3L, 4L, 5L, 6L)))
    def hashes(o: RunOutput) =
      o.db.select("_pset_hash").collect().map(_.getString(0)).toSet
    assert(hashes(m) == hashes(p))
    assert(manifested.database.manifestFresh)
  }

  test("pre-write scan: a crashed append's foreign rows are seen next round") {
    val calc = tmpDir("graft-prewrite-crash-")
    val study = Study(spark, StudyConfig(calcDir = calc, skipDups = true))
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    val db = study.database
    db.optimizeLayout(numFiles = 2)
    // an append's crash state: its file landed past the manifest, and
    // the commit marker is gone (appends drop it before writing)
    val foreign = db.read().filter(col("a") === 1L).withColumn("a", lit(9L))
    foreign.withColumn("_pset_hash", PsetHash.expr(foreign.columns.toSeq))
      .withColumn("_pset_id", lit("foreign-9"))
      .withColumn("_pset_seq", lit(100L))
      .withColumn("_run_seq", lit(7L))
      .withColumn("_run_id", lit("run-foreign"))
      .coalesce(1).write.mode("append").partitionBy("_run_id")
      .parquet(db.dbPath)
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    val out = study.run(f1, Grid.plist("a", Seq(9, 10)))
    // {a: 9} is the foreign row's pset; {a: 10} numbers after its seqs
    assert(out.executed == 1)
    assert(seqs(out.db, Seq(9L, 10L)) == Seq((100L, 7L), (101L, 8L)))
    // the append's manifest upkeep folded the foreign file in
    assert(db.manifestFresh)
    assert(db.lookup("foreign-9").inputFiles.length == 1)
  }

  /** The pre-write scan as the one SQL aggregate it used to be, the
    * probes riding the plan as `isin` literals: the reference the
    * `mapPartitions` job must agree with. */
  private def aggregatePreWrite(base: org.apache.spark.sql.DataFrame,
                                hashes: Seq[String],
                                ids: Seq[String]): Study.PreWrite = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    def found(c: String, probes: Seq[String]) =
      if (probes.isEmpty || !base.columns.contains(c))
        lit(null).cast(ArrayType(StringType))
      else collect_set(when(col(c).isin(probes: _*), col(c)))
    val r = base.agg(max(col("_pset_seq")).cast(LongType),
      max(col("_run_seq")).cast(LongType),
      found("_pset_hash", hashes), found("_pset_id", ids)).head()
    def set(i: Int): Set[String] =
      if (r.isNullAt(i)) Set.empty else r.getSeq[String](i).toSet
    Study.PreWrite(if (r.isNullAt(0)) -1L else r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1), set(2), set(3))
  }

  test("pre-write scan: the mapPartitions job equals the isin aggregate " +
    "on empty, all-null, hash-less and int-typed bases") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def frame(types: Seq[DataType], rows: Seq[Seq[Any]]) = {
      val names = Seq("_pset_seq", "_run_seq", "_pset_hash", "_pset_id")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3),
        StructType(names.zip(types).map { case (n, t) => StructField(n, t) }))
    }
    val longs = Seq(LongType, LongType, StringType, StringType)
    val rows = Seq(Seq(0L, 0L, "h0", "i0"), Seq(1L, 0L, "h1", "i1"),
      Seq(5L, 2L, "h5", null), Seq(null, null, null, "i9"))
    val bases = Seq(
      "populated" -> frame(longs, rows),
      "empty" -> frame(longs, Seq.empty),
      "all-null seqs" -> frame(longs,
        Seq(Seq(null, null, "h0", "i0"), Seq(null, null, "h1", null))),
      "no hash or id column" -> frame(longs.take(2), rows.map(_.take(2))),
      "int seqs" -> frame(Seq(IntegerType, IntegerType, StringType,
        StringType), rows.map(r => r.take(2).map {
          case v: Long => v.toInt
          case v => v
        } ++ r.drop(2))))
    val probes = Seq(
      (Seq("h0", "h5", "hx"), Seq("i0", "i9", "ix")),
      (Seq.empty[String], Seq("i1")),
      (Seq("h1"), Seq.empty[String]),
      (Seq.empty[String], Seq.empty[String]))
    for ((name, base) <- bases; (hs, ids) <- probes)
      assert(Study.preWriteScan(base, hs, ids) ==
        aggregatePreWrite(base, hs, ids), s"$name base, probes $hs $ids")
    assert(Study.preWriteScan(bases.head._2, probes.head._1,
      probes.head._2) ==
      Study.PreWrite(5L, 2L, Set("h0", "h5"), Set("i0", "i9")))
  }

  /** Data files the run `runId` wrote into the database of `study`. */
  private def runFiles(study: Study, runId: String): Int =
    new java.io.File(s"${study.database.dbPath}/_run_id=$runId").listFiles
      .count(_.getName.endsWith(".parquet"))

  test("run files: a small run writes one data file") {
    val study = Study(spark,
      StudyConfig(calcDir = tmpDir("graft-runfiles-"), poolsize = Some(4)))
    val out = study.run(f1, Grid.plist("a", 1 to 8))
    assert(runFiles(study, out.runId) == 1)
    assert(out.db.count() == 8)
  }

  test("run files: a run larger than the scan split size fans out to its " +
    "execution partitions") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getAll.get(key)
    val study = Study(spark,
      StudyConfig(calcDir = tmpDir("graft-runfiles-split-"), poolsize = Some(4)))
    val out =
      try {
        spark.conf.set(key, "1k")
        study.run(f1, Grid.plist("a", 1 to 8))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.conf.getAll.get(key) == prev)
    val n = runFiles(study, out.runId)
    assert(2 <= n && n <= 4, s"$n files")
    assert(out.db.count() == 8)
  }

  test("type conflict on shared column is rejected") {
    val calc = tmpDir("graft-typeconflict-")
    val study = Study(spark, calc)
    study.run(f1, Grid.plist("a", Seq(1, 2)))
    intercept[IllegalArgumentException] {
      study.run(p => Map("result_" -> 0.0), Grid.plist("a", Seq(1.5)))
    }
  }

  test("params must not carry bookkeeping columns") {
    val calc = tmpDir("graft-bad-")
    intercept[IllegalArgumentException] {
      Study(spark, calc).run(f1, Seq(Map("a" -> 1, "_run_id" -> "x")))
    }
  }
}
