package graft.core

import org.apache.spark.graftshim.Jobs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DatabaseSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  private def mkDb(): (Database, String) = {
    val calc = tmpDir("graft-dbspec-")
    Study(spark, calc).run(
      p => Map("r_" -> p("a").asInstanceOf[Long] * 2.0),
      Grid.plist("a", Seq(1, 2, 3)))
    (Database(spark, calc), calc)
  }

  test("printableDF: sorted columns, prefix hidden by default (P3)") {
    val (db, _) = mkDb()
    val p = Database.printableDF(db.read())
    assert(p.columns.toSeq == Seq("a", "r_"))
    val withPrefix = Database.printableDF(db.read(), prefixCols = true)
    assert(withPrefix.columns.toSeq == withPrefix.columns.toSeq.sorted)
    assert(withPrefix.columns.contains("_pset_hash"))
    val skip = Database.printableDF(db.read(), skipCols = Seq("r_"))
    assert(skip.columns.toSeq == Seq("a"))
    // ref df_print matrix (psweep.py:560-601): cols + prefixCols unions
    // the prefix set; cols and skipCols are mutually exclusive; index
    // prepends a display ordinal in current order
    val colsPlus = Database.printableDF(db.read(), prefixCols = true,
      cols = Seq("a"))
    assert(colsPlus.columns.contains("a") &&
      colsPlus.columns.contains("_pset_hash") &&
      !colsPlus.columns.contains("r_"))
    intercept[IllegalArgumentException] {
      Database.printableDF(db.read(), cols = Seq("a"), skipCols = Seq("r_"))
    }
    val idx = Database.printableDF(db.read().orderBy("a"), index = true)
    assert(idx.columns.head == "index")
    val rows = idx.collect()
    assert(rows.map(_.getLong(0)).toSeq == rows.indices.map(_.toLong))
  }

  test("extractRow/extractPset: point lookup asserts uniqueness (P6)") {
    val (db, _) = mkDb()
    val id = db.read().filter(col("a") === 2).select("_pset_id")
      .head().getString(0)
    val row = Database.extractRow(db.read(), id)
    assert(row.getAs[Long]("a") == 2L)
    val pset = Database.extractPset(db.read(), id)
    assert(pset == Map("a" -> 2L))
    intercept[IllegalArgumentException] {
      Database.extractRow(db.read(), "no-such-id")
    }
  }

  test("optimizeLayout + skip manifest: a point lookup reads 1 of 16 " +
    "files; appends maintain the manifest; unmanifested files degrade " +
    "pruning, never correctness") {
    val calc = tmpDir("graft-dblayout-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"),
        lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        (col("id") * 2).cast("double").as("x"))
    db.append(runDf(0, 4000))
    assert(!db.hasSkipManifest) // opt-in: nothing until asked

    db.optimizeLayout(numFiles = 16)
    assert(db.hasSkipManifest)
    val total = db.read().inputFiles.length
    assert(total == 16, s"expected 16 files, got $total")
    val probe = db.lookup("p0-1234")
    assert(probe.inputFiles.length == 1,
      s"lookup read ${probe.inputFiles.length} of $total files")
    assert(db.extractRow("p0-1234").getAs[Double]("x") == 2468.0)
    assert(db.extractPset("p0-1234") == Map("x" -> 2468.0))
    // a missing id prunes to zero rows, and uniqueness still asserts
    intercept[IllegalArgumentException](db.extractRow("p0-9999999"))

    // append with a live manifest: only the NEW files are statted
    db.append(runDf(1, 500).coalesce(2))
    val total2 = db.read().inputFiles.length
    assert(spark.read.parquet(s"${db.dbPath}/_graft_skip").count()
      == total2.toLong)
    val probe2 = db.lookup("p1-77")
    assert(probe2.inputFiles.length <= 3, // run2's 2 wide files + <=1 of run1
      s"lookup read ${probe2.inputFiles.length} of $total2 files")
    assert(db.extractRow("p1-77").getAs[Double]("x") == 154.0)

    // with the commit marker attesting completeness, lookups are
    // served PURELY from manifest rows — no per-call full listing, so
    // a file smuggled in behind the protocol's back is not seen...
    assert(db.manifestFresh)
    runDf(2, 10).coalesce(1).write.mode("append")
      .partitionBy("_run_id").parquet(db.dbPath)
    assert(db.lookupAll(Seq("p2-3")).count() == 0L)
    // ...but a REAL crashed append deletes the marker before any data
    // lands, so the crash state is (unmanifested files, no marker):
    // simulate it — the unknown file is then ALWAYS scanned
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(!db.manifestFresh)
    assert(db.extractRow("p2-3").getAs[Double]("x") == 6.0)

    // compact keeps (rebuilds) the manifest; compaction destroys hash
    // clustering, so the contract here is correctness, and a fresh
    // optimizeLayout restores pruning (<=1 file per run)
    db.rebuildSkipManifest()
    db.compact()
    assert(db.hasSkipManifest)
    assert(db.extractRow("p0-1234").getAs[Double]("x") == 2468.0)
    db.optimizeLayout(numFiles = 8)
    assert(db.lookup("p0-1234").inputFiles.length <= 3, // <=1 per run
      db.lookup("p0-1234").inputFiles.length.toString)

    // batch lookup: m probes read ~m files, not m scans
    val batch = db.lookupAll(Seq("p0-1234", "p0-42", "p1-77"))
    assert(batch.select("_pset_id").collect().map(_.getString(0)).toSet
      == Set("p0-1234", "p0-42", "p1-77"))
    assert(batch.inputFiles.length <= 6, // <= ~2 files per probe
      batch.inputFiles.length.toString)
    assert(db.lookupAll(Seq("absent-id")).count() == 0L)

    // no manifest -> plain full-scan fallback, same answers
    Fs.delete(s"${db.dbPath}/_graft_skip")
    assert(db.extractRow("p1-77").getAs[Double]("x") == 154.0)
    assert(db.lookupAll(Seq("p0-1234", "p1-77")).count() == 2L)
  }

  test("asOf: time travel over the run log — history is exact, future " +
    "partitions' files are never read with a fresh manifest, and the " +
    "crash window falls back to the filter scan") {
    val calc = tmpDir("graft-dbasof-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        col("id").cast("double").as("x"))
    db.append(runDf(0, 300))
    db.rebuildSkipManifest()
    db.append(runDf(1, 200))
    db.append(runDf(2, 100))
    assert(db.manifestFresh)
    // exact history at every epoch
    assert(db.asOf(-1L).count() == 0L)
    assert(db.asOf(0L).count() == 300L)
    assert(db.asOf(1L).count() == 500L)
    assert(db.asOf(99L).count() == 600L)
    // manifest-pruned: the asOf(0) frame holds ONLY run0's files
    val h = db.asOf(0L)
    val run0Files = db.read().inputFiles.filter(_.contains("_run_id=run0"))
    assert(h.inputFiles.sorted.toSeq == run0Files.sorted.toSeq,
      s"asOf read ${h.inputFiles.length} files, " +
        s"expected ${run0Files.length} (run0 only)")
    assert(h.select(sum(col("_run_seq"))).head().getLong(0) == 0L)
    // crash window (no marker): fallback filter scan, same answer
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.asOf(0L).count() == 300L && db.asOf(1L).count() == 500L)
  }

  test("asOfTime: wall-clock addressing resolves to the latest run " +
    "committed by ts — exact at the commit instant, between runs, and " +
    "loud before the first run; manifest-served resolution reads no " +
    "data files") {
    val calc = tmpDir("graft-dbasoftime-")
    val db = Database(spark, calc)
    // three runs committed a minute apart
    val t0 = java.time.Instant.parse("2026-08-15T10:00:00Z")
    def runDf(runSeq: Int, n: Int) = {
      val commit = t0.plusSeconds(runSeq * 60L)
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        // rows carry timestamps up to the run's commit instant
        timestamp_seconds(lit(commit.minusSeconds(30).getEpochSecond)
          + col("id") % 31).as("_time_utc"),
        col("id").cast("double").as("x"))
    }
    db.append(runDf(0, 60))
    db.rebuildSkipManifest()
    db.append(runDf(1, 40))
    db.append(runDf(2, 20))
    assert(db.manifestFresh)
    // exactly AT run 1's commit instant: runs 0 and 1
    assert(db.asOfTime(t0.plusSeconds(60)).count() == 100L)
    // between run 1 and run 2: still runs 0 and 1
    assert(db.asOfTime(t0.plusSeconds(90)).count() == 100L)
    // far future: everything
    assert(db.asOfTime(t0.plusSeconds(3600)).count() == 120L)
    // one instant BEFORE run 0's commit: run 0 not yet attested
    val e = intercept[IllegalArgumentException](
      db.asOfTime(t0.minusSeconds(31)))
    assert(e.getMessage.contains("no run"))
    // manifest-served: the resolved frame reads only the history's
    // files (run 0 at t0 = run 0's commit instant)
    val h = db.asOfTime(t0)
    val run0Files = db.read().inputFiles.filter(_.contains("_run_id=run0"))
    assert(h.inputFiles.sorted.toSeq == run0Files.sorted.toSeq)
    // crash window (no marker): the scan fallback resolves identically
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.asOfTime(t0.plusSeconds(60)).count() == 100L)
  }

  test("changes: incremental read between run commits — exact delta, " +
    "range-overlap file pruning, crash-window fallback") {
    val calc = tmpDir("graft-dbchanges-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        col("id").cast("double").as("x"))
    db.append(runDf(0, 300))
    db.rebuildSkipManifest()
    db.append(runDf(1, 200))
    db.append(runDf(2, 100))
    assert(db.manifestFresh)
    // exact deltas at every interval
    assert(db.changes(-1L).count() == 600L)       // everything
    assert(db.changes(0L).count() == 300L)        // runs 1..
    assert(db.changes(0L, 1L).count() == 200L)    // run 1 only
    assert(db.changes(1L, 2L).count() == 100L)    // run 2 only
    assert(db.changes(2L).count() == 0L)          // nothing new
    assert(db.changes(0L, 0L).count() == 0L)      // empty interval
    intercept[IllegalArgumentException](db.changes(3L, 1L))
    // manifest-pruned: the (0,1] delta holds ONLY run1's files
    val d = db.changes(0L, 1L)
    val run1Files = db.read().inputFiles.filter(_.contains("_run_id=run1"))
    assert(d.inputFiles.sorted.toSeq == run1Files.sorted.toSeq,
      s"changes read ${d.inputFiles.length} files, " +
        s"expected ${run1Files.length} (run1 only)")
    assert(d.select(sum(col("_run_seq"))).head().getLong(0) == 200L)
    // crash window (no marker): fallback filter scan, same answer
    Fs.delete(s"${db.dbPath}/_graft_skip_commit")
    assert(db.changes(0L, 1L).count() == 200L && db.changes(1L).count() == 100L)
  }

  test("existingAmong: dedup membership via semi-join (J1)") {
    val (db, _) = mkDb()
    val hashes = db.read().select("_pset_hash").collect().map(_.getString(0))
    val found = Database.existingAmong(db.read(), "_pset_hash",
      hashes.take(2).toSeq :+ "nope")
    assert(found == hashes.take(2).toSet)
    assert(Database.existingAmong(db.read(), "no_such_col", Seq("x")).isEmpty)
  }

  test("skip manifest: an older manifest with seq and hash ranges is kept") {
    val calc = tmpDir("graft-dbmanifest-older-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        concat(lit(s"h$runSeq-"), col("id")).as("_pset_hash"),
        (col("id") + runSeq * 10000).as("_pset_seq"),
        lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        col("id").cast("double").as("x"))
    db.append(runDf(0, 4000))
    db.optimizeLayout(numFiles = 16)
    // the manifest as older writers left it: per-file _pset_hash ranges
    // and _pset_seq maxima beside the columns read today
    val skip = s"${db.dbPath}/_graft_skip"
    spark.read.parquet(skip)
      .withColumn("psh_hmin", col("pid_hmin"))
      .withColumn("psh_hmax", col("pid_hmax"))
      .withColumn("pset_seq_max", lit(3999L))
      .write.parquet(s"$calc/older_skip")
    Fs.delete(skip)
    Fs.rename(s"$calc/older_skip", skip)
    assert(db.manifestFresh)
    db.append(runDf(1, 500).coalesce(2))
    db.append(runDf(2, 100).coalesce(1))
    assert(db.manifestFresh)
    // appended to, not rebuilt: the 16 older rows keep their columns
    val m = spark.read.option("mergeSchema", "true").parquet(skip)
    assert(m.count() == db.read().inputFiles.length.toLong)
    assert(m.filter(col("pset_seq_max").isNotNull).count() == 16L)

    val cols = db.read().columns.map(col)
    def assertScanRows(pruned: org.apache.spark.sql.DataFrame,
                       probe: org.apache.spark.sql.Column): Unit = {
      val a = pruned.select(cols: _*)
      val b = db.read().filter(probe).select(cols: _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    def runFiles(r: Int) =
      db.read().inputFiles.filter(_.contains(s"_run_id=run$r")).sorted.toSeq
    val probe = db.lookup("p0-1234")
    assertScanRows(probe, col("_pset_id") === "p0-1234")
    assert(probe.count() == 1L)
    assert(probe.inputFiles.count(_.contains("_run_id=run0")) == 1,
      probe.inputFiles.mkString(", "))
    val batch = db.lookupAll(Seq("p0-42", "p1-77", "p2-3"))
    assertScanRows(batch, col("_pset_id").isin("p0-42", "p1-77", "p2-3"))
    assert(batch.count() == 3L)
    val h = db.asOf(0L)
    assertScanRows(h, col("_run_seq") <= 0L)
    assert(h.inputFiles.sorted.toSeq == runFiles(0))
    val d = db.changes(0L, 1L)
    assertScanRows(d, col("_run_seq") === 1L)
    assert(d.inputFiles.sorted.toSeq == runFiles(1))
    assert(db.changes(1L).inputFiles.sorted.toSeq == runFiles(2))
  }

  test("dfFilterConds: and/or/xor fusion (P1)") {
    val (db, _) = mkDb()
    val d = db.read()
    assert(Database.dfFilterConds(d,
      Seq(col("a") > 1, col("a") < 3), "and").count() == 1)
    assert(Database.dfFilterConds(d,
      Seq(col("a") === 1, col("a") === 3), "or").count() == 2)
    assert(Database.dfFilterConds(d,
      Seq(col("a") > 1, col("a") < 3), "xor").count() == 2)
    intercept[IllegalArgumentException] {
      Database.dfFilterConds(d, Seq(col("a") > 1), "nand")
    }
  }

  test("compact: fewer files, identical content, hashes intact") {
    val calc = tmpDir("graft-compact-")
    val db = Database(spark, calc)
    // four runs of 8 rows, each appended as several files (a run of
    // Study writes one file while it is small)
    (1 to 4).foreach { i =>
      val run = spark.range(8).select((col("id") + i * 10).as("a"),
        lit(s"run$i").as("_run_id"),
        concat(lit(s"p$i-"), col("id")).as("_pset_id"),
        lit(i.toLong).as("_run_seq"), (col("id") + i * 8).as("_pset_seq"),
        lit(1.0).as("r_"))
      db.append(run.withColumn("_pset_hash", PsetHash.expr(run.columns.toSeq))
        .repartition(4))
    }
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(db.dbPath))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = db.read().orderBy("_pset_seq").collect()
    val filesBefore = parquetFiles()
    assert(filesBefore > 4, s"$filesBefore files")
    db.compact()
    val after = db.read().orderBy("_pset_seq").collect()
    assert(parquetFiles() < filesBefore)
    assert(parquetFiles() == 4) // one per run
    assert(before.map(_.toString).toSeq == after.map(_.toString).toSeq)
  }

  test("driver contract: entry() smoke (rows > 0)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("source breadth: db round-trips through ORC and CSV") {
    val (db, calc) = mkDb()
    val full = db.read()
    // ORC: full-fidelity columnar alternative
    full.write.mode("overwrite").orc(s"$calc/db_orc")
    val orc = spark.read.orc(s"$calc/db_orc")
    assert(orc.orderBy("_pset_seq").collect().map(_.toString).toSeq ==
      full.orderBy("_pset_seq").collect().map(_.toString).toSeq)
    // CSV: lossy text format — needs explicit schema + timestamp format
    val csvCols = full.select("a", "r_", "_pset_hash", "_pset_seq")
    csvCols.write.mode("overwrite").option("header", "true")
      .csv(s"$calc/db_csv")
    val csv = spark.read.option("header", "true")
      .schema(csvCols.schema).csv(s"$calc/db_csv")
    assert(csv.orderBy("_pset_seq").collect().map(_.toString).toSeq ==
      csvCols.orderBy("_pset_seq").collect().map(_.toString).toSeq)
  }

  /** `db.read()` must equal a fresh footer merge of the db: the same
    * schema and the same rows. Checked on the first read (served after
    * whatever changed the db) and on a second one (a footer-cache hit). */
  private def assertExactRead(db: Database, after: String): Unit =
    (1 to 2).foreach { _ =>
      val got = db.read()
      val want = spark.read.option("mergeSchema", "true").parquet(db.dbPath)
      assert(got.schema == want.schema, s"schema after $after")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"rows after $after")
    }

  test("schema snapshot: read() equals a fresh mergeSchema read after " +
    "appends, rewrites, a second handle's append and a repaired swap") {
    val calc = tmpDir("graft-dbsnap-")
    val study = Study(spark, calc)
    study.run(p => Map("r_" -> 1.0), Grid.plist("a", Seq(1, 2)))
    val db = Database(spark, calc)
    assertExactRead(db, "the first run")
    study.run(p => Map("r_" -> 2.0), Grid.plist("a", Seq(3)))
    assertExactRead(db, "a plain append")
    study.run(p => Map("r_" -> 3.0, "s_" -> "x"), Grid.plist("a", Seq(4)))
    assertExactRead(db, "a schema-growing append")
    db.rehashWith(Map("b" -> org.apache.spark.sql.types.LongType), Map.empty)
    assertExactRead(db, "rehashWith")
    db.compact()
    assertExactRead(db, "compact")
    db.optimizeLayout(numFiles = 2)
    assertExactRead(db, "optimizeLayout")
    val other = Database(spark, calc)
    other.append(db.read().limit(1)
      .withColumn("_pset_id", lit("p-other"))
      .withColumn("_run_id", lit("run-other"))
      .withColumn("t_", lit(7L)))
    assertExactRead(db, "an append through a second handle")
    // a swap that crashed between its renames: the live db parked at
    // .__old, a replacement with another schema staged but never swapped
    // in — the repaired read must serve the parked state
    val tmp = Fold.stage(db.dbPath)
    db.read().drop("r_").write.partitionBy("_run_id").parquet(tmp)
    Fs.rename(db.dbPath, s"${db.dbPath}.__old")
    assertExactRead(db, "a repaired swap that crashed before the new state")
    assert(db.read().columns.contains("r_"))
    // ... and one that crashed after its second rename: stale .__old
    Fs.rename(db.dbPath, s"${db.dbPath}.__old")
    Fs.rename(tmp, db.dbPath)
    assertExactRead(db, "a repaired swap that crashed after the new state")
    assert(!db.read().columns.contains("r_"))
  }

  test("pruned reads: lookupAll, asOf and changes on a manifested db " +
    "serve read()'s schema and the plain scan's rows after a " +
    "schema-growing append") {
    val calc = tmpDir("graft-dbprune-")
    val study = Study(spark, calc)
    study.run(p => Map("r_" -> 1.0), Grid.plist("a", Seq(1, 2)))
    val db = Database(spark, calc)
    db.optimizeLayout(numFiles = 2)
    study.run(p => Map("r_" -> 2.0, "s_" -> "x"), Grid.plist("a", Seq(3)))
    assert(db.manifestFresh, "the append must keep the manifest fresh")
    val all = db.read()
    val run0 = all.agg(min(col("_run_seq"))).head().getLong(0)
    val ids = all.filter(col("_run_seq") === run0)
      .select("_pset_id").collect().map(_.getString(0)).toSeq
    Seq(
      "lookupAll" -> (db.lookupAll(ids), col("_pset_id").isin(ids: _*)),
      "asOf" -> (db.asOf(run0), col("_run_seq") <= run0),
      "changes" -> (db.changes(run0 - 1, run0),
        col("_run_seq") > run0 - 1 && col("_run_seq") <= run0)
    ).foreach { case (name, (got, probe)) =>
      assert(got.schema == all.schema, s"$name schema")
      val want = all.filter(probe)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$name rows")
    }
  }

  test("schema snapshot: reading an unchanged db starts no Spark job, " +
    "also after stats-store writes") {
    val (db, _) = mkDb()
    db.read()
    assert(Jobs.count(spark.sparkContext)(db.read())._2 == 0)
    Fs.writeString(s"${db.dbPath}/_graft_stats/probe.json", "{}")
    assert(Jobs.count(spark.sparkContext)(db.read())._2 == 0)
    // a data file written past the engine is a different listing: its
    // one footer is read, on the driver, and merged into the schema
    db.read().limit(1).withColumn("_run_id", lit("run-external"))
      .write.mode("append").partitionBy("_run_id").parquet(db.dbPath)
    val footers = Fs.footersRead
    assert(Jobs.count(spark.sparkContext)(db.read())._2 == 0)
    assert(Fs.footersRead - footers == 1L)
    assertExactRead(db, "an append past the engine")
    db.close()
  }

  test("counters on empty database") {
    val db = Database(spark, tmpDir("graft-empty-"))
    assert(!db.exists)
    assert(db.readOpt().isEmpty)
    // a base without rows: no counters, no hash or id found
    val empty = db.spark.range(0).select(
      col("id").as("_pset_seq"), col("id").as("_run_seq"),
      col("id").cast("string").as("_pset_hash"),
      col("id").cast("string").as("_pset_id"))
    assert(Study.preWriteScan(empty, Seq("x"), Seq("y")) ==
      Study.PreWrite(-1L, -1L, Set.empty, Set.empty))
  }

  test("git integration: auto-commit before, run-id commit after (E10)") {
    val root = tmpDir("graft-git-")
    import scala.sys.process._
    Process(Seq("git", "init", "-q"), new java.io.File(root)).!
    Process(Seq("git", "config", "user.email", "t@t"), new java.io.File(root)).!
    Process(Seq("git", "config", "user.name", "t"), new java.io.File(root)).!
    Fs.writeString(s"$root/untracked.txt", "dirty")
    Study(spark, StudyConfig(calcDir = root, git = true))
      .run(p => Map("r_" -> 1.0), Grid.plist("a", Seq(1)))
    val log = Process(Seq("git", "log", "--oneline"),
      new java.io.File(root)).!!
    assert(log.contains("graft: auto commit"))
    assert(log.contains("graft: run_id="))
    val status = Process(Seq("git", "status", "--porcelain"),
      new java.io.File(root)).!!
    assert(status.trim.isEmpty, s"work tree should be clean: $status")
  }
}
