package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, Study, StudyConfig}

class MonitorSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  test("tmpsave progress monitor folds checkpoints into per-run counts") {
    val calc = tmpDir("graft-stream-")
    val cfg = StudyConfig(calcDir = calc, tmpsave = true)
    val out = Study(spark, cfg)
      .run(p => Map("r_" -> 1.0), Grid.plist("a", 1 to 7))
    val q = Monitor.startProgress(spark, calc, "prog_test")
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM prog_test").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("run_id") == out.runId)
      assert(rows.head.getAs[Long]("n_done") == 7)
      assert(rows.head.getAs[Double]("mean_runtime") >= 0.0)
    } finally q.stop()
  }

  test("tailDatabase: the run log as a stream — a drain delivers every " +
    "row once, an append then re-drain under the SAME checkpoint " +
    "delivers only the new run, and db metadata stays invisible") {
    import graft.core.Database
    val calc = tmpDir("graft-dbtail-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"), col("id").cast("double").as("x"))
    db.append(runDf(0, 30))
    db.rebuildSkipManifest() // metadata present BEFORE the tail starts
    val ckpt = tmpDir("graft-dbtail-ckpt-")
    // the memory sink cannot resume a checkpoint; collect through
    // foreachBatch (which can), recording every delivery so duplicates
    // would be visible
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def drain(): Unit = {
      val q = Monitor.tailDatabase(db)
        .select(col("_pset_id"), col("_run_seq"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val rows = b.collect().map(r => (r.getString(0), r.getLong(1)))
            seen.synchronized { seen ++= rows }
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(seen.length == 30)
    assert(seen.forall(_._2 == 0L))
    // append a run (manifest maintenance included) and resume the SAME
    // checkpoint: only the new run's files arrive
    db.append(runDf(1, 20))
    drain()
    assert(seen.length == 50, s"expected 50 deliveries, got ${seen.length}")
    assert(seen.count(_._2 == 1L) == 20)
    // exactly once: no _pset_id delivered twice across the two drains
    assert(seen.map(_._1).distinct.length == 50)
  }

  test("tailDatabase feeds the sink family: tail -> profileSink over " +
    "two appends equals the one-shot whole-table audit") {
    import graft.core.Database
    import graft.ops.Sketch
    val calc = tmpDir("graft-dbtailprof-")
    val db = Database(spark, calc)
    def runDf(runSeq: Int, n: Int, off: Int) =
      spark.range(0, n).select(
        concat(lit(s"p$runSeq-"), col("id")).as("_pset_id"),
        col("id").as("_pset_seq"), lit(runSeq.toLong).as("_run_seq"),
        lit(s"run$runSeq").as("_run_id"),
        (col("id") + off).cast("double").as("x"))
    db.append(runDf(0, 40, 0))
    val tmp = tmpDir("graft-dbtailprof-state-")
    def drain(): Unit = {
      val q = Monitor.profileSink(
        Monitor.tailDatabase(db).select(col("_pset_id"), col("x")),
        s"$tmp/state", s"$tmp/ckpt", keyCols = Seq("_pset_id"),
        numCols = Seq("x"), kDistinct = 1024, kQuant = 1024)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    db.append(runDf(1, 25, 1000))
    drain() // same checkpoint: only run1's files fold in
    val streamed = Sketch.columnProfileFromState(
      spark.read.parquet(s"$tmp/state"), Seq(0.5))
    val oneShot = Sketch.columnProfile(
      db.read().select(col("_pset_id"), col("x")),
      Seq("_pset_id"), Seq("x"), Seq(0.5), 1024, 1024)
    val a = streamed.orderBy("col_name").collect().map(_.toSeq)
    val b = oneShot.orderBy("col_name").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq,
      s"streamed audit != one-shot:\n${a.toSeq}\nvs\n${b.toSeq}")
  }

  test("stateful streaming sessionization closes sessions across batches") {
    val dir = tmpDir("graft-sess-")
    import spark.implicits._
    def write(name: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "ts_s", "value")
        .withColumn("ts", org.apache.spark.sql.functions.col("ts_s")
          .cast("timestamp"))
        .select("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    // batch 1: user 1 has two sessions (the 2nd still open at batch end)
    write("b1", Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:10:00", 2.0),
      (1L, "2024-01-01 02:00:00", 5.0)))
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType),
        StructField("ts", TimestampType),
        StructField("value", DoubleType))))
      .parquet(s"$dir/in").as[Monitor.SessionEvent]
    val q = Monitor.sessionizeStream(stream).writeStream
      .outputMode("append").format("memory").queryName("sess_test").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.sql("SELECT * FROM sess_test").collect()
      assert(afterB1.length == 1) // first session closed by the 02:00 event
      assert(afterB1.head.getAs[Long]("n_events") == 2)
      assert(afterB1.head.getAs[Double]("value_sum") == 3.0)
      // batch 2: a much later event closes the open session
      write("b2", Seq((1L, "2024-01-01 05:00:00", 9.0)))
      q.processAllAvailable()
      val afterB2 = spark.sql(
        "SELECT * FROM sess_test ORDER BY session_start").collect()
      assert(afterB2.length == 2)
      assert(afterB2(1).getAs[Long]("n_events") == 1)
      assert(afterB2(1).getAs[Double]("value_sum") == 5.0)
    } finally q.stop()
  }

  test("streaming dedup drops re-submitted keys across batches; " +
    "watermark bounds state but re-emits late re-crawls") {
    import spark.implicits._
    val dir = tmpDir("graft-sdedup-")
    val schema = StructType(Seq(
      StructField("doc", StringType), StructField("ts", TimestampType)))
    def write(rows: Seq[(String, String)]): Unit =
      rows.toDF("doc", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
        .select("doc", "ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(Seq("a" -> "2024-01-01 00:00:00", "b" -> "2024-01-01 00:01:00",
      "a" -> "2024-01-01 00:02:00"))
    // exact (unbounded-state) dedup: duplicate in a later batch drops too
    val q1 = Monitor.dedupStream(
      spark.readStream.schema(schema).parquet(s"$dir/in"), Seq("doc"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_exact").start()
    try {
      q1.processAllAvailable()
      assert(spark.sql("SELECT doc FROM sdedup_exact").collect()
        .map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
      write(Seq("b" -> "2024-01-01 00:03:00", "c" -> "2024-01-01 00:04:00"))
      q1.processAllAvailable()
      assert(spark.sql("SELECT doc FROM sdedup_exact").collect()
        .map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c"))
    } finally q1.stop()
    // watermark-bounded state: a re-crawl far beyond the delay re-emits
    // (the documented tradeoff), in-window duplicates still drop
    val q2 = Monitor.dedupStream(
      spark.readStream.schema(schema).parquet(s"$dir/in"), Seq("doc"),
      watermark = Some(("ts", "1 minute")))
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_wm").start()
    try {
      q2.processAllAvailable()
      write(Seq("a" -> "2024-01-01 09:00:00"))
      q2.processAllAvailable()
      val got = spark.sql("SELECT doc FROM sdedup_wm").collect()
        .map(_.getString(0)).sorted.toSeq
      // first four uniques plus the late 'a' re-emission
      assert(got == Seq("a", "a", "b", "c"))
    } finally q2.stop()
  }

  test("watermark bounds streaming-dedup state under a long drain; " +
    "without it state grows with the distinct-key count") {
    import spark.implicits._
    // the 100 TB streaming risk is unbounded state, not wrong answers:
    // pin the state-store row counts the two dedup modes actually hold
    // after a multi-batch drain with advancing event time
    val dir = tmpDir("graft-state-")
    val schema = StructType(Seq(
      StructField("doc", StringType), StructField("ts", TimestampType)))
    def write(batch: Int): Unit =
      (0 until 20).map(j => (f"d$batch%02d-$j", f"2024-01-01 $batch%02d:00:00"))
        .toDF("doc", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
        .select("doc", "ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(0)
    val bounded = Monitor.dedupStream(
      spark.readStream.schema(schema).parquet(s"$dir/in"), Seq("doc"),
      watermark = Some(("ts", "1 minute")))
      .writeStream.outputMode("append").format("memory")
      .queryName("state_wm").start()
    try {
      // one micro-batch per hour of event time: the watermark advances
      // batch by batch, evicting every key older than (max ts - 1 min)
      (1 until 10).foreach { b => bounded.processAllAvailable(); write(b) }
      bounded.processAllAvailable()
      val stateRows = bounded.lastProgress.stateOperators(0).numRowsTotal
      // eviction lags one batch (the watermark is computed from the
      // PREVIOUS batch's max event time), so at most the last two
      // batches' keys are resident — never the 200-key history
      assert(stateRows >= 20 && stateRows <= 60,
        s"watermarked dedup state holds $stateRows rows")
      // every key still emitted exactly once (no in-window duplicates
      // were fed, and eviction must not drop emissions)
      assert(spark.sql("SELECT count(*) FROM state_wm").head().getLong(0)
        == 200L)
    } finally bounded.stop()
    // exact (no-watermark) dedup pays state proportional to the
    // distinct-key count — the documented tradeoff, pinned here
    val unbounded = Monitor.dedupStream(
      spark.readStream.schema(schema).parquet(s"$dir/in"), Seq("doc"))
      .writeStream.outputMode("append").format("memory")
      .queryName("state_nowm").start()
    try {
      unbounded.processAllAvailable()
      assert(unbounded.lastProgress.stateOperators(0).numRowsTotal == 200L)
    } finally unbounded.stop()
  }

  test("streaming SimHash dedup: whitespace-variant re-crawls collapse " +
    "in-window, watermark bounds the signature state, post-eviction " +
    "re-crawls re-emit") {
    import spark.implicits._
    // the simhash-keyed twin of the exact-dedup state pin above: the
    // state key is (source, simhash64(tokens)), so the bound must hold
    // on SIGNATURES, and a re-crawl differing only in internal
    // whitespace must hit the same state row
    val dir = tmpDir("graft-simstate-")
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    // batch b at hour b: 10 distinct docs, each arriving twice — once
    // clean, once as a same-window re-crawl with doubled INTERNAL
    // whitespace (split("\\s+") collapses runs but keeps boundary
    // empties, so only internal variation is signature-neutral)
    def write(b: Int, hour: Int): Unit =
      (0 until 10).flatMap { j =>
        val body = s"alpha beta g$b-$j delta"
        Seq((s"src${j % 2}", body, f"2024-01-01 $hour%02d:00:00"),
          (s"src${j % 2}", body.replace(" ", "   "),
            f"2024-01-01 $hour%02d:00:30"))
      }.toDF("source", "text", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp"))
        .select("source", "text", "ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(0, 0)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      .withColumn("sig", graft.ops.Dedup.simhash64(
        graft.ops.Text.tokens(col("text"))))
    val q = Monitor.dedupStream(stream, Seq("source", "sig"),
      watermark = Some(("ts", "1 minute")))
      .writeStream.outputMode("append").format("memory")
      .queryName("simdedup_state").start()
    try {
      (1 until 5).foreach { b => q.processAllAvailable(); write(b, b) }
      q.processAllAvailable()
      // 5 batches x 10 distinct signatures = 50 keys fed; eviction lags
      // one batch, so at most ~two batches' signatures stay resident
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows >= 10 && stateRows <= 30,
        s"watermarked simhash-dedup state holds $stateRows rows")
      // one survivor per distinct content — no whitespace variant ever
      // re-emits inside its window
      assert(spark.sql("SELECT count(*) FROM simdedup_state").head()
        .getLong(0) == 50L)
      // batch-0 content re-crawled AFTER its signatures were evicted:
      // re-emits (the documented bounded-state/exactness tradeoff)
      write(0, 6)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM simdedup_state").head()
        .getLong(0) == 60L)
    } finally q.stop()
  }

  test("native session_window: an event exactly gap after its " +
    "predecessor CONTINUES the session (merging treats touching " +
    "windows as overlapping — the batch islands rule); emission waits " +
    "for the watermark") {
    val dir = tmpDir("graft-sessnat-")
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("user_id", "ts_s", "value")
        .withColumn("ts", col("ts_s").cast("timestamp"))
        .select("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(Seq(
      (1L, "2024-01-01 00:00:00", 1L),
      (1L, "2024-01-01 00:30:00", 2L), // exactly the 30-minute gap
      (1L, "2024-01-01 00:40:00", 4L)))
    val stream = spark.readStream.schema(StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("value", LongType)))).parquet(s"$dir/in")
    val q = Monitor.sessionizeNative(stream).writeStream
      .outputMode("append").format("memory").queryName("sessnat_test")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessnat_test").isEmpty) // nothing closed yet
      write(Seq((2L, "2024-01-02 12:00:00", 0L))) // advance watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, session_window.start, " +
        "n_events, value_sum FROM sessnat_test ORDER BY 2")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getLong(3))).toSeq
      // ONE session: 00:30 touches [00:00, 00:30) and merging treats
      // touching as overlapping, so the chain continues through 00:40 —
      // exactly the batch gaps-and-islands `> gap` rule
      assert(rows == Seq((1L, "2024-01-01 00:00:00.0", 3L, 7L)), rows)
    } finally q.stop()
  }

  test("stream-stream attribution join: a purchase arriving in a LATER " +
    "batch matches earlier clicks from join state, inside the trailing " +
    "window only; plan is a StreamingSymmetricHashJoin") {
    val dir = tmpDir("graft-attr-")
    import spark.implicits._
    def writeC(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("click_user", "ts_s", "click_cents")
        .withColumn("click_ts", col("ts_s").cast("timestamp"))
        .select("click_user", "click_ts", "click_cents")
        .coalesce(1).write.mode("append").parquet(s"$dir/clicks")
    def writeP(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("p_user", "ts_s", "event_id")
        .withColumn("p_ts", col("ts_s").cast("timestamp"))
        .select("p_user", "p_ts", "event_id")
        .coalesce(1).write.mode("append").parquet(s"$dir/purchases")
    writeC(Seq((1L, "2024-01-01 00:00:00", 5L),
      (1L, "2024-01-01 00:10:00", 7L)))
    writeP(Seq((1L, "2024-01-01 00:20:00", 100L),
      (2L, "2024-01-01 00:20:00", 200L)))
    val clicks = spark.readStream.schema(StructType(Seq(
      StructField("click_user", LongType),
      StructField("click_ts", TimestampType),
      StructField("click_cents", LongType)))).parquet(s"$dir/clicks")
    val purchases = spark.readStream.schema(StructType(Seq(
      StructField("p_user", LongType),
      StructField("p_ts", TimestampType),
      StructField("event_id", LongType)))).parquet(s"$dir/purchases")
    val q = Monitor.attributionJoin(clicks, purchases).writeStream
      .outputMode("append").format("memory").queryName("attr_test").start()
    try {
      q.processAllAvailable()
      // batch 2: this purchase's window [00:05, 00:35] must pick up the
      // 00:10 click from BATCH-1 join state (not re-read), and must NOT
      // pick up the 00:00 click (outside the trailing 30 minutes)
      writeP(Seq((1L, "2024-01-01 00:35:00", 300L)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, click_cents FROM attr_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // purchase 100 ([-0:10, 0:20]) matches both clicks; purchase 200
      // is another user's; purchase 300 matches only the 00:10 click
      assert(rows == Seq((100L, 5L), (100L, 7L), (300L, 7L)), rows)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out))(q.explain())
      assert(out.toString.contains("StreamingSymmetricHashJoin"),
        out.toString.take(2000))
    } finally q.stop()
  }

  test("chained join->window streaming: an hour emits only after the " +
    "watermark of BOTH sides passes its end, with cross-batch join " +
    "matches included exactly once") {
    val dir = tmpDir("graft-attrw-")
    import spark.implicits._
    def writeC(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("click_user", "ts_s", "click_cents")
        .withColumn("click_ts", col("ts_s").cast("timestamp"))
        .select("click_user", "click_ts", "click_cents")
        .coalesce(1).write.mode("append").parquet(s"$dir/clicks")
    def writeP(rows: Seq[(Long, String)]): Unit =
      rows.toDF("p_user", "ts_s")
        .withColumn("p_ts", col("ts_s").cast("timestamp"))
        .select("p_user", "p_ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/purchases")
    writeC(Seq((1L, "2024-01-01 00:00:00", 5L),
      (1L, "2024-01-01 00:10:00", 7L)))
    writeP(Seq((1L, "2024-01-01 00:20:00")))
    val clicks = spark.readStream.schema(StructType(Seq(
      StructField("click_user", LongType),
      StructField("click_ts", TimestampType),
      StructField("click_cents", LongType)))).parquet(s"$dir/clicks")
    val purchases = spark.readStream.schema(StructType(Seq(
      StructField("p_user", LongType),
      StructField("p_ts", TimestampType)))).parquet(s"$dir/purchases")
    val q = Monitor.attributionWindowed(clicks, purchases).writeStream
      .outputMode("append").format("memory").queryName("attrw_test").start()
    try {
      q.processAllAvailable()
      // hour 0's window end (01:00) is past min(00:20, 00:10) - 2h
      assert(spark.table("attrw_test").isEmpty)
      // batch 2 advances BOTH watermarks past 01:00 + 2h; its own
      // purchase matches the same-batch click, its hour stays open
      writeC(Seq((2L, "2024-01-01 06:00:00", 11L)))
      writeP(Seq((2L, "2024-01-01 06:10:00")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, n_clicks, click_cents FROM attrw_test")
        .collect().map(r => (r.getTimestamp(0).toString,
          r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(("2024-01-01 00:00:00.0", 2L, 12L)), rows)
    } finally q.stop()
  }

  test("mixture monitor: state stays one row per source across batches") {
    import spark.implicits._
    val dir = tmpDir("graft-mixmon-")
    def write(batch: Int): Unit =
      (0 until 30).map(j => (s"src${j % 3}", s"tok$batch tok$j end"))
        .toDF("source", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(0)
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType)))
    val q = Monitor.mixtureMonitor(
      spark.readStream.schema(schema).parquet(s"$dir/in"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("mixmon").start()
    try {
      (1 until 5).foreach { b => q.processAllAvailable(); write(b) }
      q.processAllAvailable()
      // 150 input rows, 3 sources: state is bounded by the group count,
      // not the stream length
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 3L)
      val rows = spark.sql(
        "SELECT * FROM mixmon ORDER BY source").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("src0", "src1", "src2"))
      assert(rows.forall(_.getLong(1) == 50L)) // 5 batches x 10 docs each
      assert(rows.forall(_.getLong(2) == 150L)) // 3 tokens per doc
    } finally q.stop()
  }

  test("domain-route monitor: frozen router applied statelessly, state " +
    "stays one row per domain, null text dropped") {
    import spark.implicits._
    val dir = tmpDir("graft-droutemon-")
    val tgtA = Seq("quantum flux harmonics", "flux quantum field")
      .toDF("text")
    val tgtB = Seq("banana smoothie recipe", "banana blender juice")
      .toDF("text")
    val raw = Seq("quantum flux field", "banana banana recipe",
      "flux harmonics quantum").toDF("text")
    val router = graft.ops.Dsir.freezeRouter(raw,
      Seq("a" -> tgtA, "b" -> tgtB), buckets = 64)
    def write(batch: Int): Unit =
      Seq(Some(s"quantum flux batch$batch"),
        Some(s"banana smoothie batch$batch"),
        Option.empty[String]) // null text must be dropped, not routed
        .toDF("text")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    write(0)
    val schema = StructType(Seq(StructField("text", StringType)))
    val q = Monitor.domainRouteMonitor(
      spark.readStream.schema(schema).parquet(s"$dir/in"), router)
      .writeStream.outputMode("complete").format("memory")
      .queryName("droutemon").start()
    try {
      (1 until 4).foreach { b => q.processAllAvailable(); write(b) }
      q.processAllAvailable()
      // 12 input rows (4 null), 2 domains: state bounded by domains
      assert(q.lastProgress.stateOperators(0).numRowsTotal == 2L)
      val rows = spark.sql(
        "SELECT * FROM droutemon ORDER BY domain").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
      assert(rows.map(_.getLong(1)).toSeq == Seq(4L, 4L))
      // routing confidence is positive both ways on this fixture
      assert(rows.forall(_.getDouble(2) > 0.0))
    } finally q.stop()
  }

  test("minhash-dedup sink: a near-edited re-crawl in a LATER batch " +
    "drops against the persisted index; novel docs survive") {
    import spark.implicits._
    val root = tmpDir("graft-mhsink-")
    val in = s"$root/in"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def drain(): Unit = {
      val q = Monitor.minhashDedupSink(
        spark.readStream.schema(schema).parquet(in),
        s"$root/idx", s"$root/out", s"$root/cp")
      try q.processAllAvailable() finally q.stop()
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    write(Seq((1L, base), (2L, "one two three four five six seven")))
    drain()
    // re-crawl of doc 1 with one appended token (high-Jaccard near-dup)
    // must drop against the INDEX; doc 11 is genuinely new
    write(Seq((10L, base + " recrawl"),
      (11L, "red orange yellow green blue indigo violet umber")))
    drain()
    val kept = spark.read.parquet(s"$root/out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 11L), kept)
  }

  test("bm25-index sink: a drained two-batch ingest serves the same " +
    "search as the batch scorer over everything that arrived; a resumed " +
    "checkpoint appends only the new batch") {
    import spark.implicits._
    val root = tmpDir("graft-bm25sink-")
    val in = s"$root/in"; val idx = s"$root/idx"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def drain(): Unit = {
      val q = Monitor.bm25IndexSink(
        spark.readStream.schema(schema).parquet(in), idx, s"$root/cp")
      try q.processAllAvailable() finally q.stop()
    }
    write(Seq((0L, "apple banana apple"), (1L, "apple cherry")))
    drain()
    write(Seq((2L, "banana banana durian"), (3L, "cherry durian")))
    drain() // resumed checkpoint: only batch 2 appends
    val got = graft.ops.Retrieval
      .bm25Search(spark, idx, Seq("apple", "banana"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.ops.Retrieval
      .bm25TopK(spark.read.parquet(in), Seq("apple", "banana"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"$got vs $want")
  }

  test("bm25-index sink: a SECOND stream with a fresh checkpoint " +
    "feeding the same index appends — its batch 0 must not collide " +
    "with the first lineage's batch 0") {
    import spark.implicits._
    val root = tmpDir("graft-bm25lineage-")
    val idx = s"$root/idx"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def drain(in: String, cp: String): Unit = {
      val q = Monitor.bm25IndexSink(
        spark.readStream.schema(schema).parquet(in), idx, cp)
      try q.processAllAvailable() finally q.stop()
    }
    Seq((0L, "apple banana")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/in1")
    drain(s"$root/in1", s"$root/cp1")
    // second lineage: fresh checkpoint, fresh input, micro-batch id 0 again
    Seq((1L, "apple cherry")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/in2")
    drain(s"$root/in2", s"$root/cp2")
    val got = graft.ops.Retrieval
      .bm25Search(spark, idx, Seq("apple"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L), s"second lineage's batch was dropped: $got")
    // and a REPLAY within lineage 2 is still the no-op it should be
    drain(s"$root/in2", s"$root/cp2")
    assert(spark.read.parquet(s"$idx/stats").count() == 2L)
  }

  test("quantile-sketch sink: a drained two-batch ingest is " +
    "bit-identical to the one-shot aggregate (exact regime); a " +
    "resumed checkpoint folds only the new batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("graft-kllsink-")
    val in = s"$root/in"; val idx = s"$root/sk"
    def write(rows: Seq[(String, Double)]): Unit =
      rows.toDF("g", "v").coalesce(1).write.mode("append").parquet(in)
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("v", DoubleType)))
    def drain(): Unit = {
      val q = Monitor.quantileSketchSink(
        spark.readStream.schema(schema).parquet(in), idx, s"$root/cp",
        "g", col("v"), k = 64)
      try q.processAllAvailable() finally q.stop()
    }
    val rnd = new scala.util.Random(41)
    val b1 = (0 until 30).map(i => (s"g${i % 2}", rnd.nextDouble() * 9))
    val b2 = (0 until 25).map(i => (s"g${i % 2}", rnd.nextDouble() * 9))
    write(b1); drain()
    write(b2); drain() // resumed checkpoint: only batch 2 folds
    val got = spark.read.parquet(idx).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    val want = (b1 ++ b2).toDF("g", "v")
      .groupBy(col("g").cast("string").as("g"))
      .agg(graft.ops.Quantile.kllAgg(col("v"), 64).as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    assert(got.keySet == want.keySet)
    for ((g, blob) <- want)
      assert(java.util.Arrays.equals(got(g), blob), s"group $g")
  }

  test("priority-sample sink: state is the (n+1)-row reservoir file; a " +
    "fresh checkpoint replaying everything moves no decision") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("graft-priosink-")
    val in = s"$root/in"; val idx = s"$root/res"
    def write(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("doc_id", "w").coalesce(1)
        .write.mode("append").parquet(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("w", DoubleType)))
    def start(cp: String) = Monitor.prioritySampleSink(
      spark.readStream.schema(schema).parquet(in), idx, cp,
      col("doc_id"), col("w"), n = 5)
    val all = (0L until 40L).map(i => (i, 1.0 + (i % 9).toDouble))
    write(all.take(20));
    val q1 = start(s"$root/cp1")
    try q1.processAllAvailable() finally q1.stop()
    write(all.drop(20))
    val q2 = start(s"$root/cp1")
    try q2.processAllAvailable() finally q2.stop()
    // bounded state: the reservoir holds exactly n+1 candidates
    assert(spark.read.parquet(idx).count() == 6)
    val drained = spark.read.parquet(idx)
      .select("key").collect().map(_.getString(0).toLong).toSet
    val batch = graft.ops.Sampling.prioritySample(
      all.toDF("doc_id", "w"), col("doc_id"), col("w"), n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(batch.subsetOf(drained) && drained.size == 6)
    // a FRESH checkpoint replays the entire input through the SAME
    // reservoir — re-deliveries collapse, decisions identical
    val q3 = start(s"$root/cp2")
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(idx)
      .select("key").collect().map(_.getString(0).toLong).toSet == drained)
  }

  test("SQL registration: custom expressions callable from spark.sql") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT pset_hash(named_struct('a', CAST(1 AS BIGINT), 'b', 'xx')) AS h,
        |  word_shingles('a b c d', 3) AS sh,
        |  simhash64(array('x', 'y')) AS sim,
        |  size(winnow_fingerprint('hello world hello world', 8, 4)) AS nw
        |""".stripMargin).head()
    assert(r.getAs[String]("h") ==
      graft.core.PsetHash.hash(Map[String, Any]("a" -> 1L, "b" -> "xx")))
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(r.getAs[Int]("nw") > 0)
    val v = spark.sql(
      """SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
        |                  array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS c,
        |  vec_dot(array(CAST(2 AS DOUBLE), CAST(3 AS DOUBLE)),
        |          array(CAST(4 AS DOUBLE), CAST(5 AS DOUBLE))) AS d
        |""".stripMargin).head()
    assert(math.abs(v.getDouble(0) - 1.0) < 1e-12)
    assert(v.getDouble(1) == 23.0)
    val ph = spark.sql(
      "SELECT perceptual_hash64(encode('some payload text here', 'UTF-8')) AS p")
      .head()
    assert(ph.getLong(0) ==
      graft.ops.PerceptualHash64(null).compute(
        "some payload text here".getBytes("UTF-8")))
  }

  test("watermarked windowed aggregation over a file stream of events") {
    val dir = tmpDir("graft-events-")
    import spark.implicits._
    val batch = Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:25:00", "click", 2.0),
      ("2024-01-01 00:45:00", "buy", 10.0),
      ("2024-01-01 01:10:00", "click", 3.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    batch.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("ts", TimestampType))))
      .parquet(s"$dir/in")
    val q = Monitor.eventsWindowed(stream).writeStream
      .outputMode("complete").format("memory").queryName("win_test").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, event_type, n, value_sum FROM win_test " +
          "ORDER BY 1, 2").collect()
      assert(rows.length == 3)
      assert(rows(0).getAs[String]("event_type") == "buy" ||
        rows(0).getAs[Long]("n") == 2) // hour 0: 2 clicks + 1 buy
      val hour0click = rows.find(r => r.getAs[String]("event_type") == "click"
        && r.getAs[Long]("n") == 2).get
      assert(hour0click.getAs[Double]("value_sum") == 3.0)
    } finally q.stop()
  }

  test("append-mode windowed quantiles: one emission per CLOSED window " +
    "with state merged across micro-batches, bit-identical to the " +
    "one-shot aggregate; open windows stay unemitted") {
    val dir = tmpDir("graft-wqa-")
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def write(name: String, rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("ts_s", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp"))
        .select("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in/$name")
    // hour-0 rows SPLIT across the two micro-batches (the cross-batch
    // state merge), hour-1 left open, hour-3 advances the watermark
    write("f1", Seq(
      ("2024-01-01 00:05:00", "a", 1.0),
      ("2024-01-01 00:10:00", "a", 3.0),
      ("2024-01-01 01:10:00", "a", 50.0)))
    write("f2", Seq(
      ("2024-01-01 00:20:00", "a", 2.0),
      ("2024-01-01 00:40:00", "a", 4.0),
      // watermark after this batch: 03:30 - 2h = 01:30 — closes the
      // hour-0 window (end 01:00 <= 01:30), leaves hour-1 (end 02:00)
      // and hour-3 open
      ("2024-01-01 03:30:00", "a", 99.0)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
    val q = Monitor.windowedQuantiles(stream, col("value"), k = 64)
      .writeStream
      .outputMode("append").format("memory").queryName("wqa_test")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val out = spark.table("wqa_test")
      .select(col("window.start").cast("string").as("ws"),
        col("event_type"), col("sk"))
      .collect()
    // exactly ONE emission, for the one closed window
    assert(out.length == 1, out.mkString("; "))
    assert(out(0).getString(0) == "2024-01-01 00:00:00")
    // the emitted sketch merged BOTH batches' hour-0 rows: bit-identical
    // to the one-shot aggregate over {1,3,2,4}
    val oneShot = Seq(1.0, 3.0, 2.0, 4.0).toDF("value")
      .agg(graft.ops.Quantile.kllAgg(col("value"), 64).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(out(0).getAs[Array[Byte]]("sk"), oneShot))
    val med = spark.table("wqa_test")
      .select(graft.ops.Quantile.kllQuantile(col("sk"), 0.5))
      .head().getDouble(0)
    assert(med == 2.0) // inverted-CDF discrete median of 1,2,3,4
  }

  test("span-dedup sink: passages re-arriving in a LATER batch are " +
    "reported keep-one; checkpointed resume re-counts nothing") {
    import spark.implicits._
    val dir = tmpDir("graft-spansink-")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    def sink() = Monitor.spanDedupSink(
      spark.readStream.schema(schema).parquet(s"$dir/in"),
      s"$dir/idx", s"$dir/out", s"$dir/ckpt", k = 3)
    val passage = "one two three four"
    // batch 1: the passage's FIRST arrival (unique in batch) — keep-one
    // means nothing is reported
    write(Seq(1L -> s"$passage alpha beta", 2L -> "unrelated words here"))
    val q1 = sink()
    try q1.processAllAvailable() finally q1.stop()
    assert(!graft.core.Fs.exists(s"$dir/out") ||
      spark.read.parquet(s"$dir/out").count() == 0L)
    // batch 2 (same query lineage via the checkpoint): a re-crawl
    // embedding the passage — every 3-token window of it re-arrives
    write(Seq(10L -> s"gamma $passage delta"))
    val q2 = sink()
    try q2.processAllAvailable() finally q2.stop()
    val spans = spark.read.parquet(s"$dir/out").collect()
    assert(spans.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L))
    // "one two three four" occupies token positions 1..5 of doc 10; the
    // two overlapping duplicated windows merge into one maximal span
    assert(spans.head.getAs[Long]("span_start") == 1L &&
      spans.head.getAs[Long]("span_end") == 5L)
    // resume from the same checkpoint with no new input: committed
    // batches never re-run, so neither output nor counts move
    val q3 = sink()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 1L)
  }

  test("semantic-dedup sink: a vector re-arriving in a LATER batch " +
    "drops against the persisted index; novel vectors survive") {
    import spark.implicits._
    val dir = tmpDir("graft-semsink-")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def write(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    def sink() = Monitor.semanticDedupSink(
      spark.readStream.schema(schema).parquet(s"$dir/in"),
      s"$dir/idx", s"$dir/out", s"$dir/ckpt", threshold = 0.95)
    val va = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vb = Array(0.0f, 1.0f, 0.0f, 0.0f)
    // batch 1: two orthogonal vectors — both kept
    write(Seq(1L -> va, 2L -> vb))
    val q1 = sink()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$dir/out").select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // batch 2: an exact re-arrival of va (cosine 1 vs history -> drop),
    // a near-copy of vb (cosine ~0.998 >= 0.95 -> drop), and a fresh
    // orthogonal direction (kept)
    val vbNear = Array(0.05f, 1.0f, 0.0f, 0.0f)
    val vc = Array(0.0f, 0.0f, 1.0f, 0.0f)
    write(Seq(10L -> va, 11L -> vbNear, 12L -> vc))
    val q2 = sink()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$dir/out").select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 12L))
    // the index holds exactly the three kept vectors
    assert(spark.read.parquet(s"$dir/idx").count() == 3L)
  }

  test("bloom-decontamination sink: drained two-batch stream equals the " +
    "batch bloomReport anti-join, exactly") {
    import spark.implicits._
    import graft.ops.Contamination
    val dir = tmpDir("graft-bloomsink-")
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", "ref"),
      (101L, "one two three four five six seven", "ref")
    ).toDF("doc_id", "text", "source")
    val docs = Seq(
      // shares 4 3-grams with ref doc 100 -> contaminated at minShared=3
      (1L, "alpha beta gamma delta epsilon zeta eta", "web"),
      // shares one 3-gram -> clean
      (2L, "one two three completely different tail", "web"),
      (3L, "nothing in common with the reference", "wiki"),
      (4L, "five six seven and one two three four", "wiki")
    ).toDF("doc_id", "text", "source")
    val (bloomBytes, refSh) =
      Contamination.buildReferenceBloom(ref, n = 3, expectedItems = 1000L)
    val bad = Contamination.bloomReport(docs, ref, 3, 3,
      expectedItems = 1000L).select(col("id").as("doc_id"))
    val expected = docs.join(bad, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("source", StringType)))
    def write(ids: Long*): Unit =
      docs.filter(col("doc_id").isin(ids: _*))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    def sink() = Monitor.bloomDecontaminationSink(
      spark.readStream.schema(schema).parquet(s"$dir/in"),
      bloomBytes, refSh.localCheckpoint(true), n = 3, minShared = 3,
      s"$dir/out", s"$dir/ckpt")
    write(1L, 2L)
    val q1 = sink(); try q1.processAllAvailable() finally q1.stop()
    write(3L, 4L)
    val q2 = sink(); try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(s"$dir/out").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == expected, s"stream=$got batch=$expected")
    assert(!got.contains(1L) && got.contains(2L))
  }

  test("softmax sink: online folds refresh the persisted router; a " +
    "resumed checkpoint folds only the new batch; a re-delivered " +
    "drain with no new data leaves the committed bits untouched") {
    import spark.implicits._
    import graft.ops.Classifier
    val root = tmpDir("graft-smxsink-")
    val in = s"$root/in"; val modelPath = s"$root/model"
    val dim = 16
    // sparse 3-class rows: class c's rows carry index c (+ a shared
    // noise index), so GD separates them quickly
    def rows(ids: Range): Seq[(Long, Seq[Int], Int)] =
      ids.map { i =>
        val c = i % 3
        (i.toLong, Seq(c, c, 3 + (i % 2)), c)
      }
    def write(ids: Range): Unit =
      rows(ids).toDF("doc_id", "idx", "y").coalesce(1)
        .write.mode("append").parquet(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("idx", ArrayType(IntegerType)),
      StructField("y", IntegerType)))
    def drain(cp: String): Unit = {
      val q = Monitor.softmaxSink(
        spark.readStream.schema(schema).parquet(in), modelPath,
        cp, "idx", "y", dim, numClasses = 3, iters = 200)
      try q.processAllAvailable() finally q.stop()
    }
    write(0 until 60)
    drain(s"$root/cp")
    val m1 = Classifier.loadSoftmax(modelPath).get
    // model is live for concurrent scorers and already separates
    val scored = Classifier.scoreSoftmaxSparse(
      rows(0 until 60).toDF("doc_id", "idx", "y"), "doc_id", "idx", m1)
    val acc = rows(0 until 60).toDF("doc_id", "idx", "y")
      .join(scored, "doc_id")
      .select(avg(when(col("predicted") === col("y"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"online softmax under-converged: acc=$acc")
    // resumed checkpoint with NO new data: nothing re-folds — the
    // committed weights are bit-identical after the drain
    drain(s"$root/cp")
    val m1b = Classifier.loadSoftmax(modelPath).get
    assert(m1b.weights.indices.forall(c =>
      m1b.weights(c).sameElements(m1.weights(c))))
    // append: the resumed checkpoint folds ONLY the new batch (the
    // weights move — warm-started, not retrained from zero)
    write(60 until 90)
    drain(s"$root/cp")
    val m2 = Classifier.loadSoftmax(modelPath).get
    assert(!m2.weights(0).sameElements(m1.weights(0)))
  }
}
