package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Registry-wide plan linting: EVERY batch query's physical plan must
  * be free of row-level loop-join shapes — the audit that PlanSpec
  * applies to chosen queries, applied to all of them, so a new query
  * with a missing join key fails CI by default instead of by luck of
  * selection. Deliberate loop shapes are allow-listed BY NAME with a
  * justification; the single-row and group-table exemptions inside
  * [[PlanAudit]] cover the broadcast-stats and sketch-matrix idioms
  * without entries here.
  *
  * Streaming coverage (round 11): the composable streaming surfaces in
  * [[graft.streaming.Monitor]] are audited PRE-START via
  * [[PlanAudit.auditStreaming]] — constructing the frame is enough, no
  * drain. The registry's `q_stream_*` entries are those surfaces plus
  * foreachBatch sinks whose per-batch work is the batch fold functions
  * already linted by the batch sweep above; a new streaming TRANSFORM
  * gets default lint coverage by being exercised here. */
class PlanAuditSweepSpec extends AnyFunSuite {
  import graft.SparkSpec.spark

  private val sf = "/root/testdata/sf0.001"

  /** Deliberate loop joins, each bounded by construction but NOT
    * statically provable from the plan (the bound lives in a literal
    * IN-filter's pushed predicate, which the audit cannot size):
    * every entry is a QUERY-SET scan — the retrieval workload's
    * handful of query vectors / query rows, selected from parquet by
    * a literal IN filter and crossed once with the corpus as the
    * brute-force / ADC scoring baseline. Cost is |corpus| x
    * |queries|, linear in the corpus. (Grid queries — pgrid, cross,
    * stargrid — need no entries: Catalyst's ConvertToLocalRelation
    * folds their literal products before planning; stats crosses,
    * top-vocab model tables, and domain grids are exempted
    * structurally inside PlanAudit via staticBound /
    * groupTableBounded.) */
  private val allowed: Map[String, String] = Map(
    "q_cross_small" -> "5-row dims cross (the deliberate tiny-dims demo)",
    "q_embed_topk" -> "query-vector set (literal IN scan) x corpus",
    "q_embed_quant_topk" -> "query-vector set x quantized corpus",
    "q_embed_pq" -> "query-vector set x PQ codes (ADC baseline)",
    "q_embed_pq_index" -> "query-vector set x persisted PQ index",
    "q_embed_contamination" -> "benchmark-vector set x corpus",
    "q_doc_rrf_batch" -> "query batch rows x corpus (dense arm)",
    "q_embed_recall" -> ("sampled query-vector set x corpus — the " +
      "brute-force ground truth the recall gate inherently needs; " +
      "PlanSpec pins WindowGroupLimit below the exchange on it")
  )

  test("every batch registry query audits clean of loop-join shapes " +
    "(explicit allow-list for deliberate grids)") {
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream_"))
    val flagged = names.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      PlanAudit.audit(df)
        .filter(f => f.kind == "CARTESIAN" || f.kind == "NESTED_LOOP")
        .map(f => (name, f.kind, f.operator))
    }
    val unexpected = flagged.filterNot { case (n, _, _) => allowed.contains(n) }
    assert(unexpected.isEmpty,
      "loop-join shapes outside the allow-list:\n" +
        unexpected.mkString("\n"))
    // the allow-list itself must not rot: every entry still flags
    val flaggedNames = flagged.map(_._1).toSet
    val stale = allowed.keySet -- flaggedNames
    assert(stale.isEmpty,
      s"allow-list entries no longer needed (plan improved?): $stale")
  }

  test("streaming surfaces audit clean of loop-join shapes PRE-START; " +
    "a deliberately keyless stream-stream join flags") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-streamaudit-").toString
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    // the file source resolves its path at analysis: seed both dirs
    // with an empty file of the right schema (no rows needed — the
    // audit never starts the streams)
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      evSchema).write.parquet(s"$dir/ev")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      docSchema).write.parquet(s"$dir/docs")
    def ev = spark.readStream.schema(evSchema).parquet(s"$dir/ev")
    def docs = spark.readStream.schema(docSchema).parquet(s"$dir/docs")
    def clicks = ev.select(col("user_id").as("click_user"),
      col("ts").as("click_ts"),
      floor(col("value") * 100).cast("long").as("click_cents"))
    def purchases = ev.select(col("user_id").as("p_user"),
      col("ts").as("p_ts"))
    import graft.streaming.Monitor
    val surfaces: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "eventsWindowed" -> Monitor.eventsWindowed(ev),
      "sessionizeNative" -> Monitor.sessionizeNative(ev),
      "attributionJoin" -> Monitor.attributionJoin(clicks, purchases),
      "attributionWindowed" ->
        Monitor.attributionWindowed(clicks, purchases),
      "mixtureMonitor" -> Monitor.mixtureMonitor(docs),
      "dedupStream" -> Monitor.dedupStream(docs, Seq("doc_id")),
      "windowedQuantiles" ->
        Monitor.windowedQuantiles(ev, col("value"), k = 64),
      "gateMonitor" -> Monitor.gateMonitor(docs,
        Seq("nonempty" -> col("text").isNotNull)))
    val flagged = surfaces.flatMap { case (name, df) =>
      PlanAudit.auditStreaming(df)
        .filter(f => f.kind == "CARTESIAN" || f.kind == "NESTED_LOOP")
        .map(f => (name, f.kind))
    }
    assert(flagged.isEmpty, s"streaming loop-join shapes: $flagged")
    // teeth: a stream-stream join with ONLY a range condition (no
    // equality conjunct) must flag — the state-unbounded shape the
    // sweep exists to catch before a deploy does
    val keyless = clicks.withWatermark("click_ts", "1 hour")
      .join(purchases.withWatermark("p_ts", "1 hour"),
        expr("click_ts >= p_ts - INTERVAL 30 MINUTES AND click_ts <= p_ts"))
    val bad = PlanAudit.auditStreaming(keyless)
      .filter(f => f.kind == "CARTESIAN" || f.kind == "NESTED_LOOP")
    assert(bad.nonEmpty, "keyless streaming join should flag")
  }

  test("foreachBatch sink folds: every plan each sink ACTUALLY " +
    "executes per micro-batch audits clean of row-level loop joins; " +
    "a deliberately keyless batch join inside a sink flags") {
    // The pre-start audit above lints the stream's TRANSFORM plan, but
    // a foreachBatch sink's real work is the batch composition inside
    // the closure (score+fold, probe+anti-join, ...), which only
    // materializes per micro-batch. Capture those plans with a
    // QueryExecutionListener while running each sink's fold function
    // once on a static micro-batch stand-in, and audit every captured
    // physical plan. Listener delivery is async but FIFO, so a marker
    // action with a unique literal flushes the queue deterministically.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    import graft.ops._
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe.executedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    var marker = 7654000L
    def flush(): Unit = {
      marker += 1
      val m = marker
      spark.range(1).filter(col("id") =!= m).count(): Unit
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!captured.asScala.exists(_.toString.contains(m.toString)) &&
        System.nanoTime() < deadline) Thread.sleep(25)
      assert(captured.asScala.exists(_.toString.contains(m.toString)),
        "listener flush timed out")
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-fbaudit-").toString
      val batch = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("text")).limit(80).cache()
      batch.count(): Unit
      val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .limit(60).cache()
      vecs.count(): Unit
      // one-time offline setup the bloom sink assumes
      val (bloom, refSh) = Contamination.buildReferenceBloom(
        batch.limit(10), n = 5, expectedItems = 10000L)
      refSh.cache().count(): Unit
      val clfBatch = batch.select(col("doc_id"),
        Classifier.hashedIndices(Text.tokens(col("text")), 64).as("idx"),
        (size(filter(Text.tokens(col("text")), t => t === "hash")) >= 2)
          .as("label"))
      // each entry runs EXACTLY the composition its Monitor sink's
      // foreachBatch closure performs, once
      val folds: Seq[(String, () => Unit)] = Seq(
        "minhashDedupSink" -> (() => {
          Dedup.incrementalMinhashDedup(batch, s"$dir/near",
            sinkFirst = _.write.mode("append").parquet(s"$dir/near_out"))
          ()
        }),
        "simhashDedupSink" -> (() => {
          Dedup.incrementalSimhashDedup(batch, s"$dir/sim",
            sinkFirst = _.write.mode("append").parquet(s"$dir/sim_out"))
          ()
        }),
        "bm25IndexSink" -> (() => {
          Retrieval.appendToBm25Index(batch, s"$dir/bm25",
            batchId = Some("b0"), skipDuplicate = true)
          ()
        }),
        "sketchSink" -> (() => {
          Sketch.incrementalSketch(batch, s"$dir/kmv", "source",
            col("doc_id"), 64)
          ()
        }),
        "quantileSketchSink" -> (() => {
          Quantile.incrementalQuantileSketch(
            batch.withColumn("v", col("doc_id").cast("double")),
            s"$dir/kll", "source", col("v"), 64, batchId = Some("b0"))
          ()
        }),
        "classifierSink" -> (() => {
          Classifier.updateModelOnline(clfBatch, s"$dir/model", "idx",
            "label", 64, iters = 2, batchId = Some("b0"))
          ()
        }),
        "profileSink" -> (() => {
          Sketch.incrementalColumnProfile(batch, s"$dir/prof",
            Seq("source"), Seq("doc_id"), 64, 64, batchId = Some("b0"))
          ()
        }),
        "freqSketchSink" -> (() => {
          Freq.incrementalFreqSketch(batch, s"$dir/freq", "source",
            col("doc_id"), 64, batchId = Some("b0"))
          ()
        }),
        "prioritySampleSink" -> (() => {
          Sampling.incrementalPrioritySample(batch, s"$dir/res",
            col("doc_id"), lit(1.0), 10)
          ()
        }),
        "spanDedupSink" -> (() => {
          SpanDedup.incrementalDuplicatedSpans(batch, s"$dir/span", 8,
            batchId = Some("b0"),
            sinkFirst = _.write.mode("append").parquet(s"$dir/span_out"))
          ()
        }),
        "bloomDecontaminationSink" -> (() => {
          val bad = Contamination.bloomReportWith(batch, bloom, refSh,
            minShared = 1, n = 5).select(col("id").as("doc_id"))
          batch.join(bad, Seq("doc_id"), "left_anti")
            .selectExpr("doc_id", "source")
            .write.mode("append").parquet(s"$dir/bloom_out")
        }),
        "semanticDedupSink" -> (() => {
          Similarity.incrementalSemanticDedup(vecs, s"$dir/sem", 0.95)
            .write.mode("append").parquet(s"$dir/sem_out")
        }))
      val audited = folds.map { case (name, run) =>
        captured.clear()
        run()
        flush()
        val plans = captured.asScala.toSeq
        assert(plans.size >= 2, // the fold's own plans + the marker
          s"$name: no micro-batch plan captured")
        val bad = plans.flatMap(PlanAudit.auditPlan)
          .filter(f => f.kind == "CARTESIAN" || f.kind == "NESTED_LOOP")
        (name, plans.size - 1, bad)
      }
      val flagged = audited.filter(_._3.nonEmpty)
      assert(flagged.isEmpty, "sink micro-batch loop-join shapes:\n" +
        flagged.map(t => s"${t._1}: ${t._3}").mkString("\n"))
      info(audited.map(t => s"${t._1}=${t._2} plans").mkString(", "))
      // teeth: a sink whose per-batch composition joins without a key
      // must flag through the same capture
      captured.clear()
      val other = batch.select(col("doc_id").as("other_id"))
      batch.join(other, col("doc_id") =!= col("other_id")).count(): Unit
      flush()
      val teeth = captured.asScala.toSeq.flatMap(PlanAudit.auditPlan)
        .filter(f => f.kind == "CARTESIAN" || f.kind == "NESTED_LOOP")
      assert(teeth.nonEmpty,
        "the deliberately keyless batch join did not flag")
    } finally spark.listenerManager.unregister(listener)
  }
}
