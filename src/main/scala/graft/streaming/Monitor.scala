package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured-Streaming surfaces of the engine.
  *
  * The reference wishes for "a thread that periodically checks and collects
  * results into a global df" over its tmpsave side-outputs
  * (ref psweep.py:1190-1194) — here that niche is a first-class streaming
  * query over the tmpsave sink directory: each finished pset appears as one
  * JSON file (crash-resilient task checkpoint, SURVEY §2 S6), and the
  * monitor folds them into live per-run progress without touching the main
  * database.
  *
  * [[eventsWindowed]] is the standard watermarked tumbling-window
  * aggregation over an event stream — the streaming twin of the batch
  * `q_events_hourly` query.
  */
object Monitor {

  /** Scale-adaptive shuffle/state partition count for a BOUNDED stream
    * drain, derived from the drained input's on-disk size: one
    * partition per ~32 MB, floor 2 (see the inline note), capped at the
    * session's configured `spark.sql.shuffle.partitions` so a
    * corpus-scale drain keeps full cluster parallelism. Override with
    * `spark.graft.stream.statePartitions` (> 0 wins outright —
    * UNCAPPED, an operator's explicit sizing is trusted; 0 = the
    * default, derive).
    *
    * Why this exists: a stateful streaming query materializes ONE
    * state-store instance per shuffle partition and rewrites each
    * instance's delta files every micro-batch, and AQE cannot coalesce
    * stateful exchanges (it is disabled in stateful workloads) — so a
    * bounded drain of a few MB under a cluster-sized partition constant
    * pays 32 state stores' worth of per-batch file churn for kilobytes
    * of state. Deriving from input size is the same
    * partition-from-data rule the optimization guide prescribes for
    * batch shuffles, applied at the one point streaming pins it: a
    * stateful query fixes this count into its checkpoint at FIRST
    * start, making it a per-lifecycle sizing decision exactly like a
    * production deployment's. Measured at sf0.1: the watermarked KLL
    * window drain drops ~2x wall (32 -> derived 1 state partition). */
  def drainPartitions(spark: SparkSession, inputPaths: String*): Int = {
    val explicit = spark.conf
      .get("spark.graft.stream.statePartitions", "0").toInt
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (explicit > 0) explicit
    else {
      val hconf = spark.sparkContext.hadoopConfiguration
      val bytes = inputPaths.map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(hconf)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
      }.sum
      val want = (bytes + (32L << 20) - 1) / (32L << 20)
      // floor 2, not 1: state size says 1 for a small drain, but a
      // single state partition serializes ALL stateful compute — the
      // stream-stream join drain measured 5x slower at 1 partition
      // (its per-row state probing lost every bit of parallelism)
      // while the aggregation drains measured the same at 1 and 2
      math.min(math.max(2L, want), math.max(cap, 1).toLong).toInt
    }
  }

  /** Run a bounded drain with `spark.sql.shuffle.partitions`
    * temporarily set to [[drainPartitions]] of its input, restoring
    * the previous value after. The conf is session-global while in
    * effect — the engine's drains are sequential per session (bench,
    * verify, and the specs all drain one query at a time), and the
    * count only matters at stream START, where it is cloned into the
    * query's execution and pinned by its checkpoint. */
  def withDrainPartitions[T](spark: SparkSession, inputPaths: String*)
                            (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, drainPartitions(spark, inputPaths: _*).toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Minimal schema every tmpsave checkpoint carries (user result columns
    * are ignored by the monitor). */
  val tmpsaveSchema: StructType = StructType(Seq(
    StructField("_run_id", StringType),
    StructField("_pset_id", StringType),
    StructField("_pset_seq", LongType),
    StructField("_pset_runtime", DoubleType)))

  /** Per-run progress stream over `calcDir/tmpsave/<runId>/<psetId>.json`
    * files: (run_id, n_done, mean_runtime). */
  def tmpsaveProgress(spark: SparkSession, calcDir: String): DataFrame =
    spark.readStream
      .schema(tmpsaveSchema)
      .option("maxFilesPerTrigger", "1000")
      .json(s"$calcDir/tmpsave/*/")
      .withColumn("run_id",
        regexp_extract(input_file_name(), "tmpsave/([^/]+)/", 1))
      .groupBy(col("run_id"))
      .agg(count(lit(1)).as("n_done"),
        avg(col("_pset_runtime")).as("mean_runtime"))

  /** Start the progress monitor into an in-memory table. */
  def startProgress(spark: SparkSession, calcDir: String,
                    queryName: String = "graft_progress"): StreamingQuery =
    tmpsaveProgress(spark, calcDir).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()

  /** Watermarked tumbling-window aggregation over a timestamped event
    * stream: (window, event_type, n, value_sum). */
  def eventsWindowed(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))

  /** Watermarked tumbling-window KLL quantile sketches in APPEND mode —
    * the unbounded-ingest twin of the complete-mode windowed sketch
    * query (which re-emits ALL state every trigger: fine for a drain,
    * wrong for 24/7). The custom `TypedImperativeAggregate` buffer
    * lives in the window state store across micro-batches; a
    * (window, group) sketch row is emitted ONCE, when the watermark
    * passes the window end, and its state is evicted — output volume
    * and state are bounded by open windows, not stream history.
    * Downstream probes quantiles off the emitted sketch column
    * ([[graft.ops.Quantile.kllQuantile]]); in the exact regime the
    * emitted blob is bit-identical to the one-shot batch aggregate
    * over the window's rows regardless of how micro-batches split
    * them (MonitorSpec pins one-emission-per-closed-window and the
    * cross-batch merge). */
  def windowedQuantiles(events: DataFrame,
                        value: org.apache.spark.sql.Column, k: Int,
                        windowLen: String = "1 hour",
                        watermark: String = "2 hours",
                        groupCol: String = "event_type"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(groupCol))
      .agg(graft.ops.Quantile.kllAgg(value, k).as("sk"))

  /** Native session-window sessionization: Spark's built-in
    * `session_window` state operator, the declarative twin of the
    * custom [[sessionizeStream]] (flatMapGroupsWithState). Prefer THIS
    * form when the per-session output is aggregates the built-in can
    * express — the operator merges windows in the state store, handles
    * out-of-order arrivals inside the watermark, and needs no
    * user-written state machine; the custom path earns its keep only
    * for session logic a groupBy cannot say (mid-session emission,
    * cross-session carryover).
    *
    * Tie semantics, pinned for the oracle (and spec-probed — the
    * window is nominally `[first, last + gap)` but MERGING treats a
    * touching window as overlapping): an event arriving exactly `gap`
    * after its predecessor CONTINUES the session, the same
    * `ts > prev + gap`-starts-new rule as the batch gaps-and-islands
    * query and the custom path — the two sessionizers agree
    * decision-for-decision. Emission: append mode releases a session
    * once the watermark passes its window end (`last + gap`).
    *
    * Scale shape: one user-keyed shuffle into the session-window
    * state operator; state is one row per OPEN session, evicted at
    * watermark. */
  def sessionizeNative(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))

  /** Stream-stream event-time interval join: each purchase matches the
    * clicks of the same user in its trailing attribution window
    * `[p_ts - lag, p_ts]` — the streaming form of
    * [[graft.ops.RangeJoin.intervalJoin]]'s batch attribution, as a
    * genuine stream×stream inner join (both sides arrive continuously;
    * neither is a static dimension).
    *
    * `clicks` carries (`click_user`, `click_ts`, ...payload), `purchases`
    * carries (`p_user`, `p_ts`, ...payload) — disjoint names because a
    * stream-stream join cannot `USING`-merge key columns (both sides'
    * event-time columns must survive for state cleanup). Output is the
    * raw matched pairs in append mode; aggregation (per-purchase counts
    * and sums) belongs downstream — over the drained sink in tests, or
    * as a chained stateful aggregate in a 24/7 deployment.
    *
    * Scale shape: watermarks on BOTH event-time columns plus the
    * closed time-range join condition let Spark's symmetric hash join
    * evict state once `click_ts < watermark - lag` / `p_ts < watermark`
    * — state is bounded by (arrival rate x (watermark + lag)) per side,
    * not the stream's history, keyed and shuffled on the user column
    * like any equi-join. Without the range bound the join would keep
    * every row forever; that shape is rejected by Spark for append
    * streams, which is the correctness backstop. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      lag: String = "30 minutes",
                      watermark: String = "2 hours"): DataFrame =
    clicks.withWatermark("click_ts", watermark)
      .join(purchases.withWatermark("p_ts", watermark),
        expr(s"click_user = p_user AND " +
          s"click_ts >= p_ts - INTERVAL $lag AND click_ts <= p_ts"))

  /** Chained multi-stateful streaming: the [[attributionJoin]] feeding
    * an event-time tumbling-window aggregate in ONE streaming query —
    * two stateful operators (symmetric hash join, then windowed
    * aggregation) in a single append-mode pipeline, the shape a 24/7
    * attribution dashboard runs. The purchase-side event time carries
    * through the join into the window; the global watermark (min over
    * both inputs) closes windows, so the sink receives each hour
    * exactly once, when it can no longer change.
    *
    * Scale shape: join state bounded as in [[attributionJoin]]; window
    * state is one row per open (window) group, evicted at watermark;
    * both operators share the user-keyed shuffle only up to the join —
    * the aggregate re-shuffles by window, a K-row exchange per batch. */
  def attributionWindowed(clicks: DataFrame, purchases: DataFrame,
                          lag: String = "30 minutes",
                          windowLen: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    attributionJoin(clicks, purchases, lag, watermark)
      .groupBy(window(col("p_ts"), windowLen))
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("click_cents")).as("click_cents"))

  /** Streaming mixture monitor for continuous ingestion: per-group
    * document and token counts, maintained as a complete-mode streaming
    * aggregation. State is one row per group — bounded by the mixture's
    * group count, not the stream — so it runs forever on an unbounded
    * ingest. Downstream (a batch select over the drained sink, or a
    * foreachBatch) divides by the running total and compares against
    * the target weights; the division is display logic, the stateful
    * part is only the counting. */
  def mixtureMonitor(docs: DataFrame, groupCol: String = "source",
                     textCol: String = "text"): DataFrame =
    docs
      .groupBy(col(groupCol))
      // Text.tokenCount, not an inline split: the tokenizer has ONE
      // definition, so a policy change there can never silently diverge
      // this monitor (and its q_stream_mixture oracle pairing) from the
      // batch token counts. It is a plain projection — streaming-safe.
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.ops.Text.tokenCount(col(textCol)).cast("long"))
          .as("n_tokens"))

  /** Streaming domain-mixture monitor through a FROZEN router: apply a
    * [[graft.ops.Dsir.FrozenRouter]] (trained offline on a batch
    * corpus) to every arriving document and maintain per-domain
    * arrival counts plus the min/max routing margin — the
    * offline-train / online-apply split a production router runs, and
    * the live view of "which domain is this crawl drifting toward".
    *
    * The routing itself is a stateless per-row map (the grid rides the
    * task closure, bounded by the router's 2^20-cell guard; no state
    * store, no shuffle before the aggregate); the stateful part is one
    * row per domain, bounded by the router's domain count — it runs
    * forever on an unbounded ingest, the [[mixtureMonitor]] contract.
    * Min/max margins (not sums) keep the aggregate order-free, hence
    * bit-portable to the batch oracle. Null-text rows are dropped
    * before routing: a null document has no gram profile (the
    * q_stream_simdedup null pin). */
  def domainRouteMonitor(docs: DataFrame,
                         router: graft.ops.Dsir.FrozenRouter,
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val routed = docs
      .filter(col(textCol).isNotNull)
      .select(col(textCol))
      .as[String]
      .map { text =>
        val (domain, score, margin) = router.route(text)
        (domain, score, margin)
      }
      .toDF("domain", "score", "margin")
    routed
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"))
  }

  /** Streaming exact dedup for continuous ingestion: drops rows whose
    * `keyCols` combination was already seen. State is the seen-key set,
    * hash-partitioned across executors by Spark's streaming dedup
    * operator (RocksDB-backed state store at scale). With `watermark` =
    * (eventTimeCol, delay), `dropDuplicatesWithinWatermark` bounds the
    * state: keys older than the watermark are evicted, so a re-crawl
    * arriving later than `delay` re-emits — the documented
    * bounded-state/exactness tradeoff of every streaming dedup. Without
    * it, state grows with the distinct-key count (exact forever). */
  def dedupStream(docs: DataFrame, keyCols: Seq[String],
                  watermark: Option[(String, String)] = None): DataFrame =
    watermark match {
      case Some((tsCol, delay)) =>
        docs.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark(keyCols)
      case None => docs.dropDuplicates(keyCols)
    }

  // Instants, not java.sql.Timestamps: the encoder keeps microsecond
  // precision (Timestamp.getTime would truncate to millis and diverge
  // from the batch sessionize query on sub-ms event times). State holds
  // epoch MICROS.
  case class SessionEvent(user_id: Long, ts: java.time.Instant, value: Double)
  case class OpenSession(start: Long, last: Long, n: Long, sum: Double)
  case class ClosedSession(user_id: Long, session_start: java.time.Instant,
                           session_end: java.time.Instant, n_events: Long,
                           value_sum: Double)

  private def micros(t: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
      t.getNano / 1000L)

  private def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  /** Stateful streaming sessionization via `flatMapGroupsWithState` — the
    * streaming twin of the batch `q_events_sessionize` query: per-user
    * custom state folds events into an open session; a gap larger than
    * `gapSeconds` closes and emits it. The closing event of a session is
    * only observable once a later event (or state timeout) arrives —
    * standard session-window semantics. */
  def sessionizeStream(events: Dataset[SessionEvent],
                       gapSeconds: Long = 1800): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[SessionEvent],
         state: GroupState[OpenSession]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.value))
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          sorted.foreach { e =>
            val t = micros(e.ts)
            open match {
              case Some(s) if t - s.last <= gapSeconds * 1000000L =>
                open = Some(OpenSession(s.start, t, s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += ClosedSession(userId,
                  instant(s.start), instant(s.last), s.n, s.sum)
                open = Some(OpenSession(t, t, 1, e.value))
              case None =>
                open = Some(OpenSession(t, t, 1, e.value))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Stream a corpus through the persisted MinHash near-dup index
    * ([[graft.ops.Dedup.incrementalMinhashDedup]]): survivors of each
    * micro-batch — docs near-duplicating nothing that ever flowed
    * through `indexPath`, one canonical per in-batch cluster — append
    * to `outPath`, then their signatures to the index. Verification
    * follows the library default (compact signature-only index,
    * estimator decisions — the only index shape that survives an
    * unbounded ingest); pass `exactVerify = true` to opt into the
    * stored-shingle exact mode, whose index grows with the corpus.
    * Output-first ordering (the `sinkFirst` hook) is load-bearing: once
    * a signature is indexed, a retry of the same micro-batch keeps
    * nothing, so index-first would turn a crash between the two writes
    * into silent loss. Output-first re-delivers the batch and duplicates
    * output rows (at-least-once), never silently drops survivors.
    * Completes the near-dup corner of the streaming sink family
    * (exact / SimHash / semantic / span already stream). */
  def minhashDedupSink(docs: DataFrame, indexPath: String,
                       outPath: String, checkpointDir: String,
                       n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                       threshold: Double = 0.5,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       exactVerify: Boolean = false): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.Dedup.incrementalMinhashDedup(batch, indexPath, n,
          numHashes, bands, threshold, textCol, idCol,
          exactVerify = exactVerify,
          sinkFirst = _.write.mode("append").parquet(outPath))
        () // survivors already persisted by the hook
      }
      .start()

  /** Streaming gate monitor: [[graft.ops.Profile.gateAttribution]]'s
    * conditional-sum aggregate maintained as a complete-mode streaming
    * aggregation — the live "where is the ingest being dropped" view.
    * State is ONE row of 3K counters regardless of stream length (the
    * [[mixtureMonitor]] contract); the stack unpivot and rule ordering
    * are display projections over the aggregate's output. Drained
    * under AvailableNow the table equals the batch attribution over
    * everything that arrived, so the two share an oracle. */
  def gateMonitor(docs: DataFrame,
                  rules: Seq[(String, org.apache.spark.sql.Column)])
      : DataFrame =
    graft.ops.Profile.gateAttribution(docs, rules)

  /** Stream a corpus through the persisted 64-bit SimHash index
    * ([[graft.ops.Dedup.incrementalSimhashDedup]]): near-IDENTICAL
    * re-crawls (identical token stream after whitespace churn; or, via
    * `sig`, perceptual-hash-equal binary payloads) drop against
    * everything that ever flowed through `indexPath`; survivors append
    * to `outPath` BEFORE the 16-byte/doc signature append (the
    * sinkFirst contract). Completes the index-sink family: every
    * persisted dedup index — exact, MinHash, SimHash/pHash, span,
    * semantic — now has its streaming ingestion form. */
  def simhashDedupSink(docs: DataFrame, indexPath: String,
                       outPath: String, checkpointDir: String,
                       maxHamming: Int = 3,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       sig: Option[org.apache.spark.sql.Column] = None)
      : StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.Dedup.incrementalSimhashDedup(batch, indexPath,
          maxHamming, textCol, idCol, sig,
          sinkFirst = _.write.mode("append").parquet(outPath))
        () // survivors already persisted by the hook
      }
      .start()

  /** Stream a corpus into the persisted BM25 inverted index
    * ([[graft.ops.Retrieval.appendToBm25Index]]): each micro-batch's
    * postings and length stats append, and after the stream drains
    * [[graft.ops.Retrieval.bm25Search]] over the index equals the
    * batch [[graft.ops.Retrieval.bm25TopK]] over everything that
    * arrived. Postings are pure per-batch derivations (the existing
    * index is never read), so batch boundaries cannot move a posting;
    * the checkpoint is the at-most-once mechanism — a re-delivered
    * batch would double its postings AND its stats row, inflating tf
    * and N together (scores shift; decisions downstream of a top-k may
    * flip). Resume from the checkpoint or rebuild the index. */
  /** Stable batch-identity prefix for index-feeding sinks: micro-batch
    * ids restart from 0 per checkpoint lineage, so the logical batch
    * identity must be (lineage, bid), not bid alone — a SECOND stream
    * (fresh checkpoint) feeding the same index would otherwise collide
    * its genuinely-new batches 0/1/2 with the first stream's recorded
    * ids and be silently skipped — data loss, not the intended replay
    * no-op. The lineage token is a stable hash of the checkpoint dir's
    * canonical path: replays WITHIN one checkpoint still dedup, fresh
    * lineages never collide. */
  private def checkpointLineage(checkpointDir: String): String =
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        new java.io.File(checkpointDir).getCanonicalPath))

  def bm25IndexSink(docs: DataFrame, indexPath: String,
                    checkpointDir: String,
                    textCol: String = "text",
                    idCol: String = "doc_id"): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Retrieval.appendToBm25Index(batch, indexPath, textCol,
          idCol, batchId = Some(s"stream:$lineage:$bid"),
          skipDuplicate = true)
        ()
      }
      .start()
  }

  /** Stream a corpus into the persisted per-group KMV sketch table
    * ([[graft.ops.Sketch.incrementalSketch]]): each micro-batch's
    * per-group sketches fold into the `(g, sk)` parquet at `indexPath`,
    * and after the stream drains the table is BIT-IDENTICAL to the
    * one-shot [[graft.ops.Sketch.kmvAgg]] over everything that arrived
    * (the fold is order-free, associative, and idempotent on
    * re-delivered content — at-least-once delivery, exactly-once
    * state, with no duplicate-output caveat because the table is a
    * rewrite, not an append). Distinct counts and slice overlap stay
    * queryable mid-stream via
    * [[graft.ops.Sketch.overlapMatrixFromSketches]]. */
  def sketchSink(docs: DataFrame, indexPath: String,
                 checkpointDir: String, groupCol: String,
                 key: org.apache.spark.sql.Column,
                 k: Int = 4096): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.Sketch.incrementalSketch(batch, indexPath, groupCol,
          key, k)
        ()
      }
      .start()

  /** Stream a corpus into the persisted per-group QUANTILE sketch table
    * ([[graft.ops.Quantile.incrementalQuantileSketch]]): each
    * micro-batch's per-group KLL sketches fold into the `(g, sk)`
    * parquet at `indexPath`; per-slice latency/value distributions stay
    * queryable mid-stream via [[graft.ops.Quantile.kllQuantile]] over
    * the table.
    *
    * Delivery contract: values are a MULTISET, so the raw fold is NOT
    * idempotent on re-delivered content — and foreachBatch is
    * at-least-once: a crash between the fold's table swap and the
    * checkpoint's offset commit replays the in-flight batch on
    * restart. The sink therefore records each applied batch's
    * lineage-qualified identity (`stream:<lineage>:<bid>`, the
    * [[bm25IndexSink]] scheme) in the table's
    * [[graft.core.Fold]] ledger — ledger and data commit in the
    * same atomic swap, so the replayed batch is a no-op and the folds
    * are exactly-once (QuantileSpec pins the crash-replay case). The
    * fold is order-free, and in the exact regime (group count <= k)
    * the drained table is bit-identical to the one-shot
    * [[graft.ops.Quantile.kllAgg]] (QuantileSpec pins it). */
  def quantileSketchSink(docs: DataFrame, indexPath: String,
                         checkpointDir: String, groupCol: String,
                         value: org.apache.spark.sql.Column,
                         k: Int = 4096): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Quantile.incrementalQuantileSketch(batch, indexPath,
          groupCol, value, k, batchId = Some(s"stream:$lineage:$bid"))
        ()
      }
      .start()
  }

  /** Stream a corpus into the persisted whole-table COLUMN-PROFILE
    * state ([[graft.ops.Sketch.incrementalColumnProfile]]): each
    * micro-batch's one-scan per-column state (count + null count + KMV
    * + min/max + KLL) folds into the one-row-per-column parquet at
    * `indexPath` — the INGEST-TIME data-quality monitor: the full-
    * history Deequ/TFDV-style audit stays queryable mid-stream via
    * [[graft.ops.Sketch.columnProfileFromState]], and nothing ever
    * rescans the corpus.
    *
    * Delivery contract: counts and KLL values are MULTISET state (the
    * [[quantileSketchSink]] situation) — a replayed batch would
    * double-count, so the sink records each applied batch's
    * lineage-qualified identity in the table's
    * [[graft.core.Fold]] ledger (committed atomically with the
    * fold's swap): crash-replays are no-ops and the folds are
    * exactly-once under foreachBatch's at-least-once delivery. In the
    * exact regime the drained state is bit-identical to the one-shot
    * [[graft.ops.Sketch.profileState]] over everything that arrived
    * (SketchSpec pins split-invariance), so the streamed audit shares
    * the batch audit's oracle. */
  /** Tail the run-log database as a STREAM: every run partition the
    * append-only db gains after the stream starts arrives as a new
    * micro-batch — the change data feed of [[graft.core.Database
    * .changes]] delivered continuously, with the file-stream source's
    * seen-files log as the cursor (each data file is delivered exactly
    * once per checkpoint; a drain-append-drain cycle under one
    * checkpoint yields only the new runs' rows). The underscore-
    * prefixed metadata (skip manifest, commit marker, locks) is
    * invisible to the source by Spark's own metadata-path filtering,
    * while `_run_id=...` partition directories survive it (the `=`
    * exemption), so the tail sees exactly the data. Feed it to any of
    * the sink family — the run log becomes a live input to dedup /
    * sketch / profile / classifier maintenance with zero extra
    * bookkeeping.
    *
    * Contract: exactly-once holds for the APPEND-ONLY lifecycle. A
    * maintenance REWRITE ([[graft.core.Database.compact]] /
    * `optimizeLayout` / `rehashWith`) replaces every data file, so an
    * already-running tail re-delivers the whole db under fresh file
    * names — run rewrites before starting tails, or dedup downstream
    * on `_pset_id` if they must overlap. */
  def tailDatabase(db: graft.core.Database): DataFrame =
    db.spark.readStream
      .schema(db.read().schema)
      .parquet(db.dbPath)

  /** Stream labeled documents into the persisted ONLINE CLASSIFIER at
    * `modelPath` ([[graft.ops.Classifier.updateModelOnline]]): each
    * micro-batch warm-starts the logistic model and folds `iters` GD
    * steps over its sparse index features — the continual quality-
    * filter refresh, where the model is an incremental index updated
    * at ingest from weak labels and nothing rescans the corpus. The
    * model stays loadable mid-stream
    * ([[graft.ops.Classifier.loadModel]]) for concurrent scorers.
    *
    * Delivery contract: GD steps are NOT idempotent on re-delivered
    * batches (a replay would walk the weights further), so the sink
    * records each applied batch's lineage-qualified identity in the
    * model directory's [[graft.core.Fold]] ledger, committed in
    * the same atomic swap as the weights — crash-replays return the
    * committed model unchanged and the updates are exactly-once under
    * foreachBatch's at-least-once delivery (ClassifierSpec pins the
    * replay no-op). */
  def classifierSink(docs: DataFrame, modelPath: String,
                     checkpointDir: String, idxCol: String,
                     labelCol: String, dim: Int, iters: Int = 50,
                     lr: Double = 1.0,
                     newton: Boolean = false): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Classifier.updateModelOnline(batch, modelPath, idxCol,
          labelCol, dim, iters, lr, newton = newton,
          batchId = Some(s"stream:$lineage:$bid"))
        ()
      }
      .start()
  }

  /** Multiclass twin of [[classifierSink]]: stream labeled documents
    * into the persisted ONLINE DOMAIN ROUTER at `modelPath`
    * ([[graft.ops.Classifier.updateSoftmaxOnline]]) — each micro-batch
    * warm-starts the softmax model and folds `iters` GD steps over its
    * sparse index features, so a drifting domain mix is tracked at
    * ingest without rescanning the corpus. Same delivery contract:
    * GD folds are NOT idempotent, so each applied batch's
    * lineage-qualified identity commits in the model's
    * [[graft.core.Fold]] ledger atomically with the weights —
    * crash-replays return the committed model unchanged
    * (exactly-once under foreachBatch's at-least-once delivery;
    * MonitorSpec pins the replay no-op). The model stays loadable
    * mid-stream ([[graft.ops.Classifier.loadSoftmax]]) for concurrent
    * scorers. */
  def softmaxSink(docs: DataFrame, modelPath: String,
                  checkpointDir: String, idxCol: String,
                  labelCol: String, dim: Int, numClasses: Int,
                  iters: Int = 50, lr: Double = 1.0,
                  l2: Double = 0.0): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Classifier.updateSoftmaxOnline(batch, modelPath,
          idxCol, labelCol, dim, numClasses, iters, lr, l2,
          batchId = Some(s"stream:$lineage:$bid"))
        ()
      }
      .start()
  }

  def profileSink(docs: DataFrame, indexPath: String,
                  checkpointDir: String, keyCols: Seq[String],
                  numCols: Seq[String], kDistinct: Int = 4096,
                  kQuant: Int = 4096): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Sketch.incrementalColumnProfile(batch, indexPath,
          keyCols, numCols, kDistinct, kQuant,
          batchId = Some(s"stream:$lineage:$bid"))
        ()
      }
      .start()
  }

  /** Stream a corpus into the persisted per-group FREQUENT-ITEMS table
    * ([[graft.ops.Freq.incrementalFreqSketch]]): each micro-batch's
    * per-group Misra-Gries sketches fold into the `(g, sk)` parquet at
    * `indexPath`; per-slice distribution heads stay queryable
    * mid-stream via [[graft.ops.Freq.topItems]] over the table.
    *
    * Delivery contract: counts are a MULTISET (the
    * [[quantileSketchSink]] situation, not the KMV one) — a replayed
    * batch would double-count, so the sink records each applied
    * batch's lineage-qualified identity in the table's
    * [[graft.core.Fold]] ledger (committed atomically with the
    * fold's swap): crash-replays are no-ops and the folds are
    * exactly-once under foreachBatch's at-least-once delivery. The
    * fold is order-free, and in the exact regime (distinct items <= k)
    * the drained table is bit-identical to the one-shot
    * [[graft.ops.Freq.mgAgg]] (FreqSpec pins it). */
  def freqSketchSink(docs: DataFrame, indexPath: String,
                     checkpointDir: String, groupCol: String,
                     item: org.apache.spark.sql.Column,
                     k: Int = 4096): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Freq.incrementalFreqSketch(batch, indexPath,
          groupCol, item, k, batchId = Some(s"stream:$lineage:$bid"))
        ()
      }
      .start()
  }

  /** Stream a corpus through the persisted priority-sampling reservoir
    * ([[graft.ops.Sampling.incrementalPrioritySample]]): each micro-batch
    * folds into the (n+1)-row parquet at `indexPath`, and after the
    * stream drains the reservoir EQUALS the batch
    * [[graft.ops.Sampling.prioritySample]] over everything that arrived.
    * All state is the reservoir file, not the state store, so a FRESH
    * checkpoint replaying the whole input is harmless: re-delivered
    * rows collapse before the cut (at-least-once delivery,
    * effectively-once decisions — same contract as
    * [[minhashDedupSink]], without even the duplicate-output-row
    * caveat, because the reservoir is a rewrite, not an append). */
  def prioritySampleSink(docs: DataFrame, indexPath: String,
                         checkpointDir: String,
                         key: org.apache.spark.sql.Column,
                         weight: org.apache.spark.sql.Column,
                         n: Int): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.Sampling.incrementalPrioritySample(batch, indexPath,
          key, weight, n)
        () // the fold's return value is a view over the persisted state
      }
      .start()

  /** Stream a corpus through the persisted exact-substring index
    * ([[graft.ops.SpanDedup.incrementalDuplicatedSpans]]): each
    * micro-batch's duplicated spans — re-arriving k-token passages,
    * judged against everything that ever flowed through `indexPath`
    * plus the batch itself — append to `outPath`, and the fingerprint
    * count deltas fold into the index. Keep-one semantics per passage:
    * the first arrival is never reported, every re-arrival is.
    *
    * Delivery contract: the count-delta append is NOT idempotent, so
    * each micro-batch's lineage-qualified id rides the index's side
    * journal ([[graft.ops.IncrementalLedger]]): a crash between the
    * fold and the checkpoint's offset commit replays the batch, the
    * journal makes the replay a no-op — the double-count window
    * shrinks from "any replay" to the one file-create between the
    * count append and its record. Output ordering is spans-first
    * (durable in `outPath` before the counts land): every crash point
    * leaves duplicate output rows or a clean retry, never silent
    * loss. Discarding the checkpoint while keeping index + journal
    * remains out of contract (batch ids restart and would wrongly
    * alias) — reset all three together. */
  def spanDedupSink(docs: DataFrame, indexPath: String, outPath: String,
                    checkpointDir: String, k: Int,
                    minOccurrences: Long = 2L,
                    idCol: String = "doc_id",
                    textCol: String = "text"): StreamingQuery = {
    val lineage = checkpointLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.SpanDedup.incrementalDuplicatedSpans(batch, indexPath,
          k, minOccurrences, idCol, textCol,
          batchId = Some(s"stream:$lineage:$bid"),
          sinkFirst = _.write.mode("append").parquet(outPath))
        () // spans persisted by the hook; index holds the counts
      }
      .start()
  }

  /** Streaming cross-corpus decontamination against a CORPUS-SCALE
    * reference — the regime where [[graft.queries]]' stateless
    * literal-shingle filter inverts (its plan literal grows with the
    * reference). The reference is aggregated ONCE offline
    * ([[graft.ops.Contamination.buildReferenceBloom]]); each micro-batch
    * probes the few-MB Bloom bitmap map-side and exact-verifies the
    * survivors against the reference shingle table, so the per-batch
    * join carries `hits + fpp * batch grams`, bounded by BATCH size —
    * never the reference. Clean rows (shared < `minShared`) append to
    * `outPath`; results are exact (false positives die in the verify
    * join).
    *
    * Stateless sink: no state store; re-delivery of an uncommitted
    * batch duplicates output rows (at-least-once), never drops. */
  def bloomDecontaminationSink(docs: DataFrame, bloomBytes: Array[Byte],
                               refShingles: DataFrame, n: Int,
                               minShared: Int, outPath: String,
                               checkpointDir: String,
                               keepCols: Seq[String] = Seq("doc_id", "source"),
                               idCol: String = "doc_id",
                               textCol: String = "text"): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val bad = graft.ops.Contamination.bloomReportWith(batch,
          bloomBytes, refShingles, minShared, n, textCol, idCol)
          .select(org.apache.spark.sql.functions.col("id").as(idCol))
        batch.join(bad, Seq(idCol), "left_anti")
          .selectExpr(keepCols: _*)
          .write.mode("append").parquet(outPath)
        ()
      }
      .start()

  /** Stream an embedding corpus through the persisted semantic-dedup
    * index ([[graft.ops.Similarity.incrementalSemanticDedup]]): each
    * micro-batch's survivors — vectors NOT cosine-near-duplicating
    * anything that ever flowed through `indexPath`, canonicalized
    * in-batch — append to `outPath`. Keep-one across the whole stream.
    * Delivery contract as [[minhashDedupSink]]: the checkpoint
    * guarantees a committed batch never re-runs; a replay against a
    * kept index would re-drop its rows (decisions stable), at the cost
    * of duplicate output rows in `outPath`. */
  def semanticDedupSink(vecs: DataFrame, indexPath: String, outPath: String,
                        checkpointDir: String, threshold: Double,
                        planes: Int = 8, radius: Int = 2,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        dim: Int = -1): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.Similarity.incrementalSemanticDedup(batch, indexPath,
          threshold, planes, radius, idCol, vecCol, dim)
          .write.mode("append").parquet(outPath)
        ()
      }
      .start()
}
