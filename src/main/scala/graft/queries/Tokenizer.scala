package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs
import graft.ops.Tokenize

/** Tokenizer-training queries: the distributed BPE merge loop
  * ([[Tokenize.trainBpeDistributed]] — the histogram never leaves the
  * cluster) and its fit-once / serve-literal encode path
  * ([[Tokenize.bpeCountExpr]] / [[Tokenize.bpeTokensExpr]] — the learned
  * table served as a codegen'd `replace` chain, no UDF in the plan).
  *
  * The DuckDB oracles replay the merge loop layer by layer with
  * MATERIALIZED CTEs over the same wrapped-symbol-string encoding —
  * `replace` is greedy left-to-right non-overlapping in both engines,
  * which IS the BPE merge-application rule, so the replays are exact,
  * not approximate. (Reference scope note: psweep has no tokenizer —
  * this family is part of the large-scale training-data surface the
  * engine adds on top, like the dedup and mixture packs.)
  */
object Tokenizer {

  /** Merges trained per sf dir once per process (steady state is
    * ENCODING with a trained table; the train loop is the fit step). */
  private val mergeTables = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, String)]]

  /** The word histogram is the one CORPUS-sized pass every tokenizer
    * operation shares — materialized to parquet once per sf dir so
    * training, vocabulary mass, and the compression curve all read the
    * vocab-sized artifact instead of re-scanning the corpus. It lives
    * on the engine's OWN artifact tier ([[graft.ops.Stats
    * .cachedArtifact]] — the `_graft_stats` fingerprint discipline, so
    * a fresh process over unchanged inputs reuses the materialized
    * histogram instead of re-aggregating); when no stats tier covers
    * the input (read-only corpus dir, no global stats dir) it falls
    * back to a process-scratch build, the pqIndexes discipline. */
  private val histPaths = scala.collection.concurrent.TrieMap
    .empty[String, String]

  private def hist(s: SparkSession, dir: String): DataFrame = {
    val p = histPaths.getOrElseUpdate(dir, {
      val source = Tables(s, dir, "documents")
      def write(path: String): Unit =
        Tokenize.wordHistogram(source).write.parquet(path)
      graft.ops.Stats.cachedArtifact(source, "bpe-word-histogram")(write)
        .getOrElse {
          val d = java.nio.file.Files.createTempDirectory("graft-bpehist-")
          sys.addShutdownHook {
            graft.core.Fs.delete(d.toString)
          }
          val path = s"$d/hist"
          write(path)
          path
        }
    })
    Fs.parquet(s, p)
  }

  private val nMerges = 8

  /** Retrain-gate thresholds, shared verbatim with the oracle replay:
    * an OOV rate above [[covThreshold]] means the encoder is about to
    * start raising on real traffic (alphabet drift — retrain,
    * whatever else holds); a tokens-per-char ratio off the fit-time
    * reference by more than [[driftThreshold]] means budgets and
    * packing are mis-costed (compression drift). */
  private val covThreshold = 5e-4
  private val driftThreshold = 0.02

  /** The synthetic drift probes, defined ONCE and shared verbatim
    * between every Spark query and every oracle replay (the threshold
    * discipline): editing a probe in one place edits it everywhere a
    * hash match depends on it. The spam phrase is corpus vocabulary
    * of heavily-merged words (~0.65 tokens/char vs the ~0.93
    * reference) and contains no quote characters, so it interpolates
    * into SQL string literals unescaped. */
  private val driftSpam = " merge merge order order row row line line"
  private val covProbe = " αβ"

  private def merges(s: SparkSession, dir: String): Seq[(String, String)] =
    mergeTables.getOrElseUpdate(dir,
      Tokenize.trainBpeFromHistogram(hist(s, dir), nMerges))

  /** Derived token→id table per sf dir (fit-once like the merges). */
  private val vocabTables = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, Int)]]

  private def vocab(s: SparkSession, dir: String): Seq[(String, Int)] =
    vocabTables.getOrElseUpdate(dir,
      Tokenize.bpeVocabFromHistogram(hist(s, dir), merges(s, dir)))

  /** The sequence-building vocab: one reserved special (`<eos>` at the
    * fixed id 0) ahead of the derived table — every derived id shifts
    * by exactly 1, so the oracle replays the reservation as a constant
    * offset on the rank arithmetic. */
  private val eosVocabTables = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, Int)]]

  private def eosVocab(s: SparkSession, dir: String): Seq[(String, Int)] =
    eosVocabTables.getOrElseUpdate(dir,
      Tokenize.bpeVocabFromHistogram(hist(s, dir), merges(s, dir),
        specials = Seq("<eos>")))

  /** Trained base alphabet per sf dir (the coverage monitor's
    * reference set — fit-once like the merges). */
  private val alphaTables = scala.collection.concurrent.TrieMap
    .empty[String, Seq[String]]

  private def alphabet(s: SparkSession, dir: String): Seq[String] =
    alphaTables.getOrElseUpdate(dir,
      Tokenize.alphabetFromHistogram(hist(s, dir)))

  /** Fit-time tokens-per-char reference (the drift monitor's anchor):
    * ONE vocab-sized aggregate over the histogram under the trained
    * chain — a driver scalar, cached per sf dir like the merges. */
  private val refTpcs = scala.collection.concurrent.TrieMap
    .empty[String, Double]

  private def refTpc(s: SparkSession, dir: String): Double =
    refTpcs.getOrElseUpdate(dir, {
      val m = merges(s, dir)
      val row = hist(s, dir).agg(
        sum(col("freq") * Tokenize.bpeCountExpr(col("w"), m)).as("t"),
        sum(col("freq") * length(col("w"))).as("c")).head()
      row.getAs[Long]("t").toDouble / row.getAs[Long]("c")
    })

  /** Unique memory-sink names for repeated streaming runs in-process. */
  private val streamQueryId = new java.util.concurrent.atomic.AtomicLong(0L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Score-at-ingest with the trained tokenizer: the merge table rides
    // the STREAM's plan as the same literal replace chain — a stateless
    // projection, no state store, append mode, constant memory (the
    // offline-train / online-count split of a production token-budget
    // meter). The oracle is the batch encode replay — identical output.
    "q_stream_bpe_encode" -> ((s, dir) => {
      val m = merges(s, dir)
      val stream = Tables.stream(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          Tokenize.bpeCountExpr(col("text"), m).as("n_tok"))
      val name = s"graft_stream_bpe_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // Coverage-at-ingest: the OOV probe rides the STREAM's plan as the
    // same literal-map projection (stateless, append mode, constant
    // memory) — the monitor half of the offline-train / online-serve
    // split: per-doc (nc, no) flows to the sink, per-source rates
    // aggregate over the drained output. Oracle = the batch coverage
    // replay, identical output.
    "q_stream_tok_coverage" -> ((s, dir) => {
      val a = alphabet(s, dir)
      val pre = array_join(regexp_extract_all(col("text"),
        lit(graft.ops.Text.bpeTokenPattern), lit(0)), "")
      val stream = Tables.stream(s, dir, "documents")
        .select(col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(covProbe)))
            .otherwise(col("text")).as("text"))
        .select(col("source"), length(pre).cast("long").as("nc"),
          size(Tokenize.oovChars(pre, a)).cast("long").as("no"))
      val name = s"graft_stream_cov_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).groupBy(col("source"))
        .agg(sum(col("nc")).as("n_chars"), sum(col("no")).as("n_oov"),
          (sum(col("no")).cast("double") / sum(col("nc")))
            .as("oov_rate"))
        .orderBy(col("source"))
    }),

    // Compression-drift monitor: the coverage probe's complement — OOV
    // catches alphabet drift; tokens-per-char drift catches
    // distribution shift WITHIN the alphabet (a source whose text
    // compresses worse under the trained merges than the training
    // corpus did has drifted even at 0% OOV — the second retrain
    // trigger a months-old persisted tokenizer needs). Per-source
    // tokens/char on the serving slice against the fit-time reference
    // (a driver scalar from ONE vocab-sized histogram aggregate,
    // injected as a literal); the slice side is the same codegen'd
    // replace chain as q_doc_bpe_encode — one pruned 2-column pass,
    // map-side combine down to |sources| rows at any scale.
    "q_doc_tok_drift" -> ((s, dir) => {
      val m = merges(s, dir)
      val ref = refTpc(s, dir)
      Tables(s, dir, "documents")
        .select(col("source"),
          Tokenize.bpeCountExpr(col("text"), m).as("nt"),
          length(array_join(regexp_extract_all(col("text"),
            lit(graft.ops.Text.bpeTokenPattern), lit(0)), ""))
            .cast("long").as("nc"))
        .groupBy(col("source"))
        .agg(sum(col("nc")).as("n_chars"), sum(col("nt")).as("n_tok"),
          (sum(col("nt")).cast("double") / sum(col("nc"))).as("tpc"))
        .withColumn("ref_tpc", lit(ref))
        .withColumn("drift", col("tpc") / lit(ref))
        .orderBy(col("source"))
    }),

    // Drift-at-ingest: the same stateless per-doc projection rides the
    // ingest stream (append mode, no state store), per-source rates
    // aggregate over the drained sink — the streaming twin, sharing
    // the batch replay like the coverage pair.
    "q_stream_tok_drift" -> ((s, dir) => {
      val m = merges(s, dir)
      val ref = refTpc(s, dir)
      val stream = Tables.stream(s, dir, "documents")
        .select(col("source"),
          Tokenize.bpeCountExpr(col("text"), m).as("nt"),
          length(array_join(regexp_extract_all(col("text"),
            lit(graft.ops.Text.bpeTokenPattern), lit(0)), ""))
            .cast("long").as("nc"))
      val name = s"graft_stream_tpc_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).groupBy(col("source"))
        .agg(sum(col("nc")).as("n_chars"), sum(col("nt")).as("n_tok"),
          (sum(col("nt")).cast("double") / sum(col("nc"))).as("tpc"))
        .withColumn("ref_tpc", lit(ref))
        .withColumn("drift", col("tpc") / lit(ref))
        .orderBy(col("source"))
    }),

    // The retrain-decision gate the two monitors feed: per source,
    // coverage (OOV rate under an alphabet-drift probe) and
    // compression (tokens-per-char vs the fit-time reference under a
    // distribution-drift probe) in ONE fused pass — a single 3-column
    // scan, both probe variants computed per row in the same Project,
    // one per-source aggregate, then the action taxonomy: alphabet
    // drift forces a retrain (the encoder will start raising),
    // compression drift alone degrades budgets/packing (retrain when
    // material), else keep serving. Drift is SYNTHESIZED
    // source-conditioned (suffix arithmetic both engines replay) so
    // all three actions appear and the thresholds separate real
    // signal, not noise.
    "q_doc_tok_retrain" -> ((s, dir) => {
      val a = alphabet(s, dir)
      val m = merges(s, dir)
      val ref = refTpc(s, dir)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val covText = when(srcNum % 4 === 1 && col("doc_id") % 3 === 0,
        concat(col("text"), lit(covProbe))).otherwise(col("text"))
      // spam of heavily-merged corpus words (merge/order/row/line
      // tokenize at ~0.65 tokens/char vs the ~0.93 reference), so the
      // injected sources drift well past the threshold while natural
      // variation (<=0.011 at sf0.01) stays under half of it
      val driftText = when(srcNum % 3 === 0,
        concat(col("text"),
          lit(driftSpam * 2)))
        .otherwise(col("text"))
      def pre(t: org.apache.spark.sql.Column) = array_join(
        regexp_extract_all(t, lit(graft.ops.Text.bpeTokenPattern),
          lit(0)), "")
      val oovRate = sum(col("co")).cast("double") / sum(col("cc"))
      val drift = (sum(col("nt")).cast("double") / sum(col("nc"))) /
        lit(ref)
      Tables(s, dir, "documents")
        .select(col("source"),
          length(pre(covText)).cast("long").as("cc"),
          size(Tokenize.oovChars(pre(covText), a)).cast("long")
            .as("co"),
          Tokenize.bpeCountExpr(driftText, m).as("nt"),
          length(pre(driftText)).cast("long").as("nc"))
        .groupBy(col("source"))
        .agg(oovRate.as("oov_rate"), drift.as("drift"),
          when(oovRate > covThreshold, "retrain_alphabet")
            .when(abs(drift - 1.0d) > driftThreshold,
              "retrain_compression")
            .otherwise("serve").as("action"))
        .orderBy(col("source"))
    }),

    // The gate at ingest: the fused per-row probes (both variants'
    // char/OOV/token counts) ride the stream as one stateless Project;
    // the per-source aggregate and the action CASE evaluate over the
    // drained sink. Same replay as the batch gate.
    "q_stream_tok_retrain" -> ((s, dir) => {
      val a = alphabet(s, dir)
      val m = merges(s, dir)
      val ref = refTpc(s, dir)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val covText = when(srcNum % 4 === 1 && col("doc_id") % 3 === 0,
        concat(col("text"), lit(covProbe))).otherwise(col("text"))
      val driftText = when(srcNum % 3 === 0,
        concat(col("text"),
          lit(driftSpam * 2)))
        .otherwise(col("text"))
      def pre(t: org.apache.spark.sql.Column) = array_join(
        regexp_extract_all(t, lit(graft.ops.Text.bpeTokenPattern),
          lit(0)), "")
      val stream = Tables.stream(s, dir, "documents")
        .select(col("source"),
          length(pre(covText)).cast("long").as("cc"),
          size(Tokenize.oovChars(pre(covText), a)).cast("long")
            .as("co"),
          Tokenize.bpeCountExpr(driftText, m).as("nt"),
          length(pre(driftText)).cast("long").as("nc"))
      val name = s"graft_stream_gate_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val oovRate = sum(col("co")).cast("double") / sum(col("cc"))
      val drift = (sum(col("nt")).cast("double") / sum(col("nc"))) /
        lit(ref)
      s.table(name).groupBy(col("source"))
        .agg(oovRate.as("oov_rate"), drift.as("drift"),
          when(oovRate > covThreshold, "retrain_alphabet")
            .when(abs(drift - 1.0d) > driftThreshold,
              "retrain_compression")
            .otherwise("serve").as("action"))
        .orderBy(col("source"))
    }),

    // What retraining would change — the impact analysis behind a
    // fired gate: retrain on the drifted corpus and diff rank by rank
    // against the served table. Two scenarios ride one artifact: the
    // GATE's own drift level (x2 spam — where the table comes back
    // UNCHANGED: compression drift re-costs budgets without vocabulary
    // churn, so "retrain" there means re-fitting the reference, not
    // re-issuing ids) and an ESCALATED level (x6 — where the spam
    // words earn their own merges and half the table churns: every
    // downstream id shifts, the expensive retrain). Both trainings are
    // the deterministic distributed loop; the oracle replays all three
    // merge chains side by side (prefixed CTEs) and joins on rank.
    "q_doc_tok_retrain_impact" -> ((s, dir) => {
      import s.implicits._
      val base = merges(s, dir)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      // the two scenario trainings are INDEPENDENT deterministic
      // histogram+merge loops, so they run as two concurrent driver
      // threads (the crossValidate pool discipline — each training is
      // a pure function of its own drifted corpus, so concurrency
      // cannot move a bit; wall-clock tracks one training, not two)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val trained =
        try {
          import scala.concurrent.{Await, Future}
          Await.result(
            Future.sequence(Seq(("gate", 2), ("escalated", 6)).map {
              case (scenario, rep) => Future {
                val drifted = Tables(s, dir, "documents").select(
                  when(srcNum % 3 === 0,
                    concat(col("text"),
                      lit(driftSpam * rep)))
                    .otherwise(col("text")).as("text"))
                scenario -> Tokenize.trainBpeFromHistogram(
                  Tokenize.wordHistogram(drifted), nMerges)
              }(ec)
            })(scala.collection.BuildFrom.buildFromIterableOps, ec),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      val rows = trained.flatMap { case (scenario, next) =>
        require(next.length == base.length,
          s"drifted training stopped early: ${next.length} vs " +
            s"${base.length} merges — the rank join would silently " +
            "drop the tail")
        base.zip(next).zipWithIndex.map {
          case (((bl, br), (nl, nr)), i) =>
            (scenario, i, bl, br, nl, nr, bl != nl || br != nr)
        }
      }
      rows.toDF("scenario", "rank", "base_left", "base_right",
        "new_left", "new_right", "changed")
        .orderBy("scenario", "rank")
    }),

    // The trained merge table itself — the distributed loop's output
    // checked merge by merge (rank order, tie-breaks, greedy
    // application all have to agree for later ranks to match).
    "q_doc_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      merges(s, dir).zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left", "right")
        .orderBy("rank")
    }),

    // Incremental training: the corpus arrives as two slices (the
    // daily-ingest shape), each histogrammed separately, FOLDED
    // (slice-sized scans + one vocab-sized aggregate — the base slice
    // is never re-scanned with the new one), then trained. Word counts
    // are associative, so the merge table is EXACTLY the full-corpus
    // table — the oracle is q_doc_bpe_merges' full-corpus replay
    // verbatim, which is the strongest possible statement of
    // fold-equals-rebuild.
    "q_doc_bpe_merges_incremental" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val folded = Tokenize.foldWordHistograms(Seq(
        Tokenize.wordHistogram(d.where(col("doc_id") % 2 === 0)),
        Tokenize.wordHistogram(d.where(col("doc_id") % 2 =!= 0))))
      Tokenize.trainBpeFromHistogram(folded, nMerges).zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left", "right")
        .orderBy("rank")
    }),

    // Serve the trained table as a pure expression: per-document token
    // counts from the literal replace chain — whole-stage codegen, no
    // join and no mapPartitions in the scoring plan.
    "q_doc_bpe_encode" -> ((s, dir) => {
      val m = merges(s, dir)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          Tokenize.bpeCountExpr(col("text"), m).as("n_tok"))
        .orderBy("doc_id")
    }),

    // The composition the seam exists for: a per-source token-budget
    // mixture CONTRACTED in trained-tokenizer tokens — the learned
    // merge table's count expression feeds mixtureByTokens unchanged
    // (the fit-once/serve-literal count is just another tokens column).
    "q_doc_bpe_mixture" -> ((s, dir) => {
      val m = merges(s, dir)
      graft.ops.Sampling.mixtureByTokens(Tables(s, dir, "documents"),
        col("source"), col("doc_id"), Tokenize.bpeCountExpr(col("text"), m),
        Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // The tokenizer-training tradeoff curve: total corpus tokens (and
    // tokens per word) under the first 0 / 4 / 8 merges — ONE aggregate
    // over the vocabulary histogram evaluates all three prefixes of the
    // learned chain side by side (each prefix is just a shorter literal
    // replace chain in the same projection).
    "q_doc_bpe_compression" -> ((s, dir) => {
      import s.implicits._
      val m = merges(s, dir)
      val ks = Seq(0, 4, 8)
      val aggs = ks.map(k => sum(col("freq") *
        Tokenize.bpeCountExpr(col("w"), m.take(k))).as(s"t$k")) :+
        sum(col("freq")).as("nw")
      val row = hist(s, dir).agg(aggs.head, aggs.tail: _*).head()
      val nw = row.getAs[Long]("nw")
      ks.map { k =>
        val t = row.getAs[Long](s"t$k")
        (k, t, t.toDouble / nw)
      }.toDF("n_merges", "total_tokens", "tokens_per_word")
        .orderBy("n_merges")
    }),

    // The id surface for a NATIVELY trained table: token ids per
    // position, from the derived vocab (base alphabet in UTF-8 order,
    // then merge outputs at alphabet_size + rank) — the rank arithmetic
    // a packed-sequence builder consumes, served as the same literal
    // chain plus ONE map literal (still a pure projection, no join).
    // Deterministic 1-in-5 doc subset keeps the oracle compare bounded
    // at sf0.01 without changing the plan shape.
    "q_doc_bpe_ids" -> ((s, dir) => {
      val m = merges(s, dir)
      val v = vocab(s, dir)
      Tables(s, dir, "documents")
        .where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          posexplode(Tokenize.bpeIdsExpr(col("text"), m, v)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").cast("long").as("tok_id"))
        .orderBy("doc_id", "pos")
    }),

    // The decode half, gated end to end: text -> ids (literal chain +
    // map literal) -> strings (inverse map literal) -> re-joined, per
    // doc. The oracle derives the expected reconstruction from the RAW
    // text alone (pre-token concat — decode must invert encode
    // exactly), so a bug anywhere in the merge application, the id
    // assignment, or the inverse map shows up as a string diff. Still
    // one pure projection: no join, no explode.
    "q_doc_bpe_roundtrip" -> ((s, dir) => {
      val m = merges(s, dir)
      val v = vocab(s, dir)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          array_join(Tokenize.bpeDecodeExpr(
            Tokenize.bpeIdsExpr(col("text"), m, v), v), "")
            .as("decoded"))
        .select(col("doc_id"),
          substring(col("decoded"), 1, 60).as("prefix"),
          length(col("decoded")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Sequence building for the LM dataloader: documents in epoch-1
    // shuffle order, token counts from the TRAINED table under a vocab
    // with one reserved special ("<eos>" at id 0 — every derived id
    // shifts by 1), each document costing its ids PLUS the trailing
    // separator; the two-phase distributed prefix sum assigns each doc
    // its training sequence and offset (documents straddle, the
    // concat-and-chunk discipline). tok_first pins the reserved-id
    // shift in the output; everything is rank/position arithmetic, so
    // the oracle replays it exactly.
    "q_doc_pack_ids" -> ((s, dir) => {
      val m = merges(s, dir)
      val v = eosVocab(s, dir)
      val sub = Tables(s, dir, "documents").where(col("doc_id") % 5 === 0)
      val packed = graft.ops.Packing.concatChunks(sub, maxTokens = 256,
        orderKey = graft.ops.Sampling.shufflePosition(col("doc_id"), 1),
        tokens = Some(Tokenize.bpeCountExpr(col("text"), m) + lit(1L)))
      val firsts = sub.select(col("doc_id"),
        get(Tokenize.bpeIdsExpr(col("text"), m, v), lit(0))
          .cast("long").as("tok_first"))
      packed.join(firsts, "doc_id")
        .select(col("doc_id"), col("n_tok"), col("seq_id"),
          col("seq_off"), col("tok_first"))
        .orderBy("doc_id")
    }),

    // The serving coverage monitor: per-source OOV-character rate of a
    // NEW corpus slice against the TRAINED alphabet — the retrain
    // trigger a months-old persisted tokenizer needs, measured before
    // the slice reaches the raising encoder (bpeIdsExpr). Drift is
    // injected (every 7th doc carries Greek letters the training
    // histogram never saw); coverage counts PRE-TOKEN code points (the
    // characters the tokenizer actually consumes — raw text would
    // count whitespace as spurious OOV).
    "q_doc_tok_coverage" -> ((s, dir) => {
      val a = alphabet(s, dir)
      val drifted = Tables(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(covProbe)))
          .otherwise(col("text")))
      val pre = array_join(regexp_extract_all(col("text"),
        lit(graft.ops.Text.bpeTokenPattern), lit(0)), "")
      drifted
        .select(col("source"), length(pre).cast("long").as("nc"),
          size(Tokenize.oovChars(pre, a)).cast("long").as("no"))
        .groupBy(col("source"))
        .agg(sum(col("nc")).as("n_chars"), sum(col("no")).as("n_oov"),
          (sum(col("no")).cast("double") / sum(col("nc")))
            .as("oov_rate"))
        .orderBy(col("source"))
    }),

    // Post-merge vocabulary mass: the top-20 subword tokens by corpus
    // frequency after the learned merges — computed over the
    // vocabulary-sized histogram, never the corpus.
    "q_doc_bpe_vocab" -> ((s, dir) => {
      val m = merges(s, dir)
      hist(s, dir)
        .select(explode(Tokenize.bpeTokensExpr(col("w"), m)).as("tok"),
          col("freq"))
        .groupBy("tok").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(20)
    })
  )

  // ------------------------------------------------------------------ //
  // DuckDB oracle SQL
  // ------------------------------------------------------------------ //

  /** [[Text.bpeTokenPattern]] verbatim — RE2 and java.util.regex agree
    * on this alphabet (literal classes + `\s`). */
  private val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Shared CTE chain: the word histogram in wrapped-symbol-string form
    * (`w` kept as the join key for the encode replay), then one
    * pair-count / top-1 / replace layer per merge. MATERIALIZED is
    * load-bearing: each layer references its predecessor from two CTEs
    * and the merge from two more, so inlining would re-expand the scan
    * 3^N times. The `cnt >= 2` guard replays minPairCount's early stop;
    * each replace layer is a LEFT JOIN + COALESCE so an EMPTY merge_k
    * (early stop fired) degrades the layer to a no-op and the replay
    * serves the same shorter chain as the engine — a CROSS JOIN would
    * annihilate every row and return misleading all-empty oracles
    * (never hit on this corpus, where q_doc_bpe_merges' row-count
    * compare would also flag it, but the encode/vocab/compression
    * replays must not depend on that). */
  private def mergeCtes(n: Int): String = mergeCtes(n, "documents", "")

  /** The retrain-impact drift variants as derived tables — the SAME
    * source-conditioned spam the gate synthesizes, at a caller-chosen
    * repeat level. */
  private def driftedDocsSql(rep: Int): String =
    "(SELECT CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 " +
      s"THEN text || repeat('$driftSpam', $rep) " +
      "ELSE text END AS text FROM documents)"

  /** `src` is any relation/derived table exposing a `text` column;
    * `pfx` prefixes every CTE name so two chains (e.g. base corpus vs
    * drifted corpus in the retrain-impact replay) coexist in one
    * statement. The no-arg form keeps every existing oracle verbatim
    * (empty prefix, `documents`). Emits WITH only for the unprefixed
    * chain — a prefixed chain is always appended to an existing one. */
  private def mergeCtes(n: Int, src: String, pfx: String): String = {
    val lead = if (pfx.isEmpty) "WITH " else ""
    val base = s"""$lead${pfx}words_0 AS MATERIALIZED (
      |  SELECT w,
      |    ' ' || array_to_string(regexp_extract_all(w, '.'), '  ') || ' '
      |      AS sym,
      |    freq
      |  FROM (
      |    SELECT w, COUNT(*) AS freq FROM (
      |      SELECT unnest(regexp_extract_all(text, '$pat')) AS w
      |      FROM $src) GROUP BY w)
      |)""".stripMargin
    val layers = (0 until n).map { k =>
      s""",
      |${pfx}pairs_$k AS MATERIALIZED (
      |  SELECT s.syms[u.i] AS l, s.syms[u.i + 1] AS r, SUM(s.freq) AS cnt
      |  FROM (SELECT string_split(trim(sym, ' '), '  ') AS syms, freq
      |        FROM ${pfx}words_$k) s,
      |       UNNEST(range(1, len(s.syms))) AS u(i)
      |  GROUP BY 1, 2
      |), ${pfx}merge_$k AS MATERIALIZED (
      |  SELECT l, r FROM ${pfx}pairs_$k WHERE cnt >= 2
      |  ORDER BY cnt DESC, l, r LIMIT 1
      |), ${pfx}words_${k + 1} AS MATERIALIZED (
      |  SELECT w.w,
      |    COALESCE(replace(w.sym, ' ' || m.l || '  ' || m.r || ' ',
      |                     ' ' || m.l || m.r || ' '), w.sym) AS sym,
      |    w.freq
      |  FROM ${pfx}words_$k w LEFT JOIN ${pfx}merge_$k m ON TRUE
      |)""".stripMargin
    }.mkString
    base + layers
  }

  /** Shared by the batch and streaming encode queries — the stream is a
    * stateless projection over the same table, so the replay is one. */
  private def encodeOracleSql: String = mergeCtes(nMerges) + s"""
      |, doc_toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS w
      |  FROM documents
      |), tok_counts AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    len(string_split(trim(v.sym, ' '), '  ')) AS n
      |  FROM doc_toks d JOIN words_$nMerges v USING (w)
      |)
      |SELECT doc.doc_id,
      |  COALESCE(CAST(SUM(t.n) AS BIGINT), 0) AS n_tok
      |FROM documents doc LEFT JOIN tok_counts t USING (doc_id)
      |GROUP BY doc.doc_id ORDER BY doc.doc_id""".stripMargin

  /** Coverage replay, shared by the batch and streaming monitors (the
    * stream is a stateless projection over the same table): alphabet =
    * distinct pre-token code points of the UNDRIFTED corpus (the
    * training histogram side); the drifted slice's pre-token code
    * points LEFT JOIN it, a miss is an OOV. RE2 needs the same (?s)
    * DOTALL the Spark splitter uses: U+2028-class pre-token chars must
    * split identically on both sides. */
  private val coverageOracleSql: String = s"""
      |WITH drifted AS (
      |  SELECT source,
      |    array_to_string(regexp_extract_all(
      |      CASE WHEN doc_id % 7 = 0 THEN text || '$covProbe' ELSE text END,
      |      '$pat'), '') AS p
      |  FROM documents
      |), alpha AS (
      |  SELECT DISTINCT unnest(regexp_extract_all(w, '(?s).')) AS s
      |  FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS w
      |        FROM documents)
      |), chars AS (
      |  SELECT d.source, u.ch
      |  FROM drifted d, UNNEST(regexp_extract_all(d.p, '(?s).')) AS u(ch)
      |)
      |SELECT c.source, COUNT(*) AS n_chars,
      |  CAST(SUM(CASE WHEN a.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(SUM(CASE WHEN a.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS oov_rate
      |FROM chars c LEFT JOIN alpha a ON c.ch = a.s
      |GROUP BY c.source ORDER BY c.source""".stripMargin

  /** Drift replay, shared by the batch and streaming monitors: replay
    * the merge chain (words_N carries each word's merged symbol
    * string), token count = symbol count per word, chars = code points
    * per word; the fit-time reference is the same ratio aggregated
    * over the histogram itself. Integer sums stay < 2^53, so the
    * double divisions are exact-operand IEEE ops in both engines and
    * the ratios hash-match bitwise. */
  private val driftOracleSql: String = mergeCtes(nMerges) + s"""
      |, doc_toks AS MATERIALIZED (
      |  SELECT source, unnest(regexp_extract_all(text, '$pat')) AS w
      |  FROM documents
      |), tok AS MATERIALIZED (
      |  SELECT d.source,
      |    len(string_split(trim(v.sym, ' '), '  ')) AS n,
      |    length(d.w) AS c
      |  FROM doc_toks d JOIN words_$nMerges v USING (w)
      |), ref AS (
      |  SELECT
      |    CAST(SUM(freq * len(string_split(trim(sym, ' '), '  ')))
      |      AS DOUBLE) / SUM(freq * length(w)) AS ref_tpc
      |  FROM words_$nMerges
      |)
      |SELECT t.source, CAST(SUM(t.c) AS BIGINT) AS n_chars,
      |  CAST(SUM(t.n) AS BIGINT) AS n_tok,
      |  CAST(SUM(t.n) AS DOUBLE) / SUM(t.c) AS tpc,
      |  r.ref_tpc AS ref_tpc,
      |  (CAST(SUM(t.n) AS DOUBLE) / SUM(t.c)) / r.ref_tpc AS drift
      |FROM tok t CROSS JOIN ref r
      |GROUP BY t.source, r.ref_tpc ORDER BY t.source""".stripMargin

  /** Retrain-gate replay: both probe variants re-synthesized from the
    * source-suffix/doc_id arithmetic, coverage via the per-char
    * LEFT JOIN, compression via the merged-symbol counts of the
    * drift-variant words (all of which exist in words_N — the spam
    * phrase is corpus vocabulary, deliberately), thresholds inlined
    * from the same constants the Spark gate uses. */
  private val retrainOracleSql: String = mergeCtes(nMerges) + s"""
      |, alpha AS (
      |  SELECT DISTINCT unnest(regexp_extract_all(w, '(?s).')) AS sym
      |  FROM words_0
      |), gc AS (
      |  SELECT source,
      |    array_to_string(regexp_extract_all(
      |      CASE WHEN CAST(substr(source, 4) AS INT) % 4 = 1
      |                AND doc_id % 3 = 0
      |           THEN text || '$covProbe' ELSE text END, '$pat'), '') AS p
      |  FROM documents
      |), gchars AS (
      |  SELECT g.source, u.ch
      |  FROM gc g, UNNEST(regexp_extract_all(g.p, '(?s).')) AS u(ch)
      |), cov AS (
      |  SELECT c.source, COUNT(*) AS cc,
      |    SUM(CASE WHEN a.sym IS NULL THEN 1 ELSE 0 END) AS co
      |  FROM gchars c LEFT JOIN alpha a ON c.ch = a.sym
      |  GROUP BY c.source
      |), gw AS MATERIALIZED (
      |  SELECT source, unnest(regexp_extract_all(
      |    CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0
      |         THEN text || repeat('$driftSpam', 2)
      |         ELSE text END, '$pat')) AS w
      |  FROM documents
      |), drf AS (
      |  SELECT g.source,
      |    SUM(len(string_split(trim(v.sym, ' '), '  '))) AS nt,
      |    SUM(length(g.w)) AS nc
      |  FROM gw g JOIN words_$nMerges v USING (w)
      |  GROUP BY g.source
      |), ref AS (
      |  SELECT
      |    CAST(SUM(freq * len(string_split(trim(sym, ' '), '  ')))
      |      AS DOUBLE) / SUM(freq * length(w)) AS ref_tpc
      |  FROM words_$nMerges
      |)
      |SELECT c.source,
      |  CAST(c.co AS DOUBLE) / c.cc AS oov_rate,
      |  (CAST(d.nt AS DOUBLE) / d.nc) / r.ref_tpc AS drift,
      |  CASE WHEN CAST(c.co AS DOUBLE) / c.cc > $covThreshold
      |       THEN 'retrain_alphabet'
      |       WHEN ABS((CAST(d.nt AS DOUBLE) / d.nc) / r.ref_tpc - 1.0)
      |            > $driftThreshold
      |       THEN 'retrain_compression'
      |       ELSE 'serve' END AS action
      |FROM cov c JOIN drf d USING (source) CROSS JOIN ref r
      |ORDER BY c.source""".stripMargin

  def oracle: Map[String, String] = Map(
    // drift replay (shared batch/stream — the stream is a stateless
    // projection over the same table): see driftOracleSql
    "q_doc_tok_drift" -> driftOracleSql,
    "q_stream_tok_drift" -> driftOracleSql,

    // the gate both monitors feed (shared batch/stream — the stream
    // computes the same stateless per-row probes): see retrainOracleSql
    "q_doc_tok_retrain" -> retrainOracleSql,
    "q_stream_tok_retrain" -> retrainOracleSql,

    // roundtrip: the expected decode output derived from RAW text —
    // decode(encode(text)) must equal the pre-token concatenation,
    // independent of every engine-side table
    "q_doc_bpe_roundtrip" -> s"""
      |SELECT doc_id,
      |  substr(array_to_string(regexp_extract_all(text, '$pat'), ''),
      |         1, 60) AS prefix,
      |  CAST(length(array_to_string(regexp_extract_all(text, '$pat'),
      |       '')) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin,

    "q_doc_bpe_merges" -> (mergeCtes(nMerges) + s"""
      |SELECT * FROM (
      |  ${(0 until nMerges).map(k =>
           s"SELECT $k AS rank, l AS \"left\", r AS \"right\" FROM merge_$k")
           .mkString(" UNION ALL ")}
      |) ORDER BY rank""".stripMargin),

    // retrain impact: all three chains replayed side by side — the
    // base corpus unprefixed, the gate-level drift under g_, the
    // escalated drift under e_ — joined rank by rank per scenario
    "q_doc_tok_retrain_impact" -> (mergeCtes(nMerges) + ",\n" +
      mergeCtes(nMerges, driftedDocsSql(2), "g_") + ",\n" +
      mergeCtes(nMerges, driftedDocsSql(6), "e_") + s"""
      |SELECT s.scenario, b.rank, b.l AS base_left, b.r AS base_right,
      |  s.l AS new_left, s.r AS new_right,
      |  (b.l <> s.l OR b.r <> s.r) AS changed
      |FROM (
      |  ${(0 until nMerges).map(k =>
           s"SELECT $k AS rank, l, r FROM merge_$k")
           .mkString(" UNION ALL ")}
      |) b JOIN (
      |  ${(0 until nMerges).map(k =>
           s"SELECT 'gate' AS scenario, $k AS rank, l, r " +
             s"FROM g_merge_$k").mkString(" UNION ALL ")}
      |  UNION ALL
      |  ${(0 until nMerges).map(k =>
           s"SELECT 'escalated' AS scenario, $k AS rank, l, r " +
             s"FROM e_merge_$k").mkString(" UNION ALL ")}
      |) s ON b.rank = s.rank
      |ORDER BY s.scenario, b.rank""".stripMargin),

    // fold-equals-rebuild: incremental training replays against the
    // SAME full-corpus merge derivation — equality is the claim
    "q_doc_bpe_merges_incremental" -> (mergeCtes(nMerges) + s"""
      |SELECT * FROM (
      |  ${(0 until nMerges).map(k =>
           s"SELECT $k AS rank, l AS \"left\", r AS \"right\" FROM merge_$k")
           .mkString(" UNION ALL ")}
      |) ORDER BY rank""".stripMargin),

    "q_doc_bpe_encode" -> encodeOracleSql,

    // streaming score-at-ingest drains to the same rows as the batch
    // encode (stateless projection, AvailableNow over the same parquet)
    "q_stream_bpe_encode" -> encodeOracleSql,

    // the q_doc_token_mixture replay (same weighted-supply integer
    // arithmetic and hash-first cumulative order) with tok = the BPE
    // count under the learned table — the encode replay's join chain
    "q_doc_bpe_mixture" -> (mergeCtes(nMerges) + s"""
      |, doc_toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS w
      |  FROM documents
      |), tok_counts AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    len(string_split(trim(v.sym, ' '), '  ')) AS n
      |  FROM doc_toks d JOIN words_$nMerges v USING (w)
      |), sel AS MATERIALIZED (
      |  SELECT doc.doc_id, doc.source,
      |    COALESCE(CAST(SUM(t.n) AS BIGINT), 0) AS tok
      |  FROM documents doc LEFT JOIN tok_counts t USING (doc_id)
      |  WHERE doc.source IN ('src0', 'src1', 'src2')
      |  GROUP BY doc.doc_id, doc.source
      |  HAVING COALESCE(CAST(SUM(t.n) AS BIGINT), 0) > 0
      |), sup AS (
      |  SELECT source, SUM(tok) AS t FROM sel GROUP BY source
      |), w AS (
      |  SELECT * FROM (VALUES ('src0', 6), ('src1', 3), ('src2', 1))
      |    AS v(source, wt)
      |), tt AS (
      |  SELECT MIN(COALESCE(s.t, 0) * 10 // w.wt) AS t
      |  FROM w LEFT JOIN sup s ON w.source = s.source
      |), lim AS (
      |  SELECT 6 * t // 10 AS l0, 3 * t // 10 AS l1, 1 * t // 10 AS l2
      |  FROM tt
      |), c AS (
      |  SELECT doc_id, source,
      |    SUM(tok) OVER (PARTITION BY source
      |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM sel)
      |SELECT doc_id, source FROM c, lim
      |WHERE cum <= CASE source WHEN 'src0' THEN l0
      |                         WHEN 'src1' THEN l1 ELSE l2 END
      |ORDER BY doc_id""".stripMargin),

    // per-prefix symbol totals read from the chain's own layers
    "q_doc_bpe_compression" -> (mergeCtes(nMerges) + s"""
      |, nw AS (SELECT CAST(SUM(freq) AS BIGINT) AS nw FROM words_0)
      |${Seq(0, 4, 8).map(k => s""", tot_$k AS (
      |  SELECT CAST(SUM(freq * len(string_split(trim(sym, ' '), '  ')))
      |    AS BIGINT) AS t
      |  FROM words_$k
      |)""").mkString}
      |SELECT * FROM (
      |  ${Seq(0, 4, 8).map(k =>
           s"SELECT $k AS n_merges, t AS total_tokens, " +
             s"CAST(t AS DOUBLE) / nw AS tokens_per_word " +
             s"FROM tot_$k, nw").mkString(" UNION ALL ")}
      |) ORDER BY n_merges""".stripMargin),

    // coverage replay (shared batch/stream — the stream is a stateless
    // projection over the same table): see coverageOracleSql
    "q_doc_tok_coverage" -> coverageOracleSql,
    "q_stream_tok_coverage" -> coverageOracleSql,

    // id assignment is pure rank arithmetic: base alphabet =
    // ROW_NUMBER over the distinct words_0 symbols in binary collation
    // (the same UTF-8 byte order the Spark side sorts by), merge
    // outputs at alphabet_size + rank; positions replay the encode
    // chain with per-pre-token then per-symbol ordinals
    "q_doc_bpe_ids" -> (mergeCtes(nMerges) + s"""
      |, alpha AS MATERIALIZED (
      |  SELECT tok, ROW_NUMBER() OVER (ORDER BY tok) - 1 AS id FROM (
      |    SELECT DISTINCT s.syms[u.i] AS tok
      |    FROM (SELECT string_split(trim(sym, ' '), '  ') AS syms
      |          FROM words_0) s,
      |         UNNEST(range(1, len(s.syms) + 1)) AS u(i))
      |), vocab AS MATERIALIZED (
      |  SELECT tok, id FROM alpha
      |  UNION ALL
      |  SELECT l || r AS tok, rank + (SELECT COUNT(*) FROM alpha) AS id
      |  FROM (${(0 until nMerges).map(k =>
             s"SELECT $k AS rank, l, r FROM merge_$k")
             .mkString(" UNION ALL ")})
      |), doc_toks AS MATERIALIZED (
      |  SELECT doc_id, ws[u.i] AS w, u.i AS i
      |  FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ws
      |        FROM documents WHERE doc_id % 5 = 0),
      |       UNNEST(range(1, len(ws) + 1)) AS u(i)
      |), toks AS MATERIALIZED (
      |  SELECT d.doc_id, d.i, u.j, v.syms[u.j] AS tok
      |  FROM doc_toks d
      |  JOIN (SELECT w, string_split(trim(sym, ' '), '  ') AS syms
      |        FROM words_$nMerges) v USING (w),
      |       UNNEST(range(1, len(v.syms) + 1)) AS u(j)
      |)
      |SELECT t.doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.i, t.j) - 1
      |    AS pos,
      |  CAST(vv.id AS BIGINT) AS tok_id
      |FROM toks t JOIN vocab vv ON t.tok = vv.tok
      |ORDER BY t.doc_id, pos""".stripMargin),

    // the concat-and-chunk replay (q_doc_pack's naive global window)
    // with n_tok = the BPE id count + 1 separator, and the reserved
    // special replayed as a constant +1 shift on the id arithmetic
    "q_doc_pack_ids" -> (mergeCtes(nMerges) + s"""
      |, alpha AS MATERIALIZED (
      |  SELECT tok, ROW_NUMBER() OVER (ORDER BY tok) - 1 AS id FROM (
      |    SELECT DISTINCT s.syms[u.i] AS tok
      |    FROM (SELECT string_split(trim(sym, ' '), '  ') AS syms
      |          FROM words_0) s,
      |         UNNEST(range(1, len(s.syms) + 1)) AS u(i))
      |), vocab AS MATERIALIZED (
      |  SELECT tok, id + 1 AS id FROM alpha
      |  UNION ALL
      |  SELECT l || r AS tok,
      |    rank + 1 + (SELECT COUNT(*) FROM alpha) AS id
      |  FROM (${(0 until nMerges).map(k =>
             s"SELECT $k AS rank, l, r FROM merge_$k")
             .mkString(" UNION ALL ")})
      |), sub AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      |), doc_toks AS MATERIALIZED (
      |  SELECT doc_id, ws[u.i] AS w, u.i AS i
      |  FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ws
      |        FROM sub),
      |       UNNEST(range(1, len(ws) + 1)) AS u(i)
      |), toks AS MATERIALIZED (
      |  SELECT d.doc_id, d.i, u.j, v.syms[u.j] AS tok
      |  FROM doc_toks d
      |  JOIN (SELECT w, string_split(trim(sym, ' '), '  ') AS syms
      |        FROM words_$nMerges) v USING (w),
      |       UNNEST(range(1, len(v.syms) + 1)) AS u(j)
      |), enc AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
      |), firsts AS MATERIALIZED (
      |  SELECT doc_id, tok_id AS tok_first FROM (
      |    SELECT t.doc_id, CAST(vv.id AS BIGINT) AS tok_id,
      |      ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |        ORDER BY t.i, t.j) AS rn
      |    FROM toks t JOIN vocab vv ON t.tok = vv.tok)
      |  WHERE rn = 1
      |), sized AS MATERIALIZED (
      |  SELECT s.doc_id, COALESCE(e.n, 0) + 1 AS n_tok, f.tok_first,
      |    md5('1:' || CAST(s.doc_id AS VARCHAR)) AS pos
      |  FROM sub s LEFT JOIN enc e USING (doc_id)
      |  LEFT JOIN firsts f USING (doc_id)
      |), c AS (
      |  SELECT doc_id, n_tok, tok_first,
      |    SUM(n_tok) OVER (ORDER BY pos, doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tok AS start
      |  FROM sized)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(start // 256 AS BIGINT) AS seq_id,
      |  CAST(start % 256 AS BIGINT) AS seq_off,
      |  tok_first
      |FROM c ORDER BY doc_id""".stripMargin),

    "q_doc_bpe_vocab" -> (mergeCtes(nMerges) + s"""
      |SELECT tok, cnt FROM (
      |  SELECT s.syms[u.i] AS tok, CAST(SUM(s.freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym, ' '), '  ') AS syms, freq
      |        FROM words_$nMerges) s,
      |       UNNEST(range(1, len(s.syms) + 1)) AS u(i)
      |  GROUP BY 1
      |) ORDER BY cnt DESC, tok LIMIT 20""".stripMargin)
  )
}
