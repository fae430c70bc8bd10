package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Pluggable real-tokenizer seam for token-budget operators.
  *
  * The engine's default token counts are Column-level heuristics
  * ([[Text.tokenCount]], [[Text.bpeTokenCount]]) — codegen'd, oracle-
  * expressible, and right for statistics. Training BUDGETS, though,
  * are contracted in the tokens a real tokenizer produces; this seam
  * lets a production tokenizer (a BPE merge table, SentencePiece via
  * JNI, any JVM-callable model) supply the count column those
  * operators consume, with its expensive state built ONCE PER
  * PARTITION — the [[Multimodal.extractFeatures]] batched-decoder
  * pattern, not per row.
  *
  * Wiring: [[withTokenCount]] appends `outCol` to the frame; pass
  * `col(outCol)` wherever a budget operator takes a `tokens` column
  * ([[Sampling.mixtureByTokens]], [[Sampling.selectByQualityBudget]],
  * [[Packing.concatChunks]]). The heuristics remain the default
  * everywhere — this path trades whole-stage codegen for tokenizer
  * fidelity, so reach for it when the budget contract demands real
  * tokens, not for per-row statistics.
  */
object Tokenize {

  /** Per-partition tokenizer factory: `init()` runs once per task and
    * returns the (possibly stateful, non-serializable) counter — merge
    * tables get indexed, vocab files opened, JNI handles created there,
    * amortized over the partition's rows. Implementations must be
    * serializable CONFIGURATION (the counter itself need not be). */
  trait BatchTokenizer extends Serializable {
    def init(): TokenCounter
  }

  /** Executor-side counting state built by [[BatchTokenizer.init]]. */
  trait TokenCounter {
    def count(text: String): Long
  }

  /** A counter that can also emit token IDS — the seam's sequence-
    * building face ([[withTokenIds]]); [[TrainedBpeTokenizer]]'s counter
    * implements it. */
  trait TokenEncoder extends TokenCounter {
    def encode(text: String): Seq[Int]

    /** Inverse of [[encode]] up to the tokenizer's pre-tokenization:
      * a byte-level tokenizer reconstructs the text EXACTLY; a native
      * pre-token tokenizer ([[TrainedBpeTokenizer]]) reconstructs the
      * pre-token concatenation, matching [[bpeDecodeExpr]]'s expr path.
      * An id the vocab never assigned fails loudly — silent nulls would
      * corrupt reconstructed text. */
    def decode(ids: Seq[Int]): String
  }

  /** Append `outCol` = the tokenizer's token count of `textCol` (null
    * text counts 0, matching the budget operators' drop semantics for
    * non-positive counts). One `mapPartitions` pass; all other columns
    * ride through unchanged. */
  def withTokenCount(df: DataFrame, tokenizer: BatchTokenizer,
                     textCol: String = "text",
                     outCol: String = "n_tokens"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column $outCol already exists")
    val idx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema.add(outCol, LongType, nullable = false)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      val counter = tokenizer.init() // once per partition
      it.map { r =>
        val n =
          if (r.isNullAt(idx)) 0L else counter.count(r.getString(idx))
        Row.fromSeq(r.toSeq :+ n)
      }
    }
  }

  /** Append `outCol` = the tokenizer's token ID ARRAY of `textCol`
    * (null text yields an empty array, matching the count seam's
    * 0-for-null so downstream flattens agree) — the sequence-building
    * seam for merge tables past [[exprMergeCeiling]], where
    * [[bpeIdsExpr]]'s literal chain no longer serves. One
    * `mapPartitions` pass; the tokenizer's `init()` must return a
    * [[TokenEncoder]] (ids need a vocab) — anything else fails loudly
    * at the first partition, not as silent nulls. */
  def withTokenIds(df: DataFrame, tokenizer: BatchTokenizer,
                   textCol: String = "text",
                   outCol: String = "token_ids"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column $outCol already exists")
    val idx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema.add(outCol,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false),
      nullable = false)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      val counter = tokenizer.init() // once per partition
      val encoder = counter match {
        case e: TokenEncoder => e
        case other => throw new IllegalArgumentException(
          s"withTokenIds needs a TokenEncoder (ids require a vocab); " +
            s"${other.getClass.getName} only counts — use " +
            "withTokenCount, or a tokenizer with an id table " +
            "(TrainedBpeTokenizer)")
      }
      it.map { r =>
        val ids =
          if (r.isNullAt(idx)) Seq.empty[Int]
          else encoder.encode(r.getString(idx))
        Row.fromSeq(r.toSeq :+ ids)
      }
    }
  }

  /** Append `outCol` = the tokenizer's DECODED text of the id array in
    * `idsCol` — the inspection/debugging face for packed sequences and
    * id-only shards (a null or empty array decodes to the empty
    * string, mirroring the encode seam's empty-ids-for-null). Decode
    * semantics are the tokenizer's ([[TokenEncoder.decode]]):
    * byte-level reconstructs exactly, native pre-token reconstructs
    * the pre-token concatenation. One `mapPartitions` pass; the
    * tokenizer's `init()` must return a [[TokenEncoder]], failing
    * loudly otherwise like [[withTokenIds]]. */
  def withDecodedText(df: DataFrame, tokenizer: BatchTokenizer,
                      idsCol: String = "token_ids",
                      outCol: String = "decoded_text"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column $outCol already exists")
    val idx = df.schema.fieldIndex(idsCol)
    val outSchema = df.schema.add(outCol, StringType, nullable = false)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      val counter = tokenizer.init() // once per partition
      val encoder = counter match {
        case e: TokenEncoder => e
        case other => throw new IllegalArgumentException(
          s"withDecodedText needs a TokenEncoder (decode requires a " +
            s"vocab); ${other.getClass.getName} only counts — use a " +
            "tokenizer with an id table (TrainedBpeTokenizer)")
      }
      it.map { r =>
        val text =
          if (r.isNullAt(idx)) ""
          else encoder.decode(r.getSeq[Int](idx))
        Row.fromSeq(r.toSeq :+ text)
      }
    }
  }

  /** Train a BPE merge table on a corpus (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units") in the
    * word-histogram formulation production trainers use: ONE
    * distributed pass folds the corpus to `(pre-token, count)` — the
    * histogram is bounded by the DISTINCT pre-token vocabulary, never
    * corpus size — and the merge loop runs driver-side over that
    * histogram (~ `numMerges * |vocab| * avg-word-length` work).
    * Pre-tokenization is [[Text.bpeTokenPattern]], the same rule the
    * [[ToyBpeTokenizer]] applies, so a trained table feeds the seam
    * directly.
    *
    * Deterministic end to end: pair counts are exact longs and the
    * best pair breaks ties on the lexicographically smallest
    * `(left, right)`, so any corpus partitioning or arrival order
    * trains the identical table (spec-pinned). Stops early when no
    * pair reaches `minPairCount`.
    *
    * `maxWords` is the driver-memory guard — the engine's
    * bounded-collect discipline. A natural-language histogram is
    * Heaps-law bounded (~1e6 distinct words at 100 TB scale after the
    * pre-tokenizer splits punctuation); an overflow fails fast with
    * sizing guidance rather than silently truncating frequency mass. */
  def trainBpe(docs: DataFrame, numMerges: Int,
               textCol: String = "text",
               maxWords: Int = 2000000,
               minPairCount: Long = 2L): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    require(numMerges >= 0, "numMerges must be >= 0")
    require(maxWords > 0, "maxWords must be positive")
    val hist = docs
      .select(explode(regexp_extract_all(col(textCol),
        lit(Text.bpeTokenPattern), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .limit(maxWords + 1)
      .collect()
    require(hist.length <= maxWords,
      s"pre-token histogram exceeds maxWords=$maxWords — raise the " +
        "guard if the driver is sized for it, or pre-filter the corpus " +
        "(rare hapaxes do not move early merges)")
    greedyMerges(hist.map(r => (r.getString(0), r.getLong(1))),
      numMerges, minPairCount)
  }

  /** Split a string into one symbol per Unicode CODE POINT — the same
    * seeding the distributed trainer's `(?s).` regex and DuckDB's RE2
    * produce. A per-UTF-16-code-unit split (`s.map(_.toString)`) would
    * seed a supplementary character (emoji) as two lone surrogates and
    * diverge from every other implementation of the algorithm. */
  private[ops] def codePointSyms(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      out += s.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Code-point-order string comparison — identical to UTF-8 byte
    * order (the binary collation Spark string sorts and DuckDB share),
    * WITHOUT the per-comparison byte-array allocation. Java's native
    * `String.compareTo` is UTF-16 code-UNIT order, which disagrees
    * beyond the BMP (a supplementary character's surrogates sort below
    * [U+E000, U+FFFF]); using it for the merge tie-break would diverge
    * from the distributed trainer's Spark-side `orderBy`. */
  private[ops] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The sequential greedy merge loop over an in-memory `(word, freq)`
    * histogram — [[trainBpe]]'s core, shared with the batched-trainer
    * parity specs (the algorithm's ground truth at any merge count
    * without expanding a histogram back into documents). Symbols seed
    * per code point and ties break in code-point (= UTF-8 byte) order,
    * so parity with [[trainBpeFromHistogram]] is exact on ANY corpus,
    * supplementary characters included. */
  private[ops] def greedyMerges(hist: Seq[(String, Long)], numMerges: Int,
                                minPairCount: Long): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      hist.iterator.map { case (w, c) => (codePointSyms(w), c) }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val pairCounts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      // max count; ties take the code-point-smallest (left, right)
      var best: (String, String) = null
      var bestC = minPairCount - 1
      pairCounts.foreach { case (p, c) =>
        if (c > bestC) { best = p; bestC = c }
        else if (c == bestC && best != null) {
          val lc = cpCompare(p._1, best._1)
          if (lc < 0 || (lc == 0 && cpCompare(p._2, best._2) < 0)) best = p
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        words = words.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 &&
                  syms(i) == best._1 && syms(i + 1) == best._2) {
                out += syms(i) + syms(i + 1); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
      }
    }
    merges.toSeq
  }

  // ---------------------------------------------------------------- //
  // Distributed trainer + codegen serving expressions
  // ---------------------------------------------------------------- //

  /** Wrapped symbol-string form used by the distributed trainer and the
    * serving expressions: each symbol wrapped in single spaces, so the
    * list `[s1, s2]` serializes as `" s1  s2 "` (two spaces BETWEEN
    * symbols). [[Text.bpeTokenPattern]] pre-tokens never contain
    * whitespace, so the encoding is unambiguous, and because each
    * boundary space is duplicated, one non-regex `replace(" l  r ",
    * " lr ")` pass merges every (l, r) adjacency greedily left-to-right
    * without two matches ever sharing a character — exactly the BPE
    * merge-application rule (a merge of (l, r) cannot create a new
    * (l, r) adjacency, so a single pass is exhaustive).
    *
    * `(?s)` (DOTALL) is load-bearing: Java's plain `.` skips the line
    * terminators U+0085/U+2028/U+2029, yet those are valid pre-tokens
    * under [[Text.bpeTokenPattern]] (Java `\s` excludes them) and real
    * web corpora contain them — without DOTALL they wrapped to an
    * empty symbol list, diverging from the driver trainer, the seam
    * counter, and the RE2-based oracle (whose `.` matches U+2028). */
  private def wrapSymbols(word: Column): Column =
    concat(lit(" "),
      array_join(regexp_extract_all(word, lit("(?s)."), lit(0)), "  "),
      lit(" "))

  private def mergeOnce(sym: Column, l: String, r: String): Column =
    call_function("replace", sym, lit(s" $l  $r "), lit(s" $l$r "))

  /** Symbols of a wrapped string, back as an array. */
  private def unwrapSymbols(sym: Column): Column =
    split(trim(sym), "  ")

  /** How many pending merge-application expressions stack on the
    * persisted histogram before the chain is re-materialized: keeps the
    * per-iteration plan inside whole-stage codegen instead of growing a
    * thousand-deep `replace` nest. */
  private val rematerializeEvery = 16

  /** Lineage truncation for the trainer's iterative frames (the
    * GraphX/ALS discipline): a persisted frame's LOGICAL plan still
    * embeds its full construction history, so folding a delta into the
    * pair table every round would grow the analyzed plan by one
    * delta-subtree per round — O(rounds²) analysis and plan-string
    * cost (AQE's explain rendering OOM'd at 512 merges before this).
    * Mode selection (reliable `checkpoint()` vs executor-local
    * `localCheckpoint()`) now lives in [[graft.core.Pin]] — this rule
    * was the prototype, promoted engine-wide in round 16. */
  private def truncateLineage(df: DataFrame): DataFrame =
    graft.core.Pin.pin(df)

  /** The `(w, freq)` pre-token histogram of a corpus — the ONE
    * corpus-sized pass every tokenizer operation shares (merge
    * training, post-merge vocabulary mass, compression curves).
    * Pipelines running several of them should materialize this once
    * (persist, or write to parquet) and feed the histogram-consuming
    * entry points instead of re-scanning the corpus per operation. */
  def wordHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(regexp_extract_all(col(textCol),
      lit(Text.bpeTokenPattern), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Fold word histograms: the INCREMENTAL maintenance path for the one
    * corpus-sized pass the tokenizer family shares. Word counts are
    * associative, so the histogram of a grown corpus is the fold of the
    * persisted base histogram with the NEW slice's histogram — a
    * slice-sized scan plus a vocabulary-sized aggregate, never a
    * re-scan of the base corpus. At 100 TB with daily ingest this is
    * the difference between a daily slice-cost refresh and a daily
    * corpus-cost rebuild; the folded frame drops back into every
    * consumer ([[trainBpeFromHistogram]], [[bpeVocabFromHistogram]],
    * [[alphabetFromHistogram]], the compression reference) unchanged,
    * and a caller persisting through [[Stats.cachedArtifact]] writes it
    * under the grown corpus's own fingerprint. Fold-equals-rebuild is
    * spec-pinned (randomized splits), which makes incremental training
    * exactly equal to full-corpus training — not approximately. */
  def foldWordHistograms(histograms: Seq[DataFrame]): DataFrame = {
    require(histograms.nonEmpty, "no histograms to fold")
    histograms.foreach(h => require(
      h.columns.contains("w") && h.columns.contains("freq"),
      s"histogram must have columns (w, freq), got " +
        s"${h.columns.mkString(",")}"))
    histograms.map(_.select(col("w"), col("freq")))
      .reduce(_.unionByName(_))
      .groupBy(col("w")).agg(sum(col("freq")).as("freq"))
  }

  /** [[trainBpe]] without the driver histogram: the `(pre-token, count)`
    * histogram STAYS a DataFrame, and each merge iteration is one
    * vocabulary-sized aggregation (adjacent-pair explode → sum → top-1,
    * a SINGLE row to the driver) followed by a codegen'd `replace` over
    * the symbol strings. Use it when the distinct-pre-token vocabulary
    * outgrows [[trainBpe]]'s `maxWords` driver guard (boilerplate-heavy
    * or multilingual corpora at 100 TB); for bounded vocabularies and
    * large merge counts the driver loop is faster (this path runs
    * `numMerges` Spark jobs).
    *
    * Parity with [[trainBpe]] is exact on ANY corpus (spec-pinned,
    * supplementary characters included): same pre-tokenizer, same
    * greedy merge application, and the same count-then-lexicographic
    * tie-break — the driver loop seeds symbols per CODE POINT and
    * breaks ties in code-point order ([[cpCompare]]), which is the
    * UTF-8 byte order Spark's string sort uses here.
    *
    * Stops early once no pair reaches `minPairCount`, like the driver
    * loop. The working set is one persisted vocabulary-sized frame;
    * every [[rematerializeEvery]] merges the replace chain folds into a
    * fresh persist so plan depth stays constant. */
  def trainBpeDistributed(docs: DataFrame, numMerges: Int,
                          textCol: String = "text",
                          minPairCount: Long = 2L,
                          batchTopM: Int = 256,
                          onRound: (Int, Int) => Unit = (_, _) => ())
      : Seq[(String, String)] =
    trainBpeFromHistogram(wordHistogram(docs, textCol), numMerges,
      minPairCount, batchTopM, onRound)

  /** [[trainBpeDistributed]] over a pre-built [[wordHistogram]] — the
    * merge loop's real input IS the histogram, so a pipeline that
    * already maintains one (or shares it across the vocabulary /
    * compression consumers) skips the corpus pass entirely. Expects
    * columns `w` (pre-token) and `freq` (count); anything else fails
    * fast.
    *
    * == Batched merge rounds ==
    *
    * A naive distributed loop runs one vocabulary-sized Spark job per
    * merge — at a production 32k-merge vocabulary that is ~32k jobs of
    * pure scheduler overhead. Each round here instead reads the top
    * `batchTopM + 1` rows of the MAINTAINED pair table (a bounded
    * collect), and accepts the longest SAFE PREFIX of the sequential
    * (count desc, left, right) order, so one round commits many merges
    * with two cheap jobs. Safety is proved, not assumed — the accepted
    * batch reproduces the one-at-a-time greedy trainer's output
    * EXACTLY (spec-pinned at 512+ merges against [[trainBpe]] and at
    * 4k+ merges against [[greedyMerges]]):
    *
    * Let rows be the eligible pairs in sequential order and `B` the
    * count of the first row NOT accepted (first AFFECTED row, the
    * collect horizon, or `minPairCount - 1` when the table is
    * exhausted). Merging (a, b) absorbs exactly the a's followed by b
    * and the b's preceded by a, so the only pairs whose counts (or
    * textual adjacencies) it can change are (x, a) — their a may be
    * absorbed leftward — and (b, y) — their b may be absorbed
    * rightward; (a, y != b) and (x != a, b) are untouched. A row is
    * AFFECTED when its right symbol is an accepted LEFT or its left
    * symbol is an accepted RIGHT. The batch keeps row 0 plus every
    * later unaffected row with `count > B` STRICTLY. Why this is
    * exact, per sequential step j:
    *   - accepted pairs are mutually unaffected, so merging
    *     p_1..p_{j-1} leaves count(p_j) unchanged, and applying them in
    *     batch order equals applying them one at a time;
    *   - every original pair outside the batch has count <= B (the
    *     order is descending and the batch is a prefix), and merges
    *     only ever DECREASE an existing pair's count (given the concat
    *     guard below), so none can reach count(p_j) > B;
    *   - a merge of (l, r) can only CREATE pairs (x, lr) / (lr, y),
    *     and each such occurrence was an (x, l) / (r, y) adjacency
    *     before the merge, so the new pair's count is bounded by a
    *     pre-merge AFFECTED pair — which is outside the batch, hence
    *     <= B < count(p_j). The strict inequality also settles ties: a
    *     new pair can never equal count(p_j) and steal the pick
    *     lexicographically.
    *
    * The one case where an existing pair's count can INCREASE is a
    * concatenation `l + r` that already exists as a symbol elsewhere
    * (merging (l, r) then mints new copies of that symbol, boosting
    * pairs that contain it by up to count(l, r)). The guard is FREE:
    * the symbol universe is driver-knowable — the initial alphabet
    * (one charset-bounded collect at train start) plus every committed
    * merge's output — so membership of an accepted concat in the
    * PRE-ROUND universe truncates the batch at the first offender with
    * no job. (The offender's own merge is still exact — boosts only
    * manifest after it applies.) The FIRST concat minted within the
    * round needs no truncation — pairs containing it are new, so the
    * affected bound covers them — but a SECOND accepted pair minting
    * the SAME concat string (e.g. (a, bc) after (ab, c)) is a
    * universe hit in all but timing and truncates identically: its
    * application boosts the pairs the first mint created, up to
    * 2·bound ([[acceptBatch]], ADVICE r14).
    *
    * == Incremental pair-table maintenance (round 15) ==
    *
    * Through round 14 every round re-AGGREGATED the full adjacent-pair
    * table from the word frame (explode every word into its pairs →
    * shuffle → sum): with mean batch width ~2 at 512 merges, a 32k
    * vocabulary still paid ~16k vocabulary-sized explode-aggregations.
    * The pair table is now MAINTAINED: a merge of (l, r) changes the
    * pair multiset of exactly the words whose PRE-ROUND wrapped form
    * contains `" l  r "` (textual containment is complete for the
    * whole batch — a site for a later batch merge can only be created
    * by an earlier one if some accepted concat equals an accepted
    * symbol, and both concat-collision classes truncate the batch; a
    * site destroyed by an earlier merge needs `l ∈ rights` or
    * `r ∈ lefts`, which affectedness already excludes). Each round
    * therefore:
    *   - filters the word frame to batch-affected rows (a narrow
    *     codegen'd `contains` scan, no shuffle),
    *   - explodes ONLY those rows twice — pairs after the batch
    *     replaces with `+freq`, pairs before with `-freq` — and sums
    *     the delta (a merge-frequency-sized shuffle),
    *   - folds the delta into the persisted pair frame (union →
    *     re-sum → drop zeros, one light pair-table-sized shuffle of
    *     cached (str, str, long) rows; a negative maintained count is
    *     an in-plan raise_error — exactness is guarded, not hoped).
    * The ONLY vocabulary-sized explode-aggregation left is the initial
    * pair-table build. Per-round work now tracks the accepted merges'
    * occurrence frequency plus a narrow scan, not vocabulary size
    * (GRAFT_SCALEUP entry records the per-round wall curve at 4k
    * merges).
    *
    * Job count: ~2 cheap jobs per round (bounded top-k read + delta
    * fold) + one word-frame rematerialization per
    * [[rematerializeEvery]] merges, against one vocabulary-sized
    * aggregation per merge before batching — on natural text the batch
    * width grows as counts spread out, and the spec's round gate pins
    * rounds well under merges. */
  def trainBpeFromHistogram(hist: DataFrame, numMerges: Int,
                            minPairCount: Long = 2L,
                            batchTopM: Int = 256,
                            onRound: (Int, Int) => Unit = (_, _) => ())
      : Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    require(batchTopM >= 1, "batchTopM must be >= 1")
    require(hist.columns.contains("w") && hist.columns.contains("freq"),
      s"histogram must have columns (w, freq), got " +
        hist.columns.mkString(","))
    // a null pre-token or non-positive count would skew pair counts
    // SILENTLY (nulls drop out of the explode, freq <= 0 subtracts
    // mass) — out-of-contract input fails loudly instead; one bounded
    // job over the vocab-sized frame
    val bad = hist.where(col("w").isNull || col("freq").isNull ||
      col("freq") <= 0L).limit(1).collect()
    require(bad.isEmpty,
      s"histogram row out of contract (null w or freq <= 0): ${bad.toSeq}")
    val hist0 = hist
      .select(wrapSymbols(col("w")).as("sym"), col("freq"))
      .persist()
    // the concat guard's symbol universe: initial alphabet (one
    // charset-bounded collect) + every committed merge output below
    val universe = scala.collection.mutable.HashSet.empty[String]
    universe ++= hist0
      .select(explode(unwrapSymbols(col("sym"))).as("s"))
      .distinct().collect().map(_.getString(0))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    var base = hist0
    var pending = List.empty[(String, String)] // newest first
    def current: DataFrame = {
      val symExpr = pending.reverse.foldLeft(col("sym")) {
        case (c, (l, r)) => mergeOnce(c, l, r)
      }
      base.select(symExpr.as("sym"), col("freq"))
    }
    // adjacent pairs of a symbol ARRAY, as (l, r) structs. Callers must
    // pass a leaf column reference: Column expressions are trees, not
    // DAGs, so `s` is inlined four times — a deep replace chain here
    // would quadruple the plan (and its rendered string exploded the
    // heap at 256-wide batches before the staged selects below)
    def pairStructs(s: Column): Column =
      zip_with(
        slice(s, lit(1), size(s) - 1),
        slice(s, lit(2), size(s) - 1),
        (l, r) => struct(l.as("l"), r.as("r")))
    // the maintained pair table — built ONCE from the full word frame
    // (the only vocabulary-sized explode-aggregation of the run), then
    // folded forward per round from batch-affected rows only. Lineage
    // is TRUNCATED at every fold (see truncateLineage); superseded
    // rounds' blocks are reclaimed by the ContextCleaner once
    // unreferenced
    var pairTab = truncateLineage(hist0
      .select(unwrapSymbols(col("sym")).as("s"), col("freq"))
      .select(explode(pairStructs(col("s"))).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt")))
    try {
      var exhausted = false
      while (merges.length < numMerges && !exhausted) {
        val want = math.min(batchTopM, numMerges - merges.length)
        val top = pairTab
          .where(col("cnt") >= minPairCount)
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(want + 1).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (top.isEmpty) exhausted = true
        else {
          val batch = acceptBatch(top.toSeq, want, minPairCount, universe)
          rounds += 1
          onRound(rounds, batch.length)
          // DELTA before committing: `current` is the pre-batch word
          // frame; only rows containing an accepted " l  r " pattern
          // can change (see the maintenance note in the scaladoc)
          val affected = batch.map { case (l, r) =>
            col("sym").contains(s" $l  $r ") }.reduce(_ || _)
          val after = batch.foldLeft(col("sym")) {
            case (c, (l, r)) => mergeOnce(c, l, r)
          }
          // staged selects keep the (possibly batch-deep) replace chain
          // and each unwrapped array as ONE named column per level —
          // pairStructs references its input four times
          val delta = current.where(affected)
            .select(unwrapSymbols(col("sym")).as("bs"),
              unwrapSymbols(after).as("af"), col("freq"))
            .select(explode(concat(
              transform(pairStructs(col("af")), p =>
                struct(p("l").as("l"), p("r").as("r"),
                  col("freq").as("d"))),
              transform(pairStructs(col("bs")), p =>
                struct(p("l").as("l"), p("r").as("r"),
                  (-col("freq")).as("d"))))).as("e"))
            .groupBy(col("e.l").as("l"), col("e.r").as("r"))
            .agg(sum("e.d").as("cnt"))
          // the fold materializes eagerly inside truncateLineage while
          // both parents (old pair table, word frame) are still live
          pairTab = truncateLineage(pairTab.unionByName(delta)
            .groupBy(col("l"), col("r"))
            .agg(sum("cnt").as("cnt"))
            .where(col("cnt") =!= 0L)
            .select(col("l"), col("r"),
              when(col("cnt") < 0L, raise_error(concat(
                lit("BPE pair maintenance drove ("), col("l"),
                lit(", "), col("r"),
                lit(") negative — delta accounting bug, not an input " +
                  "problem; please report"))))
                .otherwise(col("cnt")).as("cnt")))
          merges ++= batch
          universe ++= batch.map { case (l, r) => l + r }
          pending = batch.reverse.toList ::: pending
          if (pending.length >= rematerializeEvery) {
            // truncateLineage, not a bare persist: a persisted frame's
            // logical plan still nests every earlier rematerialization,
            // so a 32k-merge run would carry a 32k-deep replace plan
            // into every analysis pass
            val next = truncateLineage(current)
            base.unpersist() // no-op past the first remat (checkpointed)
            base = next
            pending = Nil
          }
        }
      }
      merges.toSeq
    } finally {
      // the persisted input frame releases deterministically; the
      // checkpointed iterates are reclaimed by the ContextCleaner as
      // their references drop
      base.unpersist()
      if (!(base eq hist0)) hist0.unpersist()
    }
  }

  /** The batched trainer's acceptance rule, extracted pure so the
    * exactness argument is unit-testable row by row (not only via
    * end-to-end corpus parity): given the round's top pairs in
    * sequential (count desc, left, right) order, return the longest
    * SAFE prefix — the maximal mutually-UNAFFECTED prefix (merging
    * (a, b) only changes pairs (x, a) / (b, y), so tracking accepted
    * LEFT and RIGHT symbol sets separately roughly doubles widths over
    * whole-symbol disjointness, still exact), truncated to counts
    * STRICTLY above every unaccepted row's bound, then truncated at
    * the first concat collision. TWO collision classes, same
    * treatment (the offender's own merge is still exact — boosts only
    * manifest after it applies):
    *   - an accepted l+r already in the PRE-ROUND symbol universe
    *     (merging then mints new copies of an existing symbol,
    *     boosting pairs that contain it);
    *   - an accepted l+r equal to a concat minted EARLIER IN THIS
    *     BATCH (e.g. (a, bc) then (ab, c), both → "abc", mutually
    *     unaffected so the affectedness rule alone admits both — but
    *     the second mint can raise a new pair containing that symbol
    *     to up to 2·bound, which may overtake a later accepted row;
    *     ADVICE r14). The first mint needs no truncation: pairs
    *     containing a within-round concat are NEW, so the affected
    *     bound already covers them.
    * `top` must be non-empty; `want` caps accepted width (the +1 row
    * past it only bounds what lies below). */
  private[ops] def acceptBatch(top: Seq[(String, String, Long)], want: Int,
                               minPairCount: Long,
                               universe: String => Boolean)
      : Seq[(String, String)] = {
    require(top.nonEmpty, "acceptBatch needs at least one candidate row")
    val lefts = scala.collection.mutable.HashSet.empty[String]
    val rights = scala.collection.mutable.HashSet.empty[String]
    val prefix =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var bound = minPairCount - 1 // table exhausted => no constraint
    var stopped = false
    top.foreach { case p @ (l, r, cnt) =>
      if (!stopped) {
        if (prefix.nonEmpty && (lefts(r) || rights(l))) {
          bound = cnt; stopped = true
        } else if (prefix.length >= want) {
          bound = cnt; stopped = true
        } else { prefix += p; lefts += l; rights += r }
      }
    }
    // strictness: only counts ABOVE every unaccepted pair are immune
    // to post-merge reordering (see trainBpeFromHistogram's proof)
    var safe: Seq[(String, String)] = (prefix.head +:
      prefix.tail.takeWhile(_._3 > bound)).map(p => (p._1, p._2)).toSeq
    // concat guards: pre-round universe hits and within-batch minted
    // collisions truncate at the first offender, offender included
    val minted = scala.collection.mutable.HashSet.empty[String]
    var cut = -1
    var j = 0
    while (j < safe.length && cut < 0) {
      val c = safe(j)._1 + safe(j)._2
      if (universe(c) || minted(c)) cut = j
      minted += c
      j += 1
    }
    if (cut >= 0) safe = safe.take(cut + 1)
    safe
  }

  /** Ceiling on the literal merge chain the codegen serving expressions
    * accept: each merge is one `replace` call, and past a few hundred
    * the generated method outgrows whole-stage codegen. Larger tables
    * belong on the [[BatchTokenizer]] seam ([[withTokenCount]]). */
  val exprMergeCeiling = 512

  private def tokensOfPreToken(w: Column,
                               merges: Seq[(String, String)]): Column =
    unwrapSymbols(merges.foldLeft(wrapSymbols(w)) {
      case (c, (l, r)) => mergeOnce(c, l, r)
    })

  /** Tokens of `text` under a trained merge table, as a PURE Column —
    * the fit-once / serve-literal shape: pre-tokenize with
    * [[Text.bpeTokenPattern]], then apply the merges in rank order as a
    * chain of codegen'd non-regex `replace`s (no UDF, no mapPartitions,
    * rides batch and streaming plans alike). Merge application is
    * greedy left-to-right per merge in rank order — the segmentation
    * [[trainBpe]]/[[trainBpeDistributed]] produce on their own training
    * corpus. Null text yields null. */
  def bpeTokensExpr(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.length <= exprMergeCeiling,
      s"merge table has ${merges.length} entries — past " +
        s"$exprMergeCeiling the literal replace chain outgrows codegen; " +
        "tokenize through the Tokenize.withTokenCount seam instead")
    flatten(transform(
      regexp_extract_all(text, lit(Text.bpeTokenPattern), lit(0)),
      w => tokensOfPreToken(w, merges)))
  }

  /** Token COUNT of `text` under a trained merge table, as a pure
    * Column. Null text counts 0, matching [[withTokenCount]]'s contract
    * so the budget operators ([[Sampling.mixtureByTokens]],
    * [[Packing.concatChunks]]) can consume either path unchanged. */
  def bpeCountExpr(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.length <= exprMergeCeiling,
      s"merge table has ${merges.length} entries — past " +
        s"$exprMergeCeiling the literal replace chain outgrows codegen; " +
        "count through the Tokenize.withTokenCount seam instead")
    coalesce(aggregate(
      regexp_extract_all(text, lit(Text.bpeTokenPattern), lit(0)),
      lit(0L),
      (acc, w) => acc + size(tokensOfPreToken(w, merges)).cast(LongType)),
      lit(0L))
  }

  /** Token → id assignment for a NATIVELY trained merge table — the id
    * surface a published vocab.json gives, derived instead of loaded:
    * ids `0 .. A-1` for the base alphabet
    * (the histogram pre-tokens' distinct single symbols, sorted by
    * UTF-8 bytes — the binary collation DuckDB and Spark string sorts
    * share, so the assignment is oracle-replayable rank arithmetic),
    * then `A + rank` for each merge output in rank order. With this,
    * sequence building (LM-dataloader id arrays)
    * runs off a trained table exactly as it would off a published
    * vocab.json. The alphabet collect is charset-bounded (distinct
    * single symbols, not words). A duplicate token string — two merges
    * whose outputs collide, or a merge output equal to a base symbol —
    * fails loudly: an id table with ambiguous strings would decode
    * wrongly downstream.
    *
    * `specials` reserves control tokens (BOS/EOS/PAD — the ids an LM
    * dataloader needs for document boundaries and padding) at the
    * FIXED ids `0 .. specials.length - 1`, ahead of the alphabet —
    * deterministic, so the reserved ids are oracle-replayable as a
    * constant shift of the derived ranks. A special that collides
    * with a derivable token string (or another special) fails loudly
    * like any other duplicate: the tokenizer could otherwise MINT a
    * control token from plain text — the classic special-token
    * injection bug. */
  def bpeVocabFromHistogram(hist: DataFrame,
                            merges: Seq[(String, String)],
                            specials: Seq[String] = Nil)
      : Seq[(String, Int)] = {
    val sorted = alphabetFromHistogram(hist)
    val toks = specials ++ sorted ++ merges.map { case (l, r) => l + r }
    val dups = toks.groupBy(identity).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"duplicate token strings in derived vocab: " +
        s"${dups.take(5).mkString(", ")} — two merge outputs, a merge " +
        "output and a base symbol, or a reserved special and a derivable " +
        "token collide; an id table with ambiguous strings cannot decode " +
        "(and a mintable special is an injection hole)")
    toks.zipWithIndex
  }

  /** The trained tokenizer's base char alphabet: the training
    * histogram's distinct single code points, UTF-8 sorted (the binary
    * collation Spark and DuckDB string sorts share). Charset-bounded
    * collect — distinct symbols, never words. This is both the id-0
    * block of [[bpeVocabFromHistogram]] and the reference set the
    * serving coverage monitor ([[oovChars]]) probes against. */
  def alphabetFromHistogram(hist: DataFrame): Seq[String] = {
    require(hist.columns.contains("w"),
      s"histogram must have column w, got ${hist.columns.mkString(",")}")
    val alpha = hist
      .select(explode(unwrapSymbols(wrapSymbols(col("w")))).as("s"))
      .distinct().collect().map(_.getString(0))
    alpha.sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
    }.toSeq
  }

  /** Code points of `text` OUTSIDE a trained alphabet, as an array —
    * the serving coverage monitor for a persisted native table.
    * [[bpeIdsExpr]] raises in-plan on the first unseen symbol (correct
    * for sequence building: silent nulls would corrupt packed ids), so
    * a pipeline serving a months-old tokenizer measures impending
    * coverage loss on each NEW corpus slice with this — aggregate
    * `size(oovChars(...))` per source and gate/alert on the rate —
    * BEFORE routing the slice into the encoder. Callers should pass
    * pre-token text (the characters the tokenizer actually consumes);
    * raw text would count whitespace, which no pre-token alphabet
    * contains, as spurious OOV. Pure projection: one code-point split
    * (`(?s).` — the DOTALL discipline of [[wrapSymbols]]) and one
    * literal-map probe per code point; charset-bounded literal, no
    * join. Null text yields null. */
  def oovChars(text: Column, alphabet: Seq[String]): Column = {
    require(alphabet.nonEmpty, "alphabet is empty")
    val m = typedLit(alphabet.map(_ -> 1).toMap)
    filter(regexp_extract_all(text, lit("(?s)."), lit(0)),
      s => element_at(m, s).isNull)
  }

  /** Token IDS of `text` under a trained merge table and a derived
    * vocab ([[bpeVocabFromHistogram]]), as a pure Column: the token
    * strings of [[bpeTokensExpr]] mapped through one literal map (a
    * single MapType literal, not a codegen'd lookup chain). A token
    * absent from the vocab — text containing symbols the training
    * histogram never saw — raises in-plan rather than emitting nulls
    * that would silently corrupt packed sequences. Null text yields
    * null, matching [[bpeTokensExpr]]. */
  def bpeIdsExpr(text: Column, merges: Seq[(String, String)],
                 vocab: Seq[(String, Int)]): Column = {
    require(vocab.nonEmpty, "vocab is empty")
    val m = typedLit(vocab.toMap)
    transform(bpeTokensExpr(text, merges), t =>
      when(element_at(m, t).isNull, raise_error(concat(
        lit("token not in derived vocab: '"), t,
        lit("' — the text contains symbols the training histogram " +
          "never saw; extend the histogram or pre-filter"))).cast("int"))
        .otherwise(element_at(m, t)))
  }

  /** Token strings back from ids — the DECODE half of the id surface
    * ([[bpeIdsExpr]] is the encode half), as a pure Column: one
    * INVERSE MapType literal probed per id. An id the vocab never
    * assigned raises in-plan (symmetric with the encode side's
    * unseen-token raise: silent nulls would corrupt reconstructed
    * text); null input yields null. [[bpeVocabFromHistogram]] already
    * guarantees the forward map is injective, so the inverse is total
    * on the id range and `array_join(bpeDecodeExpr(bpeIdsExpr(text)))`
    * reconstructs the pre-token concatenation EXACTLY — merges only
    * regroup characters within a pre-token, never alter or cross
    * them. That identity is what q_doc_bpe_roundtrip pins against an
    * oracle that derives the expected output from the raw text alone,
    * so an id-table or merge-application bug anywhere in the
    * encode/decode pair surfaces as a string diff, not a silent
    * corruption in a packed sequence. */
  def bpeDecodeExpr(ids: Column, vocab: Seq[(String, Int)]): Column = {
    require(vocab.nonEmpty, "vocab is empty")
    val inv = typedLit(vocab.map { case (t, i) => i -> t }.toMap)
    transform(ids, i =>
      when(element_at(inv, i).isNull, raise_error(concat(
        lit("id not in derived vocab: "), i.cast("string"),
        lit(" — decode saw an id the vocab never assigned; the id " +
          "stream and the vocab are from different tokenizers")))
        .cast("string"))
        .otherwise(element_at(inv, i)))
  }

  /** The NATIVELY-trained tokenizer on the [[BatchTokenizer]] seam:
    * a merge table from [[trainBpe]]/[[trainBpeDistributed]] plus its
    * derived id table ([[bpeVocabFromHistogram]]), serving counts AND
    * ids ([[withTokenCount]] / [[withTokenIds]]) with no merge-count
    * ceiling — the deploy shape for tables past [[exprMergeCeiling]],
    * where the literal replace chain outgrows codegen. Pre-tokenization
    * and merge application match the expr path exactly on tables this
    * trainer produced (spec-pinned: best-rank-first inference equals
    * the rank-ordered chain on a self-trained table). A token missing
    * from the vocab fails loudly, mirroring [[bpeIdsExpr]]. */
  final case class TrainedBpeTokenizer(merges: Seq[(String, String)],
                                       vocab: Seq[(String, Int)])
      extends BatchTokenizer {
    def init(): TokenEncoder = new TokenEncoder {
      private val rank: Map[(String, String), Int] =
        merges.zipWithIndex.toMap
      private val ids: Map[String, Int] = vocab.toMap
      private val pre = java.util.regex.Pattern.compile(Text.bpeTokenPattern)

      def count(text: String): Long = {
        val m = pre.matcher(text)
        var n = 0L
        while (m.find()) n += bpe(m.group()).length
        n
      }

      def encode(text: String): Seq[Int] = {
        val m = pre.matcher(text)
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        while (m.find()) bpe(m.group()).foreach { t =>
          out += ids.getOrElse(t,
            throw new IllegalArgumentException(
              s"token '$t' not in derived vocab — the text contains " +
                "symbols the training histogram never saw; extend the " +
                "histogram or pre-filter"))
        }
        out.toSeq
      }

      // bpeVocabFromHistogram rejects duplicate strings, so the
      // inverse is total on the id range
      private lazy val inv: Map[Int, String] =
        vocab.map { case (t, i) => i -> t }.toMap

      /** Inverse of [[encode]] up to pre-tokenization: the pre-token
        * concatenation, bit-equal to the expr path's
        * `array_join(bpeDecodeExpr(...), "")`. */
      def decode(tokenIds: Seq[Int]): String = {
        val sb = new java.lang.StringBuilder()
        tokenIds.foreach { i =>
          sb.append(inv.getOrElse(i, throw new IllegalArgumentException(
            s"id $i not in derived vocab — decode saw an id the vocab " +
              "never assigned; the id stream and the vocab are from " +
              "different tokenizers")))
        }
        sb.toString
      }

      // symbols seed per CODE POINT, matching the expr path's `(?s).`
      // regex, the distributed trainer, and bpeVocabFromHistogram — a
      // per-code-unit split would turn a supplementary character (a
      // single pre-token under bpeTokenPattern's single-mark class)
      // into two lone surrogates: count() would diverge from
      // bpeCountExpr and encode() would throw on valid text the expr
      // path encodes fine (ADVICE r14)
      private def bpe(word: String): Seq[String] = {
        val syms = scala.collection.mutable.ArrayBuffer.from(
          codePointSyms(word))
        var done = syms.length < 2
        while (!done) {
          var best = -1
          var bestRank = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
            if (r < bestRank) { bestRank = r; best = i }
            i += 1
          }
          if (best < 0) done = true
          else {
            syms(best) = syms(best) + syms(best + 1)
            syms.remove(best + 1)
            if (syms.length < 2) done = true
          }
        }
        syms.toSeq
      }
    }
  }

  /** Minimal byte-pair-encoding tokenizer over an explicit merge list —
    * the seam's test implementation (the public BPE algorithm: within
    * each pre-token, repeatedly merge the adjacent symbol pair with the
    * best merge-table rank until none applies; the final symbol count
    * is the token count). Pre-tokenization reuses
    * [[Text.bpeTokenPattern]] (letter runs / digit runs / single
    * marks), so with an EMPTY merge table the count equals the number
    * of code points in those runs. Production tokenizers implement
    * [[BatchTokenizer]] directly; this class exists so the seam's
    * contract is executable and spec'd. */
  final case class ToyBpeTokenizer(merges: Seq[(String, String)])
      extends BatchTokenizer {
    def init(): TokenCounter = new TokenCounter {
      // merge-table indexing is the per-partition "model load"
      private val rank: Map[(String, String), Int] =
        merges.zipWithIndex.toMap
      private val pre = java.util.regex.Pattern.compile(Text.bpeTokenPattern)

      def count(text: String): Long = {
        val m = pre.matcher(text)
        var total = 0L
        while (m.find()) total += bpe(m.group())
        total
      }

      private def bpe(word: String): Long = {
        // per-code-point seeding, like every other face of the seam
        val syms = scala.collection.mutable.ArrayBuffer.from(
          codePointSyms(word))
        var done = syms.length < 2
        while (!done) {
          var best = -1
          var bestRank = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
            if (r < bestRank) { bestRank = r; best = i }
            i += 1
          }
          if (best < 0) done = true
          else {
            syms(best) = syms(best) + syms(best + 1)
            syms.remove(best + 1)
            if (syms.length < 2) done = true
          }
        }
        syms.length.toLong
      }
    }
  }
}
