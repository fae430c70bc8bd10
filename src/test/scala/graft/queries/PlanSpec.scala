package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Physical-plan quality gates: these assert the *shape* of the plans that
  * matters at 100 TB — filters reaching the parquet scan, column pruning,
  * broadcast joins for small dimensions, partial aggregation — so a
  * regression that silently turns a broadcast join into a shuffle join or
  * widens a scan fails CI, not the cluster bill.
  */
class PlanSpec extends AnyFunSuite {
  import graft.SparkSpec.spark

  private val sf = "/root/testdata/sf0.01"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("every registered query carries an oracle (no silent rows-only)") {
    // a query without an oracleSql entry degrades to the driver's
    // weaker rows-only check without anything failing — pin exact
    // key-set parity so the omission is a red test instead
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("q_filter_proj: predicates push to the parquet scan, schema pruned") {
    val p = plan("q_filter_proj")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThan(l_shipdate") || p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity"))
    // only the 5 referenced columns are read, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.split(",").length <= 5, readSchema)
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_partkey"))
  }

  test("q_agg_pricing: partial aggregation before the exchange") {
    val p = plan("q_agg_pricing")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0)
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("Exchange"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("q_embed_recall: top-k pushed below the exchange, both joins " +
    "broadcast, no corpus-sized shuffle") {
    val p = plan("q_embed_recall")
    // the brute-force ground truth must not shuffle the scored cross
    // product: WindowGroupLimit forwards at most k rows per query per
    // partition ahead of the rank exchange
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    // the approx side joins in broadcast; nothing sort-merges
    assert(p.contains("BroadcastHashJoin LeftOuter"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("q_doc_tok_coverage: no join, pruned scan, partial agg before " +
    "the single per-source exchange") {
    val p = plan("q_doc_tok_coverage")
    // the alphabet probe is a literal-map lookup in a Project — the
    // monitor must never join or explode the corpus per code point
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      readSchema.contains("source") && !readSchema.contains("lang") &&
      !readSchema.contains("n_chars"), readSchema)
  }

  test("q_doc_tok_drift: no join, 2-column pruned scan, partial agg " +
    "before the single per-source exchange") {
    val p = plan("q_doc_tok_drift")
    // the trained chain and the fit-time reference are literals in a
    // Project — the monitor must never join the corpus against the
    // vocab or explode it per token
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("text") && readSchema.contains("source") &&
      !readSchema.contains("doc_id") && !readSchema.contains("lang"),
      readSchema)
  }

  test("q_doc_tok_retrain: the fused gate is one pass — no join, no " +
    "explode, both probes in the same Project, one per-source " +
    "aggregate pair") {
    val p = plan("q_doc_tok_retrain")
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      readSchema.contains("source") && !readSchema.contains("lang"),
      readSchema)
  }

  test("q_doc_bpe_roundtrip: encode->decode is a pure projection — " +
    "no join, no explode, 2-column pruned scan") {
    val p = plan("q_doc_bpe_roundtrip")
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("source"), readSchema)
  }

  test("q_join_stars: dimension joins are broadcast, no shuffle join") {
    val p = plan("q_join_stars")
    // three dimension joins, all broadcast, none shuffle-based
    assert("BroadcastHashJoin Inner".r.findAllIn(p).length == 3, p)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("ShuffledHashJoin"))
  }

  test("q_join_semi / q_join_anti plan as semi/anti hash joins") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("dedup anti-join in the sweep pipeline is column-pruned") {
    // the skip-dups semi-join reads only _pset_hash from the database
    val calc = graft.SparkSpec.tmpDir("graft-plan-")
    val study = graft.core.Study(spark,
      graft.core.StudyConfig(calcDir = calc, skipDups = true))
    study.run(p => Map("r_" -> 1.0), graft.core.Grid.plist("a", Seq(1, 2)))
    val db = study.database.read()
    val pruned = db.select("_pset_hash")
    val p = pruned.queryExecution.explainString(FormattedMode)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.contains("_pset_hash"))
    assert(!readSchema.contains("r_"), readSchema)
  }

  test("incrementalMinhashDedup rereadFrom: the fused missing-id " +
    "fail-fast still sits on a LeftOuter verify join") {
    // the raise_error branch fires on a NULL index-side shingle set; an
    // optimizer rewrite of that LEFT join into an inner one would drop
    // a candidate the corpus lost — silently KEEPING a possible
    // duplicate — instead of failing loudly
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.functions._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plans.add(qe.optimizedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .limit(200).localCheckpoint()
    val idx = graft.SparkSpec.tmpDir("graft-plan-rr-") + "/idx"
    val marker = 7655001L
    spark.listenerManager.register(listener)
    try {
      val first = graft.ops.Dedup.incrementalMinhashDedup(
        docs.filter(col("doc_id") < 100), idx,
        rereadFrom = Some(docs.limit(0))).localCheckpoint()
      // the same docs again: every one is an indexed candidate
      graft.ops.Dedup.incrementalMinhashDedup(docs, idx,
        rereadFrom = Some(first)).count(): Unit
      // listener delivery is async but FIFO: a marker query flushes it
      spark.range(1).filter(col("id") =!= marker).count(): Unit
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.toString.contains(marker.toString)) &&
        System.nanoTime() < deadline) Thread.sleep(25)
    } finally spark.listenerManager.unregister(listener)
    val verify = plans.asScala.toSeq
      .filter(_.toString.contains("rereadFrom is missing"))
    assert(verify.nonEmpty, "no verify-join plan captured")
    verify.foreach { p =>
      assert(p.exists {
        case j: Join => j.joinType == LeftOuter &&
          j.right.output.exists(_.name == "i_sh")
        case _ => false
      }, p.toString.take(4000))
    }
  }

  test("q_dedup_ngram: count-table joins stay broadcast under AQE") {
    val df = SparkEntry.queries("q_dedup_ngram")(spark, sf)
    df.collect() // materialize so AQE finalizes the plan
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin") || p.contains("Exchange"))
  }

  test("q_embed_pairs: no cartesian product / nested-loop join") {
    // exact cosine pair mining must run as cell-pruned equi-joins; a
    // CartesianProduct or BroadcastNestedLoopJoin here is the O(n^2)
    // shuffle shape that killed the round-1 design
    val p = plan("q_embed_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("custom expressions cooperate with the optimizer: constant folding") {
    import org.apache.spark.sql.functions._
    // a pset_hash over literals folds to a literal at optimization time —
    // deterministic + foldable custom expressions get Catalyst rewrites
    // for free (SURVEY §4.1: mark deterministic, no custom Rule needed)
    val df = spark.range(1)
      .select(graft.queries.PsetHashExpressionHelper
        .hashOf(Seq.empty).as("h")) // hash of empty struct
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains(graft.core.PsetHash.emptyHash), optimized)
    assert(!optimized.toLowerCase.contains("pset_hash"), optimized)
  }

  test("whole-stage codegen spans the relational hot paths") {
    val df = SparkEntry.queries("q_agg_pricing")(spark, sf)
    df.collect() // let AQE finalize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // codegen'd stage markers, e.g. *(2) HashAggregate
  }

  test("q_events_attribution: binned interval join is an equi-join, not nested-loop") {
    val p = plan("q_events_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_events_overlap: binned interval-overlap join is an equi-join, " +
    "not nested-loop") {
    val p = plan("q_events_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_doc_hostcap: per-group cap plans as WindowGroupLimit before the shuffle") {
    // the constant-limit rank filter must push a partial per-partition
    // group limit below the exchange: a hot host then ships k rows per
    // map partition instead of its whole group
    val p = plan("q_doc_hostcap")
    assert(p.contains("WindowGroupLimit"), p)
    val firstLimit = p.indexOf("WindowGroupLimit")
    assert(p.indexOf("WindowGroupLimit", firstLimit + 1) > 0,
      "expected both Partial and Final WindowGroupLimit nodes")
  }

  test("q_doc_gopher: single aggregation pass, no join, partial agg " +
    "before the exchange") {
    // the whole rule gate is per-row codegen'd arithmetic feeding ONE
    // global aggregate: any join or second exchange means a rule started
    // shuffling the corpus
    val p = plan("q_doc_gopher")
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    // tree lines render as "Exchange (n)"; the detail section's
    // "(n) Exchange" must not double-count
    assert("Exchange \\(".r.findAllIn(p).length <= 1, p)
  }

  test("q_doc_token_mixture: bucket-partitioned budget window, offsets " +
    "re-applied by broadcast only") {
    // phase-1 totals collect driver-side (bounded by |weights| x
    // 16^bucketChars); the selection is a window partitioned by
    // (stratum, hash-prefix bucket) — NOT by stratum alone, which would
    // cap parallelism at |weights| tasks — plus a broadcast join that
    // re-applies the per-bucket offsets. Any shuffled join here would
    // mean the offset table got exchanged through the corpus.
    val p = plan("q_doc_token_mixture")
    assert(p.contains("Window"), p)
    assert(p.contains("__bkt"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_doc_overlap: AQE reuses the distinct-shingle index at runtime") {
    // static explain shows the (group, shingle) distinct duplicated into
    // four branches (self-join sides + two count lookups); the EXECUTED
    // adaptive plan must collapse them onto one exchange — otherwise the
    // op tokenizes a 100 TB corpus four times
    val df = SparkEntry.queries("q_doc_overlap")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    val finalPlan = executed.split("== Initial Plan ==").head
    assert("ReusedExchange".r.findAllIn(finalPlan).length >= 2, finalPlan)
    assert("FileScan parquet".r.findAllIn(finalPlan).length == 1, finalPlan)
  }

  test("q_events_funnel: step filters push to the scan; " +
    "joins stay user-keyed aggregates, no window") {
    val p = plan("q_events_funnel")
    // each step scans with its event_type filter pushed — the event
    // stream itself is never shuffled whole or sorted
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(event_type,view)") ||
      p.contains("event_type = view") || p.contains("equalTo(event_type"), p)
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p) // min per step
  }

  test("q_events_cohort: activity distinct + user-keyed joins only") {
    val p = plan("q_events_cohort")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // anchor filter pushed to its scan branch
    assert(p.contains("signup"), p)
  }

  test("q_doc_bm25_batch: postings semi-join the query-term set " +
    "BEFORE the (doc, term) shuffle") {
    // the order matters at 100 TB: filtering after the groupBy would
    // shuffle the full exploded token stream; the LeftSemi against the
    // broadcast term set must sit under the first posting exchange
    // checkpointPostings = false keeps the posting lineage inspectable
    // (the production default checkpoints it away behind an RDD scan)
    import graft.SparkSpec.spark.implicits._
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val queries = Seq((1L, "hash"), (1L, "join")).toDF("query_id", "term")
    val df = graft.ops.Retrieval.bm25TopKBatch(docsDf, queries, k = 5,
      checkpointPostings = false)
    // ORDERING, not mere presence: the analyzed tree prints parents
    // above children, so the LeftSemi must print BELOW the posting
    // aggregate (= it filters BEFORE the (id, term) shuffle). A
    // regression that filters after the aggregation prints it above.
    val analyzed = df.queryExecution.analyzed.toString
    val aggIdx = analyzed.indexOf("Aggregate [id")
    val semiA = analyzed.indexOf("Join LeftSemi")
    assert(aggIdx >= 0 && semiA > aggIdx, analyzed.take(3000))
    // per-query rank is a constant-limit window -> WindowGroupLimit
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("q_doc_bm25: stats branch reads only the text column; " +
    "top-k is TakeOrderedAndProject, no wide shuffle") {
    val p = plan("q_doc_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // per-term tf is computed map-side from the token array: no explode
    // (Generate) and no per-doc exchange may appear — only the single-row
    // stats aggregate's SinglePartition exchange
    assert(!p.contains("Generate"), p)
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(schemas.exists(_.contains("struct<text:string>")), schemas)
  }

  test("q_doc_temperature: joinless single-pass filter — thresholds fold " +
    "into the predicate as literals") {
    val p = plan("q_doc_temperature")
    // the per-stratum hash thresholds are driver-computed literals, so
    // the selection is one scan + filter: no join, no window, and the
    // only exchange is the presentation sort's
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // formatted mode lists each node twice (tree + detail) — count the
    // detail entries; the only exchange is the presentation sort's
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length <= 1, p)
  }

  test("q_events_funnel_steps: drop-off window is over the k-row counts " +
    "union of checkpointed prefixes") {
    // the greedy prefixes are localCheckpoint'ed at build (each chain
    // join paid once, not once per depth), so the final plan reads
    // checkpointed blocks — the per-step scan pushdown of the shared
    // fold is pinned by the q_events_funnel gate above
    val p = plan("q_events_funnel_steps")
    assert(!p.contains("CartesianProduct"), p)
    // one Window node only (formatted mode lists nodes twice; count the
    // detail entries) — the k-row drop-off arithmetic, never a window
    // over the event stream
    assert("\\(\\d+\\) Window".r.findAllIn(p).length <= 1, p)
    assert(p.contains("Union"), p)
  }

  test("q_doc_rrf: fusion operates on top-k outputs — no cartesian, " +
    "bm25 list still TakeOrdered") {
    val p = plan("q_doc_rrf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Union"), p)
  }

  test("q_embed_ivf_batch: distributed probes — no cartesian, no " +
    "nested-loop join, rank window partitioned per query") {
    val p = plan("q_embed_ivf_batch")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-query top-k must be a partitioned window (WindowGroupLimit
    // prunes per-partition before the exchange)
    assert(p.contains("WindowGroupLimit"), p)
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { s =>
      assert(!s.matches("windowspecdefinition\\([^,]* (ASC|DESC).*"),
        s"unpartitioned window in q_embed_ivf_batch: $s")
    }
  }

  test("IVF past the literal ceiling plans FLAT: one matrix expression, " +
    "not a K-term chain, and no join/shuffle for assignment") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // 128 centroids (> literalArgmaxCeiling): seeds-only training keeps
    // the gate cheap — the assertion is about plan SHAPE, not recall
    val cents = graft.ops.Similarity.kmeansCentroids(emb, 128, iters = 0)
    assert(cents.length > 64)
    val assignPlan = emb
      .select(graft.ops.Similarity.assignCentroid(col("embedding"), cents))
      .queryExecution.explainString(FormattedMode)
    // the matrix expression appears ONCE; the literal form would emit
    // one vec_dot_const per centroid and blow the plan up 128-fold
    assert(assignPlan.contains("arg_max_dot"), assignPlan)
    assert(!assignPlan.contains("vec_dot_const"), assignPlan)
    assert(!assignPlan.contains("Exchange"), assignPlan) // pure projection
    val q = emb.filter(col("vec_id") < 3)
    val batchPlan = graft.ops.Similarity
      .ivfTopKBatch(emb, q, k = 5, numCentroids = 128, iters = 0)
      .queryExecution.explainString(FormattedMode)
    assert(batchPlan.contains("top_n_dot_cids"), batchPlan)
    assert(!batchPlan.contains("sort_array"), batchPlan)
    assert(!batchPlan.contains("CartesianProduct"), batchPlan)
    assert(!batchPlan.contains("BroadcastNestedLoopJoin"), batchPlan)
    assert(batchPlan.contains("WindowGroupLimit"), batchPlan)
  }

  test("q_doc_rrf_batch: every rank window is PARTITIONED (per-query " +
    "fan-out, no single-task global sort in the fusion)") {
    val p = plan("q_doc_rrf_batch")
    // each window spec's partition clause must be non-empty: an
    // unpartitioned row_number would serialize the whole fusion (or a
    // whole retriever) through one task at table scale.
    // windowspecdefinition(part..., order... DESC NULLS LAST, frame) —
    // an unpartitioned spec starts directly with the ordering exprs
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { s =>
      assert(!s.matches("windowspecdefinition\\([^,]* (ASC|DESC).*"),
        s"unpartitioned window in q_doc_rrf_batch: $s")
    }
    assert(p.contains("Union"), p)
  }

  test("q_doc_dsir: weight table rides a broadcast join; top-n plans as " +
    "TakeOrdered; scan budget is two raw passes plus the target") {
    val p = plan("q_doc_dsir")
    // the B-row weight table must broadcast into the corpus-sized
    // scoring join — a shuffle join here would re-exchange every
    // (doc, bucket) row against a 1024-row table
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly the documented scan budget: two raw-corpus tokenize
    // passes (scoring + distribution; AQE cannot reuse the scoring
    // shuffle — column pruning gives the branches different aggregate
    // outputs) and one target-sample pass — a fourth scan means the
    // totals regressed to re-deriving a count table
    val df = SparkEntry.queries("q_doc_dsir")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(finalPlan).length == 3, finalPlan)
    // the raw-distribution branch must partial-aggregate BEFORE its
    // exchange (map-side collapse to <= buckets cells)
    assert(finalPlan.contains("partial_count"), finalPlan)
  }

  test("q_doc_curriculum: offsets ride a broadcast join; the rank window " +
    "is PARTITIONED on (stage, bucket) — no global sort assigns positions") {
    val p = plan("q_doc_curriculum")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { s =>
      assert(!s.matches("windowspecdefinition\\([^,]* (ASC|DESC).*"),
        s"unpartitioned window in q_doc_curriculum: $s")
    }
  }

  test("q_doc_domain_route: the dense weight grid broadcasts into the " +
    "scoring join; winner/margin windows are PARTITIONED per doc") {
    val p = plan("q_doc_domain_route")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, p)
    // the ONE unpartitioned window allowed is the B-row totals fold
    // inside the weight-grid branch (bounded by the buckets guard);
    // every rank/lead window must be partitioned
    val unpart = specs.count(_.matches(
      "windowspecdefinition\\([^,]* (ASC|DESC).*"))
    assert(unpart == 0,
      s"unpartitioned ORDERED window in q_doc_domain_route: $specs")
  }

  test("q_embed_proto: per-cluster quota plans as WindowGroupLimit " +
    "(per-partition heaps), centroids broadcast") {
    val p = plan("q_embed_proto")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_doc_hard_negatives: anti-join on the bounded retrieval output; " +
    "re-rank window is PARTITIONED per query") {
    val p = plan("q_doc_hard_negatives")
    assert(p.contains("LeftAnti"), p)
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { s =>
      assert(!s.matches("windowspecdefinition\\([^,]* (ASC|DESC).*"),
        s"unpartitioned window in q_doc_hard_negatives: $s")
    }
  }

  test("q_doc_priority_sample: corpus top-(n+1) plans as " +
    "TakeOrderedAndProject (per-partition heaps), never a global sort") {
    val p = plan("q_doc_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_doc_span_dedup: occurrence count partial-aggregates map-side; " +
    "duplicated-fingerprint mark is a semi-join; interval-merge windows " +
    "are PARTITIONED per doc") {
    val p = plan("q_doc_span_dedup")
    // corpus-wide count: partial + final HashAggregate around the
    // fingerprint exchange — the exchange carries distinct fps per task
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { s =>
      assert(!s.matches("windowspecdefinition\\([^,]* (ASC|DESC).*"),
        s"unpartitioned window in q_doc_span_dedup: $s")
    }
  }

  test("q_doc_contamination_bloom: Bloom probe prunes grams before the " +
    "verify join, no cartesian") {
    val p = plan("q_doc_contamination_bloom")
    // the BloomFilterMightContain literal must survive into the physical
    // plan as a filter on the corpus-gram side
    assert(p.toLowerCase.contains("might_contain"), p.take(4000))
    assert(p.contains("LeftSemi"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q_embed_quant_topk: both rank cuts plan as WindowGroupLimit; " +
    "candidate rerank joins on ids, no cartesian") {
    val p = plan("q_embed_quant_topk")
    // stage-1 candidate cut AND stage-2 top-k both push as group limits
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q_embed_pq: ADC cut and rerank both plan as WindowGroupLimit; " +
    "stage 1 scans only ids + codes") {
    val p = plan("q_embed_pq")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q_embed_ivfpq: probed cells ride a cid equi-join (no corpus " +
    "cross product); both rank cuts are WindowGroupLimit") {
    val p = plan("q_embed_ivfpq")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // the ADC stage joins codes to probes on cid — a hash join key,
    // not a nested-loop filter
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(4000))
  }

  test("q_doc_bm25_index: the term IN-filter reaches the postings " +
    "parquet scan; df scan prunes to the term column; top-k is " +
    "TakeOrderedAndProject") {
    val p = plan("q_doc_bm25_index")
    assert(p.contains("In(term, [hash,join,spark,window])"), p.take(4000))
    assert(p.contains("ReadSchema: struct<term:string>"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q_doc_bigram_lm: model joins on its (v, w) key — no cartesian, " +
    "no nested loop; vocabulary and stats broadcast") {
    val p = plan("q_doc_bigram_lm")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // per-doc bigrams x model must be a keyed join (broadcast locally
    // is fine — the sf0.01 model is tiny — but never a loop): every
    // nested-loop operator in the plan is a Cross against the
    // single-row stats, none carries the model's LeftOuter
    assert(!p.contains("BroadcastNestedLoopJoin LeftOuter"), p.take(4000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(4000))
  }

  test("q_stream_attribution: the drained-sink aggregate partial-" +
    "aggregates before its exchange (the stream side is gated by " +
    "MonitorSpec's StreamingSymmetricHashJoin pin)") {
    // plan() would START the stream; gate the batch display shape on
    // the analogous batch aggregate instead of re-running the drain
    val p = plan("q_events_attribution")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q_sketch_audience: sketches partial-aggregate MAP-SIDE before " +
    "the exchange; the G x G pair join audits clean") {
    val p = plan("q_sketch_audience")
    // TypedImperativeAggregate plans as ObjectHashAggregate pairs:
    // partial_kmv_sketch below each Exchange, final above — only 32 KiB
    // blobs per group ever cross the wire, never raw keys
    assert(p.contains("partial_kmv_sketch"), p.take(4000))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(4000))
    // the deliberate group-table pair enumeration is exempt in the
    // audit (both sides grouped aggregates), not merely tolerated
    val fs = graft.plans.PlanAudit
      .audit(graft.SparkEntry.queries("q_sketch_audience")(spark, sf))
      .filter(f => f.kind == "NESTED_LOOP" || f.kind == "CARTESIAN")
    assert(fs.isEmpty, fs.toString)
  }

  test("q_sketch_quantiles / q_sketch_heavyhitters: sketches " +
    "partial-aggregate map-side before the exchange") {
    val pq = plan("q_sketch_quantiles")
    assert(pq.contains("partial_kll_sketch"), pq.take(4000))
    assert("ObjectHashAggregate".r.findAllIn(pq).length >= 2, pq.take(4000))
    val ph = plan("q_sketch_heavyhitters")
    assert(ph.contains("partial_mg_sketch"), ph.take(4000))
    assert("ObjectHashAggregate".r.findAllIn(ph).length >= 2, ph.take(4000))
  }

  test("q_sketch_profile: count + KMV + KLL share ONE scan and one " +
    "partial/final aggregate pair — the single-pass audit shape") {
    val p = plan("q_sketch_profile")
    // ONE scan node = 1 tree line + 1 detail block
    assert("Scan parquet".r.findAllIn(p).length == 2, p.take(4000))
    assert(p.contains("partial_kmv_sketch") &&
      p.contains("partial_kll_sketch") && p.contains("partial_count"),
      p.take(4000))
    // exactly one partial/final pair: 2 tree nodes + 2 detail blocks
    assert("ObjectHashAggregate".r.findAllIn(p).length == 4, p.take(4000))
  }

  test("q_table_profile: the whole-table audit reads the corpus ONCE " +
    "into a single aggregate pair; the transpose explodes one row") {
    val p = plan("q_table_profile")
    // ONE scan node = 1 tree line + 1 detail block
    assert("Scan parquet".r.findAllIn(p).length == 2, p.take(4000))
    // all three aggregate families fused into the same pair
    assert(p.contains("partial_kmv_sketch") &&
      p.contains("partial_kll_sketch") && p.contains("partial_count"),
      p.take(4000))
    assert("ObjectHashAggregate".r.findAllIn(p).length == 4, p.take(4000))
    // the long-form transpose is an explode over the single aggregated
    // row, not a collect — Generate sits above the aggregate in-plan
    assert(p.contains("Generate") && p.contains("explode"), p.take(4000))
  }

  test("q_events_zorder: InterleaveBits runs inside WholeStageCodegen " +
    "and the top-100 cut plans as TakeOrderedAndProject") {
    val p = plan("q_events_zorder")
    assert(p.contains("interleave_bits"), p.take(4000))
    // the Morton Project is starred (codegen'd) — a doGenCode
    // regression would drop it out of the WholeStageCodegen span
    assert(p.contains("* Project"), p.take(4000))
    assert("""Project \[codegen id : \d+\]""".r.findFirstIn(p).isDefined,
      p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("Exchange"), p.take(4000)) // no shuffle at all
  }

  test("q_events_skipscan: the scan's file list is the manifest's kept " +
    "set — strictly fewer files than the z-ordered table holds") {
    val df = graft.SparkEntry.queries("q_events_skipscan")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles
    }
    assert(scans.nonEmpty)
    val files = scans.flatten.filter(_.contains("part-"))
    val dirs = files.map(_.replaceAll("/[^/]+$", "")).distinct
    assert(dirs.size == 1, dirs.toString)
    val total = new java.io.File(dirs.head.stripPrefix("file:"))
      .listFiles().count(f => f.getName.startsWith("part-"))
    assert(total == 16, s"layout should hold 16 files, saw $total")
    assert(files.length < total,
      s"scan reads ${files.length} of $total files — no pruning")
  }

  test("q_doc_classifier_calibration: no single-partition window over " +
    "the row relation — every ntile band comes from the bucketed rank " +
    "fan-out") {
    // the naive reliability curve is ntile() with no PARTITION BY:
    // Spark moves the whole corpus to ONE task and sorts it there. The
    // op computes the identical bands from bucket-local row_number +
    // broadcast offsets; this gate keeps it that way.
    val df = SparkEntry.queries("q_doc_classifier_calibration")(spark, sf)
    val findings = graft.plans.PlanAudit.audit(df)
      .filter(_.kind == "GLOBAL_WINDOW")
    assert(findings.isEmpty, findings.mkString("\n"))
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("row_number"), p.take(4000))
    // offsets re-applied by broadcast, never shuffled through the rows
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(4000))
  }
}
