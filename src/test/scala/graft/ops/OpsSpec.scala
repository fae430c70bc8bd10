package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-verification of the hash-based training-data operators against
  * their exact counterparts (the in-repo analog of the driver's oracle for
  * the non-SQL-expressible ops), plus determinism checks.
  */
class OpsSpec extends AnyFunSuite {
  import graft.SparkSpec.spark

  private val sf = "/root/testdata/sf0.01"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("minhash-LSH recall vs exact n-gram Jaccard at threshold 0.5") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 64, 16, 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain near-dups at 0.5")
    // LSH output is verified with exact Jaccard, so no false positives...
    assert(lsh.subsetOf(exact))
    // ...and banding 64/16 (b=16, r=4 -> ~(1-(1-s^4)^16)) makes missing a
    // 0.5-Jaccard pair unlikely; require high recall on this corpus
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("ngram cap: capped candidates + full-set verify == uncapped exact") {
    def pairs(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, 3, 0.5, maxShingleFreq = cap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.floor(r.getDouble(2) * 1e6) / 1e6)).toSet
    val exact = pairs(None)
    val capped = pairs(Some(500))
    assert(exact.nonEmpty)
    assert(capped == exact,
      s"missed=${(exact -- capped).take(5)} extra=${(capped -- exact).take(5)}")
    // the storage-constrained opt-out (no index checkpoint, recompute
    // instead) is result-identical
    val recomputed = Dedup.ngramJaccardPairs(docs, 3, 0.5,
      maxShingleFreq = Some(500), materializeIndex = false)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 1e6) / 1e6)).toSet
    assert(recomputed == exact)
  }

  test("ngram cap: Jaccard is over FULL shingle sets, not the capped index") {
    // two docs share a hot boilerplate shingle + rare overlap; with the
    // cap excluding the hot shingle from candidate generation, the score
    // must still count it (round-1 bug: inter used the capped index ->
    // underestimated jaccard 3/7 here, below the 0.5 threshold)
    import graft.SparkSpec.spark.implicits._
    val d = (Seq(
      (1L, "the quick brown unique alpha beta gamma"),
      (2L, "the quick brown unique alpha beta delta")) ++
      (3L to 6L).map(i => (i, s"the quick brown filler$i x$i y$i z$i")))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(d, 3, 0.5, maxShingleFreq = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1)
    assert(got.head._1 == 1L && got.head._2 == 2L)
    assert(math.abs(got.head._3 - 4.0 / 6.0) < 1e-9, got.head.toString)
  }

  test("duplicateClusters: components match a driver union-find; " +
      "canonical survivor kept") {
    import graft.SparkSpec.spark.implicits._
    // chain 1-2-3 (transitive through 2), pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // survivors: one per cluster, docs outside any pair untouched
    val d = (1L to 25L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.keepClusterCanonical(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1L to 25L).toSet -- Set(2L, 3L, 11L, 21L, 22L))
    // corpus-level: clusters over real ngram pairs agree with a driver
    // union-find on the collected pair list
    val realPairs = Dedup.ngramJaccardPairs(docs, 3, 0.5)
    val edges = realPairs.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
    val real = Dedup.duplicateClusters(realPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(real == expect)
    // both strategies are result-identical: force the DISTRIBUTED
    // propagation path (threshold 0) and the driver fast path (default)
    val distributed = Dedup.duplicateClusters(realPairs,
      driverEdgeThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == expect)
  }

  test("duplicateClusters: deep path components converge via pointer " +
      "jumping (no shallow-graph assumption)") {
    import graft.SparkSpec.spark.implicits._
    // a diameter-50 chain is the worst case for pure min-label
    // propagation (one hop per round, 50 > default maxIters=25); the
    // pointer-jump rounds must close it well inside the default budget,
    // on BOTH strategies
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id1", "id2")
    val expect = (0L to 50L).map(_ -> 0L).toMap
    val dist = Dedup.duplicateClusters(chain, driverEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
    val drv = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drv == expect)
  }

  test("cosinePairs (cell-blocked) is exact: recall 1.0 vs brute force") {
    // brute-force all-pairs baseline, computed inline (test-only shape)
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("v1"))
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("v2"))
    val bf = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("score", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("score") >= 0.4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Similarity.cosinePairs(emb, 0.4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.nonEmpty, "corpus should contain pairs above 0.4")
    assert(blocked == bf,
      s"missed=${(bf -- blocked).take(5)} extra=${(blocked -- bf).take(5)}")
    // sampled centroid training (the 100 TB path) stays exact: radii are
    // full-corpus, so pruning remains sound for any centroid set
    val sampled = Similarity.cosinePairs(emb, 0.4, trainFraction = 0.2)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled == bf)
  }

  test("simhash: identical texts collide, near-dups are close") {
    val fp = docs.limit(1).select(Text.tokens(col("text")).as("t"))
      .select(Dedup.simhash64(col("t")).as("f1"),
        Dedup.simhash64(col("t")).as("f2")).head()
    assert(fp.getLong(0) == fp.getLong(1))
    // pairs found by simhash banding at hamming<=3 share high jaccard
    val pairs = Dedup.simhashPairs(docs, 3).collect()
    assert(pairs.nonEmpty)
  }

  test("content collapse: ngram + minhash miners match brute force on a " +
      "dup-dense corpus; spanning edges give identical clusters") {
    import graft.SparkSpec.spark.implicits._
    // 2 distinct contents x 70 identical copies, plus a near-dup edit
    // per content and two shingle-less short docs (must never pair).
    // Expanded mode mines the full duplication-quadratic pair set
    // (uncollapsed by design — the pairs ARE the output); spanning mode
    // collapses to representatives and must emit linear edges with
    // identical connected components.
    val baseText = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = ((0 until 2).flatMap { g =>
      val t = baseText.replace("tok7", s"grp$g")
      (0 until 70).map(i => (g * 1000L + i, t)) :+
        (g * 1000L + 500, t.replace("tok30", "edit"))
    } :+ (9000L, "ab") :+ (9001L, "ab")).toDF("doc_id", "text")
    // brute-force exact 3-gram jaccard reference
    def shingleSet(t: String): Set[String] =
      if (t.split("\\s+").length < 3) Set.empty
      else t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      (a, ta) <- texts; (b, tb) <- texts
      if a < b
      sa = shingleSet(ta); sb = shingleSet(tb)
      if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.5
    } yield (a, b, math.floor(j * 1e6) / 1e6)).toSet
    assert(brute.exists(_._3 == 1.0) && brute.exists(_._3 < 1.0),
      "fixture needs exact-dup and near-dup pairs")
    def got(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 1e6) / 1e6)).toSet
    val ng = got(Dedup.ngramJaccardPairs(d, 3, 0.5))
    assert(ng == brute,
      s"ngram missed=${(brute -- ng).take(5)} extra=${(ng -- brute).take(5)}")
    val ngCapped = got(Dedup.ngramJaccardPairs(d, 3, 0.5,
      maxShingleFreq = Some(500)))
    assert(ngCapped == brute)
    val mh = got(Dedup.minhashLshPairs(d, 3, 64, 16, 0.5))
    assert(mh == brute,
      s"minhash missed=${(brute -- mh).take(5)} extra=${(mh -- brute).take(5)}")
    // spanning mode: fewer edges, identical connected components
    val span = Dedup.ngramJaccardPairs(d, 3, 0.5, expandGroups = false)
    assert(span.count() < brute.size)
    def comps(p: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateClusters(p).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(comps(span) == comps(Dedup.ngramJaccardPairs(d, 3, 0.5)))
  }

  test("hamming pair miner: collapsed banding == brute force; spanning " +
      "edges give identical clusters on a dup-dense corpus") {
    import graft.SparkSpec.spark.implicits._
    // dup-dense fixture: each base doc replicated 5x (identical hash
    // groups of 5) plus one-word edits (cross-group near pairs) — the
    // shape that made the uncollapsed miner quadratic
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = (0 until 4).flatMap { g =>
      val t = baseText.replace("tok50", s"grp$g") // 4 distinct contents
      (0 until 5).map(i => (g * 100L + i, t)) :+
        (g * 100L + 50, t.replace("tok30", "edit")) // near-dup of group g
    }.toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
      Dedup.simhash64(Text.tokens(col("text"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val brute = (for {
      (a, ha) <- fps; (b, hb) <- fps
      if a < b && ham(ha, hb) <= 3
    } yield (a, b, ham(ha, hb))).toSet
    val expanded = Dedup.simhashPairs(d, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expanded == brute,
      s"missed=${(brute -- expanded).take(5)} extra=${(expanded -- brute).take(5)}")
    assert(brute.exists(_._3 == 0) && brute.exists(_._3 > 0),
      "fixture must exercise both intra-group and cross-group pairs")
    // spanning mode: strictly fewer edges, identical connected components
    val spanning = Dedup.simhashPairs(d, 3, expandGroups = false)
    assert(spanning.count() < expanded.size)
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(comps(spanning) == comps(Dedup.simhashPairs(d, 3)))
  }

  test("incremental exact dedup across batches via the fingerprint index") {
    val idx = graft.SparkSpec.tmpDir("graft-idx-") + "/fp_index"
    val b1 = docs.filter(col("doc_id") < 100)
    val s1 = Dedup.incrementalExactDedup(b1, idx)
    assert(s1.count() == 100) // corpus has no exact dups at sf0.01
    // second batch: 50 already-seen docs + 50 new ones
    val b2 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 150)
    val s2 = Dedup.incrementalExactDedup(b2, idx)
    val ids2 = s2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == (100L until 150L).toSet, s"got ${ids2.size}")
    // the index grew to 150 fingerprints
    assert(graft.SparkSpec.spark.read.parquet(idx).distinct().count() == 150)
  }

  test("incremental index lookups are batch-bounded: the index side is " +
    "broadcast-semi-pruned, never shuffled whole") {
    // the plan gate behind the 100 TB story: every per-batch touch of a
    // persisted index must reach the first exchange already bounded by
    // the batch (broadcast semi-join prune on the scan), because the
    // index grows with the corpus and the batch does not. The ops
    // checkpoint internally, so the index joins never appear in the
    // RETURNED frame's plan — capture every executed plan instead.
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def capturedSemiPrune(idxToken: String): Boolean = {
      import scala.jdk.CollectionConverters._
      plans.asScala.exists(p => p.contains(idxToken) &&
        "BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined)
    }
    def awaitCapture(idxToken: String): Unit = {
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!capturedSemiPrune(idxToken) && System.nanoTime() < deadline)
        Thread.sleep(100) // the listener bus delivers asynchronously
      assert(capturedSemiPrune(idxToken),
        s"no broadcast-semi-pruned index plan captured for $idxToken")
    }
    spark.listenerManager.register(listener)
    try {
      val idxE = graft.SparkSpec.tmpDir("graft-planidx-") + "/fp"
      Dedup.incrementalExactDedup(docs.filter(col("doc_id") < 50), idxE)
      plans.clear() // only the second batch reads a non-empty index
      Dedup.incrementalExactDedup(
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100), idxE)
          .count()
      awaitCapture("/fp")

      val idxS = graft.SparkSpec.tmpDir("graft-planidx-") + "/sim"
      Dedup.incrementalSimhashDedup(docs.filter(col("doc_id") < 50), idxS)
      plans.clear()
      Dedup.incrementalSimhashDedup(
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100), idxS)
        .count()
      awaitCapture("/sim")

      val idxH = graft.SparkSpec.tmpDir("graft-planidx-") + "/span"
      graft.ops.SpanDedup.incrementalDuplicatedSpans(
        docs.filter(col("doc_id") < 50), idxH, k = 8)
      plans.clear()
      graft.ops.SpanDedup.incrementalDuplicatedSpans(
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100), idxH,
        k = 8).count()
      awaitCapture("/span")

      val idxV = graft.SparkSpec.tmpDir("graft-planidx-") + "/sem"
      Similarity.incrementalSemanticDedup(
        emb.filter(col("vec_id") < 50), idxV, threshold = 0.9)
      plans.clear()
      Similarity.incrementalSemanticDedup(
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), idxV,
        threshold = 0.9).count()
      awaitCapture("/sem")
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental NEAR-dup dedup: re-submitted docs drop via the " +
      "signature index; index grows by kept docs only") {
    val idx = graft.SparkSpec.tmpDir("graft-mhidx-") + "/mh_index"
    val b1 = docs.filter(col("doc_id") < 100)
    val kept1 = Dedup.incrementalMinhashDedup(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1.nonEmpty && kept1.subsetOf((0L until 100L).toSet))
    // in-batch near-dup clusters keep exactly their canonical member
    val pairs1 = Dedup.minhashLshPairs(b1, 3, 64, 16, 0.5)
    val nonCanon = Dedup.duplicateClusters(pairs1)
      .filter(col("doc_id") =!= col("cluster_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept1 == (0L until 100L).toSet -- nonCanon)
    // batch 2 overlaps: every batch-1 KEPT doc re-submits with an
    // identical signature (estimated jaccard 1.0) and must drop
    val b2 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 150)
    val kept2 = Dedup.incrementalMinhashDedup(b2, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.intersect(kept1).isEmpty,
      s"re-kept: ${kept2.intersect(kept1).take(5)}")
    assert(kept2.exists(_ >= 100L), "brand-new docs should survive")
    // the index holds exactly the kept signatures
    val idxIds = graft.SparkSpec.spark.read.parquet(idx)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(idxIds == kept1 ++ kept2)
  }

  test("incrementalMinhashDedup: exact cross-batch verify corrects the " +
      "estimator's boundary flips; index modes don't mix") {
    import spark.implicits._
    // construct doc pairs whose EXACT 3-gram Jaccard is fixed just below
    // the 0.5 threshold (24 shared shingles of 38 each: J = 24/52 ~
    // 0.4615), then search the deterministic xxhash64 minhash space for a
    // variant whose 64-component ESTIMATE lands at/above 0.5 — the
    // estimator's sigma ~ sqrt(J(1-J)/64) ~ 0.062 makes such flips
    // routine near the boundary (P ~ 27% per variant), and the hashes
    // are fixed, so the found seed is stable across runs
    val baseTokens = (1 to 40).map(i => s"w$i")
    val baseText = baseTokens.mkString(" ")
    def variantText(seed: Int): String =
      (baseTokens.take(26) ++ (1 to 14).map(i => s"x${seed}_$i"))
        .mkString(" ")
    def shingleSet(t: String): Set[String] =
      t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val exactJ = {
      val a = shingleSet(baseText); val b = shingleSet(variantText(0))
      a.intersect(b).size.toDouble / a.union(b).size
    }
    assert(exactJ < 0.5 && exactJ > 0.4, s"fixture broken: J=$exactJ")
    val seeds = 0 until 200
    val all = ((-1L, baseText) +: seeds.map(s => (s.toLong, variantText(s))))
      .toDF("doc_id", "text")
    val sigRows = Dedup.minhashSignatures(all, 3, 64, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (1 to 64).map(i => r.getLong(i)))
      .toMap
    val baseSig = sigRows(-1L)
    val flipped = seeds.find { s =>
      val est = baseSig.zip(sigRows(s.toLong)).count(p => p._1 == p._2) / 64.0
      est >= 0.5
    }
    assert(flipped.nonEmpty,
      "no estimator boundary flip in 200 deterministic variants")
    val b1 = Seq((1L, baseText)).toDF("doc_id", "text")
    val b2 = Seq((2L, variantText(flipped.get))).toDF("doc_id", "text")
    // exact stored-sh mode (opt-in since the round-11 default flip):
    // the variant is NOT a near-dup (J < 0.5) and must survive batch 2
    val idxE = graft.SparkSpec.tmpDir("graft-mhex-") + "/idx"
    Dedup.incrementalMinhashDedup(b1, idxE, exactVerify = true)
    val keptExact = Dedup.incrementalMinhashDedup(b2, idxE,
        exactVerify = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptExact == Set(2L), s"exact mode must keep the variant: $keptExact")
    // estimator mode (the DEFAULT) on the same two batches drops it —
    // the documented boundary-flip behavior the exact opt-in fixes
    val idxA = graft.SparkSpec.tmpDir("graft-mhap-") + "/idx"
    Dedup.incrementalMinhashDedup(b1, idxA)
    val keptEst = Dedup.incrementalMinhashDedup(b2, idxA)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptEst.isEmpty, s"estimator mode should flip here: $keptEst")
    // index schemas are per-mode; mixing must fail fast, not union-merge
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashDedup(b2, idxE, exactVerify = false)
    }
    assert(e.getMessage.contains("exactVerify"))
  }

  test("incrementalMinhashDedup rereadFrom: compact index, decisions " +
      "identical to the stored-sh mode across a multi-batch replay") {
    val batches = Seq(
      docs.filter(col("doc_id") < 100),
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 200),
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300))
    val idxSh = graft.SparkSpec.tmpDir("graft-rr-sh-") + "/idx"
    val idxRr = graft.SparkSpec.tmpDir("graft-rr-cp-") + "/idx"
    var corpus = docs.limit(0) // accumulated kept docs for reread mode
    for (b <- batches) {
      val keptSh = Dedup.incrementalMinhashDedup(b, idxSh,
          exactVerify = true)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val keptRr = Dedup.incrementalMinhashDedup(b, idxRr,
        rereadFrom = Some(corpus))
      corpus = corpus.union(keptRr).localCheckpoint(true)
      val rrIds = keptRr.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(rrIds == keptSh, s"batch decisions diverged: " +
        s"shOnly=${(keptSh -- rrIds).take(5)} rrOnly=${(rrIds -- keptSh).take(5)}")
    }
    // the reread index is compact: signature-only schema, no sh column
    assert(!spark.read.parquet(idxRr).columns.contains("sh"))
    assert(spark.read.parquet(idxSh).columns.contains("sh"))
    // footprint A/B: the stored-sh index carries the corpus's distinct
    // shingle sets; the compact one is numHashes longs per kept doc
    def bytes(p: String): Long = graft.core.Fs.fs(p)
      .getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    val (bSh, bRr) = (bytes(idxSh), bytes(idxRr))
    println(f"[footprint] stored-sh=$bSh%d B, compact=$bRr%d B, " +
      f"ratio=${bSh.toDouble / bRr}%.2f")
    assert(bRr < bSh, "compact index should be smaller than stored-sh")
    // mixing schemas on one path fails fast in both directions (the
    // round-11 default is the compact schema, so stored-sh must be
    // requested explicitly to collide with it)
    val b = batches.head
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashDedup(b, idxSh, rereadFrom = Some(corpus))
    }.getMessage.contains("schema"))
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashDedup(b, idxSh) // default estimator mode
    }.getMessage.contains("schema"))
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashDedup(b, idxRr, exactVerify = true)
    }.getMessage.contains("schema"))
    // rereadFrom IMPLIES exact verification: passing it with the
    // default exactVerify=false is the normal spelling now, shares the
    // compact schema, and must not throw
    Dedup.incrementalMinhashDedup(docs.limit(0).toDF(), idxRr,
      rereadFrom = Some(corpus))
    // a kept id missing from the corpus fails fast, never silently
    // keeps — since r16 the check is FUSED into the verify join
    // (raise_error on a null index-side shingle set; the standalone
    // anti-join probe cost a collect + two pins per batch), so the
    // abort surfaces as a SparkException whose cause chain carries the
    // same remedy
    val holed = corpus.filter(col("doc_id") =!= corpus
      .orderBy("doc_id").select("doc_id").first().getLong(0))
    val e = intercept[org.apache.spark.SparkException] {
      Dedup.incrementalMinhashDedup(
        docs.filter(col("doc_id") < 100), idxRr, rereadFrom = Some(holed))
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("missing indexed doc id"))
  }

  test("incrementalSimhashDedup: batch-1 survivors match the spanning " +
      "closure, whitespace re-crawls of kept docs drop cross-batch, " +
      "pHash drives the same index for binary assets, null signatures " +
      "are kept but never indexed, foreign schemas fail fast") {
    import graft.SparkSpec.spark.implicits._
    val idx = graft.SparkSpec.tmpDir("graft-ish-") + "/idx"
    val b1 = docs.filter(col("doc_id") < 200).select("doc_id", "text")
    val k1 = Dedup.incrementalSimhashDedup(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // empty index => batch-1 decisions are exactly the in-batch
    // simhash spanning-cluster min-id survivors
    val clusters = Dedup.duplicateClusters(
      Dedup.simhashPairs(b1, maxHamming = 3, expandGroups = false))
    val expected1 = b1.join(clusters
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == expected1)
    // batch 2: doubled-internal-whitespace re-crawls (identical token
    // stream, Hamming 0) — a re-crawl of a KEPT doc must never survive
    val recrawl = docs.filter(col("doc_id") < 200)
      .select((col("doc_id") + 500000).as("doc_id"),
        expr("replace(text, ' ', '  ')").as("text"))
    val k2 = Dedup.incrementalSimhashDedup(recrawl, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k2.intersect(k1.map(_ + 500000)).isEmpty,
      s"re-crawls of kept docs survived: ${k2.intersect(k1.map(_ + 500000)).take(5)}")
    // null text: the row is kept (no signature = no dup evidence) and
    // the index does not grow
    val idxRows = spark.read.parquet(idx).count()
    val nulls = Seq((900000L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Dedup.incrementalSimhashDedup(nulls, idx).count() == 1L)
    assert(spark.read.parquet(idx).count() == idxRows)
    // the SAME machinery dedups binary assets on perceptual hashes:
    // batch-2 byte-identical payloads drop against the batch-1 index
    val idxP = graft.SparkSpec.tmpDir("graft-ishp-") + "/idx"
    def assets(ids: Seq[(Long, String)]) = ids.toDF("doc_id", "t")
      .select(col("doc_id"), encode(col("t"), "UTF-8").as("payload"))
    val phash = Some(Multimodal.perceptualHash(col("payload")))
    val kA = Dedup.incrementalSimhashDedup(
      assets(Seq(1L -> ("alpha beta gamma " * 8), 2L -> ("delta " * 30))),
      idxP, sig = phash)
    assert(kA.count() == 2)
    val kB = Dedup.incrementalSimhashDedup(
      assets(Seq(10L -> ("alpha beta gamma " * 8), 11L -> ("unique xi " * 20))),
      idxP, sig = phash)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kB == Set(11L), s"byte-identical payload not dropped: $kB")
    // a foreign index schema on the path fails fast
    val bad = graft.SparkSpec.tmpDir("graft-ishb-") + "/idx"
    Seq(("x", 1L)).toDF("fp", "n").write.parquet(bad)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSimhashDedup(b1, bad)
    }
    assert(e.getMessage.contains("index family"))
  }

  test("compactIndex: file count drops, decisions on the next batch are " +
      "identical, crash recovery restores a parked index") {
    import graft.core.Fs
    def parquetFiles(p: String): Seq[String] =
      Fs.fs(p).listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.getName).toSeq.filter(_.endsWith(".parquet"))
    val root = graft.SparkSpec.tmpDir("graft-compact-")
    val idxA = root + "/idx_many"   // left as-appended
    val idxB = root + "/idx_compact" // compacted after batch 3
    for (idx <- Seq(idxA, idxB); lo <- Seq(0, 50, 150)) {
      Dedup.incrementalMinhashDedup(
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 100), idx)
    }
    val before = parquetFiles(idxB).size
    assert(before >= 3, s"appends should leave one file set per batch: $before")
    Dedup.compactIndex(spark, idxB)
    val after = parquetFiles(idxB).size
    assert(after < before && after <= 2,
      s"compaction should collapse $before small files, got $after")
    // values unchanged: same ids, same signature rows
    val a = spark.read.parquet(idxA).orderBy("id").collect().toSeq
    val bRows = spark.read.parquet(idxB).orderBy("id").collect().toSeq
    assert(a == bRows)
    // the NEXT batch decides identically against both indexes
    val b4 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    def kept(idx: String) = Dedup.incrementalMinhashDedup(b4, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept4A = kept(idxA)
    val kept4B = kept(idxB)
    assert(kept4A == kept4B)
    // crash window: parked .__old with the live dir missing is restored
    // on the next read path (the mid-swap crash point)
    Fs.rename(idxB, s"$idxB.__old")
    graft.core.Fold.recoverIndex(idxB)
    assert(Fs.exists(idxB) && !Fs.exists(s"$idxB.__old"))
    assert(spark.read.parquet(idxB).count() == bRows.size + kept4B.size)
    // exact-dedup fingerprint indexes compact through the same path
    val fpIdx = root + "/fp_idx"
    for (lo <- Seq(0, 100, 200))
      Dedup.incrementalExactDedup(
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 100), fpIdx)
    val fpBefore = parquetFiles(fpIdx).size
    Dedup.compactIndex(spark, fpIdx)
    assert(parquetFiles(fpIdx).size < fpBefore)
    assert(spark.read.parquet(fpIdx).distinct().count() == 300)
    // single-writer lock: a concurrent compact fails fast with the
    // remedy in the message, and the index is untouched
    Fs.createExclusive(s"$fpIdx.__lock", "pid=held-by-test")
    val locked = intercept[IllegalStateException] {
      Dedup.compactIndex(spark, fpIdx)
    }
    assert(locked.getMessage.contains("another writer"))
    // ... and every READ path also fails fast under the (possibly
    // stale) lock — reading through it could see a parked index as
    // empty and silently re-keep the whole history's duplicates
    val readLocked = intercept[IllegalStateException] {
      Dedup.incrementalExactDedup(
        docs.filter(col("doc_id") < 10), fpIdx)
    }
    assert(readLocked.getMessage.contains("compaction lock"))
    Fs.delete(s"$fpIdx.__lock")
    assert(spark.read.parquet(fpIdx).distinct().count() == 300)
    // sinkFirst ordering: a failing sink leaves the index UNCHANGED, so
    // a retry of the same batch still keeps its rows — the failure mode
    // is duplicate output, never silent loss
    val idxRowsBefore = spark.read.parquet(fpIdx).count()
    val fresh = docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
    intercept[RuntimeException] {
      Dedup.incrementalExactDedup(fresh, fpIdx,
        sinkFirst = _ => throw new RuntimeException("sink failed"))
    }
    assert(spark.read.parquet(fpIdx).count() == idxRowsBefore,
      "a failed sink must not have appended to the index")
    assert(Dedup.incrementalExactDedup(fresh, fpIdx).count() == 10)
  }

  test("exact dedup keeps one row per fingerprint") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() ==
      docs.select(Text.fingerprint(col("text"))).distinct().count())
  }

  test("exactGroups: degenerate mega-group gets a capped member list, exact count") {
    import spark.implicits._
    // 10^4 identical (empty-ish) docs sharing one fingerprint + 2 distinct
    val mega = spark.range(0, 10000)
      .select(col("id").as("doc_id"), lit("").as("text"))
      .unionByName(Seq((100001L, "alpha"), (100002L, "beta"))
        .toDF("doc_id", "text"))
    val g = Dedup.exactGroups(mega, maxMembers = 100).collect()
    assert(g.length == 1) // only the mega-group is duplicated
    val row = g.head
    assert(row.getAs[Long]("n") == 10000L) // count stays exact
    val members = row.getSeq[Long](row.fieldIndex("member_ids"))
    assert(members.length == 100, "member list capped")
    assert(members == (0L until 100L), "first maxMembers ids, sorted")
    assert(row.getAs[Long]("keep_id") == 0L)
  }

  test("LSH ANN finds planted near-duplicates (the regime LSH serves)") {
    // This corpus's true neighbors are only ~0.4 cosine — random-hyperplane
    // LSH rightly can't bucket those together. Plant genuine near-dups
    // (tiny perturbations, cos > 0.99) and require LSH to find them.
    import scala.jdk.CollectionConverters._
    val base = emb.filter(col("vec_id") < 3).collect()
    val planted = base.flatMap { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1)
      (1 to 3).map { j =>
        org.apache.spark.sql.Row(10000L + id * 10 + j,
          v.toSeq.zipWithIndex.map { case (x, i) =>
            x + (if (i == j) 0.001f else 0f) }, r.getInt(2))
      }
    }
    val plantedDF = spark.createDataFrame(planted.toSeq.asJava, emb.schema)
    val corpus = emb.unionByName(plantedDF)
    val q = emb.filter(col("vec_id") < 3)
    val ann = Similarity.lshTopK(corpus, q, 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 3L).flatMap(id =>
      (1 to 3).map(j => (id, 10000L + id * 10 + j))).toSet
    val recall = ann.intersect(expected).size.toDouble / expected.size
    assert(recall >= 0.8, s"planted-neighbor recall $recall")
  }

  test("lshTopK infers the embedding dimension (round-1 bug: fixed 64)") {
    import graft.SparkSpec.spark.implicits._
    // 8-dim corpus with a planted near-duplicate of vector 0
    val base = (0 until 8).map(i => math.sin(i * 1.7).toFloat).toArray
    val rnd = new scala.util.Random(7)
    val rows = (0L until 40L).map { i =>
      val v =
        if (i == 1L) base.map(x => x + 0.01f)
        else if (i == 0L) base
        else Array.fill(8)(rnd.nextGaussian().toFloat)
      (i, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 0L)
    // with hyperplanes matching dim=8 (inferred), the planted neighbor is
    // found; the round-1 fixed-64 hyperplanes nulled every signature
    val top = Similarity.lshTopK(corpus, q, k = 3, planes = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(top.contains(1L), s"planted 8-dim neighbor missed: $top")
    // ragged dimensions fail fast instead of silently degrading
    val ragged = corpus.withColumn("embedding",
      when(col("vec_id") === 5L, slice(col("embedding"), 1, 4))
        .otherwise(col("embedding")))
    val e = intercept[Exception] {
      Similarity.lshTopK(ragged, q, k = 3, planes = 4).collect()
    }
    assert(e.getMessage != null)
  }

  test("lshTopK multi-probe radius 2 reaches Hamming-2 buckets radius 1 cannot") {
    val hp = Similarity.hyperplanes(64, 8)
    val sigs = emb.select(col("vec_id"),
      Similarity.lshSignature(col("embedding"), hp).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // any corpus pair whose signatures differ in exactly 2 bits
    val pair = (for {
      (i, si) <- sigs.toSeq.sortBy(_._1); (j, sj) <- sigs.toSeq.sortBy(_._1)
      if i < j && ham(si, sj) == 2
    } yield (i, j)).headOption
    assert(pair.nonEmpty, "fixture has no Hamming-2 signature pair")
    val (qi, ti) = pair.get
    val q = emb.filter(col("vec_id") === qi)
    // k > corpus so presence == candidacy (no rank cutoff)
    def found(radius: Int) = Similarity.lshTopK(emb, q, k = 5000,
      radius = radius).select("vec_id").collect().map(_.getLong(0)).toSet
    val r1 = found(1)
    val r2 = found(2)
    assert(!r1.contains(ti), "radius-1 probes must not reach Hamming-2")
    assert(r2.contains(ti), "radius-2 probes must reach Hamming-2")
    assert(r1.subsetOf(r2), "probe sets nest: radius 2 covers radius 1")
  }

  test("annCosinePairs: exact-verified subset of cosinePairs, high recall on near-dups") {
    import scala.jdk.CollectionConverters._
    // plant near-dup clusters (cos > 0.99) — the regime LSH candidates
    // serve; the base corpus's ~0.4 neighbors are out of scope here
    val base = emb.filter(col("vec_id") < 3).collect()
    val planted = base.flatMap { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1)
      (1 to 3).map { j =>
        org.apache.spark.sql.Row(10000L + id * 10 + j,
          v.toSeq.zipWithIndex.map { case (x, i) =>
            x + (if (i == j) 0.001f else 0f) }, r.getInt(2))
      }
    }
    val corpus = emb.unionByName(
      spark.createDataFrame(planted.toSeq.asJava, emb.schema))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.cosinePairs(corpus, 0.99))
    assert(exact.nonEmpty, "planted near-dups must produce exact pairs")
    val ann = pairSet(Similarity.annCosinePairs(corpus, 0.99, radius = 2))
    // precision 1.0 by construction: every candidate is exact-verified
    assert(ann.subsetOf(exact), "ann pairs must be exact-verified")
    val recall = ann.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"ann recall $recall on planted near-dups")
  }

  test("cosinePairs: hot-cell guard fails loudly; cell count derives from corpus") {
    // one cell of the 500-vector corpus necessarily exceeds a cap of 10
    val ex = intercept[IllegalStateException] {
      Similarity.cosinePairs(emb, 0.4, numCentroids = 8, maxCellSize = 10)
    }
    assert(ex.getMessage.contains("annCosinePairs"))
    // derived blocking tracks corpus size instead of freezing at 8
    assert(Similarity.deriveCells(300L, 100000L) == 8)
    assert(Similarity.deriveCells(1000000L, 100000L) == 10)
    assert(Similarity.deriveCells(1000000000L, 100000L) == 64)
    // a negative cap disables the guard: same corpus, tiny cells, runs
    assert(Similarity.cosinePairs(emb.filter(col("vec_id") < 50), 0.4,
      numCentroids = 8, maxCellSize = -1L).count() >= 0L)
  }

  test("IVF ANN: decent recall vs brute force with nprobe=4 of 8 lists") {
    val q = emb.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, q, 5, numCentroids = 8, nprobe = 4)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    // probing half the lists on a weakly-clustered corpus: moderate bar
    assert(recall >= 0.4, s"IVF recall $recall")
    assert(ivf.size == 15)
    // the default trainFraction derives from corpus size (~targetTrain
    // training vectors; small corpora train on everything) and 1.0 is
    // explicitly reachable
    assert(Similarity.deriveTrainFraction(50000L, 100000L) == 1.0)
    assert(Similarity.deriveTrainFraction(200000L, 100000L) == 0.5)
    assert(Similarity.deriveTrainFraction(0L, 100000L) == 1.0)
    // a derived sub-1 fraction must select the same rows as the explicit
    // one (the oracle reproduces this hash threshold from count(*))
    val derived = Similarity.ivfTopK(emb, q, 5, numCentroids = 8,
      nprobe = 4, targetTrain = emb.count() / 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Similarity.ivfTopK(emb, q, 5, numCentroids = 8,
      nprobe = 4, trainFraction = 0.5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(derived == explicit)
    // the query frame is collected to the driver as a probe set — a
    // corpus-sized one must fail fast with sizing guidance, not OOM
    val g = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, emb, 5, numCentroids = 8, maxQueries = 10)
    }
    assert(g.getMessage.contains("maxQueries"))
  }

  test("recallAtK: exact per-query recall, identity = 1.0, misses counted") {
    val q = emb.filter(col("vec_id") % 10 === 7)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    // identity: an index that returns the ground truth scores recall 1.0
    // on every query, with n_exact = k on this corpus (500 >> k)
    val self = Similarity.recallAtK(exact, exact).collect()
    assert(self.length == q.count())
    assert(self.forall(_.getAs[Double]("recall") == 1.0))
    assert(self.forall(_.getAs[Long]("n_exact") == 5L))
    // the served path: recallAtK must equal the driver-computed set
    // intersection of the same two frames, query by query
    val approx = Similarity.ivfTopKBatch(emb, q, k = 5,
      targetTrain = 16000L)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (es, as) = (sets(exact), sets(approx))
    val got = Similarity.recallAtK(exact, approx).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(got.keySet == es.keySet)
    es.foreach { case (qid, ex) =>
      val hits = ex.intersect(as.getOrElse(qid, Set.empty)).size
      assert(got(qid) == (hits.toLong, hits.toDouble / ex.size),
        s"query $qid")
    }
    // a deliberately-degraded index (one neighbor dropped for one query)
    // scores exactly (k-1)/k there and 1.0 elsewhere
    val qid0 = self.head.getLong(0)
    val crippled = exact.filter(!(col("query_id") === qid0 &&
      col("rank") === 1))
    val cr = Similarity.recallAtK(exact, crippled).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("recall")).toMap
    assert(cr(qid0) == 0.8)
    assert(cr.filterNot(_._1 == qid0).values.forall(_ == 1.0))
  }

  test("ivfTopKBatch: row-for-row agreement with driver-probe ivfTopK " +
      "on small and table-sized query sets; no maxQueries bound") {
    // same corpus, same quantizer config — the distributed map-side
    // probe selection must pick the SAME cells (total-order parity) and
    // therefore the same ranked neighbors, for a 3-query probe set and
    // a 50-query table alike
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "score", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 1e6) / 1e6, r.getInt(3))).toSet
    for (pred <- Seq(col("vec_id").isin(0L, 1L, 2L),
        col("vec_id") % 10 === 7)) {
      val q = emb.filter(pred)
      val a = rows(Similarity.ivfTopK(emb, q, k = 5, trainFraction = 0.5))
      val b = rows(Similarity.ivfTopKBatch(emb, q, k = 5,
        trainFraction = 0.5))
      assert(a == b, s"driver-probe and distributed-probe IVF diverged")
      assert(a.nonEmpty)
    }
    // the batch path has no driver probe collect, hence no maxQueries
    // guard to trip: the whole corpus as the query table still PLANS
    // (laziness is the point — nothing concentrates anywhere)
    Similarity.ivfTopKBatch(emb, emb, k = 1, trainFraction = 0.5)
      .queryExecution.executedPlan
  }

  test("matrix argmax expressions == literal greatest/sort_array forms, " +
      "including null/ragged edges") {
    // both physical forms of centroid assignment over the real corpus:
    // literal-greatest (what assignCentroid emits at <= 64 cells) vs the
    // matrix expression (what it emits above the ceiling)
    val cents = Similarity.kmeansCentroids(emb, 16, iters = 2)
    val litCid = greatest(cents.zipWithIndex.map { case (c, i) =>
      struct(VectorExprs.dotConst(col("embedding"), c).as("score"),
        lit(i).as("cid"))
    }.toSeq: _*).getField("cid")
    assert(emb.select(litCid.as("a"),
        VectorExprs.argMaxDot(col("embedding"), cents).as("b"),
      greatest(cents.zipWithIndex.map { case (c, i) =>
        struct(VectorExprs.dotConst(col("embedding"), c).as("score"),
          lit(i).as("cid"))
      }.toSeq: _*).getField("score").as("s1"),
        VectorExprs.maxDot(col("embedding"), cents).as("s2"))
      .filter(col("a") =!= col("b") ||
        col("s1") =!= col("s2")).count() == 0L)
    // probe-cell ordering parity (ivfTopKBatch's two forms) at several n
    for (n <- Seq(1, 3, 16)) {
      val litProbe = slice(sort_array(array(cents.zipWithIndex.map {
        case (c, i) => struct((-VectorExprs.dotConst(col("embedding"), c))
          .as("ns"), lit(i).as("cid"))
      }.toSeq: _*)), 1, n)
      val mismatch = emb.select(
        transform(litProbe, p => p.getField("cid")).as("a"),
        VectorExprs.topNDotCids(col("embedding"), cents, n).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(mismatch == 0L, s"probe-order divergence at n=$n")
    }
    // the literal form's null edges, reproduced exactly: a null array,
    // a ragged (wrong-dim) array, and a null element all score null for
    // EVERY centroid, and greatest-over-structs then resolves purely on
    // cid -> K-1 (not null); sort_array puts null-score structs first,
    // cid ascending
    val edges = spark.sql(
      """SELECT * FROM VALUES
        | (cast(null as array<float>)),
        | (array(cast(1.0 as float))),
        | (array(cast(null as float), cast(2.0 as float)))
        | AS t(v)""".stripMargin)
    val d = emb.head().getAs[scala.collection.Seq[Float]]("embedding").length
    val twoCents = Array(Array.fill(d)(0.1), Array.fill(d)(0.2))
    val edgeRows = edges.select(
      VectorExprs.argMaxDot(col("v"), twoCents).as("cid"),
      VectorExprs.maxDot(col("v"), twoCents).as("score"),
      VectorExprs.topNDotCids(col("v"), twoCents, 2).as("probe"))
      .collect()
    edgeRows.foreach { r =>
      assert(r.getInt(0) == 1)           // greatest edge: ties -> higher cid
      assert(r.isNullAt(1))              // all-null scores -> null score
      assert(r.getSeq[Int](2) == Seq(0, 1)) // sort_array edge: cid ascending
    }
  }

  test("IVF past the literal ceiling: 1024-centroid assignment matches " +
      "a driver-side naive argmax; 128-cell IVF keeps recall") {
    import spark.implicits._
    // synthetic corpus big enough for 1024 cells: deterministic floats
    // from a hash (no RNG — the repo-wide reproducibility rule)
    val dim = 8
    def vec(id: Long): Array[Float] = Array.tabulate(dim) { j =>
      val h = graft.ops.SimHash64.fmix64(id * 31L + j)
      ((h & 0xffff).toFloat / 65536.0f) - 0.5f
    }
    val vecs = (0L until 3000L).map(i => (i, vec(i)))
    val df = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, 1024, iters = 1)
    assert(cents.length == 1024)
    val assigned = df.select(col("vec_id"),
      Similarity.assignCentroid(col("embedding"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver-side naive argmax with the same tie rule (ties -> higher cid)
    vecs.foreach { case (id, v) =>
      var best = 0
      var bestScore = Double.NegativeInfinity
      cents.zipWithIndex.foreach { case (c, i) =>
        val s = c.zip(v.map(_.toDouble)).map { case (a, b) => a * b }.sum
        if (java.lang.Double.compare(s, bestScore) >= 0) { best = i; bestScore = s }
      }
      assert(assigned(id) == best, s"vec $id: ${assigned(id)} != $best")
    }
    // end-to-end IVF above the ceiling, driver-probe and batch paths
    // agreeing with each other and holding recall vs brute force
    val q = df.filter(col("vec_id") < 5)
    def rows(r: org.apache.spark.sql.DataFrame) = r
      .select("query_id", "vec_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val bf = rows(Similarity.bruteForceTopK(df, q, 5))
    val ivf = rows(Similarity.ivfTopK(df, q, 5, numCentroids = 128,
      nprobe = 48, trainFraction = 1.0))
    val ivfB = rows(Similarity.ivfTopKBatch(df, q, 5, numCentroids = 128,
      nprobe = 48, trainFraction = 1.0))
    assert(ivf == ivfB, "driver-probe and batch IVF diverged past the ceiling")
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"128-cell IVF recall $recall")
  }

  test("cosine is symmetric and self-similarity is 1") {
    val one = emb.filter(col("vec_id") === 0)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-9)
  }

  test("prototypicalityPrune: per-cluster quota, dense ranks, least/most " +
    "are opposite ends of the same ranking, zero-norm excluded") {
    import graft.SparkSpec.spark.implicits._
    // two obvious clusters around e1 and e2; ids 0/1 seed the centroids
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f), 1L -> Array(0f, 1f, 0f),
      2L -> Array(0.9f, 0.1f, 0f), 3L -> Array(0.8f, 0.3f, 0f),
      4L -> Array(0.1f, 0.9f, 0f), 5L -> Array(0.2f, 0.8f, 0.1f),
      6L -> Array(0.7f, 0.1f, 0.4f),
      7L -> Array(0f, 0f, 0f) // zero-norm: no direction, must drop
    ).toDF("vec_id", "embedding")
    def prune(keep: Int, least: Boolean) =
      Similarity.prototypicalityPrune(vecs, keep, keepLeast = least,
        numCentroids = 2, iters = 2)
        .collect().map(r => (r.getInt(1), r.getLong(0), r.getDouble(2),
          r.getInt(3)))
    val full = prune(100, true)
    assert(full.length == 7, "zero-norm vector must be excluded")
    assert(!full.exists(_._2 == 7L))
    // ranks are dense 1..n within each cluster
    full.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // keep-least(2) is the 2 lowest-proto per cluster of the full
    // ranking; keep-most(2) the 2 highest
    val leastOrder = full.groupBy(_._1).view
      .mapValues(_.sortBy(r => (r._3, r._2)).map(_._2).toSeq).toMap
    val mostOrder = full.groupBy(_._1).view
      .mapValues(_.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    val least2 = prune(2, true)
    least2.groupBy(_._1).foreach { case (cid, rows) =>
      assert(rows.sortBy(_._4).map(_._2).toSeq ==
        leastOrder(cid).take(2), s"cluster $cid least")
    }
    val most2 = prune(2, false)
    most2.groupBy(_._1).foreach { case (cid, rows) =>
      assert(rows.sortBy(_._4).map(_._2).toSeq ==
        mostOrder(cid).take(2), s"cluster $cid most")
    }
    intercept[IllegalArgumentException] {
      Similarity.prototypicalityPrune(vecs, 0)
    }
  }

  test("multimodal features are deterministic and complete") {
    val assets = Multimodal.toAssets(docs.filter(col("doc_id") < 20))
    val f1 = Multimodal.extractFeatures(assets).orderBy("asset_id").collect()
    val f2 = Multimodal.extractFeatures(assets).orderBy("asset_id").collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1.length == 20)
    // histogram sums to byte_len
    f1.foreach { r =>
      assert(r.getAs[Seq[Long]]("histogram").sum == r.getAs[Long]("byte_len"))
    }
  }

  test("Multimodal decoder seam: a REAL javax.imageio codec (PNG + BMP) " +
    "runs through the unchanged Spark plumbing; phash collapses " +
    "byte-identical real payloads") {
    import graft.SparkSpec.spark.implicits._
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO

    def encodeImg(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
      bos.toByteArray
    }
    def solid(rgb: Int): BufferedImage = {
      val im = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 4; y <- 0 until 4) im.setRGB(x, y, rgb)
      im
    }
    // a genuine decoder behind the seam: pixel-domain luminance
    // histogram + pixel checksum (what the stub fakes over raw bytes)
    object ImageIoDecoder extends Multimodal.BatchDecoder {
      def init(): Multimodal.AssetDecoder = new Multimodal.AssetDecoder {
        def decode(assetId: Long, payload: Array[Byte])
            : org.apache.spark.sql.Row = {
          val img = ImageIO.read(new java.io.ByteArrayInputStream(payload))
          require(img != null, s"asset $assetId: not a decodable image")
          val hist = new Array[Long](16)
          var checksum = 0L
          for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
            val rgb = img.getRGB(x, y) & 0xffffff
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587
              + (rgb & 0xff) * 114) / 1000
            hist(lum / 16) += 1
            checksum = (checksum * 31 + rgb) & 0x7fffffffffffffffL
          }
          val head = payload.take(8).map(b => f"$b%02x").mkString
          org.apache.spark.sql.Row(assetId, payload.length.toLong,
            checksum, head, hist.toSeq)
        }
      }
    }
    val assets = Seq(
      (1L, encodeImg(solid(0x000000), "png")),
      (2L, encodeImg(solid(0xffffff), "png")),
      (3L, encodeImg(solid(0xffffff), "bmp"))).toDF("asset_id", "payload")
    val out = Multimodal.extractFeatures(assets, ImageIoDecoder)
    assert(out.schema == Multimodal.featureSchema)
    val f = out.orderBy("asset_id").collect()
    // 16 pixels decoded per asset; black fills luminance bucket 0,
    // white bucket 15 (histogram is field 4 of featureSchema)
    assert(f.forall(_.getSeq[Long](4).sum == 16L))
    assert(f(0).getSeq[Long](4)(0) == 16L)
    assert(f(1).getSeq[Long](4)(15) == 16L)
    // the SAME image through PNG and BMP containers decodes to
    // identical pixel-domain features while the container bytes differ
    assert(f(1).getAs[Long]("checksum") == f(2).getAs[Long]("checksum"))
    assert(f(1).getSeq[Long](4).toSeq == f(2).getSeq[Long](4).toSeq)
    assert(f(1).getAs[Long]("byte_len") != f(2).getAs[Long]("byte_len"))
    // the PNG magic is really there: genuine bytes, not stub fakes
    assert(f(1).getAs[String]("head_hex").startsWith("89504e47"))
    // and the stub path still runs the same plumbing on the same frame
    val stub = Multimodal.extractFeatures(assets).orderBy("asset_id")
      .collect()
    assert(stub.length == 3 &&
      stub(0).getSeq[Long](4).sum == f(0).getAs[Long]("byte_len"))
    // perceptualHash on real payloads: byte-identical PNGs collapse at
    // Hamming 0 (re-crawled asset dedup on genuine container bytes)
    val dup = Seq(
      (1L, encodeImg(solid(0x000000), "png")),
      (2L, encodeImg(solid(0x000000), "png")),
      (3L, encodeImg(solid(0x123456), "bmp"))).toDF("asset_id", "payload")
    val pairs = Multimodal.phashPairs(dup).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
  }

  test("frame sampling covers the payload with the right stride") {
    val assets = Multimodal.toAssets(docs.filter(col("doc_id") === 0))
    val frames = Multimodal.sampleFrames(assets, 64, 2).collect()
    val nChars = docs.filter(col("doc_id") === 0)
      .select(length(col("text"))).head().getInt(0)
    val nChunks = (nChars + 63) / 64
    assert(frames.length == (nChunks + 1) / 2)
  }

  test("winnowing fingerprint: near-dups overlap, distinct docs don't") {
    val fp = docs.select(col("doc_id"),
      Text.winnowingFingerprint(col("text")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the corpus' highest-jaccard pair shares most fingerprint hashes
    val topPair = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .orderBy(col("jaccard").desc).head()
    val (a, b) = (topPair.getLong(0), topPair.getLong(1))
    val overlap = fp(a).intersect(fp(b)).size.toDouble /
      math.min(fp(a).size, fp(b).size)
    assert(overlap >= 0.5, s"near-dup winnow overlap $overlap")
    // two unrelated docs share few
    val u = fp(0L).intersect(fp(1L)).size.toDouble / math.min(fp(0L).size, fp(1L).size)
    assert(u < overlap)
    // determinism
    val fp2 = docs.select(Text.winnowingFingerprint(col("text")).as("f"))
      .collect().map(_.getSeq[Long](0))
    val fp3 = docs.select(Text.winnowingFingerprint(col("text")).as("f"))
      .collect().map(_.getSeq[Long](0))
    assert(fp2.toSeq == fp3.toSeq)
  }

  test("repeatFailed reruns only failed psets with matching hashes") {
    import graft.core._
    val calc = graft.SparkSpec.tmpDir("graft-repeat-")
    val flaky: Map[String, Any] => Map[String, Any] = p => {
      val a = p("a").asInstanceOf[Long]
      if (a % 2 == 0) throw new RuntimeException("flaky")
      Map("result_" -> a * 1.0)
    }
    val cfg = StudyConfig(calcDir = calc, failSafe = true, skipDups = true)
    val study = Study(spark, cfg)
    study.run(flaky, Grid.plist("a", 0 until 6))
    // second attempt succeeds
    val fixed: Map[String, Any] => Map[String, Any] =
      p => Map("result_" -> p("a").asInstanceOf[Long] * 1.0)
    val out = study.repeatFailed(fixed)
    assert(out.executed == 3) // a = 0, 2, 4 rerun (hashes matched _failed rows)
    val db = out.db
    assert(db.count() == 9)
    assert(db.filter(col("_failed") === false).count() == 6)
  }

  test("hash sampling: deterministic, near-target rate, leakage-safe split") {
    import graft.ops.Sampling
    val s1 = Sampling.hashSample(docs, col("doc_id"), 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(docs, col("doc_id"), 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // reproducible
    val n = docs.count().toDouble
    assert(math.abs(s1.size / n - 0.25) < 0.08, s"rate ${s1.size / n}")
    // nested fractions: a 10% sample is a subset of the 25% sample
    val s3 = Sampling.hashSample(docs, col("doc_id"), 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
    // group split: every source maps to exactly one split
    val split = docs.withColumn("split", Sampling.splitColumn(col("source"),
      Seq("train" -> 0.8, "test" -> 0.1, "val" -> 0.1)))
    val perSource = split.groupBy("source")
      .agg(countDistinct(col("split")).as("k")).collect()
    assert(perSource.forall(_.getLong(1) == 1L))
    // stratified: en downsampled, others untouched
    val strat = Sampling.stratifiedHashSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.1))
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stratLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stratLang("en") < byLang("en") / 2)
    (byLang.keySet - "en").foreach(l => assert(stratLang(l) == byLang(l)))
    // boundary fractions are exact, not hash-rounded (round-1 bug:
    // fraction=1.0 formatted a 5-char threshold and kept ~1/16 of rows)
    assert(Sampling.hashSample(docs, col("doc_id"), 1.0).count() == n.toLong)
    assert(Sampling.hashSample(docs, col("doc_id"), 0.0).count() == 0L)
    val strat1 = Sampling.stratifiedHashSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 1.0))
    assert(strat1.count() == n.toLong)
  }

  test("capPerGroup: at most k per group, deterministic, identity when k >= group size") {
    val capped = Sampling.capPerGroup(docs, col("source"), col("doc_id"), 5)
    val perGroup = capped.groupBy("source").count().collect()
    assert(perGroup.forall(_.getLong(1) <= 5L))
    // every source with >= 5 docs is capped to exactly 5 (selection, not loss)
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perGroup.foreach(r =>
      assert(r.getLong(1) == math.min(5L, sizes(r.getString(0)))))
    // deterministic: same rows both runs
    val ids1 = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.capPerGroup(docs, col("source"), col("doc_id"), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // a cap above every group size keeps everything
    assert(Sampling.capPerGroup(docs, col("source"), col("doc_id"), 10000)
      .count() == docs.count())
  }

  test("curriculumOrder: dense 0..n-1 positions, stage blocks in the " +
    "given order, bucketChars-invariant, unlisted stages dropped") {
    val stages = Seq("zh", "es", "de", "fr", "en")
    def run(chars: Int) =
      Sampling.curriculumOrder(docs, col("lang"), col("doc_id"),
        stages, bucketChars = chars)
        .select(col("doc_id"), col("lang"), col("position"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val got = run(1)
    // dense global positions
    assert(got.map(_._3).sorted.toSeq == (0L until got.length).toSeq)
    // stage blocks are contiguous and in curriculum order
    val byPos = got.sortBy(_._3).map(_._2)
    assert(byPos.toSeq == byPos.sortBy(stages.indexOf).toSeq,
      "stages must appear as contiguous blocks in list order")
    // the position column is invariant under bucket granularity
    assert(run(3).sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    // dropping a stage from the list drops its rows and re-packs
    val dropped = Sampling.curriculumOrder(docs, col("lang"),
      col("doc_id"), Seq("zh", "en"))
    assert(dropped.filter(col("lang").isin("es", "de", "fr")).count() == 0)
    assert(dropped.count() ==
      docs.filter(col("lang").isin("zh", "en")).count())
    intercept[IllegalArgumentException] {
      Sampling.curriculumOrder(docs, col("lang"), col("doc_id"),
        Seq("en", "en"))
    }
  }

  test("mixtureByCount: exact integer targets, determinism, absent stratum drops all") {
    val w = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L)
    val mixed = Sampling.mixtureByCount(docs, col("source"), col("doc_id"), w)
    val got = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // recompute the contract driver-side
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalW = w.values.sum
    val n = w.map { case (s, ws) => counts.getOrElse(s, 0L) * totalW / ws }.min
    w.foreach { case (s, ws) =>
      assert(got.getOrElse(s, 0L) == ws * n / totalW, s"stratum $s") }
    // only listed strata survive
    assert(got.keySet.subsetOf(w.keySet))
    // deterministic row selection
    val ids1 = mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.mixtureByCount(docs, col("source"), col("doc_id"), w)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // a weighted stratum with no rows caps the whole mixture at zero
    assert(Sampling.mixtureByCount(docs, col("source"), col("doc_id"),
      w + ("no_such_source" -> 1L)).count() == 0L)
  }

  test("mixtureByCount: a 50k-stratum domain selects only the listed strata") {
    import spark.implicits._
    // crawl-shaped fixture: 50k distinct url-host strata, 3 listed weights
    val crawl = spark.range(0, 50000)
      .select(col("id"),
        concat(lit("host-"), col("id") % 50000).as("host"))
      .withColumn("host",
        when(col("id") < 60, lit("wiki"))
          .when(col("id") < 120, lit("web"))
          .when(col("id") < 180, lit("books"))
          .otherwise(col("host")))
    val w = Map("wiki" -> 1L, "web" -> 1L, "books" -> 1L)
    val mixed = Sampling.mixtureByCount(crawl.toDF(), col("host"), col("id"), w)
    assert(mixed.select("host").distinct().collect()
      .map(_.getString(0)).toSet == w.keySet)
    assert(mixed.count() == 180L)
  }

  test("sampling ops drop null keys/strata instead of crashing or leaking them") {
    import spark.implicits._
    val withNulls = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (null, "a"), (3L, null))
      .toDF("id", "grp")
    // null key: hash position is null -> every keep predicate is null ->
    // filtered; null group forms its own window partition but its null
    // key still drops it
    assert(Sampling.hashSample(withNulls, col("id"), 0.9999)
      .filter(col("id").isNull).count() == 0L)
    assert(Sampling.capPerGroup(withNulls, col("grp"), col("id"), 5)
      .filter(col("id").isNull).count() == 0L)
    // null stratum matches no weight entry -> dropped by the mixture
    val m = Sampling.mixtureByCount(withNulls.filter(col("id").isNotNull),
      col("grp"), col("id"), Map("a" -> 1L))
    assert(m.select("grp").collect().forall(_.getString(0) == "a"))
  }

  test("semanticDedup: one survivor per cosine component, singletons untouched") {
    val slice = emb.filter(col("vec_id") < 300)
    val kept = Similarity.semanticDedup(slice, 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pairs = Similarity.cosinePairs(slice, 0.4)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "slice should contain near-dups at 0.4")
    // union-find ground truth over the pair graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val survivors = paired.groupBy(find).values.map(_.min).toSet
    val all = slice.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (all -- paired) ++ survivors)
  }

  test("concatChunks: bucketed prefix sum == naive global cumsum; chunk invariants") {
    val pos = Sampling.shufflePosition(col("doc_id"), epoch = 1)
    val got = Packing.concatChunks(docs, 2048, pos)
      .orderBy("doc_id").collect()
    // naive reference: one global window (fine at spec scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pos"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = docs.select(col("doc_id"), pos.as("pos"),
      Text.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("start", sum("n_tok").over(w) - col("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        expr("start div 2048L").as("seq_id"),
        (col("start") % 2048).as("seq_off"))
      .orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
    // the layout is gapless: total tokens == last start + last n_tok
    val byStart = got.sortBy(r => (r.getLong(2), r.getLong(3)))
    val totalTok = got.map(_.getLong(1)).sum
    val last = byStart.last
    assert(last.getLong(2) * 2048 + last.getLong(3) + last.getLong(1)
      == totalTok)
    // every offset fits its sequence
    assert(got.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 2048))
    // the result is invariant to bucket granularity (prefix-bucket order
    // is consistent with pos order at ANY prefix length)
    for (chars <- Seq(2, 3, 4)) {
      val alt = Packing.concatChunks(docs, 2048, pos, bucketChars = chars)
        .orderBy("doc_id").collect()
      assert(alt.toSeq == want.toSeq, s"bucketChars=$chars")
    }
  }

  test("concatChunks: bucket count derives from parallelism, tracks cluster size") {
    // local[32] (x32 buckets/core) -> 3 hex chars = 4096 buckets; a
    // 1000-executor/8000-core cluster -> the 65536 ceiling; tiny local
    // runs floor at 256 - the round-3 fixed value is now the MINIMUM
    assert(Packing.deriveBucketChars(1) == 2)
    assert(Packing.deriveBucketChars(8) == 2)
    assert(Packing.deriveBucketChars(32) == 3)
    assert(Packing.deriveBucketChars(512) == 4)
    assert(Packing.deriveBucketChars(8000) == 4)
    // phase-2 parallelism tracks the configured bucket count: with a
    // hash-dispersed key the corpus spreads over (nearly) min(n, 16^chars)
    // distinct window partitions, past the old 256-task ceiling
    val pos3 = Sampling.shufflePosition(col("doc_id"), epoch = 1)
    val distinctBuckets = docs
      .select(substring(pos3, 1, 3).as("b")).distinct().count()
    val n = docs.count()
    assert(distinctBuckets > 256,
      s"3-char buckets must exceed the old 256 ceiling (got $distinctBuckets of $n docs)")
  }

  test("overlapJoin == naive theta-join for every bin width, exactly once " +
    "per pair (multi-shared-bin pairs included)") {
    import spark.implicits._
    val a = Seq((1L, 0L, 50L, "a1"), (1L, 40L, 45L, "a2"),
      (1L, 100L, 200L, "a3"), (2L, 0L, 10L, "a4"))
      .toDF("k", "a_lo", "a_hi", "atag")
    val b = Seq((1L, 10L, 120L, "b1"), (1L, 44L, 46L, "b2"),
      (1L, 300L, 400L, "b3"), (2L, 11L, 12L, "b4"))
      .toDF("k", "b_lo", "b_hi", "btag")
    val want = a.join(b, Seq("k"))
      .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("atag", "btag").collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty && want.size == want.distinct.size)
    for (bw <- Seq(1L, 7L, 64L, 1000L)) {
      val got = RangeJoin.overlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
        binWidth = bw, keys = Seq("k"))
        .select("atag", "btag").collect().map(_.toString).sorted.toSeq
      assert(got == want, s"binWidth=$bw")
    }
  }

  test("intervalJoin == naive theta-join for every bin width, incl. straddles") {
    import spark.implicits._
    val points = Seq((1L, 5L), (1L, 10L), (1L, 25L), (2L, 10L), (2L, 300L))
      .toDF("k", "t")
    val intervals = Seq((1L, 0L, 9L, "a"), (1L, 10L, 30L, "b"),
      (1L, 8L, 12L, "c"), (2L, 5L, 10L, "d"))
      .toDF("k", "lo", "hi", "tag")
    val want = points.join(intervals, Seq("k"))
      .filter(col("t") >= col("lo") && col("t") <= col("hi"))
      .select("k", "t", "tag").collect().map(_.toString).sorted.toSeq
    for (bw <- Seq(1L, 3L, 7L, 100L)) {
      val got = RangeJoin.intervalJoin(points, intervals, "t", "lo", "hi",
        binWidth = bw, keys = Seq("k"))
        .select("k", "t", "tag").collect().map(_.toString).sorted.toSeq
      assert(got == want, s"binWidth=$bw")
    }
  }

  test("intervalJoin: fan-out guard kills adversarial bin widths; end<start drops") {
    import spark.implicits._
    val points = Seq((1L, 500L)).toDF("k", "t")
    // a year-long interval at 1-unit bins: 31e6 bin rows per interval —
    // the guard must fail the job BEFORE the explode materializes them
    val longIval = Seq((1L, 0L, 31536000L, "yr")).toDF("k", "lo", "hi", "tag")
    val ex = intercept[Exception] {
      RangeJoin.intervalJoin(points, longIval, "t", "lo", "hi",
        binWidth = 1L, keys = Seq("k"), maxBinsPerInterval = 1000L).count()
    }
    assert(ex.getMessage != null || ex.getCause != null)
    // same data passes once binWidth respects the sizing rule
    assert(RangeJoin.intervalJoin(points, longIval, "t", "lo", "hi",
      binWidth = 1000000L, keys = Seq("k"),
      maxBinsPerInterval = 1000L).count() == 1L)
    // end < start: unsatisfiable BETWEEN -> dropped, never exploded into
    // Spark's descending sequence
    val backwards = Seq((1L, 31536000L, 0L, "neg")).toDF("k", "lo", "hi", "tag")
    assert(RangeJoin.intervalJoin(points, backwards, "t", "lo", "hi",
      binWidth = 1L, keys = Seq("k"), maxBinsPerInterval = 1000L)
      .count() == 0L)
  }

  test("columnStats: exact per-column profile in one aggregation pass") {
    import spark.implicits._
    val fixture = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (2L, null), (null, "a"))
      .toDF("id", "s")
    val prof = Profile.columnStats(fixture, Seq("id", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val idRow = prof("id")
    assert(idRow.getLong(1) == 4L) // n
    assert(idRow.getLong(2) == 1L) // n_nulls
    assert(idRow.getLong(3) == 2L) // n_distinct
    assert(idRow.getString(4) == "1" && idRow.getString(5) == "2")
    val sRow = prof("s")
    assert(sRow.getLong(2) == 1L && sRow.getLong(3) == 2L)
    assert(sRow.getString(4) == "a" && sRow.getString(5) == "b")
    // numeric min/max computed in native type, not lexicographically
    val numeric = Profile.columnStats(
      Seq(9L, 10L, 100L).toDF("v"), Seq("v"))
      .head()
    assert(numeric.getString(4) == "9" && numeric.getString(5) == "100")
  }

  test("dedupParagraphsGlobal: keep-first corpus-wide, order preserved, blanks kept") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "alpha|SHARED|beta"),
      (2L, "SHARED|gamma||delta"), // SHARED is a later copy; blank kept
      (3L, "shared|epsilon"), // canonicalization: case-insensitive copy
      (4L, "SHARED")) // nothing left after dedup -> empty text
      .toDF("doc_id", "text")
    val out = Text.dedupParagraphsGlobal(fixture, sep = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha|SHARED|beta") // first occurrence survives
    assert(out(2L) == "gamma||delta")
    assert(out(3L) == "epsilon")
    assert(out(4L) == "")
    // idempotent: a second pass changes nothing
    val again = Text.dedupParagraphsGlobal(
      Seq((1L, out(1L)), (2L, out(2L)), (3L, out(3L)), (4L, out(4L)))
        .toDF("doc_id", "text"), sep = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
  }

  test("int8 quantization: codes bounded, roundtrip cosine fidelity, zero-vector safe") {
    import spark.implicits._
    val scaled = emb.withColumn("scale",
      Similarity.quantScale(col("embedding")))
      .withColumn("q", Similarity.quantize(col("embedding"), col("scale")))
    // codes live in the int8 range by construction
    val bounds = scaled.select(
      array_max(col("q")).as("hi"), array_min(col("q")).as("lo"))
      .agg(max("hi"), min("lo")).head()
    assert(bounds.getByte(0) <= 127 && bounds.getByte(1) >= -128)
    // reconstruction preserves direction: cosine(dequantized, original)
    // >= 0.999 for every corpus vector (the fidelity a 4x storage cut
    // must clear to be usable for similarity work)
    val worst = scaled.select(Similarity.cosine(
      transform(col("q"), x => x.cast("double") * col("scale")),
      col("embedding")).as("c"))
      .agg(min("c")).head().getDouble(0)
    assert(worst >= 0.999, s"worst roundtrip cosine $worst")
    // the all-zeros vector quantizes to zeros instead of dividing by zero
    val z = Seq((0L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
      .withColumn("scale", Similarity.quantScale(col("embedding")))
      .withColumn("q", Similarity.quantize(col("embedding"), col("scale")))
      .select(array_max(col("q")), array_min(col("q"))).head()
    assert(z.getByte(0) == 0 && z.getByte(1) == 0)
  }

  test("chunkOversized: windows cover every token, consecutive chunks " +
    "share exactly `overlap`, short docs pass through") {
    val chunks = Packing.chunkOversized(docs, maxTokens = 40, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val toks = text.split("\\s+").toSeq
      val got = chunks(id).map(_.split("\\s+").toSeq)
      if (toks.length <= 40) assert(got == Seq(toks), s"doc $id")
      else {
        // stride-32 reassembly: chunk 0 + tails of the rest == original
        val rebuilt = got.head ++ got.tail.flatMap(_.drop(8))
        assert(rebuilt == toks, s"doc $id reassembly")
        got.sliding(2).foreach {
          case Seq(a, b) => assert(a.takeRight(8) == b.take(8),
            s"doc $id overlap")
          case _ =>
        }
        assert(got.forall(_.length <= 40), s"doc $id window size")
      }
    }
  }

  test("columnStats approx mode: no EXPAND in the plan, estimates " +
    "within the sketch error of exact") {
    val cols = Seq("doc_id", "lang", "source")
    val exact = Profile.columnStats(docs, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val est = Profile.columnStats(docs, cols, approx = true)
    val plan = est.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(Profile.columnStats(docs, cols).queryExecution.executedPlan
      .toString.contains("Expand"), "exact multi-distinct should EXPAND")
    est.collect().map(r => r.getString(0) -> r.getLong(3)).foreach {
      case (c, n) =>
        val e = exact(c).toDouble
        assert(math.abs(n - e) / e <= 0.15, s"$c: approx $n vs exact $e")
    }
  }

  test("semanticReport matches a brute-force cosine check") {
    import graft.ops.Contamination
    val corpus = emb.filter(col("vec_id") >= 100)
    val bench = emb.filter(col("vec_id") < 100)
    val report = Contamination.semanticReport(corpus, bench, 0.42)
    val badIds = report.select("id").collect().map(_.getLong(0)).toSet
    // brute-force reference: every reported id really has a >= t hit
    val bv = bench.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val hits = corpus.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .filter { case (_, v) =>
        bv.exists { b =>
          val dot = v.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
          val na = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
          val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
          dot / (na * nb) >= 0.42
        }
      }.map(_._1).toSet
    assert(badIds == hits)
  }

  test("zero-norm vectors never pair: the NaN cosine (which Spark orders " +
    "above every number) is filtered in semanticReport and annCosinePairs") {
    import graft.SparkSpec.spark.implicits._
    val z = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    // an all-zero BENCHMARK vector must not flag the whole corpus...
    val rep = Contamination.semanticReport(
      z.filter($"vec_id" =!= 3L), z.filter($"vec_id" === 3L), 0.1)
    assert(rep.count() == 0)
    // ...and an all-zero CORPUS vector must not be reported
    val rep2 = Contamination.semanticReport(z, z.filter($"vec_id" === 1L), 0.5)
    val flagged = rep2.select("id").collect().map(_.getLong(0)).toSet
    assert(flagged.contains(2L) && !flagged.contains(3L))
    // ann pair mining: the zero vector appears in no pair (ann ⊆ exact,
    // and cosinePairs excludes zero-norm by the same guard)
    val ann = Similarity.annCosinePairs(z, 0.5, planes = 4)
    val ids = ann.select("id1", "id2").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!ids.contains(3L))
  }

  test("asofJoin tolerance: stale matches null out, fresh ones identical " +
    "to the untolerenced join, unmatched rows unaffected") {
    import graft.SparkSpec.spark.implicits._
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 90L, 9.0), (1L, 110L, 11.0)).toDF("k", "t", "v")
    val base = AsOf.asofJoin(l, r, "k", "t", "t", Seq("v"))
      .collect().map(x => x.getString(2) ->
        (Option(x.get(3)), Option(x.get(4)))).toMap
    val tol = AsOf.asofJoin(l, r, "k", "t", "t", Seq("v"),
      tolerance = Some(lit(20L)))
      .collect().map(x => x.getString(2) ->
        (Option(x.get(3)), Option(x.get(4)))).toMap
    // "a" (t=100): match t=90 within 20 -> kept in both
    assert(base("a") == tol("a") && tol("a")._1.contains(9.0))
    // "b" (t=200): match t=110 is 90 stale -> base keeps, tol nulls
    assert(base("b")._1.contains(11.0) && tol("b") == ((None, None)))
    // "c" (k=2): no match either way
    assert(base("c") == ((None, None)) && tol("c") == ((None, None)))
  }

  test("asofJoin tolerance: a payload carried past a null-payload right " +
    "row is gated on its own origin time, not the match time") {
    import graft.SparkSpec.spark.implicits._
    // right rows: payload 9.0 at t=10 (old), then a NULL payload at
    // t=95 (fresh). Left t=100 with tolerance 20: the match time (95)
    // is fresh, but the CARRIED payload comes from t=10 — 90 stale —
    // and must null out rather than ride the fresh match
    val l = Seq((1L, 100L)).toDF("k", "t")
    val r = Seq((1L, 10L, Some(9.0)), (1L, 95L, None))
      .toDF("k", "t", "v")
    val out = AsOf.asofJoin(l, r, "k", "t", "t", Seq("v"),
      tolerance = Some(lit(20L))).head()
    assert(Option(out.get(out.fieldIndex("asof_v"))).isEmpty,
      s"stale payload leaked: $out")
    // the overall match time is fresh and stays
    assert(out.getLong(out.fieldIndex("asof_time")) == 95L)
    // without tolerance the carry-forward payload survives (documented
    // per-column carry semantics)
    val base = AsOf.asofJoin(l, r, "k", "t", "t", Seq("v")).head()
    assert(base.getDouble(base.fieldIndex("asof_v")) == 9.0)
  }

  test("langId prefers en on this corpus; quality in [0,1]") {
    val preds = docs.select(Text.langId(col("text")).as("p"))
      .groupBy("p").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preds.getOrElse("en", 0L) > preds.values.sum / 2)
    val q = docs.select(Text.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }

  test("mixtureByTokens: prefix-by-hash selection equals the integer-" +
    "arithmetic reference; budgets never split a document") {
    val w = Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L)
    val kept = Sampling.mixtureByTokens(docs, col("source"), col("doc_id"),
      Text.tokenCount(col("text")), w)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs
      .select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).cast("long").as("tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def hashPos(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"${b & 0xff}%02x").mkString
    val totalW = w.values.sum
    val supply = all.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).sum }
    val t = w.map { case (s, ww) => supply.getOrElse(s, 0L) * totalW / ww }.min
    val lim = w.map { case (s, ww) => s -> ww * t / totalW }
    val expected = w.keySet.flatMap { s =>
      val rows = all.filter(_._2 == s).sortBy(r => (hashPos(r._1), r._1))
      // cumsum is monotone (tok > 0), so "inclusive cumsum <= budget" is
      // a prefix: the first doc that would overflow ends the stratum
      val cums = rows.scanLeft(0L)(_ + _._3).tail
      rows.zip(cums).takeWhile(_._2 <= lim(s)).map(_._1._1)
    }
    assert(kept == expected)
    // maximality: each stratum's next hash-ordered doc would overflow
    w.keySet.foreach { s =>
      val rows = all.filter(_._2 == s).sortBy(r => (hashPos(r._1), r._1))
      val keptTok = rows.filter(r => kept(r._1)).map(_._3).sum
      rows.find(r => !kept(r._1)).foreach { next =>
        assert(keptTok + next._3 > lim(s), s"stratum $s not maximal")
      }
    }
  }

  test("cohortRetention: integer buckets, anchored counts, exact rates") {
    import graft.SparkSpec.spark.implicits._
    // bucket size 10: users 1,2 anchor in bucket 0; user 3 in bucket 1;
    // user 4 never anchors (no signup) and must not appear anywhere
    val ev = Seq(
      (1L, 1L, "signup"), (1L, 12L, "click"), (1L, 25L, "click"),
      (2L, 5L, "signup"), (2L, 7L, "view"),
      (3L, 11L, "signup"), (3L, 21L, "view"),
      (4L, 2L, "click"), (4L, 15L, "click")
    ).toDF("u", "t", "typ")
    val r = Funnel.cohortRetention(ev, "u", "t", "typ", "signup",
      bucketUnits = 10L)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    // cohort 0 (users 1, 2): both active in offset 0, user 1 in 1 and 2
    assert(r((0L, 0L)) == ((2L, 2L, 1.0)))
    assert(r((0L, 1L)) == ((1L, 2L, 0.5)))
    assert(r((0L, 2L)) == ((1L, 2L, 0.5)))
    // cohort 1 (user 3): offsets 0 and 1
    assert(r((1L, 0L)) == ((1L, 1L, 1.0)))
    assert(r((1L, 1L)) == ((1L, 1L, 1.0)))
    assert(r.size == 5) // nothing from user 4, no pre-anchor buckets
  }

  test("funnelTimes: greedy chain, strict ordering, within bound") {
    import graft.SparkSpec.spark.implicits._
    val ev = Seq(
      // user 1: clean A(10) -> B(20) -> C(30)
      (1L, 10L, "A"), (1L, 20L, "B"), (1L, 30L, "C"),
      // user 2: B before A only -> no chain
      (2L, 10L, "B"), (2L, 20L, "A"), (2L, 30L, "C"),
      // user 3: equal timestamps never chain
      (3L, 10L, "A"), (3L, 10L, "B"), (3L, 20L, "C"),
      // user 4: completes but too slowly for within=15
      (4L, 10L, "A"), (4L, 20L, "B"), (4L, 100L, "C"),
      // user 5: greedy takes FIRST A (5), then B(20), C(30)
      (5L, 5L, "A"), (5L, 18L, "A"), (5L, 20L, "B"), (5L, 30L, "C")
    ).toDF("u", "t", "typ")
    val all = Funnel.funnelTimes(ev, "u", "t", "typ", Seq("A", "B", "C"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(all.keySet == Set(1L, 4L, 5L))
    assert(all(1L) == ((10L, 20L, 30L)))
    assert(all(5L) == ((5L, 20L, 30L))) // greedy-earliest t1
    val bounded = Funnel.funnelTimes(ev, "u", "t", "typ",
      Seq("A", "B", "C"), within = Some(lit(25L)))
      .collect().map(_.getLong(0)).toSet
    assert(bounded == Set(1L, 5L)) // 4 too slow; 5's span 30-5 == 25 passes
    // drop-off report over the same fixture: reached counts per depth
    // (window applied at EVERY step), losses, step-over-step conversion
    val stepRows = Funnel.funnelSteps(ev, "u", "t", "typ",
      Seq("A", "B", "C"), within = Some(lit(25L)))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // reached A: all 5 users have an A event (user 2's is at t=20);
    // reached B within 25: 1,4,5 (user 2's B precedes their A, user
    // 3's tie never chains); reached C within 25: 1,5 (user 4's C at
    // t=100 falls outside t1+25)
    assert(stepRows.toSeq == Seq(
      (1, "A", 5L, 0L, 1.0),
      (2, "B", 3L, 2L, 0.6),
      (3, "C", 2L, 1L, math.floor(2.0 * 1e6 / 3.0) / 1e6)))
    // last row's count == the completer count funnelTimes reports
    assert(stepRows.last._3 == bounded.size)
  }

  test("perceptual hash: locality under small edits, pairs == brute force") {
    import graft.SparkSpec.spark.implicits._
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    val assets = Seq(
      (1L, baseText),
      (2L, baseText.replace("tok30", "tok99")), // one-word edit
      (3L, (1 to 60).map(i => s"zz$i").mkString(" ")) // unrelated
    ).toDF("asset_id", "t")
      .select(col("asset_id"),
        org.apache.spark.sql.functions.encode(col("t"), "UTF-8")
          .as("payload"))
    val hs = assets
      .select(col("asset_id"), Multimodal.perceptualHash(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) <= 3, "one-word edit must stay Hamming-near")
    assert(ham(hs(1L), hs(3L)) > 3, "unrelated payloads must be far")
    // the banded pair miner reproduces the brute-force answer
    val pairs = Multimodal.phashPairs(assets, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs
      if a < b && ham(ha, hb) <= 3
    } yield (a, b, ham(ha, hb))).toSet
    assert(pairs == brute)
    // degenerate payloads hash to 0, not an error
    val tiny = Seq((9L, Array[Byte]()), (10L, Array[Byte](65)))
      .toDF("asset_id", "payload")
    val th = tiny.select(Multimodal.perceptualHash(col("payload")))
      .collect().map(_.getLong(0))
    assert(th.toSeq == Seq(0L, 0L))
  }

  test("corpusDiff: added/removed/changed/unchanged; canonical folding") {
    import graft.SparkSpec.spark.implicits._
    val oldSnap = Seq((1L, "same text"), (2L, "will change"),
      (3L, "goes away"), (5L, "Spaces   And Case")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same text"), (2L, "has changed"),
      (4L, "brand new"), (5L, "spaces and case")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(oldSnap, newSnap)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added",
      5L -> "unchanged")) // whitespace/case fold to the same canonical fp
  }

  test("keepClusterBest keeps the max-score member, not the min id") {
    import graft.SparkSpec.spark.implicits._
    val d = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), // cluster {1,2,3}: best is 2
      (7L, 0.4), (8L, 0.4), // cluster {7,8}: tie -> min id 7
      (9L, 0.1) // unclustered: always kept
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
    val kept = Dedup.keepClusterBest(d, pairs, col("q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L, 9L))
    // canonical (min-id) keep differs on the first cluster
    val canon = Dedup.keepClusterCanonical(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(canon == Set(1L, 7L, 9L))
  }

  test("fillForward carries last non-null per key; tolerance bounds " +
    "staleness per column") {
    import graft.SparkSpec.spark.implicits._
    val d = Seq(
      // (id, key, t, v) — nulls at t=2,3,10; key b isolated
      (1L, "a", 1L, Some(10L)),
      (2L, "a", 2L, None),
      (3L, "a", 3L, None),
      (4L, "a", 10L, None),
      (5L, "a", 11L, Some(20L)),
      (6L, "b", 1L, None) // leading null: nothing to carry
    ).toDF("id", "k", "t", "v")
    val plain = AsOf.fillForward(d, "k", "t", Seq("v"),
      orderCols = Seq("id"))
      .orderBy("id").collect().map(r =>
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    assert(plain.toSeq == Seq(Some(10L), Some(10L), Some(10L), Some(10L),
      Some(20L), None))
    // tolerance 2: the t=10 row is 9 past its origin (t=1) -> stays null;
    // t=2 and t=3 are within reach; non-null rows always keep their value
    val tol = AsOf.fillForward(d, "k", "t", Seq("v"),
      orderCols = Seq("id"), tolerance = Some(lit(2L)))
      .orderBy("id").collect().map(r =>
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    assert(tol.toSeq == Seq(Some(10L), Some(10L), Some(10L), None,
      Some(20L), None))
  }

  test("robustOutliers flags the planted point, never a MAD-0 group") {
    import graft.SparkSpec.spark.implicits._
    val g1 = (1 to 11).map(i => (i.toLong, "g1", 100L + (i % 5))) // tight
    val planted = Seq((99L, "g1", 500L)) // far outlier
    val g2 = (1 to 10).map(i => (200L + i, "g2", 42L)) // constant: MAD 0
    val d = (g1 ++ planted ++ g2).toDF("id", "g", "x")
    val out = Profile.robustOutliers(d, "x", "g", z = 3.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(99L))
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; " +
    "upsampleByRepeats: exact copies with indices") {
    import graft.SparkSpec.spark.implicits._
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    // docs 1/2/3 near-dup each other (one-word edits), 10/20 unrelated
    val d = Seq(
      (1L, base), (2L, base.replace("tok9", "edit")),
      (3L, base.replace("tok30", "other")),
      (10L, (1 to 50).map(i => s"aa$i").mkString(" ")),
      (20L, (1 to 50).map(i => s"bb$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, 3, 0.5)
    val split = Sampling.leakageSafeSplit(d, pairs,
      Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // the whole 1-2-3 cluster shares one split (keyed on doc 1's hash)
    assert(Set(split(1L), split(2L), split(3L)).size == 1)
    assert(split.values.toSet.subsetOf(Set("train", "test")))
    // upsampling: src-keyed integer copies with 0-based indices
    val up = Sampling.upsampleByRepeats(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      col("s"), Map("a" -> 3, "b" -> 2))
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(up.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ==
      Map(1L -> Seq(0, 1, 2), 2L -> Seq(0, 1), 3L -> Seq(0)))
  }

  test("temperatureSample: smallest stratum complete, alpha endpoints, " +
    "bounded-probe guard, null strata drop") {
    import graft.SparkSpec.spark.implicits._
    val d = ((0 until 400).map(i => (i.toLong, "web")) ++
      (1000 until 1100).map(i => (i.toLong, "wiki")) :+
      (2000L, null.asInstanceOf[String])).toDF("id", "s")
    def run(alpha: Double) = Sampling.temperatureSample(d, col("s"),
      col("id"), alpha).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // alpha = 1: natural distribution — everything non-null kept
    assert(run(1.0).length == 500)
    // alpha = 0.5: wiki (smallest) complete; web ~ sqrt(100/400) = 50%
    val half = run(0.5)
    val webHalf = half.count(_._2 == "web")
    assert(half.count(_._2 == "wiki") == 100)
    assert(webHalf > 150 && webHalf < 250, s"web kept $webHalf of 400")
    // alpha = 0: expected stratum sizes equalize — web ~ 100
    val flat = run(0.0)
    val webFlat = flat.count(_._2 == "web")
    assert(flat.count(_._2 == "wiki") == 100)
    assert(webFlat > 60 && webFlat < 140, s"web kept $webFlat of 400")
    assert(webFlat < webHalf)
    // null strata never survive
    assert(!run(0.5).exists(_._2 == null))
    // quarter alphas: the row set equals stratifiedHashSample with the
    // hand-computed DYADIC fraction (sqrt compositions, never pow) —
    // the engine-portability contract, executable
    val r = 100.0 / 400.0
    for ((alpha, frac) <- Seq(
        0.25 -> { val s = math.sqrt(r); s * math.sqrt(s) }, // r^0.75
        0.75 -> math.sqrt(math.sqrt(r)))) { // r^0.25
      val expected = Sampling.stratifiedHashSample(
        d.filter(col("s").isNotNull), col("id"), col("s"),
        Map("wiki" -> 1.0, "web" -> math.floor(frac * 1e6) / 1e6))
        .select("id").collect().map(_.getLong(0)).toSet
      val got = run(alpha).map(_._1).toSet
      assert(got == expected, s"alpha=$alpha dyadic row set diverged")
    }
    // stratum-domain probe fails fast, never collects an unbounded map
    val g = intercept[IllegalArgumentException] {
      Sampling.temperatureSample(d, col("id").cast("string"), col("id"),
        0.5, maxStrata = 10)
    }
    assert(g.getMessage.contains("maxStrata"))
  }

  test("selectByQualityBudget: quality-desc prefix equals the local " +
    "reference; bucket count never changes the row set") {
    val budgets = Map("src0" -> 400L, "src1" -> 300L, "src2" -> 200L)
    def run(b: Int) = Sampling.selectByQualityBudget(docs,
      col("source"), col("doc_id"), Text.tokenCount(col("text")),
      Text.qualityScore(col("text")), budgets, qBuckets = b)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = run(1024)
    // bucket-count invariance: 1 bucket = the single-window plan; the
    // two-phase rank must select the IDENTICAL row set at any width
    assert(run(1) == kept)
    assert(run(7) == kept)
    // local reference: quality desc, hash tiebreak, inclusive-cumsum
    // prefix per stratum
    val all = docs
      .select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).cast("long").as("tok"),
        Text.qualityScore(col("text")).as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    def hashPos(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"${b & 0xff}%02x").mkString
    val expected = budgets.keySet.flatMap { s =>
      val rows = all.filter(_._2 == s)
        .sortBy(r => (-r._4, hashPos(r._1), r._1))
      val cums = rows.scanLeft(0L)(_ + _._3).tail
      rows.zip(cums).takeWhile(_._2 <= budgets(s)).map(_._1._1)
    }
    assert(kept == expected)
  }

  test("selectByQualityBudget: constant-quality corpus sub-buckets the " +
    "uniform bucket — same selection, parallel window") {
    import graft.SparkSpec.spark.implicits._
    // every score identical: the histogram collapses to one bucket per
    // stratum — pre-round-6 this was a single-task sort; now the uniform
    // bucket fans out over hash-prefix sub-buckets (exact, because the
    // within-bucket order is pure (hash, key) when scores tie)
    val n = 2000
    val d = (0 until n).map(i => (i.toLong, "a", 10L, 0.7))
      .toDF("id", "s", "tok", "q")
    // minSubBucketTokens = 1 forces the sub-bucket path on this
    // test-sized corpus (the default 1M-token floor exists precisely so
    // small strata never pay the machinery)
    val out = Sampling.selectByQualityBudget(d, col("s"), col("id"),
      col("tok"), col("q"), Map("a" -> 5000L), minSubBucketTokens = 1L)
    val kept = out.select("id").collect().map(_.getLong(0)).toSet
    def hashPos(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"${b & 0xff}%02x").mkString
    val expected = (0 until n).map(_.toLong)
      .sortBy(id => (hashPos(id), id)).take(500).toSet
    assert(kept == expected)
    // the selection window partitions on the sub-bucket column — the
    // parallelism gate (a non-uniform corpus keeps __sub = '')
    assert(out.queryExecution.executedPlan.toString.contains("__sub"))
    // and a corpus with informative scores is unchanged (its buckets
    // are uniform only as tiny singletons, below the straggler-mass
    // gate, so they keep the plain per-bucket window)
    val varied = (0 until 100).map(i => (i.toLong, "a", 10L, i / 100.0))
      .toDF("id", "s", "tok", "q")
    val keptV = Sampling.selectByQualityBudget(varied, col("s"), col("id"),
      col("tok"), col("q"), Map("a" -> 200L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptV == (80L until 100L).toSet)
  }

  test("selectByQualityBudget: NaN/null quality drops; out-of-range " +
    "scores clamp but stay exactly ordered") {
    import graft.SparkSpec.spark.implicits._
    val d = Seq(
      // (id, stratum, tokens, quality) — scores straddle [0, 1]
      (1L, "a", 10L, 2.5), // above qMax: clamps into the best bucket
      (2L, "a", 10L, 1.7), // also above qMax, worse than id 1
      (3L, "a", 10L, 0.9),
      (4L, "a", 10L, -0.3), // below qMin: clamps into the worst bucket
      (5L, "a", 10L, Double.NaN), // drops
      (6L, "a", 10L, 0.5)
    ).toDF("id", "s", "tok", "q")
    val kept = Sampling.selectByQualityBudget(d, col("s"), col("id"),
      col("tok"), col("q"), Map("a" -> 30L), qBuckets = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    // 30-token budget = 3 best-quality docs: 2.5, 1.7, 0.9 (NaN gone)
    assert(kept == Set(1L, 2L, 3L))
  }

  test("unigramSurprisal: gibberish scores above common-token text; " +
    "distribution is proper") {
    import graft.SparkSpec.spark.implicits._
    val common = (1 to 50).map(_ => "the quick fox").mkString(" ")
    val d = (Seq(
      (1L, common), (2L, common), (3L, common),
      (4L, "zxqv wkjh pqrs mntb vcxz") // tokens the corpus never repeats
    ) ++ (5L to 20L).map(i => (i, common))).toDF("doc_id", "text")
    val out = Text.unigramSurprisal(d, topV = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // common docs: 150 tokens each; gibberish: 5 OOV tokens
    assert(out(1L)._1 == 150L && out(4L)._1 == 5L)
    assert(out(4L)._2 > out(1L)._2,
      s"gibberish ${out(4L)._2} should exceed common ${out(1L)._2}")
    // all common docs share one exact score (same token multiset)
    assert(out.filter(_._1 != 4L).values.map(_._2).toSet.size == 1)
  }

  test("bigramLogLoss: shuffled word salad scores above natural order; " +
    "short docs absent; hand-check against the stupid-backoff formula") {
    import graft.SparkSpec.spark.implicits._
    val natural = (1 to 40).map(_ => "the quick fox jumps").mkString(" ")
    // same unigram multiset, adjacency destroyed — invisible to
    // unigramSurprisal, caught by the bigram model
    val salad = (1 to 40).map(_ => "the fox quick the jumps").mkString(" ")
    val d = ((1L to 10L).map(i => (i, natural)) ++ Seq(
      (11L, salad), (12L, "solo"), (13L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val out = Text.bigramLogLoss(d, topV = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // one-token and null docs have no bigrams -> absent
    assert(!out.contains(12L) && !out.contains(13L))
    assert(out(1L)._1 == 159L) // 160 tokens -> 159 adjacent pairs
    assert(out(11L)._2 > out(1L)._2,
      s"salad ${out(11L)._2} should exceed natural ${out(1L)._2}")
    // all natural docs share one exact score (identical token sequence)
    assert(out.filter(_._1 <= 10L).values.map(_._2).toSet.size == 1)

    // hand-check the formula on a tiny corpus: two docs, V=2
    val tiny = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val t = Text.bigramLogLoss(tiny, topV = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // corpus: tokens a:3 b:3 c:1, n_total=7; top-2 = {a,b}, n_top=6
    // bigrams: doc1 (a,b)(b,a)(a,b); doc2 (a,b)(b,c)
    // model (both in top): (a,b) cb=3 cv=3; (b,a) cb=1 cv=3
    // p_uni OOV bucket = (7-6+1)/(7+2+1) = 0.2
    def fl(x: Double) = math.floor(x * 1e6) / 1e6
    val exp1 = fl((2 * -math.log(3.0 / 3.0) + -math.log(1.0 / 3.0)) / 3)
    val exp2 = fl((-math.log(3.0 / 3.0) + -math.log(0.4 * 0.2)) / 2)
    assert(t(1L) == exp1, s"${t(1L)} vs $exp1")
    assert(t(2L) == exp2, s"${t(2L)} vs $exp2")
  }

  test("rrfFuse: hand-computed fusion, single-list ids, ordering") {
    import graft.SparkSpec.spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val fused = Retrieval.rrfFuse(Seq(a, b), topK = 10, k0 = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3)))
    def f(ranks: Seq[Int]): Double =
      math.floor(ranks.map(r => 1.0 / (60 + r)).sum * 1e6) / 1e6
    // doc 20 appears in both lists (ranks 2 and 1) and must fuse first
    assert(fused.toSeq == Seq(
      (20L, f(Seq(2, 1)), 2L, 1L),
      (10L, f(Seq(1)), 1L, 2L),
      (40L, f(Seq(2)), 1L, 3L),
      (30L, f(Seq(3)), 1L, 4L)))
  }

  test("rrfFuseBatch: per-query agreement with rrfFuse; duplicate ids " +
      "dedupe to best rank; maxListSize guard fails fast") {
    import graft.SparkSpec.spark.implicits._
    val lex = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3),
      (2L, 20L, 1), (2L, 40L, 2)).toDF("query_id", "id", "rank")
    val sem = Seq(
      (1L, 20L, 1), (1L, 40L, 2),
      (2L, 10L, 1), (2L, 20L, 2), (2L, 30L, 3))
      .toDF("query_id", "id", "rank")
    val fused = Retrieval.rrfFuseBatch(Seq(lex, sem), topK = 10)
    assert(fused.columns.toSeq ==
      Seq("query_id", "id", "rrf_score", "n_lists", "rank"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // for each query, the batch slice equals the single-query fusion
    for (q <- Seq(1L, 2L)) {
      val single = rows(Retrieval.rrfFuse(Seq(
        lex.filter(col("query_id") === q).select("id", "rank"),
        sem.filter(col("query_id") === q).select("id", "rank")),
        topK = 10))
      val batch = rows(fused.filter(col("query_id") === q)
        .select("id", "rrf_score", "n_lists", "rank"))
      assert(batch == single, s"query $q diverged")
    }
    // a malformed list repeating an id contributes its BEST rank once:
    // id 50 fuses as rank 1 (not 1 and 3), n_lists stays 1
    val dup = Seq((50L, 3), (50L, 1), (60L, 2)).toDF("id", "rank")
    val f2 = rows(Retrieval.rrfFuse(Seq(dup), topK = 10))
    def c(r: Int): Double = math.floor(1.0 / (60 + r) * 1e6) / 1e6
    assert(f2 == Seq((50L, c(1), 1L, 1L), (60L, c(2), 1L, 2L)))
    // same dedupe per (query, id) in the batch form
    val dupB = Seq((7L, 50L, 3), (7L, 50L, 1), (7L, 60L, 2))
      .toDF("query_id", "id", "rank")
    val f3 = Retrieval.rrfFuseBatch(Seq(dupB), topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(f3 == Seq((7L, 50L, c(1), 1L, 1L), (7L, 60L, c(2), 1L, 2L)))
    // the guard: a corpus-sized "list" fails fast, never a single-task
    // global sort
    val big = spark.range(0, 200)
      .select(col("id"), (col("id") + 1).cast("int").as("rank"))
    val e = intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(big), topK = 5, maxListSize = 100)
    }
    assert(e.getMessage.contains("maxListSize"))
  }

  test("mixturePlan: binding stratum keeps full supply, others scale " +
      "by weight ratio, missing supply zeroes the plan") {
    import graft.SparkSpec.spark.implicits._
    // supply: a=1000, b=900, c=100 tokens; weights 2:1:1 ->
    // ratios 500 / 900 / 100: c binds; a = floor(100/1*2) = 200, b = 100
    val d = Seq(("a", 1000L), ("b", 900L), ("c", 100L))
      .toDF("src", "n")
    val plan = Sampling.mixturePlan(d, col("src"), col("n"),
      Map("a" -> 2.0, "b" -> 1.0, "c" -> 1.0))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(plan == Seq(("a", 1000L, 200L, false),
      ("b", 900L, 100L, false), ("c", 100L, 100L, true)))
    // a listed stratum with no rows is binding at 0 and zeroes the plan
    val empty = Sampling.mixturePlan(d, col("src"), col("n"),
      Map("a" -> 1.0, "zz" -> 1.0))
      .collect().map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
      .toSeq
    assert(empty == Seq(("a", 0L, false), ("zz", 0L, true)))
  }

  test("Score seam: toy logistic scorer, NaN-for-null drop semantics, " +
    "and budget-operator integration") {
    import graft.SparkSpec.spark.implicits._
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    // stopword-ratio feature alone: hand-computed sigmoid
    val sc = Score.ToyLogisticScorer(bias = 0.0, wStop = 1.0,
      wMeanLen = 0.0, wAlpha = 0.0, stopwords = Seq("the", "a"))
    val s = sc.init()
    assert(s.score("the cat") == sig(0.5))
    assert(s.score("") == sig(0.0))
    // mean-token-length and alphabetic-ratio features
    val s2 = Score.ToyLogisticScorer(0.0, 0.0, 0.5, 2.0, Nil).init()
    assert(s2.score("ab cd") == sig(0.5 * 2.0 + 2.0 * (4.0 / 5.0)))
    // frame-level seam: null text scores NaN, other columns ride along
    val d = Seq((1L, "the the the the", "s"), (2L, null, "s"),
      (3L, "zz yy xx ww", "s")).toDF("doc_id", "text", "src")
    val scored = Score.withQualityScore(d, sc)
    assert(scored.columns.toSeq ==
      Seq("doc_id", "text", "src", "model_quality"))
    val byId = scored.collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byId(1L) == sig(1.0))
    assert(byId(1L) > byId(3L))
    assert(byId(2L).isNaN)
    // the model column feeds the budget operator directly: a 4-token
    // budget keeps exactly the best-scoring doc, and the NaN row can
    // never be selected
    val kept = Sampling.selectByQualityBudget(scored, col("src"),
      col("doc_id"), Text.tokenCount(col("text")), col("model_quality"),
      Map("s" -> 4L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("Tokenize seam: toy merge-table BPE counts, null safety, and " +
    "budget-operator integration") {
    import graft.SparkSpec.spark.implicits._
    // the textbook BPE merge table (low / lower / lowest / widest)
    val tk = Tokenize.ToyBpeTokenizer(Seq(
      ("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"), ("low", "est")))
    val c = tk.init()
    assert(c.count("low") == 1L) // l+o -> lo+w -> low
    assert(c.count("lowest") == 1L) // low + est -> lowest
    assert(c.count("lower") == 3L) // low, e, r
    assert(c.count("widest") == 4L) // w, i, d, est
    // pre-tokenization splits letter runs / digit runs / single marks
    assert(c.count("low-cost 42") == 1L + 1L + 4L + 2L)
    // empty merge table degrades to per-character symbols
    assert(Tokenize.ToyBpeTokenizer(Nil).init().count("ab 12!") == 5L)
    // the frame-level seam: null text counts 0, other columns ride along
    val d = Seq((1L, "low lowest", "a"), (2L, null, "a"),
      (3L, "lower widest", "a")).toDF("id", "text", "s")
    val counted = Tokenize.withTokenCount(d, tk)
    val byId = counted.collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byId == Map(1L -> 2L, 2L -> 0L, 3L -> 7L))
    assert(counted.columns.toSeq == Seq("id", "text", "s", "n_tokens"))
    // and the count column feeds a budget operator directly: doc 1
    // (md5("1") = "c4ca...") precedes doc 3 ("eccb...") in the
    // constant-quality hash order, its 2 real-BPE tokens fit the
    // 3-token budget, and doc 3's 7 cross it — strict prefix keeps {1}
    val kept = Sampling.selectByQualityBudget(counted, col("s"), col("id"),
      col("n_tokens"), lit(0.5), Map("a" -> 3L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("normalizeForDedup folds case/punct/whitespace variants; distinct " +
    "texts stay apart") {
    import graft.SparkSpec.spark.implicits._
    val v = Seq(
      (1L, "Hello, World!  This is   a Test."),
      (2L, "hello world this is a test"),
      (3L, "HELLO   world — this is a test!!!"),
      (4L, "a different document entirely")).toDF("id", "text")
    val fps = v.select(col("id"), Text.normalizedFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L) && fps(2L) == fps(3L))
    assert(fps(4L) != fps(1L))
  }

  test("gopher rules: each crafted violation trips exactly its rule; " +
    "clean text passes the gate") {
    import graft.SparkSpec.spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and that was " +
      "all of it with more to come here now"
    val cases = Seq(
      ("good", good),
      ("short", "the of and"),
      ("symbols", good + " # # # # # # # # # # # #"),
      ("nonalpha", "1 22 333 4 55 666 7 88 999 10 11 12 13 14 15"),
      ("nostop", "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu")).toDF("name", "text")
    val flagCols = Text.gopherRules(col("text"), minWords = 10)
      .map { case (n, c) => c.as(n) }
    val rows = cases.select(
      (col("name") +: Text.gopherKeep(col("text"), minWords = 10).as("keep")
        +: flagCols): _*)
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    // tuple = (keep, words, mean_len, symbol, alpha, stop)
    assert(rows("good") == ((true, true, true, true, true, true)))
    assert(!rows("short")._2 && !rows("short")._1)
    assert(!rows("symbols")._4 && !rows("symbols")._1)
    assert(!rows("nonalpha")._5 && !rows("nonalpha")._1)
    assert(!rows("nostop")._6 && !rows("nostop")._1)
  }

  test("bloomReport == report: the Bloom prefilter + exact verify is " +
    "exact, even with an undersized high-fpp filter") {
    val corpus = docs.filter(col("doc_id") >= 40)
    val ref = docs.filter(col("doc_id") < 40)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = toSet(Contamination.report(corpus, ref, 3, 3))
    assert(exact.nonEmpty, "slices should overlap at 3 shared shingles")
    val bloom = toSet(Contamination.bloomReport(corpus, ref, 3, 3,
      expectedItems = 500000L))
    assert(bloom == exact,
      s"missed=${(exact -- bloom).take(5)} extra=${(bloom -- exact).take(5)}")
    // an undersized estimate degrades only the PRUNE rate: false
    // positives flood the verify join, the answer doesn't move
    val tiny = toSet(Contamination.bloomReport(corpus, ref, 3, 3,
      expectedItems = 100L, fpp = 0.5))
    assert(tiny == exact)
  }

  test("gateAttribution: first-blame partitions the dropped docs, " +
    "survivors monotone, null rule values fail") {
    import graft.SparkSpec.spark.implicits._
    val d = Seq[(Long, java.lang.Long)](
      (1L, 10L), (2L, 3L), (3L, 30L), (4L, null), (5L, 7L), (6L, 50L)
    ).toDF("id", "v")
    val out = Profile.gateAttribution(d, Seq(
      "has_v" -> col("v").isNotNull,
      "min5" -> (col("v") >= 5L),  // null v -> null -> fail
      "max40" -> (col("v") <= 40L)))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // alone: has_v fails {4}; min5 fails {2,4}; max40 fails {4,6}
    assert(out.toSeq == Seq(
      ("has_v", 1L, 1L, 5L),
      ("min5", 2L, 1L, 4L),   // first-blame only doc 2 (4 blamed above)
      ("max40", 2L, 1L, 3L))) // first-blame only doc 6
    // first-blame partitions the dropped set: 1+1+1 dropped, 3 survive
    assert(out.map(_._3).sum + out.last._4 == 6L)
  }

  test("quantizedTopK: recall vs brute force at 4x candidates; " +
    "exhaustive candidates == brute force exactly") {
    val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = toSet(Similarity.bruteForceTopK(emb, q, 5))
    val quant = toSet(Similarity.quantizedTopK(emb, q, 5, candidates = 20))
    val recall = quant.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"int8-candidate recall $recall")
    // candidates >= corpus makes stage 1 a no-op cut: the rerank IS
    // brute force (same exact cosine, same tiebreak), bit for bit
    val full = toSet(Similarity.quantizedTopK(emb, q, 5,
      candidates = 1000000))
    assert(full == brute)
  }

  test("preferSource: keeper picked by source trust, then id; " +
    "unlisted sources rank last") {
    import graft.SparkSpec.spark.implicits._
    val d = Seq(
      (1L, "Same   Content!", "web"),
      (2L, "same content", "wiki"),
      (3L, "SAME CONTENT", "books"),
      (10L, "only one copy", "web"),
      (20L, "another, text", "crawl"),
      (21L, "another text", "dump")
    ).toDF("doc_id", "text", "source")
    val kept = Dedup.preferSource(d, Seq("wiki", "books"))
      .select("doc_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // wiki beats books beats web for the 3-copy group; the unlisted
    // pair ties on priority and falls back to the smaller id
    assert(kept == Set((2L, 3L), (10L, 1L), (20L, 2L)))
  }

  test("pqTopK: ADC candidates recover brute-force hits; exhaustive " +
    "candidates == brute force exactly") {
    val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = toSet(Similarity.bruteForceTopK(emb, q, 5))
    // the q_embed_pq config: 4 subspaces x 16 codewords, 100 candidates.
    // Recall counts retrieved NEIGHBORS (ranks shift when a miss above
    // displaces the tail — that's inherent to any ANN cut)
    val pq = toSet(Similarity.pqTopK(emb, q, 5, m = 4, codewords = 16,
      candidates = 100, targetTrain = 16000L))
    def pairs(s: Set[(Long, Long, Int)]) = s.map(t => (t._1, t._2))
    val recall =
      pairs(pq).intersect(pairs(brute)).size.toDouble / brute.size
    assert(recall >= 0.8, s"pq recall $recall (measured 0.93 at sf0.01)")
    // rerank over ALL rows makes the code table irrelevant: exact
    // cosine + same tiebreak == brute force, bit for bit
    val full = toSet(Similarity.pqTopK(emb, q, 5, candidates = 1000000,
      targetTrain = 16000L))
    assert(full == brute)
  }

  test("PQ index lifecycle: pqSearch over a built index == pqTopK; " +
    "frozen-book appends are batch-split invariant") {
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    // a build-everything index answers exactly like the in-memory op
    val idxA = graft.SparkSpec.tmpDir("graft-pqa-") + "/idx"
    Similarity.buildPqIndex(emb, idxA, m = 4, codewords = 8,
      targetTrain = 16000L)
    val viaIndex = toSet(Similarity.pqSearch(emb, q, idxA, 5,
      candidates = 20))
    val direct = toSet(Similarity.pqTopK(emb, q, 5, m = 4, codewords = 8,
      candidates = 20, targetTrain = 16000L))
    assert(viaIndex == direct)
    // frozen books: appending the odd half in ONE batch or THREE
    // yields byte-identical codes, hence identical search results
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val idxB = graft.SparkSpec.tmpDir("graft-pqb-") + "/idx"
    val idxC = graft.SparkSpec.tmpDir("graft-pqc-") + "/idx"
    Similarity.buildPqIndex(evens, idxB, m = 4, codewords = 8,
      targetTrain = 16000L)
    Similarity.buildPqIndex(evens, idxC, m = 4, codewords = 8,
      targetTrain = 16000L)
    Similarity.appendToPqIndex(odds, idxB)
    (0 until 3).foreach(i =>
      Similarity.appendToPqIndex(odds.filter(col("vec_id") % 3 === i),
        idxC))
    val one = toSet(Similarity.pqSearch(emb, q, idxB, 5, candidates = 20))
    val three = toSet(Similarity.pqSearch(emb, q, idxC, 5, candidates = 20))
    assert(one == three)
  }

  test("trainBpe: hand-computable merges on a fixture; partitioning " +
    "invariant; trained table drives the seam's counter") {
    import graft.SparkSpec.spark.implicits._
    // histogram: "low" x4, "lower" x2, "new" x3 -> pairs: (l,o)=6,
    // (o,w)=6, (w,e)=2, (e,r)=2, (n,e)=3, (e,w)=3. Merge 1 ties
    // (l,o)/(o,w) at 6 -> lexicographic (l,o). Then (lo,w)=6 wins, then
    // (n,e)=(e,w)=3 tie -> (e,w), then (n,ew)=3, then (low,e)=(e,r)=2
    // tie -> (e,r).
    val d = (Seq.fill(4)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(3)("new")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Tokenize.trainBpe(d, numMerges = 5)
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("e", "w"),
      ("n", "ew"), ("e", "r")))
    // order/partitioning invariance: exact long counts + lexicographic
    // ties mean a reshuffled corpus trains the identical table
    val shuffled = d.orderBy(org.apache.spark.sql.functions.rand(7))
      .repartition(7)
    assert(Tokenize.trainBpe(shuffled, numMerges = 5) == merges)
    // the trained table plugs into the seam: "lower" folds through
    // (l,o)(lo,w)(e,r) to [low, er] = 2 tokens; "newest" through
    // (e,w)(n,ew) to [new, e, s, t] = 4
    val counter = Tokenize.ToyBpeTokenizer(merges).init()
    assert(counter.count("lower") == 2L)
    assert(counter.count("newest") == 4L)
    // minPairCount stops early: nothing reaches 7
    assert(Tokenize.trainBpe(d, numMerges = 5, minPairCount = 7L).isEmpty)
  }

  test("embedding ops accept array<double> frames (schema-drift " +
    "hardening: the events ns->us lesson, applied proactively)") {
    val d = emb.withColumn("embedding",
      col("embedding").cast("array<double>"))
    val q = d.filter(col("vec_id") === 0L)
    assert(Similarity.bruteForceTopK(d, q, 3).count() == 3)
    assert(Similarity.ivfTopK(d, q, 3, targetTrain = 16000L).count() == 3)
    assert(Similarity.pqTopK(d, q, 3, candidates = 12,
      targetTrain = 16000L).count() == 3)
    assert(Similarity.lshTopK(d, q, 3).count() == 3)
    assert(Similarity.cosinePairs(d.limit(200), 0.4).count() >= 0)
  }

  test("ivfPqTopK: probe-pruned ADC holds recall at the shipped config") {
    val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Similarity.bruteForceTopK(emb, q, 5))
    val a = hits(Similarity.ivfPqTopK(emb, q, 5, numCentroids = 8,
      nprobe = 2, m = 4, codewords = 16, candidates = 50,
      targetTrain = 16000L))
    val recall = a.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"ivfpq recall $recall (measured 0.87 at sf0.01)")
    // probing EVERY cell removes the coarse cut: candidates equal
    // pqTopK's at the same candidate budget
    val all = hits(Similarity.ivfPqTopK(emb, q, 5, numCentroids = 8,
      nprobe = 8, m = 4, codewords = 16, candidates = 50,
      targetTrain = 16000L))
    val pq = hits(Similarity.pqTopK(emb, q, 5, m = 4, codewords = 16,
      candidates = 50, targetTrain = 16000L))
    assert(all == pq)
  }

  test("tuneLshBands: the S-curve threshold (1/b)^(1/r) tracks the " +
    "target; weights steer the tradeoff; degenerate inputs fail loudly") {
    // the chosen banding's implied threshold sits near the target
    for (t <- Seq(0.3, 0.5, 0.8); n <- Seq(64, 128, 256)) {
      val (b, r) = Dedup.tuneLshBands(n, t)
      assert(b * r == n)
      val implied = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(implied - t) < 0.18,
        s"n=$n t=$t chose ($b,$r), implied threshold $implied")
    }
    // monotone in the target: higher threshold => more rows per band
    val r1 = Dedup.tuneLshBands(128, 0.3)._2
    val r2 = Dedup.tuneLshBands(128, 0.8)._2
    assert(r2 > r1)
    // an all-FN objective pushes toward aggressive candidacy (more
    // bands), an all-FP objective toward conservative (more rows)
    val bFn = Dedup.tuneLshBands(128, 0.5, fpWeight = 0.0,
      fnWeight = 1.0)._1
    val bFp = Dedup.tuneLshBands(128, 0.5, fpWeight = 1.0,
      fnWeight = 0.0)._1
    assert(bFn > bFp)
    intercept[IllegalArgumentException](Dedup.tuneLshBands(0, 0.5))
    intercept[IllegalArgumentException](Dedup.tuneLshBands(64, 1.0))
    intercept[IllegalArgumentException](
      Dedup.tuneLshBands(64, 0.5, 0.0, 0.0))
  }

}
