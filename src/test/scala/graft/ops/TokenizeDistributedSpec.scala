package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed BPE merge loop against the driver-histogram trainer
  * (same algorithm, two executions), and the codegen serving expressions
  * against the seam's reference tokenizer.
  */
class TokenizeDistributedSpec extends AnyFunSuite {
  import graft.SparkSpec.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  private def fixture = (Seq.fill(4)("low") ++ Seq.fill(2)("lower") ++
    Seq.fill(3)("new")).zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("trainBpeDistributed: hand-computable merges; partitioning " +
    "invariant; early stop parity") {
    val merges = Tokenize.trainBpeDistributed(fixture, numMerges = 5)
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("e", "w"),
      ("n", "ew"), ("e", "r")))
    val shuffled = fixture.orderBy(rand(7)).repartition(7)
    assert(Tokenize.trainBpeDistributed(shuffled, numMerges = 5) == merges)
    assert(Tokenize.trainBpeDistributed(fixture, numMerges = 5,
      minPairCount = 7L).isEmpty)
  }

  test("trainBpeDistributed == trainBpe on the sf0.01 corpus (the two " +
    "paths are one algorithm) and across the rematerialize boundary") {
    // 20 merges crosses rematerializeEvery=16, so the fold-into-a-fresh-
    // persist path is exercised, not just the pending expression chain
    val dist = Tokenize.trainBpeDistributed(docs, numMerges = 20)
    val drv = Tokenize.trainBpe(docs, numMerges = 20)
    assert(dist == drv)
    assert(dist.length == 20)
  }

  test("trainBpeFromHistogram: a weighted histogram trains the same " +
    "table as the expanded corpus; malformed columns fail fast") {
    // the fixture corpus as its (w, freq) histogram — the merge loop's
    // real input, so feeding it directly must be equivalent
    val h = Seq(("low", 4L), ("lower", 2L), ("new", 3L))
      .toDF("w", "freq")
    assert(Tokenize.trainBpeFromHistogram(h, numMerges = 5) ==
      Seq(("l", "o"), ("lo", "w"), ("e", "w"), ("n", "ew"), ("e", "r")))
    assertThrows[IllegalArgumentException](
      Tokenize.trainBpeFromHistogram(
        Seq(("x", 1L)).toDF("word", "n"), numMerges = 1))
    // out-of-contract rows fail loudly instead of silently skewing
    // pair counts (a null pre-token drops out of the explode; a
    // non-positive count SUBTRACTS mass)
    assertThrows[IllegalArgumentException](
      Tokenize.trainBpeFromHistogram(
        Seq(("ab", 2L), ("cd", 0L)).toDF("w", "freq"), numMerges = 1))
    assertThrows[IllegalArgumentException](
      Tokenize.trainBpeFromHistogram(
        Seq(("ab", 2L), (null: String, 3L)).toDF("w", "freq"),
        numMerges = 1))
  }

  test("merge application is greedy left-to-right: overlapping runs " +
    "pair up like the reference algorithm") {
    // "aaa" x3: pair (a,a)=6 -> merge; then (aa,a)=3 -> merge. The
    // wrapped-string replace must pair greedily: aaa -> [aa, a], never
    // [a, aa]. Next round counts (aa,a)=3 (not (a,aa)).
    val d = Seq.fill(3)("aaa").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Tokenize.trainBpeDistributed(d, numMerges = 2)
    assert(merges == Seq(("a", "a"), ("aa", "a")))
  }

  test("wrapped-symbol replace cannot match across a symbol boundary") {
    // Round 1: (b,a) = 5+3 = 8 beats (a,b) = 3+2 = 5, so "bab" becomes
    // [ba, b]. Round 2's TRUE counts: (ba,b)=3 from "bab", (a,b)=2 from
    // "ab" -> (ba,b) wins. If the serialized form let the (a,b) merge
    // see a false "a b" adjacency inside "ba  b", (a,b) would count
    // 2+3=5 and steal round 2 — the assertion pins the true winner.
    val d = (Seq.fill(5)("ba") ++ Seq.fill(3)("bab") ++ Seq.fill(2)("ab"))
      .zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Tokenize.trainBpeDistributed(d, numMerges = 2)
    assert(merges == Seq(("b", "a"), ("ba", "b")))
  }

  test("bpeCountExpr/bpeTokensExpr: literal-chain serving matches the " +
    "seam's ToyBpe counter on the corpus it was trained on") {
    val merges = Tokenize.trainBpeDistributed(docs, numMerges = 12)
    val viaExpr = docs
      .select(col("doc_id"),
        Tokenize.bpeCountExpr(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSeam = Tokenize
      .withTokenCount(docs.select("doc_id", "text"),
        Tokenize.ToyBpeTokenizer(merges), outCol = "n")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    assert(viaExpr == viaSeam)
    // serving stays a pure projection: no object seam (mapPartitions /
    // Dataset.map would show as DeserializeToObject), no join — the
    // merge table rides the plan as literals
    val plan = docs.select(
      Tokenize.bpeCountExpr(col("text"), merges).as("n"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") &&
      !plan.contains("MapPartitions") && !plan.contains("Join"),
      s"expected a literal-chain projection, got:\n$plan")
    // tokens, not just counts: "lower" folds through (l,o)(lo,w)(e,r)
    // to [low, er]; "newest" through (e,w)(n,ew) to [new, e, s, t]
    val fm = Tokenize.trainBpeDistributed(fixture, numMerges = 5)
    val toks = Seq(("lower newest", 0L)).toDF("text", "id")
      .select(Tokenize.bpeTokensExpr(col("text"), fm).as("t"))
      .head().getSeq[String](0)
    assert(toks == Seq("low", "er", "new", "e", "s", "t"))
  }

  test("trainBpeDistributed wall-clock tracks the histogram, not the " +
    "corpus (10x docs, GRAFT_SCALEUP opt-in)") {
    assume(sys.env.contains("GRAFT_SCALEUP"),
      "slow: opt in with GRAFT_SCALEUP=1 sbt test")
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val big = (0 until 10).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(8).cache()
    big.count(); base.cache().count()
    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val t1 = time(Tokenize.trainBpeDistributed(base, numMerges = 8))
    val t10 = time(Tokenize.trainBpeDistributed(big, numMerges = 8))
    println(f"[scaleup] bpeDistTrain 1x=$t1%.1fs 10x=$t10%.1fs " +
      f"ratio=${t10 / t1}%.1f")
    // replication leaves the DISTINCT pre-token vocabulary unchanged,
    // so after the first histogram pass the merge loop's working set is
    // identical — only the one corpus-sized aggregation may grow
    assert(t10 / math.max(t1, 0.5) < 8,
      "distributed BPE training should track the vocabulary, not the corpus")
    base.unpersist(); big.unpersist()
  }

  test("batched rounds on the real corpus: 512 merges over sf0.1 " +
    "documents — rounds, widths, wall (GRAFT_SCALEUP opt-in)") {
    assume(sys.env.contains("GRAFT_SCALEUP"),
      "slow: opt in with GRAFT_SCALEUP=1 sbt test")
    val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    val m = Tokenize.trainBpeDistributed(d, numMerges = 512,
      onRound = (_, k) => { widths += k; () })
    val wall = (System.nanoTime() - t0) / 1e9
    val half = {
      var acc = 0
      widths.takeWhile { w => acc += w; acc <= m.length / 2 }.length
    }
    println(f"[scaleup] bpeBatchedTrainReal merges=${m.length} " +
      f"rounds=${widths.length} meanWidth=${m.length.toDouble / widths.length}%.2f " +
      f"maxWidth=${widths.max} firstHalfRounds=$half " +
      f"secondHalfRounds=${widths.length - half} wall=$wall%.1fs")
    // the sf corpus's small word vocabulary exhausts before 512 (early
    // stop is part of the contract) — the entry records the rounds and
    // widths the corpus DOES sustain; the 512-merge width behavior is
    // gated by the synthetic-corpus spec above. Early char-pair rounds
    // are inherently narrow (top pairs chain through shared symbols);
    // widths open as merges become disjoint word fragments — the
    // regime where a production 32k-merge vocabulary spends 97% of
    // its merges.
    assert(m.nonEmpty && widths.sum == m.length)
  }

  test("wide-regime measurement: 4096 merges on a synthetic 20k-word " +
    "corpus — exact greedy parity, tail widths, per-round wall " +
    "(GRAFT_SCALEUP opt-in)") {
    assume(sys.env.contains("GRAFT_SCALEUP"),
      "slow: opt in with GRAFT_SCALEUP=1 sbt test")
    // 20k distinct random letter words, every freq >= 2 (so every pair
    // stays eligible) with a zipf-plus-jitter spread (ties are the
    // width killer: the strict count bound truncates at the first tie
    // with an unaccepted row). ~180k total merge material sustains
    // 4096 merges with room to spare.
    val rnd = new scala.util.Random(43)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = (0 until 20000).map { _ =>
      val len = 5 + rnd.nextInt(10)
      (0 until len).map(_ => letters(rnd.nextInt(26))).mkString
    }.distinct
    val hist = words.zipWithIndex.map { case (w, i) =>
      (w, 2L + 400000L / (i + 20) + (i % 17))
    }
    // the algorithm's ground truth: the in-memory greedy loop straight
    // off the histogram (no document expansion needed)
    val tDrv0 = System.nanoTime()
    val drv = Tokenize.greedyMerges(hist, numMerges = 4096,
      minPairCount = 2L)
    val drvWall = (System.nanoTime() - tDrv0) / 1e9
    assert(drv.length == 4096, s"corpus too poor: ${drv.length}")
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    val roundEnds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val dist = Tokenize.trainBpeFromHistogram(hist.toDF("w", "freq"),
      numMerges = 4096, onRound = (_, k) => {
        widths += k; roundEnds += (System.nanoTime() - t0) / 1e9; ()
      })
    val wall = (System.nanoTime() - t0) / 1e9
    assert(dist == drv, {
      val i = dist.zip(drv).indexWhere { case (a, b) => a != b }
      s"incremental trainer diverged from sequential greedy at merge " +
        s"$i: ${dist.slice(i - 2, i + 2)} vs ${drv.slice(i - 2, i + 2)}"
    })
    assert(widths.sum == 4096)
    // width curve: rounds where the first/last quarter of MERGES commit
    def roundsForMerges(from: Int, until: Int): Seq[Int] = {
      var acc = 0
      widths.toSeq.zipWithIndex.collect {
        case (w, ri) if { val lo = acc; acc += w; acc > from && lo < until }
          => ri
      }
    }
    val headRounds = roundsForMerges(0, 1024)
    val tailRounds = roundsForMerges(3072, 4096)
    val tailWidths = tailRounds.map(widths)
    val headWalls = headRounds.tail.map(ri =>
      roundEnds(ri) - roundEnds(ri - 1))
    val tailWalls = tailRounds.map(ri => roundEnds(ri) - roundEnds(ri - 1))
    def mean(xs: Seq[Double]) = xs.sum / math.max(1, xs.size)
    println(f"[scaleup] bpeWideRegime merges=4096 rounds=${widths.length} " +
      f"meanWidth=${4096.0 / widths.length}%.2f maxWidth=${widths.max} " +
      f"headRounds=${headRounds.size} tailRounds=${tailRounds.size} " +
      f"tailMeanWidth=${1024.0 / math.max(1, tailRounds.size)}%.2f " +
      f"tailMaxWidth=${tailWidths.max} " +
      f"headWallPerRound=${mean(headWalls)}%.4fs " +
      f"tailWallPerRound=${mean(tailWalls)}%.4fs " +
      f"wall=$wall%.1fs drvWall=$drvWall%.1fs")
    // MEASURED, round-14 verdict #1 — and the measurement REFUTES the
    // round-14 narrative: tail batches do NOT open wide on a
    // random-word zipf corpus (first 4096-merge run: tail mean width
    // 1.70, max 19; the affectedness rule truncates at the first
    // shared-symbol candidate and the strict count bound at the first
    // tie, and both stay frequent however deep the vocabulary). What
    // scaling actually rests on is the OTHER half of this round's
    // work: per-ROUND cost is flat as the vocabulary builds, because
    // the pair table is maintained incrementally instead of
    // re-aggregated — so total cost tracks rounds (~merges/2), each a
    // pair of small bounded jobs, not merges x vocab-sized scans.
    assert(widths.length < 4096,
      s"batching committed nothing beyond one merge per round: " +
        s"${widths.length} rounds")
    assert(tailWidths.max > 10,
      s"tail regime never opened past width 10 even at max: " +
        s"${tailWidths.max}")
    // the incremental pair table's deliverable: per-ROUND wall flat
    // between the first and last quarter of the vocabulary (first
    // run: 0.33s/round head vs 0.29s/round tail)
    assert(mean(tailWalls) <= 1.5 * mean(headWalls),
      f"per-round wall grew with vocabulary " +
        f"(head ${mean(headWalls)}%.3fs -> tail ${mean(tailWalls)}%.3fs)" +
        " — incremental maintenance is not holding")
  }

  test("randomized parity: distributed == driver trainer, and the " +
    "literal-chain count == a naive sequential-merge reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
    // the straightforward list implementation of "apply each merge in
    // rank order, greedy left-to-right" — the semantic the wrapped-
    // string replace chain claims
    def naiveApply(word: String,
                   merges: Seq[(String, String)]): Vector[String] = {
      var syms = word.map(_.toString).toVector
      for ((l, r) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val pre = java.util.regex.Pattern.compile(Text.bpeTokenPattern)
    def naiveCount(text: String, merges: Seq[(String, String)]): Long = {
      val m = pre.matcher(text); var n = 0L
      while (m.find()) n += naiveApply(m.group(), merges).length
      n
    }
    // small alphabet with digits and punctuation so pre-token class
    // boundaries and single-mark tokens are exercised, heavy repetition
    // so merges overlap
    val wordGen = Gen.choose(1, 6).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf('a', 'b', 'c', '1', '.')).map(_.mkString))
    val docGen = Gen.frequency(
      9 -> Gen.choose(1, 6).flatMap(k =>
        Gen.listOfN(k, wordGen).map(_.mkString(" "))),
      1 -> Gen.const(""))
    val corpusGen = Gen.choose(2, 20).flatMap(n => Gen.listOfN(n, docGen))
    sample(corpusGen, 6).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val drv = Tokenize.trainBpe(df, numMerges = 5)
      assert(Tokenize.trainBpeDistributed(df, numMerges = 5) == drv,
        s"trainer divergence on corpus $texts")
      val got = df.select(col("doc_id"),
        Tokenize.bpeCountExpr(col("text"), drv).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == naiveCount(t, drv),
          s"count divergence on '$t' under $drv")
      }
    }
  }

  test("batched merge rounds: exact parity with the sequential driver " +
    "trainer at 512 merges, in a fraction of the Spark jobs") {
    // a zipfian synthetic corpus (the count spread of natural text —
    // wide batches need non-tied counts): 3000 distinct letter words,
    // freq ~ 1/rank, rich enough to sustain 512 merges at minPairCount=2
    val rnd = new scala.util.Random(41)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = (0 until 3000).map { i =>
      val len = 4 + rnd.nextInt(9)
      (0 until len).map(_ => letters(rnd.nextInt(letters.length))).mkString
    }.distinct
    val hist = words.zipWithIndex.map { case (w, i) =>
      (w, math.max(2L, 6000L / (i + 3)))
    }
    // the driver reference: expand the histogram into documents and run
    // the in-memory greedy loop (the algorithm's ground truth)
    val docs512 = hist.flatMap { case (w, f) =>
      Seq.fill(f.toInt)(w)
    }.grouped(60).map(_.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
    val drv = Tokenize.trainBpe(docs512, numMerges = 512)
    assert(drv.length == 512, s"corpus too poor: ${drv.length} merges")
    // count Spark jobs across the distributed batched run
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    val dist = try {
      val h = hist.toDF("w", "freq")
      Tokenize.trainBpeFromHistogram(h, numMerges = 512,
        onRound = (_, k) => { widths += k; () })
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(dist == drv, {
      val i = dist.zip(drv).indexWhere { case (a, b) => a != b }
      s"batched trainer diverged from sequential greedy at merge $i: " +
        s"${dist.slice(i - 2, i + 2)} vs ${drv.slice(i - 2, i + 2)}"
    })
    // the round-13 shape was one round per merge (~32k rounds at a real
    // vocabulary); batched rounds must commit several merges each. The
    // first/second half split shows WHERE batches widen: early rounds
    // are inherently narrow (top pairs share symbols), late rounds are
    // disjoint word fragments with spread counts — the regime where the
    // other 31k merges of a production vocabulary live.
    val firstHalfRounds = {
      var acc = 0; widths.takeWhile { w => acc += w; acc <= 256 }.length
    }
    println(s"[scaleup] bpeBatchedTrain merges=512 rounds=${widths.length} " +
      f"meanWidth=${512.0 / widths.length}%.2f jobs=${jobs.get} " +
      s"firstHalfRounds=$firstHalfRounds " +
      s"secondHalfRounds=${widths.length - firstHalfRounds}")
    assert(widths.sum == 512)
    assert(widths.length <= 256,
      s"expected batched rounds to commit >=2 merges on average, " +
        s"got ${widths.length} rounds for 512 merges")
  }

  test("line-terminator pre-tokens (U+0085/U+2028/U+2029) survive the " +
    "wrapped-symbol encoding: expr path == driver trainer == seam") {
    // Java \s excludes these three, so bpeTokenPattern admits them as
    // single-mark pre-tokens — but Java's plain '.' (unlike RE2's)
    // skips line terminators, so without DOTALL in wrapSymbols they
    // wrapped to an empty token and the expr path diverged from every
    // other implementation of the algorithm (ADVICE r13).
    // the pre-tokenizer admits each separator only as a SINGLE-mark
    // pre-token ([^A-Za-z0-9\s] matches one char), so training can
    // never merge one \u2014 the bug surface is the token STRING the expr
    // path emits for it ("" without DOTALL, the char itself with)
    val nel = "\u0085"; val lsep = "\u2028"; val psep = "\u2029"
    val d = Seq((0L, s"ab${lsep}ab$lsep"), (1L, s"cd$nel$psep$lsep"),
      (2L, s"$lsep$lsep$lsep"))
      .toDF("doc_id", "text")
    val drv = Tokenize.trainBpe(d, numMerges = 2)
    assert(Tokenize.trainBpeDistributed(d, numMerges = 2) == drv)
    // tokens: each separator comes back as itself, never an empty string
    val toks = d.where(col("doc_id") === 1L)
      .select(Tokenize.bpeTokensExpr(col("text"), drv).as("t"))
      .head().getSeq[String](0)
    // (c,d) count 1 is below minPairCount, so "cd" stays split
    assert(toks == Seq("c", "d", nel, psep, lsep),
      s"expected the separators as literal tokens, got $toks")
    // the q_doc_bpe_vocab shape: exploding histogram words through the
    // expr yields the separator symbol, not ""
    val vocabToks = Tokenize.wordHistogram(d)
      .select(explode(Tokenize.bpeTokensExpr(col("w"), drv)).as("tok"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(!vocabToks.contains("") && vocabToks.contains(lsep))
    // counts: expr == the ToyBpe seam counter under the trained table
    val viaExpr = d.select(col("doc_id"),
      Tokenize.bpeCountExpr(col("text"), drv).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSeam = Tokenize.withTokenCount(d, Tokenize.ToyBpeTokenizer(drv),
      outCol = "n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    assert(viaExpr == viaSeam)
  }

  test("bpeVocabFromHistogram/bpeIdsExpr: rank-arithmetic ids off a " +
    "trained table; collisions and unseen tokens are loud") {
    val h = Seq(("low", 4L), ("lower", 2L), ("new", 3L)).toDF("w", "freq")
    val fm = Tokenize.trainBpeFromHistogram(h, numMerges = 5)
    assert(fm == Seq(("l", "o"), ("lo", "w"), ("e", "w"), ("n", "ew"),
      ("e", "r")))
    val v = Tokenize.bpeVocabFromHistogram(h, fm)
    // base alphabet {e,l,n,o,r,w} in UTF-8 order gets 0..5, then merge
    // outputs at 6 + rank — the GPT-2 vocab convention, hand-checkable
    assert(v == Seq("e" -> 0, "l" -> 1, "n" -> 2, "o" -> 3, "r" -> 4,
      "w" -> 5, "lo" -> 6, "low" -> 7, "ew" -> 8, "new" -> 9, "er" -> 10))
    val ids = Seq(("lower new", 0L)).toDF("text", "id")
      .select(Tokenize.bpeIdsExpr(col("text"), fm, v).as("ids"))
      .head().getSeq[Int](0)
    assert(ids == Seq(7, 10, 9)) // [low, er, new]
    // ids are a plain array<int> column — the packed-sequence shape
    // (flatten id arrays per bin) consumes it with no seam
    val arr = Seq(("low low", 0L), ("new", 1L)).toDF("text", "id")
      .select(flatten(collect_list(
        Tokenize.bpeIdsExpr(col("text"), fm, v))).as("packed"))
      .head().getSeq[Int](0)
    assert(arr.sorted == Seq(7, 7, 9))
    // a token the training histogram never saw raises in-plan instead
    // of minting nulls that would corrupt packed sequences
    val ex = intercept[Exception] {
      Seq(("zzz", 0L)).toDF("text", "id")
        .select(Tokenize.bpeIdsExpr(col("text"), fm, v)).collect()
    }
    assert(ex.getMessage.contains("not in derived vocab") ||
      Option(ex.getCause).exists(_.getMessage.contains("not in derived vocab")))
    // duplicate token strings (colliding merge outputs) fail loudly
    assertThrows[IllegalArgumentException](
      Tokenize.bpeVocabFromHistogram(h,
        Seq(("l", "o"), ("lo", "w"), ("l", "ow"))))
  }

  test("reserved specials: ids shift by the special count, a mintable " +
    "or duplicate special is loud, and <eos>-delimited ids decode back " +
    "to each doc's pre-token concat") {
    val h = Seq(("low", 4L), ("lower", 2L), ("new", 3L)).toDF("w", "freq")
    val fm = Tokenize.trainBpeFromHistogram(h, numMerges = 5)
    val v0 = Tokenize.bpeVocabFromHistogram(h, fm)
    val v = Tokenize.bpeVocabFromHistogram(h, fm,
      specials = Seq("<pad>", "<eos>"))
    // specials at FIXED ids 0..1; every derived id shifts by 2 — the
    // oracle-replayable constant-shift convention
    assert(v.take(2) == Seq("<pad>" -> 0, "<eos>" -> 1))
    assert(v.drop(2) == v0.map { case (t, i) => (t, i + 2) })
    // a MINTABLE special (or a duplicate special) is an injection
    // hole — loud at derivation, not as corrupt sequences
    assertThrows[IllegalArgumentException](
      Tokenize.bpeVocabFromHistogram(h, fm, specials = Seq("low")))
    assertThrows[IllegalArgumentException](
      Tokenize.bpeVocabFromHistogram(h, fm,
        specials = Seq("<eos>", "<eos>")))
    // the LM-dataloader round trip: each doc's ids plus a trailing
    // <eos>, concatenated, decode through the seam decoder with the
    // reserved id mapped to its literal — boundaries survive
    val d = Seq((0L, "lower new"), (1L, "low low"), (2L, "new"))
      .toDF("doc_id", "text")
    val eos = 1
    val seq = d.select(col("doc_id"),
      Tokenize.bpeIdsExpr(col("text"), fm, v).as("ids"))
      .collect().sortBy(_.getLong(0)).toSeq
      .flatMap(r => r.getSeq[Int](1) :+ eos)
    val enc = Tokenize.TrainedBpeTokenizer(fm, v).init()
    assert(enc.decode(seq) == "lowernew<eos>lowlow<eos>new<eos>")
  }

  test("withTokenIds: the seam's id face — TrainedBpeTokenizer matches " +
    "bpeIdsExpr on a trained table; counters without a vocab are loud") {
    val h = Seq(("low", 4L), ("lower", 2L), ("new", 3L)).toDF("w", "freq")
    val fm = Tokenize.trainBpeFromHistogram(h, numMerges = 5)
    val v = Tokenize.bpeVocabFromHistogram(h, fm)
    val d = Seq((0L, "lower new"), (1L, "low low"), (2L, null: String),
      (3L, "")).toDF("doc_id", "text")
    // seam ids == expr-path ids (best-rank-first inference equals the
    // rank-ordered literal chain on a self-trained table); null text
    // is an EMPTY array on the seam (expr yields null — the budget
    // operators' drop semantics either way)
    val viaSeam = Tokenize.withTokenIds(d, Tokenize.TrainedBpeTokenizer(fm, v))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Int](r.fieldIndex("token_ids"))).toMap
    val viaExpr = d.select(col("doc_id"),
      coalesce(Tokenize.bpeIdsExpr(col("text"), fm, v),
        typedLit(Seq.empty[Int])).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaSeam == viaExpr)
    assert(viaSeam(2L).isEmpty && viaSeam(3L).isEmpty)
    // counts agree with the id lengths (one tokenizer, two faces)
    val counts = Tokenize.withTokenCount(d,
      Tokenize.TrainedBpeTokenizer(fm, v), outCol = "n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n"))
      .toMap
    assert(counts == viaSeam.map { case (k, ids) => k -> ids.length.toLong })
    // a counter with no vocab cannot emit ids — loud, not null
    val ex = intercept[Exception](
      Tokenize.withTokenIds(d, Tokenize.ToyBpeTokenizer(fm)).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("TokenEncoder")))
  }

  test("scale-up: histogram fold costs slice-scan + vocab-aggregate, " +
    "not a corpus re-scan — fold wall vs rebuild wall at sf0.1 " +
    "(GRAFT_SCALEUP opt-in)") {
    assume(sys.env.contains("GRAFT_SCALEUP"),
      "slow: opt in with GRAFT_SCALEUP=1 sbt test")
    // the daily-ingest shape at a size where scan volume dominates
    // fixed job overhead: the accumulated base is 30 copies of sf0.1
    // (already histogrammed and MATERIALIZED — the persisted
    // artifact), today's slice is 1 more copy (1/30 of the base)
    val one = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    def copies(ks: Range) = ks.map(i =>
      one.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    val base = copies(0 until 30)
    val slice = copies(30 until 31)
    val baseDir = graft.SparkSpec.tmpDir("graft-foldhist-") + "/hist"
    Tokenize.wordHistogram(base).write.parquet(baseDir)
    def wall[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // warm the page cache symmetrically (both paths re-read the same
    // single parquet dir)
    Tokenize.wordHistogram(one).count()
    val (nFull, wRebuild) = wall(
      Tokenize.wordHistogram(copies(0 until 31)).count())
    val (nFold, wFold) = wall(
      Tokenize.foldWordHistograms(Seq(
        spark.read.parquet(baseDir),
        Tokenize.wordHistogram(slice))).count())
    info(f"rebuild (31 copies scanned): $wRebuild%.2fs ($nFull words); " +
      f"fold (1 copy + vocab frame): $wFold%.2fs ($nFold words)")
    // correctness first: the fold serves the identical vocabulary
    assert(nFold == nFull)
    // the scale claim: the fold re-scans ~1/31 of the corpus, so even
    // with the ~0.45s fixed job-overhead floor both paths share it
    // must clearly undercut the rebuild (measured ~5x; asserted at
    // 2x to stay flake-proof)
    assert(wFold <= wRebuild * 0.5,
      f"fold ($wFold%.2fs) should clearly undercut rebuild " +
        f"($wRebuild%.2fs)")
  }

  test("foldWordHistograms: fold of slice histograms equals the full " +
    "rebuild on a randomized corpus — incremental training is exact") {
    val rnd = new scala.util.Random(41)
    val vocabPool = Seq("low", "lower", "new", "newer", "wide", "er",
      "deep", "deeper", "x", "1", "!", "café")
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(
        vocabPool(rnd.nextInt(vocabPool.length))).mkString(" "))
    }.toDF("doc_id", "text")
    def histMap(h: org.apache.spark.sql.DataFrame): Map[String, Long] =
      h.collect().map(r =>
        r.getAs[String]("w") -> r.getAs[Long]("freq")).toMap
    val full = Tokenize.wordHistogram(docs)
    // three uneven slices, histogrammed independently, folded
    val folded = Tokenize.foldWordHistograms(
      Seq(0, 1, 2).map(k =>
        Tokenize.wordHistogram(docs.where(col("doc_id") % 3 === k))))
    assert(histMap(folded) == histMap(full))
    // the fold drops into the trainer unchanged and yields the exact
    // full-corpus merge table (counts are associative, so this is
    // equality, not approximation)
    assert(Tokenize.trainBpeFromHistogram(folded, numMerges = 6) ==
      Tokenize.trainBpeFromHistogram(full, numMerges = 6))
    // a frame without the histogram shape is loud
    assertThrows[IllegalArgumentException](
      Tokenize.foldWordHistograms(Seq(docs)))
    assertThrows[IllegalArgumentException](
      Tokenize.foldWordHistograms(Nil))
  }

  test("withDecodedText: the seam's decode face — rehydrated ids " +
    "reconstruct the pre-token concat, bit-equal to the expr path; " +
    "counters without a vocab are loud") {
    val h = Seq(("low", 4L), ("lower", 2L), ("new", 3L)).toDF("w", "freq")
    val fm = Tokenize.trainBpeFromHistogram(h, numMerges = 5)
    val v = Tokenize.bpeVocabFromHistogram(h, fm)
    val d = Seq((0L, "lower new"), (1L, "low low"), (2L, null: String))
      .toDF("doc_id", "text")
    val tok = Tokenize.TrainedBpeTokenizer(fm, v)
    // encode -> decode through the seam == the pre-token concat
    val viaSeam = Tokenize.withDecodedText(
      Tokenize.withTokenIds(d, tok), tok).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("decoded_text")).toMap
    assert(viaSeam == Map(0L -> "lowernew", 1L -> "lowlow", 2L -> ""))
    // ... and bit-equal to the expr decode path on the same ids
    val viaExpr = d.where(col("text").isNotNull)
      .select(col("doc_id"), array_join(Tokenize.bpeDecodeExpr(
        Tokenize.bpeIdsExpr(col("text"), fm, v), v), "").as("dec"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr == viaSeam.removed(2L))
    // seam decode of a foreign id is loud, not mangled
    val bad = Seq((0L, Seq(0, v.length + 9))).toDF("doc_id", "token_ids")
    val ex = intercept[Exception](
      Tokenize.withDecodedText(bad, tok).collect())
    def dmsgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: dmsgs(e.getCause))
    assert(dmsgs(ex).exists(m =>
      m != null && m.contains("not in derived vocab")))
    // a counter with no vocab cannot decode — same loud contract as
    // the id face
    val ex2 = intercept[Exception](
      Tokenize.withDecodedText(bad, Tokenize.ToyBpeTokenizer(fm))
        .collect())
    assert(dmsgs(ex2).exists(m => m != null && m.contains("TokenEncoder")))
  }

  test("supplementary characters: driver trainer, seam count/encode and " +
    "expr path agree per CODE POINT (ADVICE r14)") {
    // an emoji is a single pre-token under bpeTokenPattern's
    // single-mark class, but a per-UTF-16-code-unit split seeds it as
    // two lone surrogates: count() diverged from bpeCountExpr and
    // encode() threw on text the expr path encodes fine
    val emoji = "😀" // U+1F600
    val emoji2 = "😁" // U+1F601
    val d = Seq((0L, s"abab abab $emoji"), (1L, s"$emoji$emoji2 cd"),
      (2L, s"x$emoji"), (3L, "abab"))
      .toDF("doc_id", "text")
    val drv = Tokenize.trainBpe(d, numMerges = 2)
    assert(Tokenize.trainBpeDistributed(d, numMerges = 2) == drv)
    val h = Tokenize.wordHistogram(d)
    val v = Tokenize.bpeVocabFromHistogram(h, drv)
    assert(v.exists(_._1 == emoji), s"alphabet missing the emoji: $v")
    val seam = Tokenize.TrainedBpeTokenizer(drv, v)
    val viaExprN = d.select(col("doc_id"),
      Tokenize.bpeCountExpr(col("text"), drv).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSeamN = Tokenize.withTokenCount(d, seam, outCol = "n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n"))
      .toMap
    assert(viaExprN == viaSeamN)
    // doc 2 is one letter run + one emoji = 2 tokens, not 3
    assert(viaSeamN(2L) == 2L)
    val viaExprIds = d.select(col("doc_id"),
      Tokenize.bpeIdsExpr(col("text"), drv, v).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val viaSeamIds = Tokenize.withTokenIds(d, seam)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Int](r.fieldIndex("token_ids"))).toMap
    assert(viaExprIds == viaSeamIds)
    // the tie-break rationale: code-point order == UTF-8 byte order,
    // while Java's native UTF-16 comparison disagrees past the BMP
    val pua = "\uE000" // BMP private-use char above the surrogates
    assert(Tokenize.cpCompare(pua, emoji) < 0 && pua > emoji)
    assert(Tokenize.codePointSyms(s"x$emoji").toSeq == Seq("x", emoji))
  }

  test("acceptBatch: affectedness, strict bound, universe hit, and the " +
    "within-batch minted-concat guard (ADVICE r14)") {
    def uni(ss: String*): String => Boolean = ss.toSet
    // mutually unaffected spread counts: full width accepted
    assert(Tokenize.acceptBatch(Seq(("p", "q", 100L), ("r", "s", 90L),
      ("t", "u", 80L)), 3, 2L, uni("p", "q", "r", "s", "t", "u")) ==
      Seq(("p", "q"), ("r", "s"), ("t", "u")))
    // an affected row stops acceptance AND bounds what lies below
    assert(Tokenize.acceptBatch(Seq(("p", "q", 100L), ("q", "r", 90L),
      ("t", "u", 80L)), 3, 2L, uni("p", "q", "r", "t", "u")) ==
      Seq(("p", "q")))
    // strictness: a count EQUAL to the bound is not immune to
    // post-merge reordering — dropped
    assert(Tokenize.acceptBatch(Seq(("p", "q", 100L), ("r", "s", 90L),
      ("t", "u", 90L)), 2, 2L, uni("p", "q", "r", "s", "t", "u")) ==
      Seq(("p", "q")))
    // pre-round universe hit truncates at the offender, offender kept
    assert(Tokenize.acceptBatch(Seq(("p", "q", 100L), ("r", "s", 90L)),
      2, 2L, uni("p", "q", "r", "s", "pq")) == Seq(("p", "q")))
    // THE ADVICE CASE: (a, bc) then (ab, c) both mint "abc" — mutually
    // unaffected so affectedness alone admits both plus the rows below,
    // but the second mint can boost a pair containing "abc" to up to
    // 2×bound; acceptance truncates at the second mint, keeping it
    assert(Tokenize.acceptBatch(Seq(("a", "bc", 100L), ("ab", "c", 95L),
      ("x", "y", 90L)), 3, 2L,
      uni("a", "b", "c", "ab", "bc", "x", "y")) ==
      Seq(("a", "bc"), ("ab", "c")))
    assertThrows[IllegalArgumentException](
      Tokenize.acceptBatch(Nil, 1, 2L, uni()))
  }

  test("bpeCountExpr null/empty semantics match the seam (0, not null) " +
    "and the merge ceiling is loud") {
    val d = Seq((0L, null: String), (1L, ""), (2L, "ab"))
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      Tokenize.bpeCountExpr(col("text"), Nil).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
    val big = (1 to 513).map(i => (s"x$i", "y"))
    assertThrows[IllegalArgumentException](
      Tokenize.bpeCountExpr(col("text"), big))
    assertThrows[IllegalArgumentException](
      Tokenize.bpeTokensExpr(col("text"), big))
  }
}
