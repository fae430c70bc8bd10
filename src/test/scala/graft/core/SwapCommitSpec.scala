package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Classifier, Dedup, Freq, Quantile, Sampling, Sketch}

/** Crash and race matrix for every table rewritten in place by a
  * swap-commit: the incremental folds, index compaction, and the
  * database's rewrites, on the test-only [[CrashFs]] filesystem.
  *
  * Crash cases: the process dies before each protocol step of one batch
  * (lock create, first staged file, ledger write, the two renames, the
  * parked-copy delete, lock release); the operator deletes the stale lock
  * and the batch is re-delivered. The final table and ledger must equal
  * an uninterrupted run's.
  *
  * Race cases: just before the writer creates its lock, a second
  * writer's whole update runs. Neither update may be lost. */
class SwapCommitSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}
  import spark.implicits._
  import CrashFs.Step

  private def newRoot(): String =
    s"${CrashFs.scheme}://" + tmpDir("graft-swap-")

  /** One in-place writer. `seed` builds the state before the batch under
    * test, `write` delivers it (re-delivery is the same call), `race` is
    * the second writer's whole update, `table` the swapped directory. */
  private case class Subject(name: String, table: String,
                             seed: String => Unit, write: String => Unit,
                             race: String => Unit, state: String => Any)

  // -------------------------------------------------------------- //
  // inputs: single-partition, so every fold is bit-deterministic
  // -------------------------------------------------------------- //

  private def events(b: Int): DataFrame =
    (0 until 40).map(i => (s"g${i % 3}", (b * 100 + i * 7) % 53, b * 1000L + i))
      .toDF("g", "v", "id").coalesce(1)

  private def labeled(b: Int): DataFrame =
    (0 until 30).map { i =>
      val y = (i + b) % 3
      (Seq(y, 3 + (i % 2)), y)
    }.toDF("idx", "y").coalesce(1)

  private def docs(b: Int): DataFrame =
    (0 until 10).map(i => (b * 100L + i, s"doc ${(b * 10 + i) % 17}"))
      .toDF("doc_id", "text").coalesce(1)

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }.mkString("|")).toSeq.sorted

  private def ledger(path: String): Set[String] = {
    val p = s"$path/_graft_applied"
    if (Fs.exists(p)) Fs.readString(p).split("\n").toSet else Set.empty
  }

  private def tableState(path: String): Any = (rows(path), ledger(path))

  /** A model directory: every file's text (model and ledger alike). */
  private def textState(path: String): Any =
    Fs.listNames(path).sorted.map(n => n -> Fs.readString(s"$path/$n"))

  private def dbState(root: String): Any = {
    val df = Database(spark, root).read()
    val cols = df.columns.filter(c => !c.startsWith("_")).sorted ++
      Seq("_pset_hash", "_pset_seq", "_run_seq")
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
  }

  /** One `Study.run` over psets `a` (plus a new column `b` when given —
    * the run then rehashes the database before appending). */
  private def sweep(root: String, as: Seq[Long], b: Option[Long] = None)
      : Unit = {
    val ps = as.map(a => Map[String, Any]("a" -> a) ++ b.map("b" -> _))
    Study(spark, StudyConfig(calcDir = root, skipDups = true)).run(
      p => Map("result_" -> p("a").asInstanceOf[Long] * 2.0), ps)
    ()
  }

  private def fold(name: String, state: String => Any = tableState)
                  (f: (String, Int) => Unit): Subject = {
    def t(r: String) = s"$r/t"
    Subject(name, "t", r => f(t(r), 1), r => f(t(r), 2), r => f(t(r), 3),
      r => state(t(r)))
  }

  private val subjects: Seq[Subject] = Seq(
    fold("Quantile.incrementalQuantileSketch") { (t, b) =>
      Quantile.incrementalQuantileSketch(events(b), t, "g", col("v"),
        batchId = Some(s"b$b")); ()
    },
    fold("Freq.incrementalFreqSketch") { (t, b) =>
      Freq.incrementalFreqSketch(events(b), t, "g", col("v"),
        batchId = Some(s"b$b")); ()
    },
    fold("Sketch.incrementalColumnProfile") { (t, b) =>
      Sketch.incrementalColumnProfile(events(b), t, Seq("g"), Seq("v"),
        batchId = Some(s"b$b")); ()
    },
    fold("Sketch.incrementalSketch") { (t, b) =>
      Sketch.incrementalSketch(events(b), t, "g", col("id")); ()
    },
    fold("Sampling.incrementalPrioritySample") { (t, b) =>
      Sampling.incrementalPrioritySample(events(b), t, col("id"),
        col("v") + 1, n = 12); ()
    },
    fold("Classifier.updateModelOnline", textState) { (t, b) =>
      Classifier.updateModelOnline(
        labeled(b).withColumn("label", col("y") === 0), t, "idx", "label",
        dim = 5, iters = 5, batchId = Some(s"b$b")); ()
    },
    fold("Classifier.updateSoftmaxOnline", textState) { (t, b) =>
      Classifier.updateSoftmaxOnline(labeled(b), t, "idx", "y", dim = 5,
        numClasses = 3, iters = 5, batchId = Some(s"b$b")); ()
    },
    Subject("Dedup.compactIndex", "t",
      seed = r => Seq(1, 2).foreach(b =>
        Dedup.incrementalExactDedup(docs(b), s"$r/t").collect()),
      write = r => Dedup.compactIndex(spark, s"$r/t"),
      race = r =>
        Dedup.incrementalExactDedup(docs(3), s"$r/t").collect(): Unit,
      state = r => tableState(s"$r/t")),
    Subject("Study.run", "database",
      seed = r => sweep(r, Seq(1, 2, 3)),
      write = r => sweep(r, Seq(4), Some(5)),
      race = r => sweep(r, Seq(6)),
      state = dbState),
    Subject("Database.rehashWith", "database",
      seed = r => sweep(r, Seq(1, 2, 3)),
      write = r => Database(spark, r).rehashWith(Map("b" -> LongType),
        Map.empty),
      race = r => sweep(r, Seq(6)),
      state = dbState),
    Subject("Database.compact", "database",
      seed = r => { sweep(r, Seq(1, 2)); sweep(r, Seq(3)) },
      write = r => Database(spark, r).compact(),
      race = r => sweep(r, Seq(6)),
      state = dbState))

  private def pathOf(root: String): String =
    root.stripPrefix(s"${CrashFs.scheme}://")

  /** A crash point: the `nth` `op` on `rel` (relative to the case root),
    * or on any path under `rel` when `under`. */
  private case class Point(op: String, rel: String, under: Boolean,
                           nth: Int) {
    def label: String = s"$op $rel${if (under) "/<first>" else ""} #$nth"
    def matches(root: String)(x: Step): Boolean = x.op == op && {
      val p = pathOf(root) + rel
      if (under) x.path.startsWith(s"$p/") else x.path == p
    }
  }

  /** The crash points of one uninterrupted write: every step on the
    * table's lock, parked copy, staging dir, ledger or live path, plus
    * the first file staged under the staging dir. */
  private def crashPoints(trace: Seq[Step], root: String, table: String)
      : Seq[Point] = {
    val rels =
      trace.map(s => s.copy(path = s.path.stripPrefix(pathOf(root))))
    val t = s"/$table"
    val tmp = s"$t.__compact_tmp"
    val exact = Set(s"$t.__lock", s"$t.__old", tmp, t, s"$tmp/_graft_applied")
    val staged = rels.indexWhere(s => s.op == "create" &&
      s.path.startsWith(s"$tmp/") && !exact(s.path))
    rels.zipWithIndex.collect {
      case (s, i) if exact(s.path) =>
        Point(s.op, s.path, under = false, rels.take(i + 1).count(_ == s))
      case (_, i) if i == staged => Point("create", tmp, under = true, 1)
    }
  }

  for (s <- subjects) {
    test(s"${s.name}: a crash at every commit step, then a stale-lock " +
      "delete and re-delivery, ends in the uninterrupted state") {
      val ref = newRoot()
      s.seed(ref)
      val trace = CrashFs.record(s.write(ref))
      val expected = s.state(ref)
      val points = crashPoints(trace, ref, s.table)
      assert(points.size >= 5, s"too few crash points: $points")
      info(s"crash points: ${points.map(_.label).mkString(", ")}")
      for (pt <- points) {
        val r = newRoot()
        s.seed(r)
        assert(CrashFs.crashBefore(pt.matches(r), pt.nth)(s.write(r)),
          s"crash point not reached: ${pt.label}")
        Fs.delete(s"$r/${s.table}.__lock")
        s.write(r)
        assert(s.state(r) == expected, s"after a crash before ${pt.label}")
        assert(!Fs.exists(s"$r/${s.table}.__old"), pt.label)
      }
    }

    test(s"${s.name}: a second writer racing the lock loses no update") {
      val ref = newRoot()
      s.seed(ref); s.race(ref); s.write(ref)
      val r = newRoot()
      s.seed(r)
      val lock = s"${pathOf(r)}/${s.table}.__lock"
      var raced = false
      CrashFs.before(x => x.op == "create" && x.path == lock) {
        raced = true
        s.race(r)
      }(s.write(r))
      assert(raced)
      assert(s.state(r) == s.state(ref))
    }
  }

  test("Study.run after a crash that parked the database keeps every row") {
    val r = newRoot()
    sweep(r, Seq(1, 2, 3, 4, 5))
    val db = s"${pathOf(r)}/database"
    // compaction dies between its two renames: the data sits at .__old
    assert(CrashFs.crashBefore(x => x == Step("rename", s"$db.__compact_tmp"),
      1)(Database(spark, r).compact()))
    assert(Fs.exists(s"$r/database.__old") && !Fs.exists(s"$r/database"))
    // the operator clears the stale lock, as the lock message says
    Fs.delete(s"$r/database.__lock")
    sweep(r, Seq(6, 7))
    val df = Database(spark, r).read()
    assert(df.count() == 7)
    assert(df.select("a").as[Long].collect().sorted.toSeq == (1L to 7L))
    assert(!Fs.exists(s"$r/database.__old"))
  }
}
