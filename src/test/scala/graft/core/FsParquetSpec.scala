package graft.core

import org.apache.spark.graftshim.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Fs.parquet]] against Spark's own inference: the same schema (and
  * rows) as `spark.read.parquet` for plain reads and as the
  * `mergeSchema` read for merged ones, with the footer cache serving
  * repeated reads without a Spark job. */
class FsParquetSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  private def sparkRead(path: String, merge: Boolean): DataFrame =
    if (merge) spark.read.option("mergeSchema", "true").parquet(path)
    else spark.read.parquet(path)

  /** Plain and merged reads equal Spark's, twice (the second one served
    * from the cache). */
  private def assertExact(path: String, what: String): Unit =
    for (merge <- Seq(false, true); _ <- 1 to 2) {
      val got = Fs.parquet(spark, path, mergeSchema = merge)
      val want = sparkRead(path, merge)
      assert(got.schema == want.schema, s"$what (merge=$merge) schema")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$what (merge=$merge) rows")
    }

  /** `f`'s Spark jobs and footers read. */
  private def cost[A](f: => A): (Int, Long) = {
    val before = Fs.footersRead
    val (_, jobs) = Jobs.count(spark.sparkContext)(f)
    (jobs, Fs.footersRead - before)
  }

  /** Move the one part file Spark wrote for `df` to `dst`. */
  private def writeFile(df: DataFrame, dst: String): Unit = {
    val tmp = tmpDir("graft-fsparquet-part-") + "/out"
    df.coalesce(1).write.parquet(tmp)
    Fs.rename(Fs.listNames(tmp).filter(_.endsWith(".parquet"))
      .map(n => s"$tmp/$n").head, dst)
  }

  /** A parquet file written by parquet-mr's example writer (no Spark
    * schema in its metadata, so Spark converts the Parquet types). */
  private def writeRaw(path: String, schema: String,
                       rows: Seq[(Long, Long)]): Unit = {
    val t = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(t).build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(t)
    try rows.foreach { case (id, ts) =>
      w.write(g.newGroup().append("id", id).append("ts", ts))
    } finally w.close()
  }

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val prev = spark.conf.getAll.get(k)
    spark.conf.set(k, v)
    try f finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a single file and a multi-part directory read as Spark reads " +
    "them; the first file by path gives the plain schema") {
    val dir = tmpDir("graft-fsparquet-dir-")
    writeFile(spark.range(3).select(col("id"), lit("x").as("s")),
      s"$dir/single.parquet")
    assertExact(s"$dir/single.parquet", "a single file")
    val parts = s"$dir/parts"
    spark.range(4).select(col("id"), lit(1.5).as("d")).coalesce(2)
      .write.parquet(parts)
    spark.range(2).select(col("id"), lit("y").as("s"))
      .write.mode("append").parquet(parts)
    assertExact(parts, "a multi-part directory")
  }

  test("a partitioned directory: partition columns come from the paths") {
    val dir = tmpDir("graft-fsparquet-part-") + "/t"
    spark.range(6).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(dir)
    spark.range(2).select(col("id"), lit(7L).as("k"), lit("z").as("s"))
      .write.mode("append").partitionBy("k").parquet(dir)
    assertExact(dir, "a partitioned directory")
    assert(Fs.parquet(spark, dir, mergeSchema = true).columns.last == "k")
  }

  test("an append and a rewrite at the same path are never served the " +
    "old schema") {
    val dir = tmpDir("graft-fsparquet-rw-") + "/t"
    spark.range(3).select(col("id")).write.parquet(dir)
    assertExact(dir, "the first write")
    spark.range(2).select(col("id"), lit("a").as("s"))
      .write.mode("append").parquet(dir)
    assertExact(dir, "an append")
    spark.range(2).select(col("id").cast("string").as("id"),
      lit(2.0).as("d")).write.mode("overwrite").parquet(dir)
    assertExact(dir, "a rewrite")
  }

  test("merge order: a new file sorting before an older one puts its " +
    "new column first, as Spark's merge does") {
    val dir = tmpDir("graft-fsparquet-order-")
    writeFile(spark.range(2).select(col("id"), lit("o").as("old_col")),
      s"$dir/b.parquet")
    assert(Fs.parquet(spark, dir, mergeSchema = true).columns.toSeq ==
      Seq("id", "old_col"))
    writeFile(spark.range(2).select(col("id"), lit(1L).as("new_col")),
      s"$dir/a.parquet")
    val got = Fs.parquet(spark, dir, mergeSchema = true)
    assert(got.columns.toSeq == Seq("id", "new_col", "old_col"))
    assertExact(dir, "a new file sorting first")
  }

  test("a streaming file sink's output is read through its log, as " +
    "Spark reads it") {
    val dir = tmpDir("graft-fsparquet-sink-")
    spark.range(3).select(col("id"), lit("x").as("s")).write
      .parquet(s"$dir/in")
    spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in").writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$dir/out").awaitTermination()
    // a file the sink's log never committed, sorting first by path
    writeFile(spark.range(1).select(col("id").cast("string").as("id")),
      s"$dir/out/0-uncommitted.parquet")
    assertExact(s"$dir/out", "a file sink's output")
  }

  test("footers are converted under the current conf: nanosAsLong and " +
    "inferTimestampNTZ need no cache key") {
    val dir = tmpDir("graft-fsparquet-conf-")
    val ns = s"$dir/ns.parquet"
    writeRaw(ns, "message m { required int64 id; " +
      "required int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(1L -> 1700000000123456789L))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "true")(assertExact(ns, "ns-INT64 under nanosAsLong"))
    withConf(key, "false") {
      val want = intercept[Exception](spark.read.parquet(ns))
      val got = intercept[Exception](Fs.parquet(spark, ns))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
    }
    withConf(key, "true")(assert(
      Fs.parquet(spark, ns).schema("ts").dataType.typeName == "long"))
    val ntz = s"$dir/ntz.parquet"
    writeRaw(ntz, "message m { required int64 id; " +
      "required int64 ts (TIMESTAMP(MICROS,false)); }",
      Seq(1L -> 1700000000123456L))
    val infer = "spark.sql.parquet.inferTimestampNTZ.enabled"
    Seq("true" -> "timestamp_ntz", "false" -> "timestamp").foreach {
      case (v, t) => withConf(infer, v) {
        assertExact(ntz, s"TIMESTAMP_NTZ under $infer=$v")
        assert(Fs.parquet(spark, ntz).schema("ts").dataType.typeName == t)
      }
    }
  }

  test("footer cache: an unchanged input starts no job and reads no " +
    "footer; a fresh file starts no job; an append reads only the new " +
    "files' footers") {
    val dir = tmpDir("graft-fsparquet-cost-")
    writeFile(spark.range(3).toDF(), s"$dir/one.parquet")
    assert(cost(Fs.parquet(spark, s"$dir/one.parquet")) == (0, 1L))
    assert(cost(Fs.parquet(spark, s"$dir/one.parquet")) == (0, 0L))
    val t = s"$dir/t"
    spark.range(4).coalesce(2).write.parquet(t)
    assert(cost(Fs.parquet(spark, t, mergeSchema = true)) == (0, 2L))
    assert(cost(Fs.parquet(spark, t, mergeSchema = true)) == (0, 0L))
    spark.range(3).select(col("id"), lit("n").as("s")).coalesce(3)
      .write.mode("append").parquet(t)
    val added = Fs.listNames(t).count(_.endsWith(".parquet")) - 2
    assert(cost(Fs.parquet(spark, t, mergeSchema = true)) ==
      (0, added.toLong))
    assertExact(t, "an append after a cached read")
  }

  test("above the driver-side threshold it is Spark's inference, while " +
    "each read caches that many footers, until reads start no job") {
    val t = tmpDir("graft-fsparquet-big-") + "/t"
    (1 to 5).foreach(_ =>
      spark.range(1).coalesce(1).write.mode("append").parquet(t))
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold", "2") {
      assert(cost(Fs.parquet(spark, t, mergeSchema = true)) == (1, 2L))
      assert(cost(Fs.parquet(spark, t, mergeSchema = true)) == (1, 2L))
      assert(cost(Fs.parquet(spark, t, mergeSchema = true)) == (0, 1L))
      assertExact(t, "a warmed-up input")
    }
  }
}
