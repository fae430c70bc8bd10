package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events `ts` rule of [[Relational.eventsTs]] on a nanosecond-INT64
  * file: the probe needs `spark.sql.legacy.parquet.nanosAsLong`, the
  * reads under its schema do not, and the session keeps its own value. */
class EventsTsSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tmpDir}

  private val key = "spark.sql.legacy.parquet.nanosAsLong"

  /** `events.parquet` with `ts` as INT64 TIMESTAMP(NANOS), written by
    * parquet-mr's example writer (Spark writes no nanosecond type). */
  private def nsEvents(dir: String, ts: Seq[Long]): Unit = {
    val t = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required int64 user_id; required binary event_type (STRING); " +
        "required double value; required binary props (STRING); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(t).build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(t)
    try ts.zipWithIndex.foreach { case (v, i) =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", v)
        .append("user_id", i.toLong % 3).append("event_type", "click")
        .append("value", 1.25).append("props", "{\"k\": 1}"))
    } finally w.close()
  }

  test("ns-INT64 events: truncated micros, and the session conf is " +
    "unchanged by a query") {
    val dir = tmpDir("graft-events-ns-")
    val ns = Seq(1700000000123456789L, 1700003600000000999L)
    nsEvents(dir, ns)
    assert(!spark.conf.getAll.contains(key))
    val micros = Relational.events(spark, dir)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(micros == ns.map(_ / 1000))
    val hourly = Relational.queries("q_events_hourly")(spark, dir).collect()
    assert(hourly.map(_.getAs[Long]("n")).sum == 2L)
    assert(!spark.conf.getAll.contains(key))
    spark.conf.set(key, "false")
    try {
      Relational.queries("q_events_hourly")(spark, dir).collect()
      assert(spark.conf.get(key) == "false")
    } finally spark.conf.unset(key)
  }
}
