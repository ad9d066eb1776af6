package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd}

import graft.operators.Readers

/** `Tables.load(.., "events")` over both physical layouts of `events.ts`:
  * TIMESTAMP(NANOS), which needs the legacy `nanosAsLong` read (set
  * from the footer, with no failing job), and
  * TIMESTAMP(MICROS), which must leave the session's parquet confs (and
  * so every memoized `Readers.parquet` schema) untouched.
  */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Write `rows` of (event_id, ts) as a parquet `events` table whose
    * `ts` is an int64 TIMESTAMP(`unit`, UTC-adjusted). */
  private def writeEvents(dir: String, unit: String, rows: Seq[(Long, Long)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,true)); }")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ts))
    } finally w.close()
  }

  test("TIMESTAMP(NANOS) events load with exact ts_ns and microsecond-truncated ts") {
    spark.conf.unset(NanosAsLong)
    val dir = tmpDir("events_nanos").toString
    writeEvents(dir, "NANOS", Seq(1L -> 1700000000123456789L, 2L -> 1700000001999999999L))
    val failedJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobResult != JobSucceeded) failedJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = Tables.load(spark, dir, "events")
        .selectExpr("event_id", "ts_ns", "unix_micros(ts)").orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      ListenerDrain(spark.sparkContext)
      assert(failedJobs.get == 0, s"the NANOS load ran ${failedJobs.get} failing jobs")
      assert(rows == Seq(
        (1L, 1700000000123456789L, 1700000000123456L),
        (2L, 1700000001999999999L, 1700000001999999L)))
      assert(spark.conf.getOption(NanosAsLong).contains("true"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(NanosAsLong)
    }
  }

  test("a TIMESTAMP(MICROS) events load sets no parquet conf: memoized schemas stay current") {
    spark.conf.unset(NanosAsLong)
    val dir = tmpDir("events_micros").toString
    writeEvents(dir, "MICROS", Seq(1L -> 1700000000123456L))
    val other = s"$dir/other.parquet"
    spark.range(10).write.parquet(other)
    Readers.parquet(spark, other)
    val ev = Tables.load(spark, dir, "events").selectExpr("ts_ns", "unix_micros(ts)").collect()
    assert(ev.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1700000000123456000L, 1700000000123456L)))
    val (_, jobs) = countJobs(Readers.parquet(spark, other))
    assert(jobs == 0, s"the re-read of a memoized path ran $jobs jobs")
    assert(!spark.conf.getAll.contains(NanosAsLong), "the events load set nanosAsLong")
  }
}
