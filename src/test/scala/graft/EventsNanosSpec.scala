package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.operators.BehaviorOps

/** The TIMESTAMP(NANOS) generation of the `events` table: Spark reads
  * it only as a raw long under `spark.sql.legacy.parquet.nanosAsLong`,
  * which `Tables.events` sets itself. Both the loader and the
  * private-session `eventSeq` build must see epoch-nanos longs as the
  * first read of a fresh session.
  */
class EventsNanosSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nanos = Seq(1700000000123456789L, 1700000001000000001L, 1700000002999999999L)

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-events-nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
           required int64 event_id;
           required int64 ts (TIMESTAMP(NANOS,false));
           required int64 user_id;
           required binary event_type (STRING);
           required double value;
         }""")
    val out = HadoopOutputFile.fromPath(
      new Path(d.resolve("events.parquet").toString), new Configuration())
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.5))
    } finally w.close()
    d.toString
  }

  test("Tables.events reads TIMESTAMP(NANOS) as epoch-nanos LongType, fresh session") {
    val df = Tables.events(spark.newSession(), dir)
    assert(df.schema("ts").dataType === LongType)
    assert(df.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq === nanos)
  }

  test("eventSeq over TIMESTAMP(NANOS) events: epoch-nanos LongType, fresh session") {
    val caller = spark.newSession()
    val before = caller.conf.getAll
    val df = BehaviorOps.eventSeq(caller, dir)
    assert(df.schema("ts_ns").dataType === LongType)
    assert(df.orderBy("event_id").select("ts_ns").collect().map(_.getLong(0)).toSeq === nanos)
    assert(caller.conf.getAll === before, "the build runs on a private session")
  }
}
