package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types.StructType

/** Driver-side writer for the stats tail of both segment writers: the
  * per-segment metrics lineage append and the fieldstats partitions.
  *
  * Each gains a handful of rows per segment — launching a Spark job
  * (parallelize → write) for them costs a full job-scheduling round-trip
  * (~0.2 s), which is pure FIXED build tail: the same price at every core
  * count, so it taxes the N→4N scaling-efficiency evidence directly. A
  * plain parquet-mr writer writes the handful of rows in single-digit
  * milliseconds with no job at all.
  *
  * Layout matches Spark's own parquet writer conventions (standard 3-level
  * LIST, INT64 micros timestamp, hive-style `segment_id=N` partition
  * directories) so directories mixing Spark-written and driver-written
  * files read back uniformly.
  */
private[index] object TinyParquet {

  /** The `metrics` table: `created_at` in microseconds. */
  val metrics: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary build_id (UTF8);
      |  optional int32 segment_id;
      |  optional int64 num_docs;
      |  optional int64 num_terms;
      |  optional int64 posting_bytes;
      |  optional int32 merge_depth;
      |  optional group parent_segments (LIST) {
      |    repeated group list {
      |      optional binary element (UTF8);
      |    }
      |  }
      |  optional int64 created_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** One `fieldstats` partition: `IndexBuilder.fieldStatsSchema` without
    * its partition column, converted as Spark's own parquet writer does.
    */
  val fieldStats: MessageType = new SparkToParquetSchemaConverter().convert(
    StructType(IndexBuilder.fieldStatsSchema.filterNot(_.name == "segment_id")))

  /** Write `rows` as one new parquet file of `schema` under `dir` (created
    * if absent). Each row holds a value per column in the schema's order:
    * an `Int` for int32, a `Long` for int64, a `String` for UTF8 and a
    * `Seq[String]` for a string list.
    */
  def append(conf: Configuration, dir: String, schema: MessageType, rows: Seq[Seq[Any]]): Unit = {
    val file = new Path(dir, s"part-${java.util.UUID.randomUUID()}.parquet")
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withType(schema)
      .withConf(conf)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = factory.newGroup()
      row.zipWithIndex.foreach {
        case (v: Int, i)     => g.add(i, v)
        case (v: Long, i)    => g.add(i, v)
        case (v: String, i)  => g.add(i, v)
        case (vs: Seq[_], i) => val l = g.addGroup(i); vs.foreach(v => l.addGroup(0).add(0, v.toString))
        case (v, i)          => sys.error(s"${schema.getFieldName(i)}: unsupported value $v")
      }
      writer.write(g)
    }
    finally writer.close()
  }

  /** Replace partition `segment_id=segmentId` of the table at `dir` with
    * `rows`; other partitions are untouched.
    */
  def replacePartition(conf: Configuration, dir: String, segmentId: Int, schema: MessageType,
      rows: Seq[Seq[Any]]): Unit = {
    val part = new Path(dir, s"segment_id=$segmentId")
    part.getFileSystem(conf).delete(part, true)
    append(conf, part.toString, schema, rows)
  }
}
