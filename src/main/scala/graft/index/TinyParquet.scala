package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types.StructType

/** Driver-side parquet for the index's small reads and writes. It writes
  * the stats tail of both segment writers (the per-segment metrics lineage
  * append and the fieldstats partitions), and it reads what a fresh
  * `IndexReader` needs before any query runs: fieldstats, tombstones and
  * the posting files of a lookup's terms.
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
private[graft] object TinyParquet {

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

  /** The rows of the parquet file `file`, read on the driver with no
    * Spark job: each row holds a value per name in `columns`, in that order
    * — an `Int` for int32, a `Long` for int64, a `String` for UTF8, an
    * `Array[Byte]` for any other binary, and null where the value or the
    * whole column is absent. `where` keeps only the rows whose UTF8 column
    * `c` holds one of `where(c)` (each such `c` one of `columns`); a row it
    * drops decodes no other value.
    *
    * The read options are built from `conf` as Spark's own footer reader
    * builds them; parquet-mr's plain defaults load a new Hadoop
    * configuration for every file.
    */
  def read(conf: Configuration, file: FileStatus, columns: Seq[String],
      where: Map[String, Set[String]] = Map.empty): Vector[Array[Any]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())
    try {
      val schema = reader.getFileMetaData.getSchema
      // a filter on a column the file lacks keeps nothing: its values are null
      if (!where.keys.forall(schema.containsField)) return Vector.empty
      val present = columns.filter(schema.containsField)
      val requested = new MessageType(schema.getName, present.map(c => schema.getType(schema.getFieldIndex(c))): _*)
      reader.setRequestedSchema(requested)
      val slots = present.map(columns.indexOf).toArray
      val filters = present.indices.filter(i => where.contains(present(i))).toArray
      val wanted = present.map(c => where.getOrElse(c, Set.empty[String]).map(Binary.fromString)).toArray
      val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
      val out = Vector.newBuilder[Array[Any]]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val store = new ColumnReadStoreImpl(pages, new GroupRecordConverter(requested).getRootConverter,
          requested, createdBy)
        val readers = requested.getColumns.asScala.map(store.getColumnReader).toArray
        var n = pages.getRowCount
        while (n > 0) {
          if (filters.forall(i => defined(readers(i)) && wanted(i).contains(readers(i).getBinary))) {
            val row = new Array[Any](columns.size)
            var i = 0
            while (i < readers.length) {
              if (defined(readers(i))) row(slots(i)) = value(readers(i))
              i += 1
            }
            out += row
          }
          // every defined value not read is skipped, so each column stays on its row
          var i = 0
          while (i < readers.length) {
            if (defined(readers(i))) readers(i).skip()
            readers(i).consume()
            i += 1
          }
          n -= 1
        }
        pages = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  private def defined(r: ColumnReader): Boolean =
    r.getCurrentDefinitionLevel == r.getDescriptor.getMaxDefinitionLevel

  /** The current value of `r`, as [[read]] returns it. */
  private def value(r: ColumnReader): Any = {
    val t = r.getDescriptor.getPrimitiveType
    t.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => r.getInteger
      case PrimitiveTypeName.INT64 => r.getLong
      case PrimitiveTypeName.BINARY if t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType =>
        r.getBinary.toStringUsingUTF8
      case PrimitiveTypeName.BINARY => r.getBinary.getBytes
      case other => sys.error(s"${t.getName}: unsupported type $other")
    }
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
