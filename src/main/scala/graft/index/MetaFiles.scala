package graft.index

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one codec of an index's small JSON metadata files
  * (`_snapshots/vNNNNNN.json`, `_schema.json`, `_checkpoints/wave_N.json`):
  * compact Jackson trees whose keys keep their insertion order. Raw control
  * characters inside strings are accepted on read, as older writers left
  * them unescaped.
  */
private[index] object MetaFiles {

  val mapper: JsonMapper =
    JsonMapper.builder().enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** An object with `kvs` in order; a `Seq` value becomes an array. */
  def obj(kvs: (String, Any)*): ObjectNode = mapper.valueToTree(ListMap(kvs.map {
    case (k, xs: Seq[_]) => k -> xs.asJava
    case kv              => kv
  }: _*).asJava)

  def ints(n: JsonNode): Seq[Int] = n.asScala.map(_.asInt).toSeq

  def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** `decode` of the file at `path`, `None` when it is absent. A file that
    * does not parse or decode fails with an exception naming it.
    */
  def read[T](fs: FileSystem, path: Path)(decode: JsonNode => T): Option[T] =
    Option.when(fs.exists(path)) {
      val in = fs.open(path)
      try decode(mapper.readTree(in))
      catch { case e: Exception => throw new IllegalStateException(s"bad metadata file $path: ${e.getMessage}", e) }
      finally in.close()
    }

  /** Write `json` to a hidden temp file beside `path`, then rename it over
    * `path`, so a reader sees the old file or the new one, never a part. A
    * filesystem whose rename does not replace gets a delete first.
    */
  def publish(fs: FileSystem, path: Path, json: JsonNode): Unit = {
    val tmp = new Path(path.getParent, s".tmp-${java.util.UUID.randomUUID()}-${path.getName}")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(json)) finally out.close()
    val done = fs.rename(tmp, path) || (fs.delete(path, false) && fs.rename(tmp, path))
    if (!done) { fs.delete(tmp, false); sys.error(s"could not publish $path") }
  }
}
