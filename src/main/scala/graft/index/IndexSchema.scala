package graft.index

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Index schema: which input columns are indexed, with which analyzer
  * (reference analog: the YAML tantivy schema parsed at
  * `/root/reference/summa-core/src/validators.rs:5-7`; field options
  * `docs/core/schema.md:58-69`).
  *
  * @param keyField      unique document key column (e.g. `url`); docIds are
  *                      the rank of the key within its segment, making them
  *                      deterministic across cluster sizes
  * @param fields        indexed text fields
  * @param defaultFields fields searched by bag-of-words queries
  * @param storedFields  source columns copied into the docs table verbatim
  *                      (the doc store); fast fields are just columns here
  */
final case class IndexSchema(
    keyField: String,
    fields: Seq[FieldDef],
    defaultFields: Seq[String],
    storedFields: Seq[String] = Nil
) {
  def field(name: String): Option[FieldDef] = fields.find(_.name == name)

  /** Indexed field name → whether its postings record positions. */
  def recordPositions: Map[String, Boolean] =
    fields.map(f => f.name -> (f.record == "position")).toMap

  /** Dotted-path key fields (`unique_fields: ["metadata.id"]`,
    * reference `index_holder.rs:1040-1111`) extract a TYPED leaf value from
    * the json column; plain column keys cast to string.
    */
  def keyColumn: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val jsonBase = fields.find(f =>
      f.fieldType == "json" && keyField.startsWith(f.name + "."))
    jsonBase match {
      case Some(f) =>
        val path = keyField.stripPrefix(f.name + ".")
        udf((s: String) => JsonField.typedKey(s, path)).apply(col(f.name))
      case None =>
        col(keyField).cast(org.apache.spark.sql.types.StringType)
    }
  }
}

/** @param record "basic" (docs only), "freq" (docs+tf), "position" (docs+tf+positions)
  * @param fieldType "text" (analyzed tokens) or "json" (typed dotted-path
  *                  terms, see [[JsonField]])
  */
final case class FieldDef(
    name: String,
    analyzer: String = "summa",
    record: String = "position",
    fieldType: String = "text"
)

object IndexSchema {

  /** Render as one-line JSON (tantivy persists its schema inside `meta.json`;
    * reference index create API carries it as `index_attributes` —
    * `/root/reference/summa-core/src/configs/core/mod.rs` schema section).
    * Stored at `indexDir/_schema.json` so an index is self-describing: SQL
    * table functions and multi-session readers need no caller-side schema.
    */
  def toJson(s: IndexSchema): String = MetaFiles.mapper.writeValueAsString(node(s))

  def fromJson(json: String): IndexSchema = decode(MetaFiles.mapper.readTree(json))

  private def node(s: IndexSchema): JsonNode =
    MetaFiles.obj("key_field" -> s.keyField,
      "fields" -> s.fields.map(f => MetaFiles.obj(
        "name" -> f.name, "analyzer" -> f.analyzer, "record" -> f.record, "type" -> f.fieldType)),
      "default_fields" -> s.defaultFields, "stored_fields" -> s.storedFields)

  private def decode(n: JsonNode): IndexSchema = {
    def strs(key: String) = n.path(key).asScala.map(_.asText).toSeq
    val fields = n.required("fields").asScala.map { f =>
      def str(key: String) = f.required(key).asText
      FieldDef(str("name"), str("analyzer"), str("record"), str("type"))
    }.toSeq
    IndexSchema(n.required("key_field").asText, fields, strs("default_fields"), strs("stored_fields"))
  }

  private def path(indexDir: String) = new Path(indexDir, "_schema.json")

  /** Persist at `indexDir/_schema.json` (atomic publish; last writer wins —
    * the schema is immutable for a given index in practice).
    */
  def write(spark: SparkSession, indexDir: String, schema: IndexSchema): Unit =
    MetaFiles.publish(MetaFiles.fs(spark, indexDir), path(indexDir), node(schema))

  /** Load the persisted schema of an index dir, if present. */
  def load(spark: SparkSession, indexDir: String): Option[IndexSchema] =
    MetaFiles.read(MetaFiles.fs(spark, indexDir), path(indexDir))(decode)

  /** Schema for the Common-Crawl-style pages table from BASELINE input_hint:
    * `(url string, warc_ts timestamp, html binary, text string, lang string)`.
    */
  val pages: IndexSchema = IndexSchema(
    keyField = "url",
    fields = Seq(
      FieldDef("text", analyzer = "summa", record = "position"),
      FieldDef("lang", analyzer = "raw", record = "basic")
    ),
    defaultFields = Seq("text"),
    storedFields = Seq("warc_ts", "lang")
  )

  /** `documents` plus a synthesized `metadata` json column (driver entries
    * exercise typed dotted-path queries against a DuckDB oracle on the raw
    * columns the json is derived from).
    */
  val documentsJson: IndexSchema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(
      FieldDef("text", analyzer = "summa", record = "position"),
      FieldDef("metadata", analyzer = "summa", record = "position", fieldType = "json")
    ),
    defaultFields = Seq("text")
  )

  /** Schema over the driver-generated `documents` test table. */
  val documents: IndexSchema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(
      FieldDef("text", analyzer = "summa", record = "position"),
      FieldDef("lang", analyzer = "raw", record = "basic"),
      FieldDef("source", analyzer = "raw", record = "basic")
    ),
    defaultFields = Seq("text"),
    storedFields = Seq("lang", "source", "n_chars")
  )
}
