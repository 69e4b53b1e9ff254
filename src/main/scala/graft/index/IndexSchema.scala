package graft.index

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
  def toJson(s: IndexSchema): String = {
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    def arr(xs: Seq[String]) = xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    val fields = s.fields.map(f =>
      s"""{"name":"${esc(f.name)}","analyzer":"${esc(f.analyzer)}",""" +
        s""""record":"${esc(f.record)}","type":"${esc(f.fieldType)}"}""").mkString("[", ",", "]")
    s"""{"key_field":"${esc(s.keyField)}","fields":$fields,""" +
      s""""default_fields":${arr(s.defaultFields)},"stored_fields":${arr(s.storedFields)}}"""
  }

  def fromJson(json: String): IndexSchema = {
    def strField(name: String): String =
      (s""""$name":"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(json)
        .map(m => unesc(m.group(1)))
        .getOrElse(sys.error(s"bad schema json (missing $name): $json"))
    def unesc(v: String) = v.replace("\\\"", "\"").replace("\\\\", "\\")
    def strArr(name: String): Seq[String] =
      (s""""$name":\\[([^\\]]*)\\]""").r.findFirstMatchIn(json).map { m =>
        """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1)).map(g => unesc(g.group(1))).toSeq
      }.getOrElse(Nil)
    val fieldObjs = """"fields":\[(.*?)\],"default_fields"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(sys.error(s"bad schema json: $json"))
    val fields = """\{[^}]*\}""".r.findAllIn(fieldObjs).map { o =>
      def f(n: String) = (s""""$n":"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(o)
        .map(m => unesc(m.group(1))).getOrElse(sys.error(s"bad field json: $o"))
      FieldDef(f("name"), f("analyzer"), f("record"), f("type"))
    }.toSeq
    IndexSchema(strField("key_field"), fields, strArr("default_fields"), strArr("stored_fields"))
  }

  /** Persist at `indexDir/_schema.json` (atomic tmp+rename, same discipline
    * as [[Snapshots.commit]]; last writer wins — the schema is immutable for
    * a given index in practice).
    */
  def write(spark: org.apache.spark.sql.SparkSession, indexDir: String, schema: IndexSchema): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".tmp-schema-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, true)
    out.write(toJson(schema).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, "_schema.json")
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); sys.error(s"schema publish failed at $dst") }
  }

  /** Load the persisted schema of an index dir, if present. */
  def load(spark: org.apache.spark.sql.SparkSession, indexDir: String): Option[IndexSchema] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/_schema.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
      in.close()
      Some(fromJson(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

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
