package graft.index

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.analysis.Analyzers

/** Json field type: a document column holding a JSON object, indexed as
  * typed dotted-path terms — the reference's dynamic-schema escape hatch
  * (tantivy `JsonObject` fields; summa uses them for `metadata.*` queries:
  * `/root/reference/summa-core/src/components/query_parser/utils.rs:14-37`
  * term building, `summa_ql.rs:601-602` path resolution,
  * `index_holder.rs:1040-1111` unique json fields).
  *
  * Spark mapping: every JSON leaf becomes a term in the SAME posting space
  * as text fields — `term = <path> SEP <type-tag> <encoded-value>`:
  *
  *   - string leaves are analyzed with the field's analyzer; each token is a
  *     `s`-tagged term carrying within-path positions (so json phrases work);
  *   - integral numbers → `i` + order-preserving sortable hex of the i64
  *     (sign-flipped, 16 lowercase hex digits), so a LEXICOGRAPHIC term range
  *     equals the numeric range — json numeric range queries are plain
  *     `TermRangeQuery`s pushed down to the parquet term column;
  *   - non-integral numbers → `f` + IEEE-754 sortable hex (same property);
  *   - booleans → `b` + `t`/`f`; nulls are not indexed.
  *
  * Paths use expand-dots semantics (`a.b` object nesting and a literal
  * `"a.b"` key index identically, like tantivy's expand_dots option); array
  * elements index under their parent path. A path-exists query is the term
  * range `[path+SEP, path+SEP_NEXT)` — no extra structures needed.
  */
object JsonField {

  val Sep = '\u0001'
  val SepNext = '\u0002'

  /** Order-preserving unsigned hex of a sign-flipped i64. */
  def sortableLong(v: Long): String = {
    val u = v ^ Long.MinValue
    val h = java.lang.Long.toHexString(u)
    "0" * (16 - h.length) + h
  }

  /** Order-preserving hex of an IEEE-754 double (standard sortable-bits
    * trick: flip all bits for negatives, flip the sign bit for positives).
    */
  def sortableDouble(v: Double): String = {
    val bits = java.lang.Double.doubleToLongBits(v)
    val u = if (bits < 0) ~bits else bits ^ Long.MinValue
    val h = java.lang.Long.toHexString(u)
    "0" * (16 - h.length) + h
  }

  def strTerm(path: String, token: String): String = s"$path${Sep}s$token"
  def i64Term(path: String, v: Long): String = s"$path${Sep}i${sortableLong(v)}"
  def f64Term(path: String, v: Double): String = s"$path${Sep}f${sortableDouble(v)}"
  def boolTerm(path: String, v: Boolean): String = s"$path${Sep}b${if (v) "t" else "f"}"

  /** Query-side term building (reference `cast_field_to_term`,
    * `query_parser/utils.rs:14-37`): quoted/forced values stay strings;
    * unquoted values try the fast-value ladder (i64, then f64, then bool)
    * and fall back to string.
    */
  def castToTerm(path: String, value: String, forceStr: Boolean): String = {
    if (forceStr) return strTerm(path, value)
    toLong(value).map(i64Term(path, _))
      .orElse(toDouble(value).map(f64Term(path, _)))
      .orElse(toBool(value).map(boolTerm(path, _)))
      .getOrElse(strTerm(path, value))
  }

  private def toLong(s: String): Option[Long] =
    try Some(java.lang.Long.parseLong(s)) catch { case _: NumberFormatException => None }
  private def toDouble(s: String): Option[Double] =
    try {
      val d = java.lang.Double.parseDouble(s)
      if (java.lang.Double.isFinite(d)) Some(d) else None
    } catch { case _: NumberFormatException => None }
  private def toBool(s: String): Option[Boolean] = s match {
    case "true" => Some(true)
    case "false" => Some(false)
    case _ => None
  }

  private val mapper = new ObjectMapper()

  /** Typed unique-key extraction for json-path key fields
    * (`unique_fields: ["metadata.id"]`, `index_holder.rs:1040-1111`): the
    * key is the type-tagged leaf value, so `{"id": 2}` and `{"id": "2"}`
    * are DIFFERENT keys (reference typed-term semantics). Missing path →
    * null (callers treat the doc as keyless/always-new).
    */
  def typedKey(json: String, path: String): String = {
    if (json == null) return null
    val node =
      try mapper.readTree(json)
      catch { case _: Exception => return null }
    val leaf = resolvePath(node, path)
    if (leaf == null || leaf.isNull || leaf.isMissingNode) null
    else if (leaf.isIntegralNumber) "i" + leaf.asLong()
    else if (leaf.isNumber) "f" + leaf.asDouble()
    else if (leaf.isBoolean) "b" + leaf.asBoolean()
    else if (leaf.isTextual) "s" + leaf.asText()
    else null
  }

  private def resolvePath(root: JsonNode, path: String): JsonNode = {
    var node = root
    path.split('.').foreach { seg =>
      if (node == null) return null
      node = node.get(seg)
    }
    node
  }

  /** Index-side analysis of one json document value into the builder's
    * [[IndexBuilder.TokFlat]] shape (same as text fields: per-term tf +
    * positions + a quantized fieldnorm over the total token count).
    */
  def analyzeJson(analyzerName: String, json: String): IndexBuilder.TokFlat =
    IndexBuilder.group(pathTerms(analyzerName, json, _))

  /** Emit every (path term, within-path position) of one json document
    * value in walk order; nothing for null, empty or invalid json.
    */
  private[index] def pathTerms(analyzerName: String, json: String, emit: (String, Int) => Unit): Unit = {
    if (json == null || json.isEmpty) return
    val node =
      try mapper.readTree(json)
      catch { case _: Exception => return }
    val analyzer = Analyzers(analyzerName)
    val pathPos = mutable.Map.empty[String, Int] // per-path position offset

    def walk(n: JsonNode, path: String): Unit = {
      if (n == null || n.isNull) ()
      else if (n.isObject) {
        val it = n.fields()
        while (it.hasNext) {
          val e = it.next()
          val child = if (path.isEmpty) e.getKey else s"$path.${e.getKey}"
          walk(e.getValue, child)
        }
      } else if (n.isArray) {
        val it = n.elements()
        while (it.hasNext) walk(it.next(), path)
      } else if (n.isTextual) {
        val toks = analyzer.tokenize(n.asText())
        val off = pathPos.getOrElse(path, 0)
        toks.foreach(t => emit(strTerm(path, t.text), off + t.position))
        // advance past this leaf's pre-filter span so a following leaf under
        // the same path (array of strings) continues, not overlaps
        val span = toks.lastOption.map(_.position + 1).getOrElse(0)
        pathPos(path) = off + span
      } else if (n.isIntegralNumber) {
        val off = pathPos.getOrElse(path, 0)
        emit(i64Term(path, n.asLong()), off)
        pathPos(path) = off + 1
      } else if (n.isNumber) {
        val off = pathPos.getOrElse(path, 0)
        emit(f64Term(path, n.asDouble()), off)
        pathPos(path) = off + 1
      } else if (n.isBoolean) {
        val off = pathPos.getOrElse(path, 0)
        emit(boolTerm(path, n.asBoolean()), off)
        pathPos(path) = off + 1
      }
    }

    walk(node, "")
  }
}
