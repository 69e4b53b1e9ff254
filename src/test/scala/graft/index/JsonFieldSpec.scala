package graft.index

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.search._

/** Json field type + dotted-path queries — reference semantics:
  * typed path terms (`query_parser/utils.rs:14-37`), SummaQL path resolution
  * (`summa_ql.rs:601-602`, goldens `summa_ql.rs:1040-1060` test_json),
  * unique json key fields (`index_holder.rs:1040-1111`
  * test_unique_json_fields).
  */
class JsonFieldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(
      FieldDef("text", "summa", "position"),
      FieldDef("metadata", "summa", "position", fieldType = "json")),
    defaultFields = Seq("text"),
    storedFields = Nil
  )

  private val cfg = SummaQL.Config(defaultFields = Seq("text"), schema = Some(schema))

  // ------------------------------------------------------------- encodings

  test("sortable encodings preserve order lexicographically") {
    val longs = Seq(Long.MinValue, -1000L, -1L, 0L, 1L, 42L, 2020L, Long.MaxValue)
    val encL = longs.map(JsonField.sortableLong)
    assert(encL == encL.sorted, s"i64 encoding not order-preserving: $encL")
    assert(encL.forall(_.length == 16))
    val doubles = Seq(Double.NegativeInfinity, -1e9, -2.5, -0.0, 0.0, 2.5, 1e9, Double.PositiveInfinity)
    val encD = doubles.map(JsonField.sortableDouble)
    assert(encD.zip(encD.tail).forall { case (a, b) => a <= b }, s"f64 encoding not order-preserving: $encD")
  }

  test("castToTerm fast-value ladder: i64, f64, bool, then str") {
    assert(JsonField.castToTerm("a", "1", forceStr = false) == JsonField.i64Term("a", 1L))
    assert(JsonField.castToTerm("a", "2.5", forceStr = false) == JsonField.f64Term("a", 2.5))
    assert(JsonField.castToTerm("a", "true", forceStr = false) == JsonField.boolTerm("a", true))
    assert(JsonField.castToTerm("a", "xyz", forceStr = false) == JsonField.strTerm("a", "xyz"))
    assert(JsonField.castToTerm("a", "1", forceStr = true) == JsonField.strTerm("a", "1"))
  }

  test("analyzeJson flattens nested objects/arrays into typed path terms") {
    val tok = JsonField.analyzeJson(
      "summa", """{"id": 7, "tags": ["red fox", "fox"], "meta": {"year": 2020, "ok": true}}""")
    val terms = (0 until tok.termCount).map(i =>
      tok.term(i) -> ((tok.tf(i), PostingCodec.unpackPositions(tok.posSlice(i), Array(tok.tf(i))).head.toSeq))).toMap
    assert(terms.contains(JsonField.i64Term("id", 7L)))
    assert(terms.contains(JsonField.i64Term("meta.year", 2020L)))
    assert(terms.contains(JsonField.boolTerm("meta.ok", true)))
    // "red fox" tokenizes to red@0 fox@1; second array element continues: fox@2
    assert(terms(JsonField.strTerm("tags", "red")) == ((1, Seq(0))))
    assert(terms(JsonField.strTerm("tags", "fox")) == ((2, Seq(1, 2))))
    // total tokens: id(1) + red,fox,fox(3) + year(1) + ok(1) = 6
    assert(tok.len == 6)
    // byte-level golden of the sorted oracle's blob (term-sorted, packed
    // positions); the grouper's blob holds the same terms in first-seen order
    assert(tok.norm == 6)
    val sorted = AnalyzeOracle.json(
      "summa", """{"id": 7, "tags": ["red fox", "fox"], "meta": {"year": 2020, "ok": true}}""")
    assert((sorted.len, sorted.norm) == ((tok.len, tok.norm)))
    assert((0 until sorted.termCount).map(i => sorted.term(i) -> ((sorted.tf(i), sorted.posSlice(i).toSeq))).toMap ==
      (0 until tok.termCount).map(i => tok.term(i) -> ((tok.tf(i), tok.posSlice(i).toSeq))).toMap)
    assert(TypedFields.toHex(sorted.blob) ==
      "104b051401010a01011b010109020209010169640169383030303030303030303030303030376d6574612e6f6b" +
        "0162746d6574612e79656172016938303030303030303030303030376534746167730173666f78746167730173" +
        "726564000000010100")
    val empty = JsonField.analyzeJson("summa", "{}")
    assert((empty.len, empty.norm, TypedFields.toHex(empty.blob)) == ((0, 0, "010000")))
  }

  // ---------------------------------------- reference parser goldens (1040-1060)

  test("metadata.a:1 parses to a typed i64 json term (reference test_json)") {
    assert(SummaQL.parse("metadata.a:1", cfg) ==
      TermQuery("metadata", JsonField.i64Term("a", 1L)))
  }

  test("metadata.a:\"1\" parses to a str json term (quoted forces str)") {
    assert(SummaQL.parse("metadata.a:\"1\"", cfg) ==
      TermQuery("metadata", JsonField.strTerm("a", "1")))
  }

  test("metadata.a:\"1 2 3\" parses to a json phrase of str terms") {
    assert(SummaQL.parse("metadata.a:\"1 2 3\"", cfg) ==
      PhraseQuery("metadata", Seq(
        (0, JsonField.strTerm("a", "1")),
        (1, JsonField.strTerm("a", "2")),
        (2, JsonField.strTerm("a", "3"))), 0))
  }

  test("metadata.year:[2010 TO 2014] parses to a sortable i64 term range") {
    assert(SummaQL.parse("metadata.year:[2010 TO 2014]", cfg) ==
      TermRangeQuery("metadata",
        Some(JsonField.i64Term("year", 2010L)), Some(JsonField.i64Term("year", 2014L))))
  }

  test("metadata.id:* parses to a path-exists term range") {
    val q = SummaQL.parse("metadata.id:*", cfg)
    assert(q == TermRangeQuery("metadata",
      Some("id" + JsonField.Sep), Some("id" + JsonField.SepNext), true, false))
  }

  test("bare json field degrades to default-field words (reference errors)") {
    assert(SummaQL.parse("metadata:foo", cfg) ==
      BooleanQuery(Seq(
        (Occur.Should, TermQuery("text", "metadata")),
        (Occur.Should, TermQuery("text", "foo")))))
  }

  // --------------------------------------------------------------- end-to-end

  private def buildJsonIndex(): (String, Searcher) = {
    val rows = (0L until 60L).map { i =>
      val tag = s"src${i % 4}"
      val meta =
        s"""{"id": $i, "year": ${2000 + i % 25}, "tag": "$tag", "note": "alpha beta doc$i"}"""
      (i, s"word$i common token", meta)
    }
    val dir = Files.createTempDirectory("graft-json-index").toString
    IndexBuilder.build(spark, rows.toDF("doc_id", "text", "metadata"), schema, dir,
      "json-b0", IndexBuilder.BuildConf(numSegments = 3))
    (dir, new Searcher(new IndexReader(spark, dir), schema))
  }

  private def keys(s: Searcher, q: Query): Set[Long] =
    s.reader.docs.select(col("segment_id"), col("doc_id"), col("key"))
      .join(s.search(q), Seq("segment_id", "doc_id"))
      .select("key").collect().map(_.getString(0).toLong).toSet

  test("end-to-end: typed term, str term, numeric range, exists over json paths") {
    val (_, s) = buildJsonIndex()
    // i64 equality
    assert(keys(s, SummaQL.parse("metadata.id:7", cfg)) == Set(7L))
    // analyzed str term: every doc's note has "alpha"
    assert(keys(s, SummaQL.parse("metadata.note:alpha", cfg)) == (0L until 60L).toSet)
    assert(keys(s, SummaQL.parse("metadata.note:doc41", cfg)) == Set(41L))
    // str equality on tag
    assert(keys(s, SummaQL.parse("metadata.tag:src2", cfg)) == (0L until 60L).filter(_ % 4 == 2).toSet)
    // numeric range (sortable i64 encoding → lexicographic term range)
    val expect = (0L until 60L).filter(i => { val y = 2000 + i % 25; y >= 2010 && y <= 2014 }).toSet
    assert(keys(s, SummaQL.parse("metadata.year:[2010 TO 2014]", cfg)) == expect)
    assert(keys(s, SummaQL.parse("metadata.year:[* TO 2004]", cfg)) ==
      (0L until 60L).filter(i => 2000 + i % 25 <= 2004).toSet)
    // path exists: all docs have id; no doc has "nope"
    assert(keys(s, SummaQL.parse("metadata.id:*", cfg)) == (0L until 60L).toSet)
    assert(keys(s, SummaQL.parse("metadata.nope:*", cfg)) == Set.empty[Long])
    // json phrase over the analyzed note
    assert(keys(s, SummaQL.parse("metadata.note:\"alpha beta\"", cfg)) == (0L until 60L).toSet)
    assert(keys(s, SummaQL.parse("metadata.note:\"beta alpha\"", cfg)) == Set.empty[Long])
  }

  test("unique json key field: upsert sequence of reference test_unique_json_fields") {
    val uschema = IndexSchema(
      keyField = "metadata.id",
      fields = Seq(FieldDef("metadata", "summa", "position", fieldType = "json")),
      defaultFields = Seq("metadata")
    )
    val dir = Files.createTempDirectory("graft-json-unique").toString
    def add(jsons: String*): Unit = {
      val df = jsons.toSeq.toDF("metadata")
      Maintenance.addDocuments(spark, dir, uschema, df, "u",
        Maintenance.ConflictStrategy.Overwrite, IndexBuilder.BuildConf(numSegments = 1))
    }
    def count(): Long = {
      val r = new IndexReader(spark, dir)
      r.applyDeletes(r.docs).count()
    }
    add("""{"id": 1}""", """{"id": 2}""", """{"id": 3}""")
    assert(count() == 3)
    add("""{"id": "g"}""")
    assert(count() == 4)
    add("""{"id": "g"}""")
    assert(count() == 4)
    add("""{"id": 2}""", """{"id": 4}""")
    assert(count() == 5)
    // typed keys: int 2 and str "2" are DIFFERENT (reference typed terms)
    add("""{"id": "2"}""")
    assert(count() == 6)
  }
}
