package graft.index

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.search._

/** Pre-tokenized string input (reference `summa_document.rs:150-160`: a JSON
  * object on a str field parses as tantivy `PreTokenizedString` and indexes
  * the given tokens verbatim, bypassing the analyzer).
  */
class PreTokenizedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  test("analyzePreTokenized groups like the analyzer but keeps given tokens/positions") {
    val tf = IndexBuilder.analyzePreTokenized(Seq(
      IndexBuilder.PreToken(0, "Hello"), // NOT lowercased — analyzer bypassed
      IndexBuilder.PreToken(1, "world"),
      IndexBuilder.PreToken(5, "Hello"))) // gap positions preserved
    assert(tf.len == 3)
    assert(tf.norm == FieldNorm.encode(3L))
    assert(tf.termsDecoded.toSeq == Seq("Hello", "world")) // first-seen (position) order
    val hello = tf.termsDecoded.indexOf("Hello")
    assert(tf.tf(hello) == 2)
    assert(PostingCodec.unpackPositions(tf.posSlice(hello), Array(2)).head.toSeq == Seq(0, 5))
    // equivalence with the analyzed path (the sorted oracle) when tokens
    // match what the analyzer would emit
    val analyzed = AnalyzeOracle.analyze("summa", "hello world")
    val pre = IndexBuilder.analyzePreTokenized(Seq(
      IndexBuilder.PreToken(0, "hello"), IndexBuilder.PreToken(1, "world")))
    assert(pre.len == analyzed.len && pre.norm == analyzed.norm)
    assert((0 until pre.termCount).map(i => (pre.term(i), pre.tf(i))) ==
      (0 until analyzed.termCount).map(i => (analyzed.term(i), analyzed.tf(i))))
    // byte-level golden of the sorted oracle's blob: unsorted input, a repeated term
    val golden = AnalyzeOracle.preTokenized(Seq(
      IndexBuilder.PreToken(5, "b"), IndexBuilder.PreToken(0, "a"), IndexBuilder.PreToken(1, "b")))
    assert(golden.len == 3)
    assert(TypedFields.toHex(golden.blob) == "0702020101010102026162000104")
    // null tokens and null-text tokens carry no term: dropped, not counted
    val sparse = IndexBuilder.analyzePreTokenized(Seq(
      IndexBuilder.PreToken(0, "a"), IndexBuilder.PreToken(1, null), null))
    assert(sparse.len == 1 && sparse.norm == FieldNorm.encode(1L))
    assert(sparse.termsDecoded.toSeq == Seq("a"))
  }

  test("build round-trip: struct<text, tokens> column bypasses the analyzer, positions survive") {
    val dir = Files.createTempDirectory("graft-pretok").toString
    // doc 1: pre-tokenized — tokens disagree with the raw text on purpose
    //        (the raw text would tokenize to completely different terms)
    // doc 2: pre-tokenized with NULL tokens — falls back to analyzing text
    // doc 3: phrase-positioned tokens with a stop-word-style gap (0, 2)
    // doc 4: a null-text token between two real ones — dropped, the rest indexed
    val rows = Seq(
      (1L, ("ignored raw text", Seq((0, "spark"), (1, "window")))),
      (2L, ("merge table", null: Seq[(Int, String)])),
      (3L, ("also ignored", Seq((0, "spark"), (2, "window")))),
      (4L, ("ignored too", Seq((0, "delta"), (1, null), (2, "epsilon"))))
    ).toDF("doc_id", "text")
      .selectExpr("doc_id",
        "named_struct('text', text._1, 'tokens', " +
          "transform(text._2, t -> named_struct('position', t._1, 'text', t._2))) AS text")
    IndexBuilder.build(spark, rows, schema, dir, "pre",
      IndexBuilder.BuildConf(numSegments = 1))
    val s = new Searcher(new IndexReader(spark, dir), schema)
    def ids(q: Query): Set[Long] =
      s.reader.docs.join(s.search(q), Seq("segment_id", "doc_id"))
        .select("key").collect().map(_.getString(0).toLong).toSet
    // provided tokens indexed; raw text of pre-tokenized docs NOT indexed
    assert(ids(TermQuery("text", "spark")) == Set(1L, 3L))
    assert(ids(TermQuery("text", "ignored")) == Set.empty)
    // the null-tokens row went through the analyzer
    assert(ids(TermQuery("text", "merge")) == Set(2L))
    // positions: doc 1 has the exact phrase, doc 3 only at slop >= 1
    assert(ids(PhraseQuery("text", Seq((0, "spark"), (1, "window")), 0)) == Set(1L))
    assert(ids(PhraseQuery("text", Seq((0, "spark"), (1, "window")), 1)) == Set(1L, 3L))
    // the row with a null-text token built; its other tokens keep their positions
    assert(ids(TermQuery("text", "epsilon")) == Set(4L))
    assert(ids(PhraseQuery("text", Seq((0, "delta"), (2, "epsilon")), 0)) == Set(4L))
  }
}
