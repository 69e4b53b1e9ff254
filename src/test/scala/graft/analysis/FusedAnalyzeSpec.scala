package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{AnalyzeOracle, IndexBuilder, JsonField}
import graft.index.IndexBuilder.{PreToken, TokFlat}

/** Every analyze route of the build — the fused tokenize→group stream, its
  * `UTF8String` byte scan, the raw single-token path, the html/mmd/dict
  * analyzers fed token by token, JSON path terms and pre-tokenized input —
  * must be SEMANTICALLY IDENTICAL to the sorted oracle in src/test
  * ([[AnalyzeOracle]]: `Analyzer.tokenize`, a `TreeMap`, the codec pack):
  * same survivor count/fieldnorm and the same (term → tf, packed position
  * deltas) map. Per-doc term ORDER is deliberately unconstrained — the
  * grouper emits in first-seen order because no build consumer depends on
  * it (see `TokenGrouper.result` scaladoc); comparison canonicalizes both
  * sides by term. The battery covers ASCII, CJK, Turkic/Greek casing,
  * supplementary planes, stopword casing, remove-long UTF-8 boundaries,
  * table-growth sizes and grouper reuse across calls, over every analyzer
  * in `Analyzers.byName`.
  */
class FusedAnalyzeSpec extends AnyFunSuite {

  private val analyzers = graft.analysis.Analyzers.byName.keys.toSeq.sorted

  private val battery: Seq[String] = Seq(
    "",
    " ",
    "body1 body2 body1 body1 the a THE A tHe",
    "The quick Brown FOX jumps",
    "c++ c# f# x+y a#b",
    "Γειά ΣΟΥ Κόσμε ΣΊΣΥΦΟΣ", // Greek final-sigma lowercasing (String.toLowerCase special case)
    "İstanbul ıI IJssel", // dotted/dotless I expansion under toLowerCase
    "查hello世界 test 日本語のテキスト",
    "𝒜𝒷𝒸 𐍈word mixed𝔸scii", // supplementary-plane letters
    "x" * 150, // remove-long: 150 ASCII bytes
    "é" * 50, // exactly 100 UTF-8 bytes → dropped at limit
    ("é" * 49) + "e", // 99 bytes → kept
    "tab\tsep\nnewline nbsp und_score dash-dash dot.dot",
    (0 until 500).map(i => s"term$i").mkString(" "), // forces table growth
    Seq.fill(300)("same").mkString(" "), // forces TermAcc position-buffer growth
    // varint meta boundary cases: ≥16384 distinct terms (3-byte k), one
    // term with tf ≥16384 (3-byte tf + >16 KB packed position run), and a
    // single >16 KB token (3-byte termLen through the raw/whitespace route)
    (0 until 17000).map(i => s"t$i").mkString(" "),
    Seq.fill(17000)("rep").mkString(" "),
    "y" * 17000,
    "ÅNGSTRÖM straße MASSE Måns",
    // ASCII tokens flushed into the sink BEFORE the first non-ASCII byte:
    // the utf8 byte path must reset its partially-filled accumulator and
    // re-run the String route without cross-contamination
    "alpha beta the café gamma alpha",
    // the Kelvin sign lowercases to ASCII `k`: one term, `kelvin`, reached
    // through both the ASCII and the non-ASCII lookup of one table
    "\u212Aelvin kelvin KELVIN \u212Aelvin"
  ) ++ (0 until 200).map(i => graft.gen.PageGen.page(i.toLong).text)

  /** Canonical shape: (term → tf, packed position deltas) sorted by term.
    * Also asserts internal consistency of the flat offsets (monotone, blob
    * fully covered, no aliasing between slices).
    */
  private def canonical(tf: TokFlat, ctx: String): Seq[(String, Int, Seq[Byte])] = {
    val k = tf.termCount
    assert(tf.termOff(0) == 0 && tf.termOff(k) == tf.termBytes.length, s"termOff cover $ctx")
    assert(tf.posOff(0) == 0 && tf.posOff(k) == tf.posFlat.length, s"posOff cover $ctx")
    (0 until k).map { i =>
      (tf.term(i), tf.tf(i), tf.posSlice(i).toSeq)
    }.sortBy(_._1)
  }

  private def assertSame(name: String, input: String, a: TokFlat, b: TokFlat): Unit = {
    val ctx = s"analyzer=$name input=${input.take(60)}"
    assert(a.len == b.len, s"len $ctx")
    assert(a.norm == b.norm, s"norm $ctx")
    val ca = canonical(a, ctx)
    val cb = canonical(b, ctx)
    assert(ca.map(_._1) == cb.map(_._1), s"terms $ctx")
    assert(ca == cb, s"tf/positions $ctx")
  }

  test("fused path is output-identical to the legacy chain on the full battery") {
    for (name <- analyzers; input <- battery)
      assertSame(name, input,
        IndexBuilder.analyzeFieldFlat(name, input),
        AnalyzeOracle.analyze(name, input))
  }

  test("null input yields the empty TokFlat on both paths") {
    for (name <- analyzers)
      assertSame(name, "<null>",
        IndexBuilder.analyzeFieldFlat(name, null),
        AnalyzeOracle.analyze(name, null))
  }

  test("accumulator reuse across many documents on one thread stays correct") {
    // interleave growth-heavy and tiny docs so stale generations/pool reuse
    // would surface as cross-doc contamination
    val docs = (0 until 50).flatMap(i =>
      Seq(s"doc$i body${i % 7} body${i % 7} the", (0 until 300).map(j => s"w${i}_$j").mkString(" ")))
    for (input <- docs)
      assertSame("summa", input,
        IndexBuilder.analyzeFieldFlat("summa", input),
        AnalyzeOracle.analyze("summa", input))
  }

  test("utf8 byte path is output-identical to the legacy chain on the full battery") {
    import org.apache.spark.unsafe.types.UTF8String
    for (name <- analyzers; input <- battery)
      assertSame(name, input,
        IndexBuilder.analyzeFieldFlatUtf8(name, UTF8String.fromString(input)),
        AnalyzeOracle.analyze(name, input))
    for (name <- analyzers)
      assertSame(name, "<null>",
        IndexBuilder.analyzeFieldFlatUtf8(name, null),
        AnalyzeOracle.analyze(name, null))
  }

  test("complex bases still route through the legacy chain unchanged") {
    val html = "<p>link<sup>1</sup>2 and <b>bold</b> text</p>"
    assertSame("summa_html", html,
      IndexBuilder.analyzeFieldFlat("summa_html", html),
      AnalyzeOracle.analyze("summa_html", html))
  }

  test("json fields group like the oracle: nested objects, string arrays, numbers and bools") {
    val docs = Seq(
      """{"id": 7, "tags": ["red fox", "fox"], "meta": {"year": 2020, "ok": true}}""",
      """{"a": {"b": {"c": "deep text here", "d": [1, 2, 2.5, false]}}, "a.b": {"c": "dotted text"}}""",
      """{"tags": ["the fox", "The FOX jumps", "", "fox fox"], "n": [-1, 0, 1e300, -0.0]}""",
      """{"x": null, "y": [], "z": {}, "w": [[{"v": "nested array"}], "café ΣΊΣΥΦΟΣ 查询"]}""",
      """{"flags": [true, false, true], "big": 9223372036854775807}""",
      "{}", "", "not json", "[1, 2]")
    for (name <- Seq("summa", "default", "raw", "summa_html"); doc <- docs)
      assertSame(name, doc, JsonField.analyzeJson(name, doc), AnalyzeOracle.json(name, doc))
    assertSame("summa", "<null>", JsonField.analyzeJson("summa", null), AnalyzeOracle.json("summa", null))
  }

  test("pre-tokenized fields group like the oracle: unsorted input, repeated terms, null text") {
    val inputs: Seq[Seq[PreToken]] = Seq(
      Nil,
      Seq(PreToken(5, "b"), PreToken(0, "a"), PreToken(1, "b")),
      Seq(PreToken(9, "x"), PreToken(3, "y"), PreToken(7, "x"), PreToken(1, "x"), PreToken(3, "x")),
      Seq(PreToken(0, "a"), PreToken(1, null), null, PreToken(2, "a")),
      Seq(null, PreToken(4, null)),
      Seq(PreToken(300, "Café"), PreToken(2, "café"), PreToken(100000, "Café"), PreToken(0, "查")),
      (0 until 400).reverse.map(i => PreToken(i, s"t${i % 37}")))
    for (toks <- inputs)
      assertSame("pre-tokenized", toks.mkString(","),
        IndexBuilder.analyzePreTokenized(toks), AnalyzeOracle.preTokenized(toks))
  }
}
