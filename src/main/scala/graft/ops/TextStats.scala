package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.analysis.StopWords

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, document fingerprinting.
  * Counting/quality are pure column expressions (codegen, DuckDB-mirrorable);
  * langid/fingerprint are per-row UDFs (embarrassingly parallel).
  */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(split(trim(text), "\\s+")))

  /** Stop-word ratio over whitespace tokens (the classic quality signal).
    *
    * Compiled loop UDF (r6): the former column form ran an interpreted
    * `filter(words, isin(<321 stop words>))` — a linear 321-literal `In`
    * scan per TOKEN per evaluation, and [[qualityScore]] evaluates the
    * ratio a second time. The loop probes the stop SET once per token.
    * Semantics identical to
    * `when(size(words)===0, 0.0).otherwise(size(filter(words, isin(stops)))
    * .cast(double)/size(words))` over `split(trim(text), "\\s+")`: same
    * space-only trim, same Java-regex split keeping inner empties, same
    * double division — pinned bitwise by an OpsSpec parity test.
    */
  def stopwordRatio(text: Column): Column = stopwordRatioUdf(text)

  private def spaceTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  private def swRatio(text: String): Double = {
    val t = spaceTrim(text)
    if (t.isEmpty) 0.0
    else {
      val words = wsPattern.split(t, -1)
      var stops = 0
      var i = 0
      while (i < words.length) {
        if (StopWords.All.contains(words(i))) stops += 1
        i += 1
      }
      stops.toDouble / words.length
    }
  }

  private val stopwordRatioUdf = udf { (text: String) => Option(text).map(swRatio) }

  /** Oracle-portable 4-decimal rounding: `floor(x·10⁴ + 0.5)/10⁴` over the
    * raw binary double. Spark's `round(double, d)` rounds the double's
    * SHORTEST DECIMAL STRING (`BigDecimal.valueOf`) while DuckDB rounds the
    * binary value, so the two disagree exactly when the underlying double
    * sits on a `.xxxx5` boundary (observed once in 5,000 docs at sf0.1).
    * This formula is the same IEEE op sequence in both engines, so the
    * results are bit-identical always.
    */
  def round4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0

  /** Composite quality score in [0,1]:
    * 0.4·min(len/500,1) + 0.3·min(4·stopword_ratio,1) + 0.3·alpha_ratio.
    * Deterministic arithmetic, mirrored exactly by the DuckDB oracle.
    */
  def qualityScore(text: Column): Column = {
    val lenPart = least(length(text).cast("double") / 500.0, lit(1.0))
    val swPart = least(stopwordRatio(text) * 4.0, lit(1.0))
    val alphaPart =
      when(length(text) === 0, lit(0.0))
        .otherwise(
          (length(text) - length(regexp_replace(text, "[a-zA-Z]", ""))).cast("double") /
            length(text))
    round4(lenPart * 0.4 + swPart * 0.3 + alphaPart * 0.3)
  }

  /** Character-trigram language-ID over a tiny built-in profile set (en, de,
    * es, fr, ru). Returns the best-scoring language code or "und".
    * Profiles are hand-picked high-frequency trigrams — public linguistic
    * knowledge, no external data.
    */
  private val profiles: Map[String, Set[String]] = Map(
    "en" -> Set(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng ",
      " to", "to ", "ion", " in", "ed ", "is ", " is", "at ", "tio", "ent"),
    "de" -> Set("en ", "er ", " de", "der", "ie ", " di", "die", "und", " un", "nd ",
      "ein", " ei", "ich", "ch ", "sch", "ung", " ge", "che", "ten", "das"),
    "es" -> Set(" de", "de ", " la", "la ", "os ", " el", "el ", "as ", "ión", "ue ",
      " qu", "que", "ent", " en", "en ", "es ", " es", "ado", "los", " lo"),
    "fr" -> Set(" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "ion", " et",
      "et ", "re ", " qu", "que", "les", "ur ", "eur", "ant", "our", "ais"),
    "ru" -> Set(" на", "на ", " не", "не ", "ого", "его", " по", "ени", " пр", "ть ",
      "ост", " ст", "ая ", "ий ", "ов ", " ко", "ние", "льн", "что", " чт")
  )

  private val langIdUdf = udf { (text: String) =>
    if (text == null || text.length < 6) "und"
    else {
      val t = text.toLowerCase
      val counts = new java.util.HashMap[String, Int]()
      var i = 0
      while (i + 3 <= math.min(t.length, 4000)) {
        val tri = t.substring(i, i + 3)
        counts.merge(tri, 1, _ + _)
        i += 1
      }
      val scores = profiles.map { case (lang, tris) =>
        var s = 0
        tris.foreach(tri => s += counts.getOrDefault(tri, 0))
        lang -> s
      }
      val (best, score) = scores.maxBy { case (l, s) => (s, l) }
      if (score == 0) "und" else best
    }
  }

  def langId(text: Column): Column = langIdUdf(text)

  /** Polynomial rolling-hash fingerprint over whitespace tokens (order
    * sensitive — two docs share the fingerprint iff token sequences match).
    * Returns the raw signed 64-bit value: plain wrapping arithmetic, so the
    * DuckDB oracle reproduces it exactly with HUGEINT mod-2^64 folds
    * (render to hex at the edge if a string form is wanted).
    */
  private val fingerprintUdf = udf { (text: String) =>
    if (text == null) 0L
    else {
      var h = 1125899906842597L // large prime
      text.split("\\s+").foreach { w =>
        var wh = 0L
        var i = 0
        while (i < w.length) { wh = wh * 31 + w.charAt(i); i += 1 }
        h = h * 1000003L + wh
      }
      h
    }
  }

  def fingerprint(text: Column): Column = fingerprintUdf(text)
}
