package graft.analysis

/** An analyzer = base tokenizer + token-filter chain.
  *
  * Filter semantics (reference: `default_tokenizers.rs:334-388`):
  *   - `RemoveLong(limit)` drops tokens whose UTF-8 byte length is >= limit;
  *   - `LowerCase` applies full Unicode lowercasing;
  *   - `StopWords` drops tokens in the fixed 321-entry list, **preserving the
  *     positions of survivors** (phrase adjacency is pre-filter).
  *
  * `fusedKind` names the [[FusedTokenize]] kind that streams `base`'s tokens
  * allocation-free (the indexing hot path, which applies the same three
  * filters); [[FusedTokenize.KindNone]] for bases it cannot express.
  */
final case class Analyzer(
    base: String => IndexedSeq[Token],
    removeLongLimit: Int = 0, // 0 = disabled
    lowerCase: Boolean = false,
    stopWords: Boolean = false,
    fusedKind: Int = FusedTokenize.KindNone
) extends Serializable {
  def tokenize(text: String): IndexedSeq[Token] = {
    var ts = base(text)
    if (removeLongLimit > 0) {
      val lim = removeLongLimit
      ts = ts.filter(t => utf8Len(t.text) < lim)
    }
    if (lowerCase) ts = ts.map(t => t.copy(text = t.text.toLowerCase))
    if (stopWords) ts = ts.filterNot(t => StopWords.All.contains(t.text))
    ts
  }
  private def utf8Len(s: String): Int = {
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      n += Utf8.len(cp); i += Character.charCount(cp)
    }
    n
  }
}

/** Registry of named analyzers (reference: `default_tokenizers.rs:363-388`). */
object Analyzers {
  private def raw(text: String): IndexedSeq[Token] =
    if (text.isEmpty) Vector.empty
    else Vector(Token(text, 0, 0, text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length))

  val summa: Analyzer = Analyzer(SummaTokenizer.tokenize(_), removeLongLimit = 100,
    lowerCase = true, stopWords = true, fusedKind = FusedTokenize.KindSumma)
  val summaHtml: Analyzer =
    Analyzer(HtmlTokenizer.tokenize(_), removeLongLimit = 100, lowerCase = true, stopWords = true)
  val summaMmd: Analyzer =
    Analyzer(MmdTokenizer.tokenize(_), removeLongLimit = 100, lowerCase = true, stopWords = true)
  val summaWithoutStopWords: Analyzer = Analyzer(SummaTokenizer.tokenize(_), removeLongLimit = 100,
    lowerCase = true, fusedKind = FusedTokenize.KindSumma)
  val default: Analyzer = Analyzer(SimpleWordTokenizer.tokenize(_), removeLongLimit = 100,
    lowerCase = true, stopWords = true, fusedKind = FusedTokenize.KindSimple)
  val whitespace: Analyzer =
    Analyzer(WhitespaceTokenizer.tokenize(_), lowerCase = true, fusedKind = FusedTokenize.KindWhitespace)
  val summaDict: Analyzer = Analyzer(DictTokenizer.drugs.tokenize(_))
  val rawAnalyzer: Analyzer = Analyzer(raw(_))
  val rawCi: Analyzer = Analyzer(raw(_), lowerCase = true)

  val byName: Map[String, Analyzer] = Map(
    "summa" -> summa,
    "summa_html" -> summaHtml,
    "summa_dict" -> summaDict,
    "summa_mmd" -> summaMmd,
    "summa_without_stop_words" -> summaWithoutStopWords,
    "default" -> default,
    "whitespace" -> whitespace,
    "raw" -> rawAnalyzer,
    "raw_ci" -> rawCi
  )

  def apply(name: String): Analyzer =
    byName.getOrElse(name, throw new IllegalArgumentException(s"unknown analyzer: $name"))
}
