package graft.index

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.analysis.Analyzers
import graft.index.IndexBuilder.{PreToken, TokFlat}

/** The sorted reference for the build's token grouper (`IndexBuilder`'s
  * `TokenGrouper`): `Analyzer.tokenize`, then a `TreeMap` by term, then
  * [[PostingCodec.packDocPositions]], then its own blob writer, so it shares
  * no grouping code with the grouper it checks. Terms come out in `String`
  * order, positions in token order, and the fieldnorm counts the tokens.
  */
object AnalyzeOracle {

  /** The analyzed field `value` under `analyzerName`; null is the empty field. */
  def analyze(analyzerName: String, value: String): TokFlat =
    if (value == null) group(Nil)
    else group(Analyzers(analyzerName).tokenize(value).map(t => (t.text, t.position)))

  /** Given tokens in position order; null tokens and null texts dropped. */
  def preTokenized(toks: Seq[PreToken]): TokFlat =
    group(toks.filter(t => t != null && t.text != null).sortBy(_.position).map(t => (t.text, t.position)))

  /** The path terms of one json value, in `JsonField`'s walk order. */
  def json(analyzerName: String, json: String): TokFlat = {
    val toks = ArrayBuffer.empty[(String, Int)]
    JsonField.pathTerms(analyzerName, json, (t, p) => toks += ((t, p)))
    group(toks.toSeq)
  }

  /** `[varint metaLen][varint termsLen][meta][termBytes][posFlat]` with meta
    * `[k]` then per term `[termLen][tf][posLen]`, terms sorted.
    */
  private def group(toks: Seq[(String, Int)]): TokFlat = {
    val byTerm = new java.util.TreeMap[String, ArrayBuffer[Int]]()
    toks.foreach { case (t, p) => byTerm.computeIfAbsent(t, _ => ArrayBuffer.empty[Int]) += p }
    val terms = byTerm.asScala.toSeq.map { case (t, ps) =>
      (t.getBytes(java.nio.charset.StandardCharsets.UTF_8), ps.length, PostingCodec.packDocPositions(ps.toArray))
    }
    val meta = varInts(terms.length +: terms.flatMap { case (b, tf, pos) => Seq(b.length, tf, pos.length) })
    val termBytes = terms.flatMap(_._1).toArray
    val blob = varInts(Seq(meta.length, termBytes.length)) ++ meta ++ termBytes ++ terms.flatMap(_._3)
    TokFlat(toks.length, FieldNorm.encode(toks.length.toLong), blob)
  }

  private def varInts(vs: Seq[Int]): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    vs.foreach { v0 =>
      var v = v0
      while ((v & ~0x7F) != 0) { out += ((v & 0x7F) | 0x80).toByte; v >>>= 7 }
      out += v.toByte
    }
    out.toArray
  }
}
