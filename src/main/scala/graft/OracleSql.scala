package graft

import graft.analysis.StopWords
import graft.index.FieldNorm

/** DuckDB oracle-SQL builders for the driver's correctness gate.
  *
  * The SQL mirrors the engine's BM25 expression shape **operation by
  * operation** (same literals written as the same arithmetic, e.g.
  * `(1.2 + 1)` not `2.2`) so both engines execute the same IEEE-754 double
  * ops; final scores are rounded to 4 decimals on both sides, which absorbs
  * any last-ulp libm `ln` differences.
  *
  * Token model for the `documents` table: its `text` is strictly
  * single-space-separated lowercase ASCII words (verified), so the summa
  * analyzer over it is exactly `string_split(text, ' ')` + the 321-entry
  * stop-word filter, with pre-filter ordinals as positions.
  */
object OracleSql {

  val stopList: String =
    StopWords.All.toSeq.sorted.map(w => "'" + w.replace("'", "''") + "'").mkString(", ")

  private val fnValues: String =
    FieldNorm.Table.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")

  /** Shared CTE prologue: filtered tokens, positions, doc lengths, quantized
    * lengths, corpus stats.
    */
  def prologue: String =
    s"""WITH fn(id, norm) AS (VALUES $fnValues),
       |tok AS (
       |  SELECT doc_id,
       |         unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
       |  FROM documents
       |),
       |ftok AS (SELECT doc_id, w, pos FROM tok WHERE w NOT IN ($stopList)),
       |dl AS (SELECT doc_id, count(*) AS len FROM ftok GROUP BY 1),
       |stats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT sum(len) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl
       |),
       |qn AS (
       |  SELECT doc_id,
       |         (SELECT max(norm) FROM fn WHERE norm <= dl.len)::DOUBLE AS qlen
       |  FROM dl
       |)""".stripMargin

  /** Per-doc BM25 CTE for one term, named `sc_<alias>`: (doc_id, score). */
  def termScoreCte(term: String, alias: String): String =
    s""",tf_$alias AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM ftok WHERE w = '$term' GROUP BY 1),
       |df_$alias AS (SELECT count(*)::DOUBLE AS df FROM tf_$alias),
       |sc_$alias AS (
       |  SELECT t.doc_id,
       |         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
       |         (t.tf * (1.2 + 1)) / (t.tf + 1.2 * ((1 - 0.75) + 0.75 * q.qlen / s.avgdl)) AS score
       |  FROM tf_$alias t, df_$alias d, stats s
       |  JOIN qn q ON q.doc_id = t.doc_id
       |)""".stripMargin

  def termQuery(term: String): String =
    prologue + termScoreCte(term, "t") +
      "\nSELECT doc_id, round(score, 4) AS score FROM sc_t ORDER BY doc_id"

  /** Fieldnorms-off scoring: constant length 1 instead of the quantized
    * per-doc length.
    */
  def termQueryNoFieldnorms(term: String): String =
    prologue +
      s""",tf_t AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM ftok WHERE w = '$term' GROUP BY 1),
         |df_t AS (SELECT count(*)::DOUBLE AS df FROM tf_t)
         |SELECT t.doc_id,
         |       round(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
         |             (t.tf * (1.2 + 1)) / (t.tf + 1.2 * ((1 - 0.75) + 0.75 * 1.0 / s.avgdl)), 4) AS score
         |FROM tf_t t, df_t d, stats s
         |ORDER BY doc_id""".stripMargin

  /** Raw single-token-field term query — the docs-scan fast path's oracle.
    * A `raw` field contributes exactly one token per non-null value, so
    * tf = 1, the quantized fieldnorm length is 1 (`FieldNorm.Table` is exact
    * below 40), avgdl = non-null values / N, and the BM25 arithmetic below
    * mirrors `BM25.scoreCol(lit(1), encode(1), idf, avgdl)` op by op.
    */
  def rawTermQuery(field: String, term: String): String =
    s"""WITH st AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT count($field) FROM documents)::DOUBLE /
       |           (SELECT count(*) FROM documents) AS avgdl),
       |df AS (SELECT count(*)::DOUBLE AS df FROM documents WHERE $field = '$term')
       |SELECT d.doc_id,
       |       round(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) *
       |             (1.0 * (1.2 + 1)) / (1.0 + 1.2 * ((1 - 0.75) + 0.75 * 1.0 / s.avgdl)), 4) AS score
       |FROM documents d, df f, st s WHERE d.$field = '$term' ORDER BY doc_id""".stripMargin

  def termTopK(term: String, k: Int): String =
    prologue + termScoreCte(term, "t") +
      s"\nSELECT doc_id, round(score, 4) AS score FROM sc_t ORDER BY round(score, 4) DESC, doc_id LIMIT $k"

  /** Explain decomposition oracle: top-k doc set of `boost * term-score`,
    * one detail row per hit (term, tf, boost, rounded contribution). The
    * boost multiplication is written identically to the engine's
    * `scoreCol * lit(boost)` (same double op order).
    */
  def explainBoostTopK(term: String, boost: Double, k: Int): String =
    prologue + termScoreCte(term, "t") +
      s"""
         |,top AS (SELECT doc_id, score FROM sc_t
         |         ORDER BY round(score * CAST($boost AS DOUBLE), 4) DESC, doc_id LIMIT $k)
         |SELECT p.doc_id, '$term' AS term, CAST(t.tf AS INT) AS tf,
         |       CAST($boost AS DOUBLE) AS boost,
         |       round(p.score * CAST($boost AS DOUBLE), 4) AS score
         |FROM top p JOIN tf_t t ON t.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin

  /** Phrase-leaf explain (slop=0, two terms, boosted): every matching doc
    * with the phrase leaf's decomposition — tf = alignment-window count,
    * contribution = the boosted phrase score (phrase-as-pseudo-term:
    * idf(t1)+idf(t2) over the window count), first matched base position.
    * Emits `score` and `contribution` as the same value: the compare hash
    * enforces that the leaf sums to the hit's score.
    */
  def explainPhrase(t1: String, t2: String, boost: Double): String =
    prologue +
      s""",p1 AS (SELECT doc_id, pos FROM tok WHERE w = '$t1'),
         |p2 AS (SELECT doc_id, pos FROM tok WHERE w = '$t2'),
         |m AS (
         |  SELECT p1.doc_id, p1.pos
         |  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
         |),
         |ph AS (SELECT doc_id, count(*)::DOUBLE AS tf, min(pos) AS first_pos FROM m GROUP BY 1),
         |df1 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p1),
         |df2 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p2),
         |sc AS (
         |  SELECT ph.doc_id, ph.tf, ph.first_pos,
         |         (ln(1 + (s.n - d1.df + 0.5) / (d1.df + 0.5)) +
         |          ln(1 + (s.n - d2.df + 0.5) / (d2.df + 0.5))) *
         |         (ph.tf * (1.2 + 1)) / (ph.tf + 1.2 * ((1 - 0.75) + 0.75 * q.qlen / s.avgdl)) AS score0
         |  FROM ph, df1 d1, df2 d2, stats s
         |  JOIN qn q ON q.doc_id = ph.doc_id
         |)
         |SELECT doc_id, round(score0 * CAST($boost AS DOUBLE), 4) AS score,
         |       '"$t1 $t2"' AS term, CAST(tf AS INT) AS tf,
         |       CAST($boost AS DOUBLE) AS boost,
         |       round(score0 * CAST($boost AS DOUBLE), 4) AS contribution,
         |       CAST(first_pos AS INT) AS first_pos, CAST(tf AS INT) AS n_windows
         |FROM sc ORDER BY doc_id""".stripMargin

  def boolMust(t1: String, t2: String): String =
    prologue + termScoreCte(t1, "a") + termScoreCte(t2, "b") +
      """
        |SELECT a.doc_id, round(a.score + b.score, 4) AS score
        |FROM sc_a a JOIN sc_b b ON a.doc_id = b.doc_id
        |ORDER BY a.doc_id""".stripMargin

  def boolShould(t1: String, t2: String): String =
    prologue + termScoreCte(t1, "a") + termScoreCte(t2, "b") +
      """
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |       round(coalesce(a.score, 0) + coalesce(b.score, 0), 4) AS score
        |FROM sc_a a FULL OUTER JOIN sc_b b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin

  def boolMustNot(pos: String, neg: String): String =
    prologue + termScoreCte(pos, "a") +
      s"""
         |SELECT a.doc_id, round(a.score, 4) AS score
         |FROM sc_a a
         |WHERE a.doc_id NOT IN (SELECT doc_id FROM ftok WHERE w = '$neg')
         |ORDER BY doc_id""".stripMargin

  def dismax(t1: String, t2: String, tieBreaker: Double): String =
    prologue + termScoreCte(t1, "a") + termScoreCte(t2, "b") +
      s"""
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |       round(
         |         greatest(coalesce(a.score, 0), coalesce(b.score, 0)) +
         |         $tieBreaker * ((coalesce(a.score, 0) + coalesce(b.score, 0)) -
         |                        greatest(coalesce(a.score, 0), coalesce(b.score, 0))), 4) AS score
         |FROM sc_a a FULL OUTER JOIN sc_b b ON a.doc_id = b.doc_id
         |ORDER BY doc_id""".stripMargin

  /** Phrase (slop=0, two terms): adjacency on pre-filter positions; score =
    * (idf(t1)+idf(t2)) * tf_part(phrase_tf).
    */
  def phrase(t1: String, t2: String): String =
    prologue +
      s""",p1 AS (SELECT doc_id, pos FROM tok WHERE w = '$t1'),
         |p2 AS (SELECT doc_id, pos FROM tok WHERE w = '$t2'),
         |ph AS (
         |  SELECT p1.doc_id, count(*)::DOUBLE AS tf
         |  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
         |  GROUP BY 1
         |),
         |df1 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p1),
         |df2 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p2)
         |SELECT ph.doc_id,
         |       round(
         |         (ln(1 + (s.n - d1.df + 0.5) / (d1.df + 0.5)) +
         |          ln(1 + (s.n - d2.df + 0.5) / (d2.df + 0.5))) *
         |         (ph.tf * (1.2 + 1)) / (ph.tf + 1.2 * ((1 - 0.75) + 0.75 * q.qlen / s.avgdl)), 4) AS score
         |FROM ph, df1 d1, df2 d2, stats s
         |JOIN qn q ON q.doc_id = ph.doc_id
         |ORDER BY ph.doc_id""".stripMargin

  /** Two-term phrase with slop: base positions whose partner term appears
    * within `slop` of the expected spot (mirrors PostingUdfs.phraseTf).
    */
  def phraseSlop(t1: String, t2: String, slop: Int): String =
    prologue +
      s""",p1 AS (SELECT doc_id, pos FROM tok WHERE w = '$t1'),
         |p2 AS (SELECT doc_id, pos FROM tok WHERE w = '$t2'),
         |m AS (
         |  SELECT DISTINCT p1.doc_id, p1.pos
         |  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND abs(p2.pos - (p1.pos + 1)) <= $slop
         |),
         |ph AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM m GROUP BY 1),
         |df1 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p1),
         |df2 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p2)
         |SELECT ph.doc_id,
         |       round(
         |         (ln(1 + (s.n - d1.df + 0.5) / (d1.df + 0.5)) +
         |          ln(1 + (s.n - d2.df + 0.5) / (d2.df + 0.5))) *
         |         (ph.tf * (1.2 + 1)) / (ph.tf + 1.2 * ((1 - 0.75) + 0.75 * q.qlen / s.avgdl)), 4) AS score
         |FROM ph, df1 d1, df2 d2, stats s
         |JOIN qn q ON q.doc_id = ph.doc_id
         |ORDER BY ph.doc_id""".stripMargin

  /** Three-term phrase with move-based slop — mirrors PostingUdfs.phraseTf
    * (slop>0 path): a base (t1) occurrence matches iff some window
    * [w, w+slop] of normalized positions (`pos - offset`) contains one
    * occurrence of every term, i.e. the alignment spread max-min <= slop.
    */
  def phraseSlop3(t1: String, t2: String, t3: String, slop: Int): String =
    prologue +
      s""",p1 AS (SELECT doc_id, pos FROM tok WHERE w = '$t1'),
         |p2 AS (SELECT doc_id, pos - 1 AS np FROM tok WHERE w = '$t2'),
         |p3 AS (SELECT doc_id, pos - 2 AS np FROM tok WHERE w = '$t3'),
         |m AS (
         |  SELECT DISTINCT p1.doc_id, p1.pos
         |  FROM p1, LATERAL (SELECT unnest(generate_series(p1.pos - $slop, p1.pos)) AS wlo) g
         |  WHERE EXISTS (SELECT 1 FROM p2 WHERE p2.doc_id = p1.doc_id
         |                AND p2.np BETWEEN wlo AND wlo + $slop)
         |    AND EXISTS (SELECT 1 FROM p3 WHERE p3.doc_id = p1.doc_id
         |                AND p3.np BETWEEN wlo AND wlo + $slop)
         |),
         |ph AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM m GROUP BY 1),
         |df1 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p1),
         |df2 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p2),
         |df3 AS (SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM p3)
         |SELECT ph.doc_id,
         |       round(
         |         (ln(1 + (s.n - d1.df + 0.5) / (d1.df + 0.5)) +
         |          ln(1 + (s.n - d2.df + 0.5) / (d2.df + 0.5)) +
         |          ln(1 + (s.n - d3.df + 0.5) / (d3.df + 0.5))) *
         |         (ph.tf * (1.2 + 1)) / (ph.tf + 1.2 * ((1 - 0.75) + 0.75 * q.qlen / s.avgdl)), 4) AS score
         |FROM ph, df1 d1, df2 d2, df3 d3, stats s
         |JOIN qn q ON q.doc_id = ph.doc_id
         |ORDER BY ph.doc_id""".stripMargin

  /** MoreLikeThis — mirrors Searcher.expandMoreLikeThis for the seed doc 0:
    * candidate terms of the seed with tf >= minTf, ranked by tf*idf (top
    * `maxTerms`, ties by term asc), then scored as a should-boolean of
    * TermQueries (sum of per-term BM25).
    */
  def moreLikeThis(seedDocId: Long, minTf: Int, maxTerms: Int, k: Int): String =
    prologue +
      s""",cand AS (
         |  SELECT w, count(*)::DOUBLE AS tf
         |  FROM ftok WHERE doc_id = $seedDocId
         |  GROUP BY w HAVING count(*) >= $minTf
         |),
         |cdf AS (
         |  SELECT c.w, c.tf,
         |         (SELECT count(DISTINCT f.doc_id) FROM ftok f WHERE f.w = c.w)::DOUBLE AS df
         |  FROM cand c
         |),
         |exp AS (
         |  SELECT w, df
         |  FROM cdf, stats s
         |  WHERE df >= 1
         |  ORDER BY tf * ln(1 + (s.n - df + 0.5) / (df + 0.5)) DESC, w ASC
         |  LIMIT $maxTerms
         |),
         |tfq AS (
         |  SELECT f.doc_id, f.w, count(*)::DOUBLE AS tf
         |  FROM ftok f JOIN exp e ON e.w = f.w
         |  GROUP BY 1, 2
         |),
         |sc AS (
         |  SELECT t.doc_id,
         |         sum(ln(1 + (s.n - e.df + 0.5) / (e.df + 0.5)) *
         |             (t.tf * (1.2 + 1)) /
         |             (t.tf + 1.2 * ((1 - 0.75) + 0.75 * q.qlen / s.avgdl))) AS score
         |  FROM tfq t
         |  JOIN exp e ON e.w = t.w, stats s
         |  JOIN qn q ON q.doc_id = t.doc_id
         |  GROUP BY t.doc_id
         |)
         |SELECT doc_id, round(score, 4) AS score FROM sc
         |ORDER BY round(score, 4) DESC, doc_id LIMIT $k""".stripMargin

  /** Snippets — mirrors Snippets.generate over the rounded-score top-k of a
    * term query: best <=maxChars-byte token window (most query-term matches,
    * earliest wins), matched tokens <b>-wrapped; text is single-space ASCII
    * so byte offsets are reconstructible from word lengths. Window endpoints
    * iterate the stop-filtered token stream (analyzer output) while the
    * fragment keeps the stop words lying inside the span.
    */
  def snippets(term: String, k: Int, maxChars: Int): String =
    prologue + termScoreCte(term, "t") +
      s""",topk AS (
         |  SELECT doc_id FROM sc_t
         |  ORDER BY round(score, 4) DESC, doc_id LIMIT $k
         |),
         |offs AS (
         |  SELECT t.doc_id, t.w, t.pos,
         |         coalesce(sum(length(t.w) + 1) OVER (
         |           PARTITION BY t.doc_id ORDER BY t.pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off_from
         |  FROM tok t JOIN topk u ON u.doc_id = t.doc_id
         |),
         |allw AS (
         |  SELECT doc_id, w, pos, off_from, off_from + length(w) AS off_to FROM offs
         |),
         |ft AS (
         |  SELECT doc_id, w, pos, off_from, off_to, (w = '$term') AS m
         |  FROM allw WHERE w NOT IN ($stopList)
         |),
         |win AS (
         |  SELECT lo.doc_id, lo.pos AS lo_pos, max(hi.pos) AS hi_pos,
         |         count(CASE WHEN hi.m THEN 1 END) AS cnt
         |  FROM ft lo JOIN ft hi ON hi.doc_id = lo.doc_id AND hi.pos >= lo.pos
         |       AND hi.off_to - lo.off_from <= $maxChars
         |  GROUP BY 1, 2
         |),
         |best AS (
         |  SELECT doc_id, lo_pos, hi_pos,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY cnt DESC, lo_pos ASC) AS rn
         |  FROM win
         |)
         |SELECT b.doc_id,
         |       string_agg(CASE WHEN a.w = '$term' THEN '<b>' || a.w || '</b>' ELSE a.w END,
         |                  ' ' ORDER BY a.pos) AS snippet
         |FROM best b JOIN allw a ON a.doc_id = b.doc_id AND a.pos BETWEEN b.lo_pos AND b.hi_pos
         |WHERE b.rn = 1
         |GROUP BY b.doc_id
         |ORDER BY b.doc_id""".stripMargin

  def termCount(term: String): String =
    prologue + s"\nSELECT count(DISTINCT doc_id) AS cnt FROM ftok WHERE w = '$term'"

  def regex(pattern: String): String =
    prologue +
      s"\nSELECT DISTINCT doc_id FROM ftok WHERE regexp_full_match(w, '$pattern') ORDER BY doc_id"

  // ------------------------------------------------- training-data ops

  /** Exact n-gram (trigram) Jaccard near-dup pairs — mirrors
    * Dedup.ngramJaccardPairs: distinct word trigrams, shingle self-join,
    * jaccard = inter / (|A|+|B|-inter), threshold applied pre-rounding.
    */
  def ngramJaccardPairs(minJaccard: Double): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 1))) i) g
       |),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |       round(inter::DOUBLE / (sa.sz + sb.sz - inter), 4) AS jaccard
       |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $minJaccard
       |ORDER BY id_a, id_b""".stripMargin

  /** Deterministic reservoir sample — replays
    * Collectors.reservoirSampleDeterministic's Algorithm R fold (Lehmer
    * MINSTD LCG, accept when `s mod i < k`) over the doc_id-ordered hits of
    * a raw-word containment test (equivalent to the engine's filtered-token
    * match for a non-stop-word term) as a recursive CTE.
    */
  def reservoirDeterministic(term: String, k: Int, seed: Long): String = {
    val s0 = ((seed % 2147483646L) + 2147483646L) % 2147483646L + 1
    s"""WITH RECURSIVE hits AS (
       |  SELECT doc_id FROM documents
       |  WHERE list_contains(string_split(text, ' '), '$term')
       |),
       |l AS (SELECT list(doc_id ORDER BY doc_id) AS ds FROM hits),
       |step(i, r, s) AS (
       |  SELECT 0, []::BIGINT[], $s0::BIGINT FROM l
       |  UNION ALL
       |  SELECT i + 1,
       |    CASE WHEN len(r) < $k THEN list_append(r, ds[i+1])
       |         WHEN ((s * 48271) % 2147483647) % (i + 1) < $k THEN
       |           list_concat(list_concat(
       |             r[1:(((s * 48271) % 2147483647) % (i + 1))::INT],
       |             [ds[i+1]]),
       |             r[(((s * 48271) % 2147483647) % (i + 1))::INT + 2 : $k])
       |         ELSE r END,
       |    CASE WHEN len(r) < $k THEN s ELSE (s * 48271) % 2147483647 END
       |  FROM step, l WHERE i < len(ds)
       |)
       |SELECT unnest(r) AS doc_id FROM step, l WHERE i = len(ds)
       |ORDER BY doc_id""".stripMargin
  }

  /** MinHash + LSH banding near-dup pairs — mirrors Dedup.minhashLshPairs
    * end-to-end: the oracle-portable hash family (char fold mod 1e9+7,
    * per-seed affine map, banded fold) reproduces the ENGINE's candidate set
    * exactly, then verifies with the same exact Jaccard as the ngram oracle.
    */
  def minhashLshPairs(n: Int, numHashes: Int, bands: Int, minJaccard: Double): String = {
    val rows = numHashes / bands
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+${n - 1}], ' ') AS s
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - ${n - 1}, 1))) i) g
       |),
       |uh AS (
       |  SELECT doc_id, s,
       |         list_reduce(
       |           list_prepend(0::BIGINT,
       |             [ ascii(c)::BIGINT FOR c IN string_split(s, '') ]),
       |           (a, b) -> (a * 31 + b) % 1000000007) AS u
       |  FROM sh
       |),
       |sig AS (
       |  SELECT doc_id, seed,
       |         min((((2654435761 * (seed + 1)) % 1000000007) * u +
       |              ((1779033703 * (seed + 1) + 144169) % 1000000007)) % 1000000007) AS mh
       |  FROM uh, LATERAL (SELECT unnest(generate_series(0, ${numHashes - 1})) seed) g
       |  GROUP BY 1, 2
       |),
       |band AS (
       |  SELECT doc_id, band,
       |         list_reduce(
       |           list_prepend((band + 1)::BIGINT, list(mh ORDER BY seed)),
       |           (a, b) -> (a * 1000003 + b) % 1000000007) AS bh
       |  FROM (SELECT doc_id, seed, mh, seed // $rows AS band FROM sig)
       |  GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band a JOIN band b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |p AS (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |       round(inter::DOUBLE / (sa.sz + sb.sz - inter), 4) AS jaccard
       |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $minJaccard
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** SimHash near-dup pairs — mirrors Dedup.simhashPairs with the
    * oracle-portable word-hash family (two char folds mod 4294967291 packed
    * as the high/low 32 bits). Bit i is read straight from the appropriate
    * fold (low 32 from h2, high from h1); chunks come from the bit table, and
    * a candidate pair's hamming distance is `bit_count(xor)` of the docs'
    * 64 bits packed into one UBIGINT each (one row per pair, not 64).
    */
  def simhashPairs(maxHamming: Int): String = {
    val chunks = maxHamming + 1
    val bits = 64 / chunks
    s"""WITH tf AS (
       |  SELECT doc_id, w, count(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2
       |),
       |wh AS (
       |  SELECT doc_id, c,
       |         list_reduce(
       |           list_prepend(0::BIGINT, [ ascii(ch)::BIGINT FOR ch IN string_split(w, '') ]),
       |           (a, b) -> (a * 31 + b) % 4294967291) AS h1,
       |         list_reduce(
       |           list_prepend(0::BIGINT, [ ascii(ch)::BIGINT FOR ch IN string_split(w, '') ]),
       |           (a, b) -> (a * 131 + b) % 4294967291) AS h2
       |  FROM tf
       |),
       |acc AS (
       |  SELECT doc_id, i,
       |         sum(CASE WHEN (CASE WHEN i < 32 THEN h2 // (1::BIGINT << i)
       |                             ELSE h1 // (1::BIGINT << (i - 32)) END) % 2 = 1
       |                  THEN c ELSE -c END) AS a
       |  FROM wh, LATERAL (SELECT unnest(generate_series(0, 63)) i) g
       |  GROUP BY 1, 2
       |),
       |db AS (SELECT doc_id, i, CASE WHEN a > 0 THEN 1 ELSE 0 END AS b FROM acc),
       |ck AS (
       |  SELECT doc_id, i // $bits AS chunk, sum(b * (1::BIGINT << (i % $bits))) AS cv
       |  FROM db GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ck a JOIN ck b
       |    ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id
       |),
       |sig AS (SELECT doc_id, bit_or(b::UBIGINT << i) AS s FROM db GROUP BY 1),
       |ham AS (
       |  SELECT c.id_a, c.id_b, bit_count(xor(x.s, y.s))::INT AS hamming
       |  FROM cand c
       |  JOIN sig x ON x.doc_id = c.id_a
       |  JOIN sig y ON y.doc_id = c.id_b
       |)
       |SELECT id_a, id_b, hamming FROM ham
       |WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Multi-table hyperplane-LSH ANN top-k — mirrors Similarity.annTopK with
    * the oracle-portable plane family (affine step + quadratic scramble mod
    * 1e9+7, linear index seed + 1000·table + plane·dim + dim-pos): a vector
    * is a candidate when its sign signature is within hamming distance 1 of
    * the query's in ANY table, then exact cosine top-k over candidates.
    */
  def annLsh(k: Int, nTables: Int, nPlanes: Int, dim: Int, seed: Long): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |coef AS (
       |  SELECT t, i, j,
       |         ((u1 * u1 + 12345) % 1000000007)::DOUBLE / 1000000007 - 0.5 AS c
       |  FROM (
       |    SELECT t, i, j,
       |           (((($seed + 1000 * t + i * $dim + j) % 1000000007
       |              + 1000000007) % 1000000007 + 1) * 2654435761 + 104729)
       |             % 1000000007 AS u1
       |    FROM (SELECT unnest(generate_series(0, ${nTables - 1})) t),
       |         (SELECT unnest(generate_series(0, ${nPlanes - 1})) i),
       |         (SELECT unnest(generate_series(0, ${dim - 1})) j)
       |  )
       |),
       |dots AS (
       |  SELECT e.vec_id, c.t, c.i,
       |         list_reduce(
       |           list_prepend(0.0::DOUBLE, list(e.v[c.j + 1] * c.c ORDER BY c.j)),
       |           (a, b) -> a + b) AS d
       |  FROM e, coef c GROUP BY 1, 2, 3
       |),
       |sig AS (
       |  SELECT vec_id, t,
       |         sum(CASE WHEN d >= 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS b
       |  FROM dots GROUP BY 1, 2
       |),
       |qsig AS (SELECT t, b AS qb FROM sig WHERE vec_id = 0),
       |cand AS (
       |  SELECT DISTINCT s.vec_id
       |  FROM sig s JOIN qsig q ON s.t = q.t
       |  WHERE bit_count(xor(s.b, q.qb)) <= 1
       |),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id,
       |       round(list_dot_product(e.v, q.qv) /
       |             (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
       |FROM e JOIN cand USING (vec_id), q
       |ORDER BY cosine DESC, vec_id LIMIT $k""".stripMargin

  /** Exact embedding-cosine pairs — mirrors Dedup.cosinePairs. */
  def cosinePairs(minCos: Double): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $minCos
       |ORDER BY id_a, id_b""".stripMargin

  /** Brute-force cosine top-k against the vector of vec_id=0. */
  def cosineTopK(k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id,
       |       round(list_dot_product(e.v, q.qv) /
       |             (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
       |FROM e, q
       |ORDER BY cosine DESC, vec_id LIMIT $k""".stripMargin

  /** Text stats — mirrors TextStats.{tokenCount, stopwordRatio, qualityScore}. */
  def textStats: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |         string_split(text, ' ') AS ws,
       |         len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS nstop
       |  FROM documents
       |)
       |SELECT doc_id,
       |       len(ws) AS tc,
       |       floor((nstop::DOUBLE / len(ws)) * 10000.0 + 0.5) / 10000.0 AS swr,
       |       floor((
       |         least(length(text) / 500.0, 1.0) * 0.4 +
       |         least((nstop::DOUBLE / len(ws)) * 4.0, 1.0) * 0.3 +
       |         ((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE /
       |          length(text)) * 0.3) * 10000.0 + 0.5) / 10000.0 AS quality
       |FROM t ORDER BY doc_id""".stripMargin

  /** Rolling-hash fingerprint — mirrors TextStats.fingerprint's wrapping
    * 64-bit folds (word hash: `wh = wh*31 + char`; doc hash:
    * `h = h*1000003 + wh`, seed 1125899906842597) with HUGEINT arithmetic
    * mod 2^64, then maps the unsigned fold back to the signed BIGINT the
    * engine emits. `documents.text` is single-space lowercase ASCII, so
    * `string_split(text, ' ')` is exactly Spark's `split("\\s+")` here.
    */
  def textFingerprint: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             [ list_reduce(
      |                 list_prepend(0::HUGEINT,
      |                   [ ascii(c)::HUGEINT FOR c IN string_split(w, '') ]),
      |                 (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT)
      |               FOR w IN string_split(text, ' ') ]),
      |           (a, b) -> (a * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT) AS u
      |  FROM documents
      |)
      |SELECT doc_id,
      |       (CASE WHEN u >= 9223372036854775808::HUGEINT
      |             THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS fp
      |FROM h ORDER BY doc_id""".stripMargin

  /** Multimodal feature extraction over the deterministic fake codec —
    * mirrors Multimodal.{withFakeMedia, MediaCodec}: the payload is 64 bytes
    * of a 64-bit LCG (`s = s*6364136223846793005 + 1442695040888963407`,
    * byte = top 8 bits) seeded by doc_id; features[j] = sum of payload bytes
    * at positions ≡ j (mod 8), each /255.0, divided by 8 — emulated in
    * DuckDB with HUGEINT arithmetic mod 2^64.
    */
  def multimodalFeatures: String =
    """WITH RECURSIVE lcg(id, i, s) AS (
      |  SELECT doc_id AS id, 0 AS i, doc_id::HUGEINT AS s FROM documents
      |  UNION ALL
      |  SELECT id, i + 1,
      |         (s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      |           % 18446744073709551616::HUGEINT
      |  FROM lcg WHERE i < 64
      |),
      |b AS (
      |  SELECT id, i - 1 AS pi, (s // 72057594037927936::HUGEINT)::BIGINT AS byte
      |  FROM lcg WHERE i >= 1
      |),
      |f AS (
      |  SELECT id, pi % 8 AS dim, sum(byte / 255.0) / 8.0 AS v
      |  FROM b GROUP BY 1, 2
      |)
      |SELECT id,
      |       CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |       (32 + (id % 8) * 16)::INT AS width,
      |       (32 + (id % 5) * 16)::INT AS height,
      |       round(max(CASE WHEN dim = 0 THEN v END), 4) AS f0,
      |       round(max(CASE WHEN dim = 1 THEN v END), 4) AS f1,
      |       round(max(CASE WHEN dim = 2 THEN v END), 4) AS f2,
      |       round(max(CASE WHEN dim = 3 THEN v END), 4) AS f3,
      |       round(max(CASE WHEN dim = 4 THEN v END), 4) AS f4,
      |       round(max(CASE WHEN dim = 5 THEN v END), 4) AS f5,
      |       round(max(CASE WHEN dim = 6 THEN v END), 4) AS f6,
      |       round(max(CASE WHEN dim = 7 THEN v END), 4) AS f7
      |FROM f GROUP BY id ORDER BY id""".stripMargin

  /** SummaQL `t1 -neg t2`: should(t1)+should(t2) excluding neg. */
  def matchShouldShouldNot(t1: String, t2: String, neg: String): String =
    prologue + termScoreCte(t1, "a") + termScoreCte(t2, "b") +
      s"""
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |       round(coalesce(a.score, 0) + coalesce(b.score, 0), 4) AS score
         |FROM sc_a a FULL OUTER JOIN sc_b b ON a.doc_id = b.doc_id
         |WHERE coalesce(a.doc_id, b.doc_id) NOT IN (SELECT doc_id FROM ftok WHERE w = '$neg')
         |ORDER BY doc_id""".stripMargin
}
