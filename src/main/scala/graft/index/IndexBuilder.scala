package graft.index

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, Murmur3Hash, Pmod, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.analysis.{Analyzer, Analyzers, FusedTokenize}

/** Distributed inverted-index builder.
  *
  * Reference lifecycle analog: ingest → segment build → commit
  * (`/root/reference/summa-core/src/components/index_writer_holder.rs:391-423`),
  * re-expressed as a Spark pipeline:
  *
  *  1. segment assignment: `segment_id = offset + pmod(xxhash64(key), n)` —
  *     content-addressed, independent of parallelism;
  *  2. docId assignment: rank of key within segment via range-partition +
  *     in-partition sort + two-pass offset computation (no single-task sort,
  *     no Window over a whole segment — scales to arbitrarily large
  *     segments). DocIds are a pure function of the data, so N-core and
  *     4N-core builds produce identical ids (BASELINE scaling criterion);
  *  3. tokenize once per document (analyzer per field), carrying per-doc
  *     term groups as array columns;
  *  4. posting blocks: `block_id = doc_id >>> blockBits`, so block assignment
  *     needs no global rank and a head term (stop-word-scale df) shards
  *     across thousands of `(term, block_id)` shuffle keys — block keying IS
  *     the skew salt; pack groups are bounded by the block doc-range;
  *  5. postings written segment-aligned: a segment's terms are hash buckets,
  *     one file each (`max(parts, segments)` files per write), each sorted by
  *     `(field, term, block_id)` so Parquet row-group stats give FST-like
  *     term-range pruning for free; fieldstats records each segment's
  *     bucket layout, so a reader opens only its terms' files;
  *  6. visibility via [[Snapshots]] (Iceberg-style atomic version commit);
  *     stats are per-segment so merges/deletes never rewrite global state.
  *
  * Layout under `indexDir/`:
  * {{{
  *   docs/segment_id=N/       one row per doc: key, stored fields, per-field len+norm
  *   postings/segment_id=N/   packed posting blocks, one term-sorted file per
  *                            hash bucket of the segment's terms
  *   fieldstats/segment_id=N/ (field, n_docs, total_tokens, block_bits, bucket_lo,
  *                            bucket_width) per segment: the term `(f, t)`'s
  *                            blocks are in the posting file `part-<bucket_lo +
  *                            termBucket(f, t, bucket_width)>-…`, if any
  *   deletes/segment_id=N/    tombstone doc_ids; merges drop whole partitions
  *   metrics/                 append-only lineage: one row per (build_id, segment_id)
  *   _snapshots/vNNNNNN.json  live-segment snapshot versions
  * }}}
  */
object IndexBuilder {

  final case class BuildConf(
      numSegments: Int = 8,
      blockBits: Int = 10,
      buildPartitions: Int = 0 // 0 = spark.sql.shuffle.partitions
  ) {
    /** The shuffle partition count of a build or merge in `spark`. */
    def partitions(spark: SparkSession): Int =
      if (buildPartitions > 0) buildPartitions
      else spark.sessionState.conf.numShufflePartitions
  }

  /** Per-segment doc/token totals from the doc-id pass (`assignDocIds`). */
  final case class SegStat(segmentId: Int, nDocs: Long, tokensByField: Map[String, Long])

  /** [[SegStat]]s, by segment id, from [[assignDocIds]]' pass-1 rows when
    * its `extraAggs` are the per-field token sums, in schema field order.
    */
  private[index] def segStats(schema: IndexSchema, segAggs: Map[Int, Row]): Seq[SegStat] =
    segAggs.toSeq.sortBy(_._1).map { case (seg, r) =>
      SegStat(seg, r.getLong(0),
        schema.fields.zipWithIndex.map { case (f, i) => f.name -> r.getLong(1 + i) }.toMap)
    }

  /** One caller-provided token for the pre-tokenized input path — the
    * Spark-native shape of a tantivy `PreTokenizedString` entry
    * (`summa_document.rs:150-160`). Byte offsets are not retained: the
    * index stores positions only.
    */
  final case class PreToken(position: Int, text: String)

  /** The analyzed-field shape the build pipeline carries for every field
    * kind (text, json, bytes/ip, pre-tokenized): primitive byte blobs
    * instead of an array of per-term structs. Catalyst encodes this far
    * faster than a nested shape, and building it straight from the
    * [[TokenGrouper]]'s term table allocates no intermediate per-term
    * objects — allocation churn is the memory-bandwidth tax the wide build
    * pays hardest. Terms travel as ONE UTF-8 blob + offsets rather than
    * `array<string>`, and ALL int arrays (term offsets, tfs, position
    * offsets) travel packed inside the varint `meta` section rather than
    * `array<int>` columns: an `array<int>` crosses the external-Row boundary
    * of the pack's mapPartitions through a boxed MapObjects loop (a measured
    * ~27% of the pack's fill cpu in JFR), while a binary column is a single
    * memcpy each way and is consumed by absolute-offset int reads.
    *
    * `blob` layout — the THREE former byte columns (varint meta, UTF-8 term
    * bytes, packed positions) fused into ONE binary column:
    * `[varint metaLen][varint termsLen][meta][termBytes][posFlat]`. A
    * binary struct field costs one defensive copy per row access at the
    * pack's external-Row boundary (`UnsafeRow.getBinary`), so one fused
    * column is one copy + one allocation per (doc, field) instead of three
    * (a measured allocation hot spot at the contended wide phase). The meta
    * section (LEB128 varints — term lengths, tfs and position-run lengths
    * are single-digit-byte values, so varints cut it ~4× vs fixed 4-byte
    * ints): `[k]` then per term `[termLen][tf][posLen]`, consumed
    * SEQUENTIALLY by the pack straight out of the blob (the two header
    * varints give the section bases up front, so decoding stays one-pass).
    * Term i's UTF-8 bytes are `termBase + [termOff(i), termOff(i+1))`
    * (offsets = prefix sums of the lengths); its packed delta-varint
    * positions are `posBase + [posOff(i), posOff(i+1))`.
    */
  final case class TokFlat(len: Int, norm: Int, blob: Array[Byte]) {
    /** Decode the header + meta stream once, lazily (test/debug surface —
      * the pipeline streams it with a reused [[IndexBuilder.MetaReader]];
      * encoders only see the constructor fields, so the memo never travels).
      * Offsets are section-relative: (termBase, posBase, termOff, tfs,
      * posOff).
      */
    private lazy val decode: (Int, Int, Array[Int], Array[Int], Array[Int]) = {
      val r = new MetaReader
      r.reset(blob)
      val metaLen = r.next()
      val termsLen = r.next()
      val termBase = r.position + metaLen
      val posBase = termBase + termsLen
      val k = r.next()
      val termOff = new Array[Int](k + 1)
      val tfs = new Array[Int](k)
      val posOff = new Array[Int](k + 1)
      var i = 0
      while (i < k) {
        termOff(i + 1) = termOff(i) + r.next()
        tfs(i) = r.next()
        posOff(i + 1) = posOff(i) + r.next()
        i += 1
      }
      (termBase, posBase, termOff, tfs, posOff)
    }
    def termCount: Int = decode._3.length - 1
    def termOff(i: Int): Int = decode._3(i)
    def tf(i: Int): Int = decode._4(i)
    def posOff(i: Int): Int = decode._5(i)
    /** The term-bytes section (debug/test copy). */
    def termBytes: Array[Byte] =
      java.util.Arrays.copyOfRange(blob, decode._1, decode._2)
    /** The packed-positions section (debug/test copy). */
    def posFlat: Array[Byte] =
      java.util.Arrays.copyOfRange(blob, decode._2, blob.length)
    def term(i: Int): String = {
      val (base, _, o, _, _) = decode
      new String(blob, base + o(i), o(i + 1) - o(i),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    def termsDecoded: Array[String] = Array.tabulate(termCount)(term)
    def posSlice(i: Int): Array[Byte] = {
      val (_, base, _, _, o) = decode
      java.util.Arrays.copyOfRange(blob, base + o(i), base + o(i + 1))
    }
  }

  /** Streaming LEB128 reader over a [[TokFlat]] meta blob; reused across
    * documents (one instance per pack partition, zero per-doc allocation).
    */
  final class MetaReader {
    private var b: Array[Byte] = null
    private var p = 0
    def reset(buf: Array[Byte]): Unit = { b = buf; p = 0 }
    /** Current read offset into the buffer (section-base arithmetic). */
    def position: Int = p
    def next(): Int = {
      // one-byte fast path: meta values (term lengths, tfs, position-run
      // lengths) are single-digit-byte in the common case, and this reader
      // is the pack's hottest frame — skip the shift bookkeeping for it
      val x: Int = b(p)
      if (x >= 0) { p += 1; return x }
      var v = x & 0x7F
      var shift = 7
      var q = p + 1
      var cont = true
      while (cont) {
        val y = b(q)
        q += 1
        v |= (y & 0x7F) << shift
        shift += 7
        cont = (y & 0x80) != 0
      }
      p = q
      v
    }
  }

  @inline private def varIntLen(v: Int): Int =
    if (v < 0x80) 1 else if (v < 0x4000) 2 else if (v < 0x200000) 3
    else if (v < 0x10000000) 4 else 5

  /** Append LEB128 varint; returns the new write position. */
  @inline private def putVarInt(b: Array[Byte], pos: Int, value: Int): Int = {
    var v = value
    var p = pos
    while ((v & 0xFFFFFF80) != 0) {
      b(p) = ((v & 0x7F) | 0x80).toByte; p += 1; v >>>= 7
    }
    b(p) = v.toByte
    p + 1
  }

  /** Per-term accumulator of the [[TokenGrouper]]: tf + the delta-varint
    * position bytes written INCREMENTALLY (byte-identical to
    * [[PostingCodec.packDocPositions]] over the collected array). Avoids the
    * per-token churn of the naive TreeMap[String, ArrayBuffer[Int]] grouping
    * — boxed Integers per position and tree nodes per insert were the
    * dominant allocation source of the tokenize phase, and allocation churn
    * is the memory-bandwidth tax the wide build pays hardest.
    */
  private final class TermAcc {
    var buf = new Array[Byte](8)
    var len = 0
    private var lastPos = 0
    var tf = 0
    /** Re-arm for reuse from the [[TokenGrouper]] pool (buf capacity is kept). */
    def reset(): Unit = { len = 0; lastPos = 0; tf = 0 }
    def addPos(p: Int): Unit = {
      var v = if (tf == 0) p else p - lastPos
      lastPos = p
      tf += 1
      while ((v & ~0x7F) != 0) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        buf(len) = ((v & 0x7F) | 0x80).toByte
        len += 1
        v >>>= 7
      }
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = v.toByte
      len += 1
    }
  }

  /** Group caller-provided tokens, BYPASSING the analyzer — the
    * pre-tokenized string path (reference `summa_document.rs:150-160`: a
    * JSON object on a str field parses as a tantivy `PreTokenizedString` and
    * indexes its given tokens/positions verbatim). Null tokens and tokens
    * with null text carry no term and are dropped; fieldnorm = the count of
    * the tokens kept, exactly like the analyzed path.
    */
  def analyzePreTokenized(toks: Seq[PreToken]): TokFlat = {
    // the position delta-varint accumulator requires non-decreasing
    // positions per term; tokens normally arrive in position order (tantivy
    // contract) but caller input is sorted defensively
    val arr = toks.filter(t => t != null && t.text != null).sortBy(_.position)
    group(add => arr.foreach(t => add(t.text, t.position)))
  }

  private[index] val EmptyTokFlat = new TokenGrouper().result()

  /** A single-term field (len 1, the term at position 0) — raw fields and
    * typed `bytes`/`ip` values; `None` is the empty field.
    */
  def singleTermFlat(term: Option[String]): TokFlat = term match {
    case Some(t) => group(_(t, 0))
    case None => EmptyTokFlat
  }

  /** Group the already-analyzed (term, position) pairs `feed` emits through
    * this thread's [[TokenGrouper]]: html/mmd/dict analyzer output,
    * pre-tokenized input, JSON path terms and single-term fields. Per-term
    * positions must arrive non-decreasing; the fieldnorm counts the pairs.
    */
  private[index] def group(feed: ((String, Int) => Unit) => Unit): TokFlat = {
    val g = grouperTL.get()
    g.reset()
    feed(g.add)
    g.result()
  }

  /** Flat-shape tokenize for the build's hot path (positions in token
    * order, packed deltas, term order free), with zero intermediate group
    * objects.
    *
    * Analyzers with a [[graft.analysis.Analyzer.fusedKind]] stream through
    * the [[graft.analysis.FusedTokenize]] / [[TokenGrouper]] pair (no Token
    * objects, no filter-chain Vector copies, a generation-stamped term table
    * reused across documents); raw analyzers take a closed-form single-token
    * path; everything else (html/mmd/dict bases, whose tokenizers need
    * offsets and skip ranges) tokenizes through `Analyzer.tokenize` and
    * feeds the grouper its tokens. FusedAnalyzeSpec pins every route against
    * the sorted oracle in src/test.
    */
  def analyzeFieldFlat(analyzerName: String, value: String): TokFlat = {
    if (value == null) return EmptyTokFlat
    val a = Analyzers(analyzerName)
    if (a.fusedKind != FusedTokenize.KindNone) {
      val g = fusedGrouper(a)
      FusedTokenize.run(a.fusedKind, value, g)
      g.result()
    } else if (analyzerName == "raw" || analyzerName == "raw_ci") {
      if (value.isEmpty) EmptyTokFlat
      else singleTermFlat(Some(if (analyzerName == "raw_ci") value.toLowerCase else value))
    } else {
      val toks = a.tokenize(value)
      group(add => toks.foreach(t => add(t.text, t.position)))
    }
  }

  // the grouper is stateful and reused per thread — UDF lambdas run on
  // executor task threads, so a ThreadLocal gives each task its own table
  // with zero cross-doc allocation
  private val grouperTL: ThreadLocal[TokenGrouper] =
    ThreadLocal.withInitial(() => new TokenGrouper)

  private def fusedGrouper(a: Analyzer): TokenGrouper = {
    val g = grouperTL.get()
    g.reset(a)
    g
  }

  // reused copy target for the zero-String tokenize path (one buffer per
  // task thread, grown to the largest document seen)
  private val asciiBytesTL: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](8 * 1024))

  /** Tokenize straight from the columnar engine's `UTF8String` — the hot
    * path's entry since the [[TokenizeFlatExpr]] switch. For fused word-run
    * analyzers over pure-ASCII text (the overwhelming web-text case) the
    * bytes are scanned in place via [[graft.analysis.FusedTokenize.runAscii]]
    * with zero String/char[] materialization; the first non-ASCII byte
    * falls back to the String-based [[analyzeFieldFlat]] route, which is
    * pinned output-identical by FusedAnalyzeSpec.
    */
  def analyzeFieldFlatUtf8(analyzerName: String, value: UTF8String): TokFlat = {
    if (value == null) return EmptyTokFlat
    val a = Analyzers(analyzerName)
    if (a.fusedKind == FusedTokenize.KindNone) return analyzeFieldFlat(analyzerName, value.toString)
    val n = value.numBytes
    var buf = asciiBytesTL.get()
    if (buf.length < n) {
      // doubled-power-of-two growth overflows to negative past 2^30 input
      // bytes — allocate exactly n for such (>1 GiB single-field) values
      val doubled = java.lang.Integer.highestOneBit(math.max(n - 1, 1)) * 2
      buf = new Array[Byte](if (doubled >= n) doubled else n)
      asciiBytesTL.set(buf)
    }
    value.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    val g = fusedGrouper(a)
    if (FusedTokenize.runAscii(buf, n, a.fusedKind, g)) g.result()
    else analyzeFieldFlat(analyzerName, value.toString)
  }

  private[index] val TokFlatType: StructType = StructType(Seq(
    StructField("len", IntegerType, nullable = false),
    StructField("norm", IntegerType, nullable = false),
    StructField("blob", BinaryType, nullable = true)))

  /** Native tokenize expression for plain text fields: evaluates on the
    * engine's `UTF8String` directly, skipping the ScalaUDF input converter's
    * per-(doc,field) String + backing-array allocation and its output
    * converter layers (measured ~5% of 8c executor samples plus the GC/
    * bandwidth churn of ~1 text copy per document — the wide build phase's
    * known tax). Not codegen'd (neither was the ScalaUDF it replaces).
    * `foldable` keeps UnaryExpression's child-derived default: the call site
    * always feeds an attribute, so constant folding never fires there, and
    * folding a literal child on the driver would be harmless anyway.
    */
  final case class TokenizeFlatExpr(analyzerName: String, child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = TokFlatType
    override def nullable: Boolean = false // null input → EmptyTokFlat row
    override def prettyName: String = "tokenize_flat"

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"tokenize_flat requires a string child, got ${child.dataType}")

    override def eval(input: InternalRow): Any = {
      val tf = analyzeFieldFlatUtf8(analyzerName, child.eval(input).asInstanceOf[UTF8String])
      val row = new GenericInternalRow(3)
      row.setInt(0, tf.len)
      row.setInt(1, tf.norm)
      row.update(2, tf.blob)
      row
    }

    override protected def withNewChildInternal(newChild: Expression): TokenizeFlatExpr =
      copy(child = newChild)
  }

  /** The build's one token grouper: term ids come from a [[SliceIds]]
    * table reused across documents, and `accs(id)` is term `id`'s
    * [[TermAcc]] (the array is also the TermAcc pool). Per steady-state
    * document it allocates ONLY the output blob: term keys live as byte
    * slices in the table's reused pool (a String key per first-seen
    * distinct term plus its UTF-8 re-encode in the blob assembler were a
    * measured ~13% of build allocation volume, and allocation churn is the
    * memory-bandwidth tax the wide build pays hardest).
    *
    * Two feeds. [[token]] is the fused route: [[graft.analysis
    * .FusedTokenize]] pushes raw tokens and the filters of the analyzer
    * given to `reset(a)` apply. ASCII tokens lowercase in place (exactly
    * `String.toLowerCase` for ASCII input under any non-Turkic default
    * locale — guarded below) and take the ASCII char lookup; non-ASCII
    * tokens fall back to the String-based chain, preserving
    * locale/special-casing semantics bit-for-bit with `Analyzer.tokenize`,
    * and take the byte lookup. [[add]] takes one already-analyzed token and
    * applies no filter. Both lookups key the same table, so a term reachable
    * via both routes (e.g. Kelvin-sign K lowercasing to ASCII `k`) lands in
    * one accumulator.
    *
    * A thread holds one grouper ([[grouperTL]]): a feed must reach
    * [[result]] before another grouping starts on the same thread.
    */
  private final class TokenGrouper extends graft.analysis.TokenSink {
    import graft.analysis.FusedTokenize.StopChars

    private val ids = new SliceIds
    private var accs = new Array[TermAcc](256)
    private var live = 0 // accs(0 until live) are armed for this document
    private var survivors = 0
    // the fused route's filters, set by reset(a)
    private var removeLong = 0
    private var lower = false
    private var stop = false

    def reset(): Unit = { ids.clear(); live = 0; survivors = 0 }

    def reset(a: Analyzer): Unit = {
      reset()
      removeLong = a.removeLongLimit; lower = a.lowerCase; stop = a.stopWords
    }

    private def addId(id: Int, pos: Int): Unit = {
      if (id == live) { // ids are dense: a new term takes the next id
        if (id == accs.length) accs = java.util.Arrays.copyOf(accs, id * 2)
        if (accs(id) == null) accs(id) = new TermAcc else accs(id).reset()
        live += 1
      }
      accs(id).addPos(pos)
    }

    /** One already-analyzed token at `pos`, looked up by its UTF-8 bytes. */
    def add(term: String, pos: Int): Unit = {
      survivors += 1
      val b = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      addId(ids.id(b, 0, b.length), pos)
    }

    override def token(buf: Array[Char], len: Int, rawBytes: Int, pos: Int, ascii: Boolean): Unit = {
      if (removeLong > 0 && rawBytes >= removeLong) return
      if (ascii && TokenGrouper.asciiLowerSafe) {
        if (lower) {
          var i = 0
          while (i < len) {
            val c = buf(i)
            if (c >= 'A' && c <= 'Z') buf(i) = (c + 32).toChar
            i += 1
          }
        }
        val h = StopChars.hashOf(buf, len)
        if (stop && StopChars.contains(buf, len, h)) return
        survivors += 1
        addId(ids.idAscii(buf, len, h), pos)
      } else {
        var s = new String(buf, 0, len)
        if (lower) s = s.toLowerCase
        if (stop && graft.analysis.StopWords.All.contains(s)) return
        add(s, pos)
      }
    }

    /** Assemble the TokFlat in term-id (first-seen) order — deliberately
      * NOT term-sorted. Per-doc term order is free here: the pack phase
      * keys its own [[SliceIds]] table by term slice (doc-arrival order
      * fixes each fragment's posting content) and the posting table is
      * globally re-sorted on its unique (segment, field, term, block,
      * first_doc) key afterward, so the final index bytes are identical
      * either way; fieldstats and metrics are order-free aggregates. Skipping
      * the per-doc `Arrays.sort` + sorted-order re-probe was a measured ~6%
      * of build task cpu. FusedAnalyzeSpec pins semantic equality with the
      * sorted oracle in src/test via canonicalized compare.
      */
    def result(): TokFlat = {
      val k = ids.size
      // pass 1: size every blob section — the blob below is the ONE
      // allocation of a steady-state doc
      var metaLen = varIntLen(k)
      var posLen = 0
      var i = 0
      while (i < k) {
        val acc = accs(i)
        metaLen += varIntLen(ids.keyLen(i)) + varIntLen(acc.tf) + varIntLen(acc.len)
        posLen += acc.len
        i += 1
      }
      // keys sit back to back in id order: the term section is one copy
      val termsLen = if (k == 0) 0 else ids.keyOff(k - 1) + ids.keyLen(k - 1)
      val blob = new Array[Byte](
        varIntLen(metaLen) + varIntLen(termsLen) + metaLen + termsLen + posLen)
      var p = putVarInt(blob, 0, metaLen)
      p = putVarInt(blob, p, termsLen)
      p = putVarInt(blob, p, k)
      i = 0
      while (i < k) {
        p = putVarInt(blob, p, ids.keyLen(i))
        p = putVarInt(blob, p, accs(i).tf)
        p = putVarInt(blob, p, accs(i).len)
        i += 1
      }
      System.arraycopy(ids.bytes, 0, blob, p, termsLen)
      p += termsLen
      i = 0
      while (i < k) {
        val a = accs(i)
        System.arraycopy(a.buf, 0, blob, p, a.len)
        p += a.len
        i += 1
      }
      TokFlat(survivors, FieldNorm.encode(survivors.toLong), blob)
    }
  }

  private object TokenGrouper {
    /** In-place ASCII lowercasing equals `String.toLowerCase` under every
      * default locale except Turkic ones (tr/az map dotted/dotless I
      * specially even for ASCII input).
      */
    val asciiLowerSafe: Boolean = {
      val l = java.util.Locale.getDefault.getLanguage
      l != "tr" && l != "az"
    }
  }

  /** The canonical doc-order shuffle feeding [[assignDocIds]]: range
    * partition + in-partition sort on (segment, key). `projection` (e.g.
    * tokenization) is applied AFTER the sort so analysis runs exactly once,
    * during pass-1 materialization — the RangePartitioner sampling pass only
    * re-executes the cheap pre-projection scan, never the analyzers.
    * (A hash-sharded doc order was tried and reverted: deterministic and
    * sampling-free, but per-shard-ragged posting blocks inflated fragment
    * counts ~30% and shard-count imbalance straggled the wide build.)
    */
  def shardAndSort(
      df: DataFrame, parts: Int, projection: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.repartitionByRange(parts, col("segment_id"), col("__key"))
      .sortWithinPartitions(col("segment_id"), col("__key"))
      .select(projection: _*)

  /** Assign dense per-segment docIds = rank of `__key` within `segment_id`:
    * range-partition + in-partition sort, then a two-pass offset computation
    * (pass 1 counts rows per (partition, segment); pass 2 is PURE
    * EXPRESSIONS). `df` must come from [[shardAndSort]] and is persisted as
    * the single materialized intermediate of the build.
    *
    * Pass 2 stays declarative on purpose: `monotonically_increasing_id()`
    * exposes each row's in-partition sequence number (low 33 bits), and a
    * broadcast-joined per-(partition, segment) delta rebases it to the
    * global rank — `doc_id = seq + (globalStart − localStart)`. Segments are
    * contiguous within a partition (the sort is `(segment_id, __key)`), so
    * both starts come from the pass-1 counts. An earlier mapPartitions
    * implementation computed the same ids imperatively but acted as a
    * column-pruning barrier: every downstream consumer (the narrow docs
    * write, the pack) paid a full external-Row decode + rebuild of the whole
    * cached row. As expressions, Catalyst prunes the cache scan per consumer
    * and the id math is whole-stage codegen'd. The 33-bit sequence bounds a
    * build partition at 8.6 B rows — orders of magnitude above the partition
    * sizes any sane `buildPartitions` yields at 100 TB.
    *
    * `extraAggs` piggy-back on the pass-1 aggregation (e.g. per-segment
    * token totals): the cache-materializing scan is already paying for the
    * group-by, so segment stats ride along for free instead of re-scanning
    * (or observing during) the docs write.
    *
    * @return (df-with-ids, persisted handle, total rows, pass-1 agg rows
    *         keyed by segment: segment_id -> (count, extra agg values))
    */
  def assignDocIds(
      df: DataFrame,
      parts: Int,
      extraAggs: Seq[org.apache.spark.sql.Column] = Nil
  ): (DataFrame, DataFrame, Long, Map[Int, Row]) = {
    val spark = df.sparkSession
    // the partition id is stamped as a column at materialization time — a
    // TaskContext-based id would be wrong when this plan is later embedded
    // under a union (task partition ids shift per branch)
    val sorted = df.withColumn("__pid", spark_partition_id()).persist(StorageLevel.MEMORY_AND_DISK)

    // pass 1: rows per (physical partition, segment) — small driver table
    val pass1 = sorted
      .groupBy("__pid", "segment_id")
      .agg(count(lit(1)).as("__n"), extraAggs: _*)
      .collect()
    val counts = pass1
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))

    // per-segment rollup of the piggy-backed aggs (sum over shards)
    val segAggRows: Map[Int, Row] =
      if (extraAggs.isEmpty) Map.empty
      else pass1
        .groupBy(_.getInt(1))
        .map { case (seg, rs) =>
          val nExtra = extraAggs.size
          val sums = Array.fill[Long](nExtra + 1)(0L)
          rs.foreach { r =>
            sums(0) += r.getLong(2)
            var i = 0
            while (i < nExtra) {
              if (!r.isNullAt(3 + i)) sums(1 + i) += r.getLong(3 + i)
              i += 1
            }
          }
          seg -> Row.fromSeq(sums.toSeq)
        }

    // global start of each (pid, segment): sum of the segment's counts in
    // earlier pids
    val bySeg = counts.groupBy(_._1._2)
    val offsets: Map[(Int, Int), Long] = bySeg.flatMap { case (seg, cs) =>
      var acc = 0L
      cs.sortBy(_._1._1).map { case ((pid, _), n) =>
        val r = ((pid, seg), acc)
        acc += n
        r
      }
    }
    // local start of each (pid, segment): rows of lower-numbered segments in
    // the same partition (segments are contiguous in segment_id order within
    // a sorted partition)
    val byPid = counts.groupBy(_._1._1)
    val localStarts: Map[(Int, Int), Long] = byPid.flatMap { case (pid, cs) =>
      var acc = 0L
      cs.sortBy(_._1._2).map { case ((_, seg), n) =>
        val r = ((pid, seg), acc)
        acc += n
        r
      }
    }
    val deltas = offsets.toSeq.map { case ((pid, seg), gStart) =>
      (pid, seg, gStart - localStarts((pid, seg)))
    }
    import spark.implicits._
    val deltaDf = deltas.toDF("__pid", "segment_id", "__delta")

    // restore the caller's column order (a using-columns join fronts the
    // keys): contract stays "input columns minus __pid, doc_id appended"
    val outCols = df.columns.map(col).toSeq :+ col("doc_id")
    val withIds = sorted
      .withColumn("__seq", monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(deltaDf), Seq("__pid", "segment_id"))
      .withColumn("doc_id", (col("__seq") + col("__delta")).cast(IntegerType))
      .select(outCols: _*)
    (withIds, sorted, counts.map(_._2).sum, segAggRows)
  }

  val packSchema: StructType = StructType(Seq(
    StructField("field", StringType, false),
    StructField("term", StringType, false),
    StructField("segment_id", IntegerType, false),
    StructField("block_id", IntegerType, false),
    StructField("doc_count", IntegerType, false),
    StructField("first_doc", IntegerType, false),
    StructField("last_doc", IntegerType, false),
    StructField("block_max_tf", IntegerType, false),
    StructField("block_min_norm", IntegerType, false),
    StructField("sum_tf", LongType, false),
    StructField("doc_ids", BinaryType, false),
    StructField("tfs", BinaryType, false),
    StructField("norms", BinaryType, false),
    StructField("positions", BinaryType, true),
    StructField("posting_bytes", LongType, false)
  ))

  /** One posting-block row of [[packSchema]] from its postings in doc
    * order: doc ids, tfs, norm bytes and, for position-recording fields,
    * the docs' packed position runs back to back (else null). The block
    * assembler of both segment writers: the build's pack and the merge's
    * re-blocking.
    */
  private[index] def packBlock(
      field: String, term: String, seg: Int, block: Int,
      docIds: Array[Int], tfs: Array[Int], norms: Array[Byte], pos: Array[Byte]
  ): Row = {
    val docIdsB = PostingCodec.packDocIds(docIds)
    val tfsB = PostingCodec.packVarInts(tfs)
    var maxTf = 0
    var minNorm = 255
    var sumTf = 0L
    var i = 0
    while (i < docIds.length) {
      if (tfs(i) > maxTf) maxTf = tfs(i)
      if ((norms(i) & 0xFF) < minNorm) minNorm = norms(i) & 0xFF
      sumTf += tfs(i)
      i += 1
    }
    val bytes = docIdsB.length.toLong + tfsB.length + norms.length +
      (if (pos == null) 0 else pos.length)
    Row(field, term, seg, block, docIds.length, docIds(0), docIds(docIds.length - 1),
      maxTf, minNorm, sumTf, docIdsB, tfsB, norms, pos, bytes)
  }

  /** Growable primitive int buffer — `ArrayBuffer[Int]` boxes every append,
    * and the pack phase appends 2 ints per posting; at 10^12 postings the
    * box garbage is pure memory-bandwidth tax on the widest phase (the
    * measured cause of the 8c scaling loss).
    */
  private final class IntBuf(initial: Int) {
    private var a = new Array[Int](initial)
    private var n = 0
    def +=(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
    def clear(): Unit = n = 0
  }

  /** One in-progress posting fragment: the postings of one (field, term)
    * within the current (segment, block) of one input partition. Pooled and
    * reused across blocks by the pack (buffer capacity is retained).
    * norms/pos are [[PostingCodec.ByteVec]]s (primitive, bulk-append with an
    * inline short-copy fast path — position slices copy straight in, no
    * boxed `ArrayBuffer[Byte]` and no per-posting chunk array).
    */
  private final class Frag(withPos: Boolean) {
    val docIds = new IntBuf(8)
    val tfs = new IntBuf(8)
    val norms = new PostingCodec.ByteVec(8)
    val pos: PostingCodec.ByteVec = if (withPos) new PostingCodec.ByteVec(16) else null
    def reset(): Unit = {
      docIds.clear(); tfs.clear(); norms.clear()
      if (pos != null) pos.clear()
    }
  }

  /** Map-side posting pack over the analyzed doc partitions (the classic
    * inverted-index combiner): each input partition holds docs SORTED by
    * (segment_id, doc_id) with contiguous docId ranges, so posting blocks
    * (`block_id = doc_id >>> blockBits`) can be assembled in memory one
    * block at a time and emitted as packed fragments — the shuffle then
    * moves ~one binary row per (term, block) instead of one row per
    * (doc, term) occurrence. For a head term this is a ~blockSpan× shuffle
    * reduction; it is what keeps build scaling flat when postings dominate
    * (at 10^12 docs the per-posting shuffle was the memory-bandwidth
    * bottleneck at every core count).
    *
    * A block whose docId range straddles an input-partition boundary yields
    * one fragment per partition; [[writePostings]] merges them through
    * [[reduceFragments]] (the reduce segment merges share) after a
    * segment-aligned hash shuffle. A build's fragments never interleave
    * (partitions hold disjoint contiguous doc ranges), so they concatenate
    * into block bytes IDENTICAL to a single-pass pack: only the absolute
    * first docId varint of each later run is rewritten as a delta.
    */
  def packFromAnalyzed(
      analyzed: DataFrame,
      fields: Seq[FieldDef],
      blockBits: Int,
      recordPositions: Map[String, Boolean]
  ): DataFrame = {
    val inSchema = analyzed.schema
    val segIdx = inSchema.fieldIndex("segment_id")
    val docIdx = inSchema.fieldIndex("doc_id")
    val fieldNames = fields.map(_.name).toArray
    val tokIdxs = fieldNames.map(n => inSchema.fieldIndex(s"__tok_$n"))
    val withPosArr = fieldNames.map(n => recordPositions.getOrElse(n, false))
    val nFields = fieldNames.length

    analyzed.mapPartitions { rows =>
      new Iterator[Row] {
        private val pending = new java.util.ArrayDeque[Row]()
        // per field: the current block's term ids, and frags(fi)(id) the
        // fragment of term id (the array is also the Frag pool)
        private val terms = Array.fill(nFields)(new SliceIds)
        private val frags = Array.fill(nFields)(new Array[Frag](256))
        private val metaReader = new MetaReader
        private var curSeg = Int.MinValue
        private var curBlock = Int.MinValue
        private var finalFlushDone = false

        private def fragOf(fi: Int, id: Int): Frag = {
          var fs = frags(fi)
          if (id == fs.length) { fs = java.util.Arrays.copyOf(fs, id * 2); frags(fi) = fs }
          var f = fs(id)
          if (f == null) { f = new Frag(withPosArr(fi)); fs(id) = f }
          f
        }

        private def flushAll(seg: Int, block: Int): Unit = {
          var fi = 0
          while (fi < nFields) {
            val ids = terms(fi)
            var id = 0
            while (id < ids.size) {
              val f = frags(fi)(id)
              pending.add(packBlock(fieldNames(fi),
                new String(ids.bytes, ids.keyOff(id), ids.keyLen(id),
                  java.nio.charset.StandardCharsets.UTF_8),
                seg, block, f.docIds.toArray, f.tfs.toArray, f.norms.toArray,
                if (f.pos == null) null else f.pos.toArray))
              f.reset()
              id += 1
            }
            ids.clear()
            fi += 1
          }
        }

        private def fill(): Unit = {
          while (pending.isEmpty && rows.hasNext) {
            val r = rows.next()
            val seg = r.getInt(segIdx)
            val doc = r.getInt(docIdx)
            val block = doc >>> blockBits
            if (seg != curSeg || block != curBlock) {
              // docs arrive in (segment, docId) order, so an ended block can
              // never receive postings again in this partition — flush it
              flushAll(curSeg, curBlock)
              curSeg = seg
              curBlock = block
            }
            var fi = 0
            while (fi < nFields) {
              val tok = r.getAs[Row](tokIdxs(fi))
              val norm = tok.getInt(1).toByte
              // everything crosses the Row boundary as ONE binary blob (one
              // memcpy + one allocation per (doc, field)): the term bytes
              // and position runs are consumed as raw slices of the blob,
              // and the per-term ints (term length / tf / position-run
              // length) stream out of its varint meta section — no boxed
              // MapObjects loop, no String decode per posting occurrence
              // anywhere in the pack. The two header varints give the
              // section bases, so the walk stays one-pass.
              val blob = tok.getAs[Array[Byte]](2)
              val withPos = withPosArr(fi)
              val ids = terms(fi)
              metaReader.reset(blob)
              val metaLen = metaReader.next()
              val termsLen = metaReader.next()
              val termBase = metaReader.position + metaLen
              val nTerms = metaReader.next()
              var gi = 0
              var termFrom = termBase
              var posFrom = termBase + termsLen
              while (gi < nTerms) {
                val termUntil = termFrom + metaReader.next()
                val tf = metaReader.next()
                val posUntil = posFrom + metaReader.next()
                val frag = fragOf(fi, ids.id(blob, termFrom, termUntil))
                termFrom = termUntil
                frag.docIds += doc
                frag.tfs += tf
                frag.norms += norm
                if (withPos) frag.pos.append(blob, posFrom, posUntil)
                posFrom = posUntil
                gi += 1
              }
              fi += 1
            }
          }
          if (pending.isEmpty && !rows.hasNext && !finalFlushDone) {
            finalFlushDone = true
            flushAll(curSeg, curBlock)
          }
        }

        def hasNext: Boolean = { fill(); !pending.isEmpty }
        def next(): Row = { fill(); pending.poll() }
      }
    }(Encoders.row(packSchema))
  }

  /** The fragment reduce both segment writers share (builds from
    * [[packFromAnalyzed]], merges from `Maintenance.mergeSegments`):
    * shuffle [[packSchema]] fragments SEGMENT-ALIGNED ([[reducePartition]]),
    * sort each partition by (segment, field, term, block, first_doc), and
    * merge each run of one (segment, field, term, block) with
    * [[mergeFragments]]; single-fragment blocks pass through with zero
    * decode. A segment's terms are hash buckets over the partitions it
    * owns, so a segment's files are those buckets — `max(parts, S)` posting
    * files for S segments, not `parts × S`: a fresh reader pays per file it
    * opens, not per byte. Hash, not range: RangePartitioning runs a sampling
    * job that would EXECUTE THE ENTIRE MAP SIDE A SECOND TIME just to pick
    * bounds. Hash keeps all of a term's blocks in one file, and the
    * within-partition sort keeps row-group min/max stats tight for
    * term-predicate pruning — the pruning queries actually use; only
    * cross-FILE range locality is given up.
    *
    * Each output block adds its `posting_bytes` to its segment's `totals`
    * (the segments written, by id) and, when it is the first block of its
    * (segment, field, term) run (the block after a change of term, in the
    * sorted order), one term.
    */
  private[index] def reduceFragments(
      fragments: DataFrame, parts: Int, layout: Map[Int, (Int, Int)],
      totals: Map[Int, (LongAccumulator, LongAccumulator)]): DataFrame =
    fragments
      .repartitionById(parts, reducePartition(layout))
      .sortWithinPartitions("segment_id", "field", "term", "block_id", "first_doc")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Row] {
          private var prev: Row = null
          def hasNext: Boolean = it.hasNext
          def next(): Row = {
            val head = it.next()
            val block =
              if (!it.hasNext || !sameKey(head, it.head)) head
              else {
                val run = scala.collection.mutable.ArrayBuffer(head)
                while (it.hasNext && sameKey(head, it.head)) run += it.next()
                mergeFragments(run.toSeq)
              }
            val (terms, bytes) = totals(block.getInt(2))
            if (prev == null || !sameTerm(prev, head)) terms.add(1)
            bytes.add(block.getLong(14))
            prev = head
            block
          }
        }
      }(Encoders.row(packSchema))

  /** The posting-file layout of a write of the segments `segIds` over
    * `parts` reduce partitions, `segment_id -> (lo, width)`: with S < parts,
    * segment i of the S sorted ids owns partitions [i·parts/S,
    * (i+1)·parts/S); with S ≥ parts, the whole segment goes to partition
    * i·parts/S (width 1). A term's blocks go to partition `lo +
    * termBucket(field, term, width)` ([[reducePartition]]), and Spark names
    * each task's file after its partition (`part-<id>-…`; the by-id shuffle
    * is one AQE does not coalesce), so the layout names the one file of a
    * segment that can hold a term.
    */
  private[index] def bucketLayout(segIds: Seq[Int], parts: Int): Map[Int, (Int, Int)] = {
    val s = segIds.sorted
    s.zipWithIndex.map { case (seg, i) =>
      val lo = (i.toLong * parts / s.size).toInt
      seg -> (lo, math.max((i + 1).toLong * parts / s.size - lo, 1L).toInt)
    }.toMap
  }

  /** The bucket among `width` that holds the term `(field, term)`:
    * `pmod(hash(field, term), width)`. The postings reduce evaluates it on
    * the rows ([[reducePartition]]), readers on literals ([[termBucket(String,String,Int)]]).
    */
  private[graft] def termBucket(field: Expression, term: Expression, width: Int): Expression =
    Pmod(new Murmur3Hash(Seq(field, term)), Literal(width))

  /** [[termBucket]] of one term, evaluated on the driver. */
  private[graft] def termBucket(field: String, term: String, width: Int): Int =
    termBucket(Literal(field), Literal(term), width).eval().asInstanceOf[Int]

  /** A fragment's reduce partition by its segment's `layout` entry `(lo,
    * width)`: `lo + termBucket(field, term, width)`. A fragment of any other
    * segment fails the task rather than land in some partition.
    */
  private def reducePartition(layout: Map[Int, (Int, Int)]): Column = {
    val unknown = raise_error(concat(
      lit("posting fragment of a segment outside the write: segment_id="), col("segment_id").cast(StringType)))
    val (field, term) = (ColumnBridge.expression(col("field")), ColumnBridge.expression(col("term")))
    layout.toSeq.sorted.map { case (seg, (lo, width)) =>
      (col("segment_id") === seg, lit(lo) + ColumnBridge.column(termBucket(field, term, width)))
    } match {
      case Seq() => unknown
      case (c0, p0) +: rest => rest.foldLeft(when(c0, p0)) { case (w, (c, p)) => w.when(c, p) }.otherwise(unknown)
    }
  }

  private def sameTerm(a: Row, b: Row): Boolean =
    a.getInt(2) == b.getInt(2) && a.getString(0) == b.getString(0) && a.getString(1) == b.getString(1)

  private def sameKey(a: Row, b: Row): Boolean =
    sameTerm(a, b) && a.getInt(3) == b.getInt(3)

  /** Merge fragments of one (segment, field, term, block), ordered by
    * first_doc, into bytes identical to a single-pass pack. When each run
    * starts after the previous run's last doc (a build's partition-boundary
    * splits), the binary runs concatenate and only each later run's leading
    * absolute docId varint is rewritten as a delta. Runs that interleave (a
    * merge's fragments from different old blocks) are decoded, merged by
    * doc and re-packed.
    */
  private def mergeFragments(run: Seq[Row]): Row = {
    if (run.sliding(2).exists(p => p(1).getInt(5) <= p(0).getInt(6))) return mergeInterleaved(run)
    var docLen = 0
    var tfLen = 0
    var normLen = 0
    var posLen = 0
    run.foreach { r =>
      docLen += r.getAs[Array[Byte]](10).length
      tfLen += r.getAs[Array[Byte]](11).length
      normLen += r.getAs[Array[Byte]](12).length
      val p = r.getAs[Array[Byte]](13)
      if (p != null) posLen += p.length
    }
    val doc = new PostingCodec.ByteVec(docLen + run.size * 5)
    val tfs = new Array[Byte](tfLen)
    val norms = new Array[Byte](normLen)
    val pos = if (run.head.get(13) == null) null else new Array[Byte](posLen)
    var tfO = 0
    var nO = 0
    var pO = 0
    var prevLast = -1
    var count = 0
    var maxTf = 0
    var minNorm = 255
    var sumTf = 0L
    run.foreach { r =>
      val db = r.getAs[Array[Byte]](10)
      if (prevLast < 0) doc.append(db, 0, db.length)
      else {
        // skip the absolute first-doc varint, re-encode as delta
        var p = 0
        while ((db(p) & 0x80) != 0) p += 1
        p += 1
        doc.addVarInt(r.getInt(5) - prevLast)
        doc.append(db, p, db.length)
      }
      prevLast = r.getInt(6)
      val tb = r.getAs[Array[Byte]](11)
      System.arraycopy(tb, 0, tfs, tfO, tb.length); tfO += tb.length
      val nb = r.getAs[Array[Byte]](12)
      System.arraycopy(nb, 0, norms, nO, nb.length); nO += nb.length
      if (pos != null) {
        val pb = r.getAs[Array[Byte]](13)
        System.arraycopy(pb, 0, pos, pO, pb.length); pO += pb.length
      }
      count += r.getInt(4)
      if (r.getInt(7) > maxTf) maxTf = r.getInt(7)
      if (r.getInt(8) < minNorm) minNorm = r.getInt(8)
      sumTf += r.getLong(9)
    }
    val docB = doc.toArray
    val bytes = docB.length.toLong + tfs.length + norms.length +
      (if (pos == null) 0 else pos.length)
    val h = run.head
    Row(h.getString(0), h.getString(1), h.getInt(2), h.getInt(3),
      count, h.getInt(5), prevLast, maxTf, minNorm, sumTf,
      docB, tfs, norms, pos, bytes)
  }

  private def mergeInterleaved(run: Seq[Row]): Row = {
    val withPos = run.head.get(13) != null
    val docs = new IntBuf(64)
    val tfs = new IntBuf(64)
    val norms = new PostingCodec.ByteVec(64)
    val pos = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    run.foreach { r =>
      val n = r.getInt(4)
      val t = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](11), n)
      PostingCodec.unpackDocIds(r.getAs[Array[Byte]](10), n).foreach(docs += _)
      t.foreach(tfs += _)
      val nb = r.getAs[Array[Byte]](12)
      norms.append(nb, 0, nb.length)
      if (withPos) pos ++= PostingCodec.slicePositions(r.getAs[Array[Byte]](13), t)
    }
    val (d, t, nm) = (docs.toArray, tfs.toArray, norms.toArray)
    val order = d.indices.sortBy(d(_)).toArray
    val h = run.head
    packBlock(h.getString(0), h.getString(1), h.getInt(2), h.getInt(3),
      order.map(d(_)), order.map(t(_)), order.map(nm(_)),
      if (withPos) Array.concat(order.map(pos(_)).toSeq: _*) else null)
  }

  private val timing = sys.env.get("GRAFT_BUILD_TIMING").contains("1")
  private def timed[A](name: String)(f: => A): A =
    if (!timing) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[build-timing] $name=${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

  /** Write per-segment artifacts (docs, postings, fieldstats,
    * metrics) for the built segments + metrics lineage. Does NOT publish a
    * snapshot — callers compose segment builds into atomic commits.
    * Segment dirs are replaced with dynamic partition overwrite, so existing
    * segments in the same index are untouched.
    *
    * @return the non-empty segment ids written
    */
  def buildSegments(
      spark: SparkSession,
      pages: DataFrame,
      schema: IndexSchema,
      indexDir: String,
      buildId: String,
      conf: BuildConf = BuildConf(),
      segOffset: Int = 0
  ): Seq[Int] = {
    val parts = conf.partitions(spark)

    // project early: key + indexed + stored columns only (column pruning
    // reaches the source scan); the original key column is dropped so the
    // generated doc_id/segment_id/key names can't collide
    val needed = (schema.fields.map(_.name) ++ schema.storedFields).distinct
      .filterNot(_ == schema.keyField)
    require(
      !needed.exists(Set("doc_id", "segment_id", "key", "__key").contains),
      "reserved column name in schema fields: doc_id/segment_id/key/__key")
    val keyed = pages
      .select((schema.keyColumn.as("__key") +: needed.map(col)): _*)
      .withColumn(
        "segment_id",
        (lit(segOffset) + pmod(xxhash64(col("__key")), lit(conf.numSegments))).cast(IntegerType))

    // tokenize each indexed field exactly once, in the projection applied
    // after the segment/key sort — the persisted intermediate carries token
    // groups (and stored fields) but NOT the raw indexed text.
    // A text field whose INPUT COLUMN is `struct<text, tokens:array<struct<
    // position, text>>>` is pre-tokenized (reference
    // `summa_document.rs:150-160` accepts tantivy PreTokenizedString objects
    // for str fields): the provided tokens bypass the analyzer while keeping
    // positions/fieldnorm semantics; a row with a NULL tokens array falls
    // back to analyzing its `text`, mirroring the reference's per-value
    // string-or-object choice — but discriminated by column TYPE at plan
    // time, not by sniffing every row.
    val tokCols: Map[String, org.apache.spark.sql.Column] = schema.fields.map { f =>
      val an = f.analyzer
      val expr = f.fieldType match {
        case "json"  => udf((s: String) => JsonField.analyzeJson(an, s)).apply(col(f.name).cast(StringType))
        case "bytes" => udf((s: String) => singleTermFlat(Option(s).flatMap(TypedFields.bytesTerm))).apply(col(f.name).cast(StringType))
        case "ip"    => udf((s: String) => singleTermFlat(TypedFields.ipTerm(s))).apply(col(f.name).cast(StringType))
        case _ =>
          pages.schema.find(_.name == f.name).map(_.dataType) match {
            case Some(st: StructType)
                if st.fieldNames.contains("text") && st.fieldNames.contains("tokens") =>
              udf((text: String, toks: Seq[PreToken]) =>
                if (toks == null) analyzeFieldFlat(an, text)
                else analyzePreTokenized(toks))
                .apply(col(s"${f.name}.text"), col(s"${f.name}.tokens"))
            case _ =>
              // native expression: tokenizes the UTF8String in place (ASCII
              // byte path + String fallback), no ScalaUDF converters
              org.apache.spark.sql.graftbridge.ColumnBridge.column(
                TokenizeFlatExpr(
                  an,
                  org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                    col(f.name).cast(StringType))))
          }
      }
      f.name -> expr
    }.toMap
    val keepCols =
      Seq(col("segment_id"), col("__key")) ++
        schema.storedFields.map(col) ++
        schema.fields.map(f => tokCols(f.name).as(s"__tok_${f.name}"))
    // len/norm are ALSO lifted to top-level int columns in a SECOND select:
    // the columnar cache stores a struct column as one opaque blob per row,
    // so any later read of just `__tok_f.len` (the docs write, the pass-1
    // token totals) would decode every term blob in the cache. Top-level
    // scalar copies make those reads prunable narrow column scans. The
    // separate select matters — CollapseProject refuses to merge it into the
    // projection below because that would duplicate the (expensive) tokenize
    // UDF per extracted field, so the UDF still runs exactly once per row.
    val lifted = schema.fields.flatMap(f => Seq(
      col(s"__tok_${f.name}.len").as(s"__len_${f.name}"),
      col(s"__tok_${f.name}.norm").as(s"__norm_${f.name}")))
    val sortedTok = shardAndSort(keyed, parts, keepCols).select(col("*") +: lifted: _*)

    // per-segment token totals piggy-back on the pass-1 docId aggregation —
    // the cache-materializing scan pays for the group-by anyway, so neither
    // a separate stats job nor per-row CollectMetrics during the docs write
    // is needed (both showed up as the worst-scaling serial tail)
    val lenAggs = schema.fields.map(f => sum(col(s"__len_${f.name}")).as(s"tt_${f.name}"))
    val (analyzed, sortedHandle, totalDocs, segAggs) =
      timed("tokenize+sort+docids")(assignDocIds(sortedTok, parts, lenAggs))
    val segStats = IndexBuilder.segStats(schema, segAggs)

    // ---- docs table (doc store + fast fields + fieldnorms) ----
    // written DIRECTLY from the cached (segment, key)-sorted partitions: no
    // shuffle, no wave quantization — every core writes its own partition
    // range, files stay sorted by doc_id within each segment dir
    val docsDf = analyzed.select(
      (Seq(col("segment_id"), col("doc_id"), col("__key").as("key")) ++
        schema.storedFields.map(col) ++
        schema.fields.flatMap(f =>
          Seq(
            col(s"__len_${f.name}").as(s"len_${f.name}"),
            col(s"__norm_${f.name}").as(s"norm_${f.name}")))): _*
    )
    // the docs write and the posting pack both read the (already
    // materialized) cache and write disjoint outputs — run them as
    // CONCURRENT jobs so neither adds a serial wall-clock segment
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val docsJob = Future(timed("docs-write")(writeDocs(docsDf, schema, indexDir)))

    // ---- posting blocks (map-side pack + fragment-merge shuffle) ----
    // the docs future is ALWAYS awaited before leaving this scope: if the
    // postings write throws, the detached docs job must not keep writing to
    // $indexDir/docs behind the caller's cleanup/retry — the postings
    // failure stays primary, a concurrent docs failure is secondary
    var primary: Throwable = null
    val totals = try {
      timed("postings-pack-write")(writePostings(
        packFromAnalyzed(analyzed, schema.fields, conf.blockBits, schema.recordPositions),
        parts, indexDir, segStats.map(_.segmentId)))
    } catch { case t: Throwable => primary = t; throw t }
    finally {
      try Await.result(docsJob, Duration.Inf)
      catch { case t: Throwable => if (primary == null) throw t else primary.addSuppressed(t) }
    }

    val segs = timed("stats+metrics")(
      writeStats(spark, schema, indexDir, buildId, segStats, conf.blockBits, totals, 0, Nil))

    sortedHandle.unpersist()
    segs
  }

  // zstd effort for the bulk index writes. The writes take their codec from
  // the session's `spark.sql.parquet.compression.codec`, so the level
  // applies only where that is zstd (`Bench`, `BenchPhase`); under Spark's
  // default, snappy, the option is ignored. Posting payloads are already
  // entropy-packed varints, so zstd's default level 3 buys ~2% size over
  // level 1 at ~25% of the write stage's cpu
  private val zstdLevel = "parquet.compression.codec.zstd.level"

  /** Write docs-table rows (`segment_id`, `doc_id`, `key`, stored columns,
    * `len_`/`norm_` per field) into the `docs` table, replacing only the
    * segment partitions present (dynamic partition overwrite) — the docs
    * write of both segment writers. The codec is the session's; the zstd
    * level ([[zstdLevel]]) applies only where that is zstd.
    *
    * (Near-)distinct columns make the parquet dictionary writer hash every
    * value only to overflow its 1 MB page and fall back to plain — the
    * dictionary writers were ~8% of build JFR samples. It is off for:
    * doc_id (sequential, all-distinct), the doc key, analyzed-text stored
    * columns, and temporal/long/double stored columns (timestamps and
    * measures are near-distinct in practice; INT96 timestamps dictionary
    * as fixed-len byte arrays, the costliest hash). It stays on for raw
    * fields (lang/label-like low-cardinality fast fields, where the
    * dictionary also speeds predicate reads) and small-int len/norm columns.
    */
  private[index] def writeDocs(docs: DataFrame, schema: IndexSchema, indexDir: String): Unit = {
    val analyzedStored = schema.storedFields.filter(n =>
      schema.field(n).exists(f => f.analyzer != "raw" && f.analyzer != "raw_ci"))
    val wideStored = docs.schema.fields.collect {
      case f if schema.storedFields.contains(f.name) &&
          (f.dataType == TimestampType || f.dataType == LongType || f.dataType == DoubleType) => f.name
    }.toSeq
    val noDictCols = ("key" +: "doc_id" +: (analyzedStored ++ wideStored)).distinct
      .map(n => s"parquet.enable.dictionary#$n" -> "false").toMap
    docs.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option(zstdLevel, "1")
      .options(noDictCols)
      .partitionBy("segment_id")
      .parquet(s"$indexDir/docs")
  }

  /** A segment's distinct `(field, term)` count, summed `posting_bytes` and
    * posting-file layout ([[bucketLayout]]).
    */
  private[index] final case class PostingTotals(numTerms: Long, postingBytes: Long, bucketLo: Int, bucketWidth: Int)

  /** Merge packed [[packSchema]] fragments into blocks ([[reduceFragments]])
    * and write them into the `postings` table, replacing only the segment
    * partitions present (dynamic partition overwrite), laid out by
    * [[bucketLayout]]. The [[PostingTotals]]
    * of each of `segIds` are counted by the write's own tasks in
    * accumulators: the reduce runs in the write's result stage, so each
    * partition counts once and the counts are whole when the write
    * returns; nothing reads the blocks back. The codec is the session's, as
    * in [[writeDocs]].
    */
  private[index] def writePostings(
      fragments: DataFrame,
      parts: Int,
      indexDir: String,
      segIds: Seq[Int]
  ): Map[Int, PostingTotals] = {
    val sc = fragments.sparkSession.sparkContext
    val totals = segIds.map(s => s -> (sc.longAccumulator, sc.longAccumulator)).toMap
    val layout = bucketLayout(segIds, parts)
    reduceFragments(fragments, parts, layout, totals)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option(zstdLevel, "1")
      // the packed posting payloads are unique-per-row binaries: the
      // dictionary writer hashes every value only to overflow and fall
      // back to plain anyway (its rehash was a top-10 JFR leaf of the
      // build) — turn it off for the payload columns, keep it for the
      // low-cardinality field/term columns
      .option("parquet.enable.dictionary#doc_ids", "false")
      .option("parquet.enable.dictionary#tfs", "false")
      .option("parquet.enable.dictionary#norms", "false")
      .option("parquet.enable.dictionary#positions", "false")
      // near-distinct per-block scalars: same overflow-then-fallback
      // waste as the payloads (doc_count/max_tf/min_norm stay
      // dictionaried — they live in small value ranges)
      .option("parquet.enable.dictionary#first_doc", "false")
      .option("parquet.enable.dictionary#last_doc", "false")
      .option("parquet.enable.dictionary#sum_tf", "false")
      .option("parquet.enable.dictionary#posting_bytes", "false")
      .partitionBy("segment_id")
      .parquet(s"$indexDir/postings")
    totals.map { case (s, (terms, bytes)) =>
      s -> PostingTotals(terms.value, bytes.value, layout(s)._1, layout(s)._2)
    }
  }

  /** The `fieldstats` table's rows, `segment_id` its partition column. The
    * segment's posting-file layout ([[bucketLayout]]) repeats on each of its
    * rows; segments written before fieldstats held it read it as null.
    */
  val fieldStatsSchema: StructType = StructType(Seq(
    StructField("field", StringType, false),
    StructField("n_docs", LongType, false),
    StructField("total_tokens", LongType, true),
    StructField("block_bits", IntegerType, false),
    StructField("bucket_lo", IntegerType, true),
    StructField("bucket_width", IntegerType, true),
    StructField("segment_id", IntegerType, false)))

  /** The stats tail of both segment writers, with no Spark job: fieldstats
    * from the doc-id pass's piggy-backed aggregates (`segStats`) with the
    * `blockBits` the postings were blocked at (`block_id = doc_id >>>
    * block_bits`, a fact readers align docs-table rows to posting blocks
    * with) and the postings write's bucket layout (the posting file of
    * each term), and an append-only metrics lineage row per segment from
    * the postings write's `totals`. Both are a few rows per segment,
    * written by the driver ([[TinyParquet]]). Builds pass depth 0 and no
    * parents, merges their parents' depth + 1 and the merged segment ids.
    * Term statistics are no table of their own: `IndexReader.termStatsDf`
    * derives them from the posting blocks.
    *
    * @return the segment ids of `segStats`, sorted (builds: the non-empty
    *         segments, from the doc-count agg — no extra read of the docs
    *         table)
    */
  private[index] def writeStats(
      spark: SparkSession,
      schema: IndexSchema,
      indexDir: String,
      buildId: String,
      segStats: Seq[SegStat],
      blockBits: Int,
      totals: Map[Int, PostingTotals],
      mergeDepth: Int,
      parentSegments: Seq[Int]
  ): Seq[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    segStats.foreach { st =>
      val t = totals(st.segmentId)
      TinyParquet.replacePartition(conf, s"$indexDir/fieldstats", st.segmentId, TinyParquet.fieldStats,
        schema.fields.map(f => Seq(f.name, st.nDocs, st.tokensByField(f.name), blockBits, t.bucketLo, t.bucketWidth)))
    }
    val createdAt = System.currentTimeMillis() * 1000L
    TinyParquet.append(conf, s"$indexDir/metrics", TinyParquet.metrics, segStats.map { st =>
      val t = totals(st.segmentId)
      Seq(buildId, st.segmentId, st.nDocs, t.numTerms, t.postingBytes, mergeDepth,
        parentSegments.map(_.toString), createdAt)
    })
    segStats.map(_.segmentId).sorted
  }

  /** Fresh full build: build all segments from `pages` and publish snapshot
    * v1 (or the next version if the index already exists).
    */
  def build(
      spark: SparkSession,
      pages: DataFrame,
      schema: IndexSchema,
      indexDir: String,
      buildId: String,
      conf: BuildConf = BuildConf()
  ): Unit = {
    val segs = buildSegments(spark, pages, schema, indexDir, buildId, conf)
    // self-describing index: readers (and the SQL search() table function)
    // resolve the schema from the dir without caller-side knowledge
    IndexSchema.write(spark, indexDir, schema)
    Snapshots.commit(spark, indexDir, segs, buildId)
  }
}
