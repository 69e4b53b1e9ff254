package graft.index

/** Binary codec for posting blocks.
  *
  * A block holds the postings of one `(field, term, segment, block_id)` key,
  * where `block_id = doc_id >>> blockBits` — i.e. blocks cover fixed docId
  * *ranges*, so block assignment is embarrassingly parallel and head-term
  * posting lists shard across blocks with no skew (this replaces the
  * reference's single-node 128-doc posting blocks, `[tantivy, public]`, with
  * a shuffle-friendly equivalent; skip metadata `block_max_tf` /
  * `first_doc` / `last_doc` plays the role of tantivy's block-max data for
  * WAND pruning).
  *
  * Layouts (all varint = unsigned LEB128):
  *   - docIds: delta-encoded varints (first absolute within segment)
  *   - tfs: varints
  *   - norms: one raw byte per doc (u8 fieldnorm id)
  *   - positions: per doc, `tf` delta-encoded varint positions, concatenated
  */
object PostingCodec {

  /** Growable primitive byte writer for the pack hot paths —
    * `ArrayBuffer[Byte]` is unspecialized (it boxes every appended byte into
    * an object array), and the packers append one byte per varint byte of
    * every posting.
    */
  final class ByteVec(initial: Int) {
    private var a = new Array[Byte](math.max(initial, 8))
    private var n = 0
    def add(b: Byte): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = b; n += 1
    }
    def +=(b: Byte): Unit = add(b)
    def addVarInt(v0: Int): Unit = {
      var v = v0
      while ((v & ~0x7F) != 0) { add(((v & 0x7F) | 0x80).toByte); v >>>= 7 }
      add(v.toByte)
    }
    def append(src: Array[Byte], from: Int, until: Int): Unit = {
      val len = until - from
      if (len > 0) {
        while (n + len > a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
        // the map-side pack appends one ~1-3 byte position run PER POSTING —
        // the JNI arraycopy call overhead dominates at those sizes (JFR leaf
        // #1 of the whole build), so short runs copy inline
        if (len <= 4) {
          var i = from; var j = n
          while (i < until) { a(j) = src(i); i += 1; j += 1 }
          n += len
        } else {
          System.arraycopy(src, from, a, n, len); n += len
        }
      }
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
    /** Logical reset retaining capacity (the [[graft.index]] Frag pool reuses
      * buffers across blocks).
      */
    def clear(): Unit = n = 0
  }

  final class Reader(bytes: Array[Byte]) {
    private var p = 0
    def hasNext: Boolean = p < bytes.length
    def readVarInt(): Int = {
      var shift = 0
      var out = 0
      var b = 0
      do {
        b = bytes(p) & 0xFF
        p += 1
        out |= (b & 0x7F) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      out
    }
  }

  def packDocIds(sortedDocIds: Array[Int]): Array[Byte] = {
    val buf = new ByteVec(sortedDocIds.length * 2)
    var prev = 0
    var i = 0
    while (i < sortedDocIds.length) {
      val d = sortedDocIds(i)
      buf.addVarInt(if (i == 0) d else d - prev)
      prev = d
      i += 1
    }
    buf.toArray
  }

  def packVarInts(vs: Array[Int]): Array[Byte] = {
    val buf = new ByteVec(vs.length * 2)
    var i = 0
    while (i < vs.length) { buf.addVarInt(vs(i)); i += 1 }
    buf.toArray
  }

  /** positions per doc, deltas within each doc's list. */
  def packPositions(positionsPerDoc: Array[Array[Int]]): Array[Byte] = {
    val buf = new ByteVec(16)
    positionsPerDoc.foreach { ps =>
      var prev = 0
      var first = true
      ps.foreach { p =>
        buf.addVarInt(if (first) p else p - prev)
        prev = p
        first = false
      }
    }
    buf.toArray
  }

  /** Pack ONE doc's position list (absolute first, then deltas) — the
    * per-doc unit of the block layout above. Because each doc's run restarts
    * its delta base, a posting block's `positions` bytes are EXACTLY the
    * concatenation of these per-doc packs, so the tokenizer can pre-pack
    * positions once and every later stage (shuffle, cache, block pack,
    * merge) moves ~1-2 bytes per occurrence instead of a 4-byte-per-element
    * array — the dominant memory-bandwidth term of the build shuffle.
    */
  def packDocPositions(ps: Array[Int]): Array[Byte] = {
    val buf = new ByteVec(ps.length + 1)
    var prev = 0
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      buf.addVarInt(if (i == 0) p else p - prev)
      prev = p
      i += 1
    }
    buf.toArray
  }

  /** Split a block's `positions` bytes back into per-doc byte runs (no
    * decode — varints are only walked to find the boundaries). Segment
    * merges use this to carry positions through docId rebasing untouched.
    */
  def slicePositions(bytes: Array[Byte], tfs: Array[Int]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](tfs.length)
    var p = 0
    var d = 0
    while (d < tfs.length) {
      val start = p
      var k = tfs(d)
      while (k > 0) {
        while ((bytes(p) & 0x80) != 0) p += 1
        p += 1
        k -= 1
      }
      out(d) = java.util.Arrays.copyOfRange(bytes, start, p)
      d += 1
    }
    out
  }

  def unpackDocIds(bytes: Array[Byte], count: Int): Array[Int] = {
    val r = new Reader(bytes)
    val out = new Array[Int](count)
    var acc = 0
    var i = 0
    while (i < count) {
      acc = if (i == 0) r.readVarInt() else acc + r.readVarInt()
      out(i) = acc
      i += 1
    }
    out
  }

  def unpackVarInts(bytes: Array[Byte], count: Int): Array[Int] = {
    val r = new Reader(bytes)
    Array.fill(count)(r.readVarInt())
  }

  /** Decode positions given the per-doc tf counts. */
  def unpackPositions(bytes: Array[Byte], tfs: Array[Int]): Array[Array[Int]] = {
    val r = new Reader(bytes)
    tfs.map { tf =>
      val ps = new Array[Int](tf)
      var acc = 0
      var i = 0
      while (i < tf) {
        acc = if (i == 0) r.readVarInt() else acc + r.readVarInt()
        ps(i) = acc
        i += 1
      }
      ps
    }
  }
}
