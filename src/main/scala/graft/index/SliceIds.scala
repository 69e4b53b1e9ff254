package graft.index

/** The build's term table: an open-addressed interner of UTF-8 byte-slice
  * keys that gives each distinct key of the current generation a dense id
  * 0, 1, 2, … in first-seen order (the term-id scheme of tantivy's segment
  * writer). Callers keep their per-term state in arrays indexed by id. Keys
  * sit back to back in one reused byte pool, in id order: key `i` is
  * `bytes[keyOff(i), keyOff(i) + keyLen(i))`. [[clear]] starts a new
  * generation and zeroes nothing, so a table reused across documents or
  * posting blocks allocates only when it grows.
  *
  * Both lookups hash with the `String.hashCode` convention over `b & 0xFF`,
  * which equals the char hash of ASCII text: a key reached by bytes and by
  * ASCII chars (the Kelvin sign lowercases to ASCII `k`) gets one id.
  */
private[index] final class SliceIds {
  private var cap = 256 // slots, a power of two; ids stay below 0.7 × cap
  private var slotIds = new Array[Int](cap)
  // a slot is live when its stamp is the current generation (never 0)
  private var slotGens = new Array[Int](cap)
  private var gen = 1
  private var n = 0
  // per id: key offset and length in the pool, key hash
  private var offs = new Array[Int](cap)
  private var lens = new Array[Int](cap)
  private var hashes = new Array[Int](cap)
  private var pool = new Array[Byte](1 << 12)

  /** The ids of this generation are `0 until size`. */
  def size: Int = n
  def bytes: Array[Byte] = pool
  def keyOff(id: Int): Int = offs(id)
  def keyLen(id: Int): Int = lens(id)

  def clear(): Unit = {
    gen += 1
    // a wrapped stamp could match a slot stamped 2^32 generations ago
    if (gen == 0) { java.util.Arrays.fill(slotGens, 0); gen = 1 }
    n = 0
  }

  @inline private def spread(h: Int): Int = h ^ (h >>> 16)

  /** The id of the UTF-8 key `b[from, until)`, interned if new. */
  def id(b: Array[Byte], from: Int, until: Int): Int = {
    var h = 0
    var i = from
    while (i < until) { h = 31 * h + (b(i) & 0xFF); i += 1 }
    val len = until - from
    var s = spread(h) & (cap - 1)
    while (slotGens(s) == gen) {
      val k = slotIds(s)
      if (hashes(k) == h && lens(k) == len) {
        val o = offs(k)
        var j = 0
        while (j < len && pool(o + j) == b(from + j)) j += 1
        if (j == len) return k
      }
      s = (s + 1) & (cap - 1)
    }
    val k = insert(s, h, len)
    System.arraycopy(b, from, pool, offs(k), len)
    k
  }

  /** The id of the ASCII key `buf[0, len)` whose `String.hashCode` is `h`,
    * interned if new.
    */
  def idAscii(buf: Array[Char], len: Int, h: Int): Int = {
    var s = spread(h) & (cap - 1)
    while (slotGens(s) == gen) {
      val k = slotIds(s)
      if (hashes(k) == h && lens(k) == len) {
        val o = offs(k)
        var j = 0
        // a non-ASCII key byte masks to >= 0x80 and never equals an ASCII char
        while (j < len && (pool(o + j) & 0xFF) == buf(j)) j += 1
        if (j == len) return k
      }
      s = (s + 1) & (cap - 1)
    }
    val k = insert(s, h, len)
    val o = offs(k)
    var j = 0
    while (j < len) { pool(o + j) = buf(j).toByte; j += 1 }
    k
  }

  /** Takes id `n` for a new key in free slot `s` and reserves its pool
    * range; the caller copies the key bytes in.
    */
  private def insert(s: Int, h: Int, len: Int): Int = {
    val k = n
    val o = if (k == 0) 0 else offs(k - 1) + lens(k - 1)
    if (o + len > pool.length)
      pool = java.util.Arrays.copyOf(pool, math.max(pool.length * 2, o + len))
    offs(k) = o; lens(k) = len; hashes(k) = h
    n += 1
    if (n * 10 > cap * 7) grow()
    else { slotIds(s) = k; slotGens(s) = gen }
    k
  }

  private def grow(): Unit = {
    cap *= 2
    slotIds = new Array[Int](cap)
    slotGens = new Array[Int](cap)
    offs = java.util.Arrays.copyOf(offs, cap)
    lens = java.util.Arrays.copyOf(lens, cap)
    hashes = java.util.Arrays.copyOf(hashes, cap)
    var k = 0
    while (k < n) {
      var s = spread(hashes(k)) & (cap - 1)
      while (slotGens(s) == gen) s = (s + 1) & (cap - 1)
      slotIds(s) = k; slotGens(s) = gen
      k += 1
    }
  }
}
