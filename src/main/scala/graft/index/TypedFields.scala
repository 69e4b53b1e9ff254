package graft.index

/** `bytes` and `ip` field types (reference `summa_document.rs:86-100`):
  * bytes values arrive base64-encoded and index as their raw bytes; ip
  * values parse as IPv4/IPv6 literals and index as the IPv6-MAPPED address
  * (`into_ipv6_addr`), so IPv4 `1.2.3.4` and IPv6 `::ffff:1.2.3.4` are the
  * same term.
  *
  * Both encode into the shared string posting space as fixed-width lowercase
  * hex — order-preserving, so `field:[a TO b]` is a plain lexicographic
  * `TermRangeQuery` pushed down to the parquet term column (the tantivy
  * u128 ip-range analog).
  */
object TypedFields {

  private val hexDigits = "0123456789abcdef".toCharArray

  def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xF)
      out(2 * i + 1) = hexDigits(bytes(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Base64 value → hex term; None when the value is not valid base64. */
  def bytesTerm(base64: String): Option[String] =
    try Some(toHex(java.util.Base64.getDecoder.decode(base64)))
    catch { case _: IllegalArgumentException => None }

  /** IP literal → 32-hex IPv6-mapped term; None when not a valid literal.
    * IPv4 is parsed manually (strict dotted-quad); only ':'-containing
    * strings reach `InetAddress.getByName`, where a colon makes hostname
    * resolution impossible — no code path ever touches a resolver.
    */
  def ipTerm(s: String): Option[String] = {
    if (s == null || s.isEmpty) return None
    if (!s.contains(':')) {
      // strict dotted-quad
      val parts = s.split('.')
      if (parts.length != 4 || parts.exists(p =>
          p.isEmpty || p.length > 3 || !p.forall(_.isDigit) || p.toInt > 255))
        return None
      val b = new Array[Byte](16)
      b(10) = -1; b(11) = -1 // ::ffff:a.b.c.d
      parts.zipWithIndex.foreach { case (p, i) => b(12 + i) = p.toInt.toByte }
      Some(toHex(b))
    } else if (s.forall(c => c.isDigit || c == ':' || c == '.' ||
        ('a' <= c && c <= 'f') || ('A' <= c && c <= 'F'))) {
      try {
        val v6 = java.net.InetAddress.getByName(s).getAddress match {
          case b4 if b4.length == 4 =>
            val b = new Array[Byte](16)
            b(10) = -1; b(11) = -1
            System.arraycopy(b4, 0, b, 12, 4)
            b
          case b16 => b16
        }
        Some(toHex(v6))
      } catch { case _: java.net.UnknownHostException => None }
    } else None
  }
}
