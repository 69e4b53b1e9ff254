package graft.index

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.search._

/** `bytes` and `ip` field types — reference `summa_document.rs:86-100`
  * (base64 bytes, IPv6-mapped ip) with order-preserving hex terms.
  */
class TypedFieldsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(
      FieldDef("text", "summa", "position"),
      FieldDef("digest", "raw", "basic", fieldType = "bytes"),
      FieldDef("client_ip", "raw", "basic", fieldType = "ip")),
    defaultFields = Seq("text"))

  private val cfg = SummaQL.Config(defaultFields = Seq("text"), schema = Some(schema))

  test("encodings: ipv4 maps into ipv6 space; hex order == numeric order; bad input -> None") {
    assert(TypedFields.ipTerm("1.2.3.4") == TypedFields.ipTerm("::ffff:1.2.3.4"))
    assert(TypedFields.ipTerm("1.2.3.4").get.length == 32)
    val ips = Seq("9.0.0.0", "10.0.0.1", "10.0.0.2", "10.1.0.0", "192.168.0.1")
    val encoded = ips.map(TypedFields.ipTerm(_).get)
    assert(encoded == encoded.sorted, "ip encoding must be order-preserving")
    assert(TypedFields.ipTerm("not-an-ip").isEmpty)
    assert(TypedFields.ipTerm("example.com").isEmpty, "hostnames must not resolve")
    val b = java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2, -1))
    assert(TypedFields.bytesTerm(b).contains("0102ff"))
    assert(TypedFields.bytesTerm("!!!").isEmpty)
    // a typed value indexes as one term, byte-identical to a raw field
    val typed = IndexBuilder.singleTermFlat(Some("en"))
    val raw = IndexBuilder.analyzeFieldFlat("raw", "en")
    assert(typed.len == raw.len && typed.norm == raw.norm && (typed.blob sameElements raw.blob))
    assert(TypedFields.toHex(typed.blob) == "040201020101656e00")
  }

  test("SummaQL parses quoted ip terms and ranges against typed fields") {
    assert(SummaQL.parse("client_ip:\"10.0.0.1\"", cfg) ==
      TermQuery("client_ip", TypedFields.ipTerm("10.0.0.1").get))
    assert(SummaQL.parse("client_ip:[\"10.0.0.0\" TO \"10.0.0.255\"]", cfg) ==
      TermRangeQuery("client_ip",
        Some(TypedFields.ipTerm("10.0.0.0").get), Some(TypedFields.ipTerm("10.0.0.255").get)))
    val b64 = java.util.Base64.getEncoder.encodeToString("abc".getBytes)
    assert(SummaQL.parse(s"digest:$b64", cfg) ==
      TermQuery("digest", TypedFields.bytesTerm(b64).get))
  }

  test("end-to-end: ip equality + CIDR-ish range, bytes digest lookup") {
    val rows = (0 until 40).map { i =>
      val ip = s"10.0.${i / 8}.${i % 8}"
      val digest = java.util.Base64.getEncoder.encodeToString(s"doc$i".getBytes)
      (i.toLong, s"word$i data", digest, ip)
    }
    val dir = Files.createTempDirectory("graft-typed").toString
    IndexBuilder.build(spark, rows.toDF("doc_id", "text", "digest", "client_ip"),
      schema, dir, "typed-b0", IndexBuilder.BuildConf(numSegments = 2))
    val s = new Searcher(new IndexReader(spark, dir), schema)
    def keys(q: Query): Set[Long] =
      s.reader.docs.select(col("segment_id"), col("doc_id"), col("key"))
        .join(s.search(q), Seq("segment_id", "doc_id"))
        .select("key").collect().map(_.getString(0).toLong).toSet

    assert(keys(SummaQL.parse("client_ip:\"10.0.2.3\"", cfg)) == Set(19L))
    // ipv6-mapped form matches the same doc
    assert(keys(SummaQL.parse("client_ip:\"::ffff:10.0.2.3\"", cfg)) == Set(19L))
    // range covers the /24-ish block 10.0.2.*
    assert(keys(SummaQL.parse("client_ip:[\"10.0.2.0\" TO \"10.0.2.255\"]", cfg)) ==
      (16L until 24L).toSet)
    // quoted: base64 padding '=' is not a word char in the grammar
    val d7 = java.util.Base64.getEncoder.encodeToString("doc7".getBytes)
    assert(keys(SummaQL.parse(s"""digest:"$d7"""", cfg)) == Set(7L))
    // invalid value -> no hits, no crash
    assert(keys(SummaQL.parse("client_ip:\"999.999.1.1\"", cfg)) == Set.empty[Long])
  }
}
