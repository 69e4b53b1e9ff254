package graft.index

import org.scalatest.funsuite.AnyFunSuite

class FieldNormSpec extends AnyFunSuite {
  test("values 0..31 are exact") {
    (0 to 31).foreach(v => assert(FieldNorm.decode(FieldNorm.encode(v.toLong)) == v.toLong))
  }
  test("floor property: decode(encode(x)) <= x, and no better id exists") {
    val rnd = new scala.util.Random(42)
    (0 until 5000).foreach { _ =>
      val x = math.abs(rnd.nextLong() % 5000000L)
      val id = FieldNorm.encode(x)
      assert(FieldNorm.decode(id) <= x)
      if (id < 255) assert(FieldNorm.decode(id + 1) > x)
    }
  }
  test("round trip over all ids") {
    (0 until 256).foreach(id => assert(FieldNorm.encode(FieldNorm.decode(id)) == id))
  }
  test("table is strictly monotone") {
    (1 until 256).foreach(id => assert(FieldNorm.Table(id) > FieldNorm.Table(id - 1)))
  }
}

class PostingCodecSpec extends AnyFunSuite {
  test("doc id delta round trip") {
    val ids = Array(0, 1, 5, 127, 128, 100000, 100001, Int.MaxValue - 5)
    assert(PostingCodec.unpackDocIds(PostingCodec.packDocIds(ids), ids.length).toSeq == ids.toSeq)
  }
  test("varint round trip") {
    val vs = Array(0, 1, 127, 128, 255, 300, 1 << 20, Int.MaxValue)
    assert(PostingCodec.unpackVarInts(PostingCodec.packVarInts(vs), vs.length).toSeq == vs.toSeq)
  }
  test("positions round trip with per-doc tfs") {
    val pos = Array(Array(0, 3, 9), Array(5), Array(2, 4, 6, 8))
    val tfs = pos.map(_.length)
    val rt = PostingCodec.unpackPositions(pos.flatMap(PostingCodec.packDocPositions), tfs)
    assert(rt.map(_.toSeq).toSeq == pos.map(_.toSeq).toSeq)
  }
  test("random round trips") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val n = 1 + rnd.nextInt(200)
      val ids = Array.fill(n)(rnd.nextInt(1 << 24)).distinct.sorted
      assert(PostingCodec.unpackDocIds(PostingCodec.packDocIds(ids), ids.length).toSeq == ids.toSeq)
    }
  }
}
