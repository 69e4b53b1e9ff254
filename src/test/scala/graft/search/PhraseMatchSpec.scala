package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** The phrase matcher: `phraseTf` counts exactly the base positions
  * `phraseMatchPositions` lists, and both agree with a brute-force reading
  * of move-based slop (some occurrence per term with spread <= slop).
  */
class PhraseMatchSpec extends AnyFunSuite {

  /** Base positions with a choice of one normalized position per other term
    * whose spread, the base included, is at most `slop`.
    */
  private def bruteForce(pos: Seq[Seq[Int]], offsets: Seq[Int], slop: Int): Seq[Int] = {
    val normed = pos.tail.zip(offsets.tail).map { case (ps, off) => ps.map(_ - off) }
    def spreads(acc: List[Int], rest: Seq[Seq[Int]]): Iterator[Int] = rest match {
      case Seq()         => Iterator(acc.max - acc.min)
      case ns +: tail    => ns.iterator.flatMap(n => spreads(n :: acc, tail))
    }
    pos.head.filter(p0 => spreads(List(p0 - offsets.head), normed).exists(_ <= slop))
  }

  test("phraseTf == phraseMatchPositions(…).length, slop 0-3, repeated terms included") {
    val rnd = new scala.util.Random(17)
    // ascending distinct positions, as the posting codec decodes them
    def positions(): Seq[Int] = (0 until 30).filter(_ => rnd.nextInt(4) == 0)
    var matched = 0
    for (_ <- 0 until 400; slop <- 0 to 3) {
      val nTerms = 2 + rnd.nextInt(2)
      val lists = Vector.fill(nTerms)(positions())
      // a repeated term carries the same positions at every one of its slots
      val pos = if (rnd.nextBoolean()) lists.updated(nTerms - 1, lists.head) else lists
      val offsets = (0 until nTerms).scanLeft(0)((o, _) => o + 1 + rnd.nextInt(2)).take(nTerms)
      val tf = PostingUdfs.phraseTf(pos, offsets, slop)
      val mpos = PostingUdfs.phraseMatchPositions(pos, offsets, slop)
      assert(tf == mpos.length, s"$pos $offsets slop $slop")
      assert(mpos.toSeq == bruteForce(pos, offsets, slop), s"$pos $offsets slop $slop")
      matched += tf
    }
    assert(matched > 0)
  }
}
