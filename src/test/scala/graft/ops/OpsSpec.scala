package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf = {
    // 30 base docs + exact dup + near dup (one word changed)
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val base = Vector.tabulate(30)(i =>
      (i.toLong, Vector.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val exactDup = (100L, base(3)._2)
    val nearDup = (101L, base(5)._2.split(' ').updated(10, "OMEGA").mkString(" ").toLowerCase)
    (base :+ exactDup :+ nearDup).toDF("id", "text")
  }

  test("exact dedup: groups and survivors") {
    val groups = Dedup.exactGroups(docsDf, "id", Seq("text")).collect()
    assert(groups.toSeq == Seq(org.apache.spark.sql.Row(3L, 2L)))
    val surv = Dedup.exactSurvivors(docsDf, "id", Seq("text"))
    assert(surv.count() == 31) // 32 rows - 1 dup
    assert(surv.filter($"id" === 100L).count() == 0)
  }

  test("ngram jaccard pairs find the near-dup") {
    val pairs = Dedup.ngramJaccardPairs(docsDf, "id", "text", 3, 0.4).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((3L, 100L))) // exact dup has jaccard 1.0
    assert(keys.contains((5L, 101L))) // near dup
    val exact = pairs.find(r => (r.getLong(0), r.getLong(1)) == (3L, 100L)).get
    assert(exact.getDouble(2) == 1.0)
  }

  test("df-capped shingle join: parity with uncapped, and hot shingles pruned") {
    // generous cap: no shingle in docsDf reaches df 50, results identical
    val uncapped = Dedup.ngramJaccardPairs(docsDf, "id", "text", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.ngramJaccardPairs(docsDf, "id", "text", 3, 0.4, maxShingleDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped)

    // boilerplate scenario: every doc shares a hot header shingle; a df cap
    // must drop the f² header-pair blow-up but keep the true near-dup (which
    // shares many RARE shingles). Pair (1,2) shares ONLY the header → it is
    // below any sane threshold anyway; (10,11) is a genuine near-dup.
    val rnd = new scala.util.Random(3)
    val vocab = Vector("kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho")
    def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val header = "copyright acme corp all rights reserved"
    val base = Vector.tabulate(20)(i => (i.toLong, s"$header ${words(30)}"))
    val body = words(30)
    val boiler = (base :+ (10L, s"$header $body") :+ (11L, s"$header $body extra")).toDF("id", "text")
    val hot = Dedup.ngramJaccardPairs(boiler, "id", "text", 3, 0.5, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hot.contains((10L, 11L)), s"near-dup lost under df cap: $hot")
    // candidate generation did not blow up into all header pairs:
    // with the cap, docs sharing ONLY the header are never even candidates
    assert(hot.forall { case (a, b) => (a, b) == ((10L, 11L)) })
  }

  test("minhash LSH pairs match exact jaccard pairs on this corpus") {
    val lsh = Dedup.minhashLshPairs(docsDf, "id", "text", 3, 16, 8, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.ngramJaccardPairs(docsDf, "id", "text", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // LSH candidates are verified exactly, so lsh ⊆ exact; with 8 bands of 2
    // rows recall on jaccard>=0.4 should be total here
    assert(lsh == exact)
  }

  test("simhash: identical docs collide, near-dups within small hamming") {
    val pairs = Dedup.simhashPairs(docsDf, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)))
  }

  test("embedding cosine pairs vs self") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("id", "vec")
    val pairs = Dedup.cosinePairs(df, "id", "vec", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("compiled shingle + minhash-signature kernels are bitwise-identical to the column forms (r6)") {
    // the pre-r6 column forms, verbatim
    def colShingles(n: Int) = {
      val words = split($"text", " ")
      array_distinct(transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
    }
    for (n <- Seq(1, 3, 7, 50)) { // 50 > every doc length: whole-text shingle path
      val rows = docsDf
        .select(Dedup.shingles($"text", n).as("fast"), colShingles(n).as("col")).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
    // minhashSignature = column charfold HOF + affine HOF min (the old path)
    val sigRows = docsDf
      .select(Dedup.shingles($"text", 3).as("sh"))
      .select(
        Dedup.minhashSigUdf($"sh", lit(16)).as("fast"),
        Dedup.minhashSignature($"sh", 16).as("col"))
      .collect()
    sigRows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("string hash parity outside the BMP: compiled code-point fold == column form") {
    // 'a' = 97, U+1F600 = 128512 (a surrogate pair in UTF-16), 'b' = 98:
    // ((97 * 31 + 128512) * 31 + 98) mod HashP; a UTF-16 unit fold differs
    assert(Dedup.stringHash("a\uD83D\uDE00b") == 4077187L)
    val colForm = Seq("a\uD83D\uDE00b").toDF("s").select(Dedup.portableStringHash($"s")).head().getLong(0)
    assert(colForm == 4077187L)
  }

  test("cosinePairs: dotPair stays out of the nested-loop join condition") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f))).toDF("id", "vec")
    val plan = Dedup.cosinePairs(df, "id", "vec", 0.9).queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1, plan.toString)
    // the join condition is only `a.id < b.id`
    joins.head.condition match {
      case Some(LessThan(a: AttributeReference, b: AttributeReference)) =>
        assert(a.name == "id" && b.name == "id", plan.toString)
      case other => fail(s"join condition is not only id < id: $other\n$plan")
    }
    // the dot runs above the join, once per emitted pair
    def hasUdf(p: LogicalPlan) = p.expressions.exists(_.find(_.isInstanceOf[ScalaUDF]).isDefined)
    val withUdf = plan.collect { case p if hasUdf(p) => p }
    assert(withUdf.nonEmpty && !withUdf.exists(_.isInstanceOf[Join]), plan.toString)
    assert(withUdf.forall(_.find(_.isInstanceOf[Join]).isDefined), plan.toString)
  }

  test("compiled stopwordRatio is bitwise-identical to the column form (r6)") {
    // the pre-r6 column form, verbatim
    def colRatio(text: org.apache.spark.sql.Column) = {
      val words = split(trim(text), "\\s+")
      val stops = filter(words, w => w.isin(graft.analysis.StopWords.All.toSeq: _*))
      when(size(words) === 0, lit(0.0))
        .otherwise(size(stops).cast("double") / size(words))
    }
    val edge = Seq("", "   ", " the a spark ", "a\t  the\nb", "the the the", "xyz")
      .map(Tuple1(_)).toDF("text")
    for (d <- Seq(docsDf.select($"text"), edge)) {
      val rows = d.select(TextStats.stopwordRatio($"text").as("fast"),
        colRatio($"text").as("col")).collect()
      rows.foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString)
      }
    }
  }

  test("dotPair loop UDF is bitwise-identical to the HOF fold (r6 all-pairs fast path)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val pairs = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id").limit(5000)
      .select(
        Similarity.dotPair($"a.v", $"b.v").as("fast"),
        aggregate(zip_with($"a.v", $"b.v", (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
          .as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("brute-force cosine top-k is exact and ordered") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val top = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 0L) // self-match first
    assert(top.head.getDouble(1) == 1.0)
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("LSH ANN top-k recalls genuinely-near neighbors (planted clusters)") {
    // 60 clusters x 6 members: members = center + small noise (cos ~0.97)
    val rnd = new scala.util.Random(11)
    val dim = 32
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = for {
      c <- 0 until 60
      center = unit(Array.fill(dim)(rnd.nextGaussian()))
      m <- 0 until 6
    } yield ((c * 10 + m).toLong, unit(center.map(_ + rnd.nextGaussian() * 0.08)).map(_.toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")

    val q = rows.find(_._1 == 42L * 10).get._2.map(_.toDouble).toArray // cluster 42 center-ish
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 6)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(df, "vec_id", "embedding", q, 6)
      .collect().map(_.getLong(0)).toSet
    // exact top-6 should be exactly cluster 42's members; ann must recall most
    assert(exact.forall(id => id / 10 == 42))
    val recall = (exact intersect ann).size
    assert(recall >= 5, s"recall too low: $recall/6")
    // smoke over the real embeddings table: self-match always found
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q2 = emb.filter($"vec_id" === 7).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val ann2 = Similarity.annTopK(emb, "vec_id", "embedding", q2, 10).collect()
    assert(ann2.head.getLong(0) == 7L)
  }

  test("annBuild/annProbe: partition-pruned probe matches in-memory ANN") {
    val rnd = new scala.util.Random(11)
    val dim = 32
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val rows = for {
      c <- 0 until 60
      center = unit(Array.fill(dim)(rnd.nextGaussian()))
      m <- 0 until 6
    } yield ((c * 10 + m).toLong, unit(center.map(_ + rnd.nextGaussian() * 0.08)).map(_.toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString + "/idx"
    Similarity.annBuild(df, "vec_id", "embedding", dir)

    val q = rows.find(_._1 == 42L * 10).get._2.map(_.toDouble).toArray
    val probe = Similarity.annProbe(spark, dir, q, 6)
    // the probe plan must prune bucket partitions, not scan the table
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lsh_table"),
      s"probe scan must carry partition filters:\n$plan")
    val got = probe.collect().map(_.getLong(0)).toSet
    val mem = Similarity.annTopK(df, "vec_id", "embedding", q, 6).collect().map(_.getLong(0)).toSet
    assert(got == mem, "materialized probe must equal the in-memory ANN result")
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 6)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect got).size >= 5)
  }

  test("lshCosinePairs hamming-1 multiprobe: recall over planted near-dup pairs") {
    val rnd = new scala.util.Random(23)
    val dim = 32
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    // 80 pairs: (2i, 2i+1) are near-dups (cos ~0.95); different pairs are far
    val rows = (0 until 80).flatMap { i =>
      val center = unit(Array.fill(dim)(rnd.nextGaussian()))
      Seq(
        (2L * i, unit(center.map(_ + rnd.nextGaussian() * 0.035)).map(_.toFloat).toSeq),
        (2L * i + 1, unit(center.map(_ + rnd.nextGaussian() * 0.035)).map(_.toFloat).toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val exact = Dedup.cosinePairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 60, s"planting failed: ${exact.size}")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val lsh = Similarity.lshCosinePairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verification: no false positives")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.75, s"multiprobe recall too low: $recall")
    // and the hamming-1 union must beat exact-bucket-only matching: pairs
    // whose signatures differ in exactly one plane are found
    val planes = Similarity.hyperplanes(8, dim, 42L)
    val sig = df.select(col("vec_id"),
      Similarity.bucketCol(col("embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneBit = exact.filter { case (a, b) =>
      java.lang.Long.bitCount(sig(a) ^ sig(b)) == 1 }
    assert(oneBit.nonEmpty, "test corpus should contain hamming-1 pairs")
    assert(oneBit.forall(lsh.contains), "every hamming-1 pair must be recalled")
    // no persisted-DataFrame leak: at 100 TB a lingering cached vector table
    // pins the whole embedding corpus in executor storage for the session
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"lshCosinePairs must not leave persisted RDDs behind: $leaked")
  }

  test("text stats columns") {
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, ""),
      (3L, "a a a the the of")
    ).toDF("id", "text")
    val r = df.select($"id", TextStats.tokenCount($"text").as("tc"),
      TextStats.stopwordRatio($"text").as("swr")).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getDouble(2)))).toMap
    assert(r(1L)._1 == 5 && math.abs(r(1L)._2 - 0.2) < 1e-9) // "the" is the only stop word
    assert(r(2L)._1 == 0)
    assert(r(3L)._1 == 6 && r(3L)._2 == 1.0)
  }

  test("langid identifies obvious samples") {
    val df = Seq(
      ("en", "the quick brown fox is jumping over the lazy dog and the cat"),
      ("de", "die schnelle braune katze springt über den faulen hund und die ente"),
      ("ru", "быстрая коричневая лиса прыгает через ленивую собаку и кошку что не"),
      ("es", "el rápido zorro marrón salta sobre el perro perezoso que los gatos")
    ).toDF("want", "text")
    val got = df.select($"want", TextStats.langId($"text").as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), s"langid failed for ${r.getString(0)}: got ${r.getString(1)}"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("id", "text")
    val fps = df.select($"id", TextStats.fingerprint($"text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("multimodal: fake media round trip, batch feature extraction, resize") {
    val df = Multimodal.withFakeMedia(spark.range(0, 100).toDF("id"), "id")
    assert(df.schema("media").dataType == org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(df, "id", "media", batchSize = 16)
    val rows = feats.collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getSeq[Double](4).size == 8))
    val kinds = rows.map(_.getString(1)).toSet
    assert(kinds == Set("image", "audio", "video"))
    // determinism
    val again = Multimodal.extractFeatures(df, "id", "media", batchSize = 7).collect()
    assert(rows.sortBy(_.getLong(0)).map(_.toString).toSeq ==
      again.sortBy(_.getLong(0)).map(_.toString).toSeq)
    val resized = Multimodal.resize(df, "media", 8, 8)
    val dec = resized.select("media").head().getAs[Array[Byte]](0)
    assert(Multimodal.MediaCodec.decode(dec)._2 == 8)
  }
}

/** IVF ANN: k-means coarse quantizer + nprobe search. */
class IvfSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  test("IVF recalls planted-cluster neighbors and self-match on real embeddings") {
    val rnd = new scala.util.Random(19)
    val dim = 16
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x*x).sum); v.map(_/n) }
    val rows = for {
      c <- 0 until 30
      center = unit(Array.fill(dim)(rnd.nextGaussian()))
      m <- 0 until 8
    } yield ((c * 10 + m).toLong, unit(center.map(_ + rnd.nextGaussian() * 0.06)).map(_.toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val ivf = Similarity.ivfBuild(df, "vec_id", "embedding", nLists = 12, seed = 7)
    assert(ivf.centroids.length == 12)

    val q = rows.find(_._1 == 150L).get._2.map(_.toDouble).toArray
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 8)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfTopK(ivf, q, 8, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect got).size >= 6, s"IVF recall too low: ${(exact intersect got).size}/8")

    // real embeddings smoke: self-match always recalled with enough probes
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf2 = Similarity.ivfBuild(emb, "vec_id", "embedding", nLists = 8, seed = 7)
    val q2 = emb.filter($"vec_id" === 3).select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val top = Similarity.ivfTopK(ivf2, q2, 5, nprobe = 1).collect()
    assert(top.head.getLong(0) == 3L && top.head.getDouble(1) == 1.0)
  }

  test("IVF trained on a SAMPLE keeps recall (100 TB path: fit never sees the full table)") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x*x).sum); v.map(_/n) }
    val centers = Array.fill(25)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = for {
      c <- 0 until 25
      m <- 0 until 200 // 5000 vectors: sample fraction genuinely subsamples
    } yield ((c * 1000 + m).toLong,
      unit(centers(c).map(_ + rnd.nextGaussian() * 0.06)).map(_.toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    // trainFraction 0.05 → ~250 training rows (>= nLists*8=80 → NO full fallback)
    val ivf = Similarity.ivfBuild(df, "vec_id", "embedding", nLists = 10, seed = 7,
      trainFraction = 0.05)
    val q = rows.find(_._1 == 7100L).get._2.map(_.toDouble).toArray
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfTopK(ivf, q, 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect got).size >= 8,
      s"sample-trained IVF recall too low: ${(exact intersect got).size}/10")
  }
}
