package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Result collectors (SURVEY.md §2.5). Each maps a scored doc-set DataFrame
  * (plus the docs table for fast fields) to its output, mirroring the
  * reference's per-segment collect + `merge_fruits` with Spark's
  * partial/final aggregation and driver merges.
  */
object Collectors {

  // ------------------------------------------------- ReservoirSampling C7

  /** Oracle-portable deterministic reservoir: Algorithm R with a Lehmer
    * MINSTD LCG (`s' = s·48271 mod 2³¹−1`, accept element i when
    * `s' mod i < k`) over the FIRST column's values in ascending order on a
    * single partition. Every step is plain integer arithmetic, so the
    * driver's DuckDB oracle replays the identical fold (recursive CTE) —
    * which the skip-gap/`nextGaussian` sampler below cannot offer (its gap
    * lengths hinge on bit-exact `log`/`exp`, not portable across engines).
    * Inherently sequential by construction (a seeded sample over a defined
    * stream order IS a sequential spec); for scale-out sampling use
    * [[reservoirSample]].
    */
  def reservoirSampleDeterministic(ids: DataFrame, k: Int, seed: Long): Array[Long] = {
    if (k <= 0) return Array.empty
    import ids.sparkSession.implicits._
    val c = ids.columns.head
    ids.select(col(c).cast("long").as(c)).as[Long]
      .repartition(1).sortWithinPartitions(col(c))
      .mapPartitions { rows =>
        var s = ((seed % 2147483646L) + 2147483646L) % 2147483646L + 1
        val res = new scala.collection.mutable.ArrayBuffer[Long](k)
        var i = 0L
        rows.foreach { d =>
          i += 1
          if (res.length < k) res += d
          else {
            s = (s * 48271L) % 2147483647L
            val j = s % i
            if (j < k) res(j.toInt) = d
          }
        }
        if (i == 0) Iterator.empty else Iterator.single(res.toArray)
      }
      .collect().headOption.getOrElse(Array.empty[Long])
  }

  /** k uniformly-random matching docs: per-partition Algorithm L
    * (`reservoir_sampling_collector.rs:127-160`) + the reference's weighted
    * cross-partition merge preserving uniformity (`:51-108`). O(k) memory per
    * partition and on the driver. Seeded for reproducibility.
    */
  def reservoirSample(hits: DataFrame, k: Int, seed: Long): Array[(Int, Int)] = {
    if (k <= 0) return Array.empty
    import hits.sparkSession.implicits._
    val fruits: Array[(Array[(Int, Int)], Long)] = hits
      .select(col("segment_id"), col("doc_id"))
      .as[(Int, Int)]
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rnd = new scala.util.Random(seed + 7919L * pid)
        def wMul(): Double = math.exp(math.log(rnd.nextDouble()) / k)
        def gdGap(w: Double): Long =
          (math.log(rnd.nextDouble()) / math.log(1.0 - w)).floor.toLong + 1
        val reservoir = new scala.collection.mutable.ArrayBuffer[(Int, Int)](k)
        var seen = 0L
        var w = wMul()
        var nextElement = k.toLong + gdGap(w)
        rows.foreach { d =>
          seen += 1
          if (reservoir.length < k) reservoir += d
          else if (seen == nextElement) {
            reservoir(rnd.nextInt(k)) = d
            w *= wMul()
            nextElement += gdGap(w)
          }
        }
        if (seen == 0) Iterator.empty
        else Iterator.single((reservoir.toArray, seen))
      }
      .collect()

    // weighted merge (port of the reference's merge_fruits semantics)
    val rnd = new scala.util.Random(seed * 31 + 17)
    val total = new scala.collection.mutable.ArrayBuffer[(Int, Int)](k)
    var seenDocs = 0L
    fruits.filter(_._2 > 0).foreach { case (docs, partSize) =>
      var takenFromCurrent = 0
      seenDocs += partSize
      docs.foreach { d =>
        if (total.length < k) total += d
        else if (math.floorMod(rnd.nextLong(), seenDocs) < partSize) {
          takenFromCurrent += 1
          val pivot = k - takenFromCurrent
          if (pivot > 0) {
            val swap = rnd.nextInt(pivot)
            val tmp = total(pivot); total(pivot) = total(swap); total(swap) = tmp
          }
          total(pivot) = d
        }
      }
    }
    total.toArray
  }

  // ---------------------------------------------------------- Facets C5

  /** Facet counts under a root path: docs carry an array-of-paths facet
    * column (`/genre/fiction` style); counting = explode + prefix filter +
    * groupBy (`fruit_extractors.rs:186-192`).
    */
  def facetCounts(docs: DataFrame, facetCol: String, root: String): DataFrame = {
    val prefix = if (root.endsWith("/")) root else root + "/"
    docs
      .select(explode(col(facetCol)).as("facet"))
      .filter(col("facet").startsWith(prefix))
      .groupBy("facet")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("facet")
  }

  // ------------------------------------------------- Aggregation DSL C6

  sealed trait Agg
  final case class TermsAgg(field: String, size: Int = 10) extends Agg
  final case class HistogramAgg(field: String, interval: Double) extends Agg
  final case class DateHistogramAgg(field: String, unit: String) extends Agg // year|month|week|day|hour
  final case class RangeAgg(field: String, ranges: Seq[(Option[Double], Option[Double])]) extends Agg
  final case class StatsAgg(field: String) extends Agg
  final case class PercentilesAgg(field: String, percents: Seq[Double] = Seq(1, 5, 25, 50, 75, 95, 99))
      extends Agg

  /** Execute one aggregation over the matched docs (ES-style buckets/metrics
    * mapped straight onto groupBy/agg — Spark's partial+final hash agg is the
    * segment-fruit + merge_fruits shape).
    */
  def aggregate(matchedDocs: DataFrame, agg: Agg): DataFrame = agg match {
    case TermsAgg(f, size) =>
      matchedDocs.groupBy(col(f).as("key")).agg(count(lit(1)).as("doc_count"))
        .orderBy(col("doc_count").desc, col("key").asc)
        .limit(size)
    case HistogramAgg(f, interval) =>
      matchedDocs
        .groupBy((floor(col(f) / interval) * interval).as("key"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy("key")
    case DateHistogramAgg(f, unit) =>
      matchedDocs
        .groupBy(date_trunc(unit, col(f)).as("key"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy("key")
    case RangeAgg(f, ranges) =>
      val c = col(f).cast("double")
      val branches = ranges.zipWithIndex.map { case ((lo, hi), i) =>
        val cond = (lo.map(c >= _).toSeq ++ hi.map(c < _).toSeq)
          .reduceOption(_ && _).getOrElse(lit(true))
        val label = s"${lo.map(_.toString).getOrElse("*")}-${hi.map(_.toString).getOrElse("*")}"
        (i, label, cond)
      }
      val keyed = matchedDocs.select(
        branches.foldLeft(lit(null).cast("string")) { case (acc, (_, label, cond)) =>
          when(cond && acc.isNull, label).otherwise(acc)
        }.as("key"))
      keyed.filter(col("key").isNotNull).groupBy("key").agg(count(lit(1)).as("doc_count"))
        .orderBy("key")
    case StatsAgg(f) =>
      matchedDocs.agg(
        count(col(f)).as("count"),
        sum(col(f)).as("sum"),
        min(col(f)).as("min"),
        max(col(f)).as("max"),
        avg(col(f)).as("avg"))
    case PercentilesAgg(f, ps) =>
      matchedDocs.agg(
        percentile_approx(col(f), typedLit(ps.map(_ / 100.0)), lit(10000)).as("values"))
  }

  // --------------------------------------------- eval-expr scorer C3

  /** Compiles the reference's eval-expr scoring language
    * (`scorers/eval_scorer.rs`, fasteval-compatible subset) into a Catalyst
    * Column — whole-stage codegen replaces the reference's per-segment
    * fasteval compilation. Reserved vars: `original_score`, `now`; functions:
    * `fastsigm(x[,a]) = |x| / (a + |x|)`, `iqpr(x)` (inverse quantized
    * page-rank, `page_rank.rs:1-7`), plus abs/ln/log10/sqrt/exp/min/max/pow.
    * Any other identifier is a fast-field (docs-table column).
    */
  object EvalExpr {

    private val IqprTable =
      Seq(0.15495413, 0.16896642, 0.191641, 0.2273262, 0.28240761, 0.36859454, 0.53123659, 1.74778878)

    def compile(src: String, vars: Map[String, Column]): Column = {
      val p = new P(src, vars)
      val c = p.expr()
      p.expectEof()
      c
    }

    private final class P(s: String, vars: Map[String, Column]) {
      private var i = 0
      private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
      private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
      def expectEof(): Unit = { ws(); require(i >= s.length, s"trailing input at $i in: $s") }

      def expr(): Column = {
        var c = term()
        ws()
        while (peek == '+' || peek == '-') {
          val op = peek; i += 1
          val r = term()
          c = if (op == '+') c + r else c - r
          ws()
        }
        c
      }

      private def term(): Column = {
        var c = unary()
        ws()
        while (peek == '*' || peek == '/' || peek == '%') {
          val op = peek; i += 1
          val r = unary()
          c = op match { case '*' => c * r; case '/' => c / r; case _ => c % r }
          ws()
        }
        c
      }

      private def unary(): Column = {
        ws()
        if (peek == '-') { i += 1; -unary() }
        else {
          var base = atom()
          ws()
          if (peek == '^') { i += 1; base = pow(base, unary()) }
          base
        }
      }

      private def atom(): Column = {
        ws()
        if (peek == '(') {
          i += 1
          val c = expr()
          ws(); require(peek == ')', s"expected ) at $i in: $s"); i += 1
          c
        } else if (peek.isDigit || peek == '.') {
          val st = i
          while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.' ||
            s.charAt(i) == 'e' || s.charAt(i) == 'E')) i += 1
          lit(s.substring(st, i).toDouble)
        } else if (peek.isLetter || peek == '_') {
          val st = i
          while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
          val name = s.substring(st, i)
          ws()
          if (peek == '(') {
            i += 1
            val args = scala.collection.mutable.ArrayBuffer[Column]()
            ws()
            if (peek != ')') {
              args += expr()
              ws()
              while (peek == ',') { i += 1; args += expr(); ws() }
            }
            require(peek == ')', s"expected ) at $i in: $s"); i += 1
            fn(name, args.toSeq)
          } else {
            vars.getOrElse(name,
              throw new IllegalArgumentException(s"unknown variable '$name' in eval expr"))
          }
        } else throw new IllegalArgumentException(s"unexpected char '$peek' at $i in: $s")
      }

      private def fn(name: String, args: Seq[Column]): Column = name match {
        case "fastsigm" =>
          val x = abs(args(0))
          val a = if (args.size > 1) args(1) else lit(1.0)
          x / (a + x)
        case "iqpr" =>
          element_at(typedLit(IqprTable), abs(args(0)).cast("int") + 1)
        case "abs"   => abs(args(0))
        case "ln"    => log(args(0))
        case "log10" => log10(args(0))
        case "sqrt"  => sqrt(args(0))
        case "exp"   => exp(args(0))
        case "min"   => least(args: _*)
        case "max"   => greatest(args: _*)
        case "pow"   => pow(args(0), args(1))
        case other   => throw new IllegalArgumentException(s"unknown function '$other' in eval expr")
      }
    }
  }
}
