package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with codegen'd higher-order functions
  * (`zip_with` + `aggregate` dot product — no UDF in the hot path). Scale
  * path: random-hyperplane LSH bucketing so only one bucket (plus hamming-1
  * probes) is scanned per query; at 100 TB the bucketed table is
  * pre-partitioned by bucket id so a probe is a partition-pruned scan.
  */
object Similarity {

  private def asDouble(vec: Column): Column = transform(vec, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Exact dot product of two equal-dim vectors as one primitive while-loop
    * UDF. Bit-identical to `dot` above — the same left-to-right
    * multiply-accumulate order, `((0 + a0·b0) + a1·b1) + …` — but evaluated
    * as a single compiled loop instead of the interpreted per-element HOF
    * lambda chain (one zipped array allocation + two lambda dispatches per
    * element per PAIR), which is what dominates all-pairs verification
    * joins: O(n²) pairs each paying the interpreter tax (guide §1.2 "make
    * the code inside each stage fast"). Per-ROW scoring paths (cosineTopK,
    * bucketCol) keep the codegen'd HOF form — O(n) evaluations are not the
    * bottleneck and the column form stays optimizer-visible.
    *
    * Marked NON-deterministic (it is pure — this is the guide §4.4 trick):
    * otherwise Catalyst pushes the downstream `cosine >= minCos` filter into
    * the nested-loop JOIN CONDITION, where the dot is re-evaluated as an
    * interpreted predicate for every ordered candidate pair BEFORE the cheap
    * `id_a < id_b` conjunct can prune — measured 44.7 s on q_dedup_embed at
    * sf0.1 (2000 vectors × 64 dims) with the HOF fold in the join condition,
    * and no faster with a plain UDF there. With pushdown blocked, the join
    * emits the `id_a < id_b` pairs and the dot runs once per pair inside the
    * codegen'd Project.
    */
  val dotPair: UserDefinedFunction = udf { (a: Seq[Double], b: Seq[Double]) =>
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }.asNondeterministic()

  def norm(a: Column): Column = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Brute-force cosine top-k for a literal query vector. */
  def cosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int
  ): DataFrame = exactTopK(df, col(idCol), asDouble(col(vecCol)), query, k)

  /** Exact-cosine top-k ending every ANN path: `(vec_id, cosine)`, cosine to 4 places, ties by id. */
  private def exactTopK(df: DataFrame, id: Column, v: Column, query: Array[Double], k: Int): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    df.select(id.as("vec_id"), round(dot(v, typedLit(query.toSeq)) / (norm(v) * lit(qn)), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per LSH table: its planes, and the query's bucket with its hamming-1 neighbours. */
  private def probeBuckets(query: Array[Double], nTables: Int, nPlanes: Int, seed: Long) =
    (0 until nTables).map { t =>
      val planes = hyperplanes(nPlanes, query.length, seed + 1000L * t)
      val qSig = planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
        val d = p.zip(query).map { case (a, b) => a * b }.sum
        if (d >= 0) acc | (1L << i) else acc
      }
      (planes, (qSig +: Array.tabulate(nPlanes)(i => qSig ^ (1L << i))).toSeq.map(java.lang.Long.valueOf))
    }

  /** Deterministic pseudo-random hyperplanes (seeded, data-free), from an
    * ORACLE-PORTABLE hash family: coefficient (i, j) maps its linear index
    * through an affine step then a quadratic scramble mod the 30-bit prime
    * 1e9+7 (`u1 = ((k mod P)+1)·2654435761 + 104729) mod P`; `u2 = (u1² +
    * 12345) mod P`; coef = u2/P − 0.5). The linear index is reduced mod P
    * BEFORE the Knuth multiply so every intermediate fits in a signed 64-bit
    * integer for ANY seed (≤ ~1e9·2654435761 ≈ 2.7e18 < 2^63), so plain
    * BIGINT SQL reproduces the planes bit-exactly — the
    * r4 `Random.nextGaussian` family was not SQL-expressible, which kept
    * `q_ann_lsh` a rows-only driver check. Sign-hash LSH needs symmetric,
    * well-scattered directions, not true Gaussians; the quadratic scramble
    * breaks the Weyl-lattice structure of the affine step, and the
    * planted-cluster recall contract in OpsSpec pins the quality.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val P = 1000000007L
    Array.tabulate(nPlanes, dim) { (i, j) =>
      val k = ((seed + i.toLong * dim + j) % P + P) % P
      val u1 = ((k + 1) * 2654435761L + 104729L) % P
      ((u1 * u1 + 12345L) % P).toDouble / P - 0.5
    }
  }

  /** Sign-bit signature of a vector against the hyperplanes → bucket id. */
  def bucketCol(vec: Column, planes: Array[Array[Double]]): Column = {
    val v = asDouble(vec)
    planes.zipWithIndex
      .map { case (p, i) =>
        when(dot(v, typedLit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ + _)
  }

  /** Multi-table LSH ANN top-k: `nTables` independent hyperplane signatures;
    * a row is a candidate if it matches the query's bucket (exactly or at
    * hamming distance 1 — multi-probe) in ANY table; exact cosine within the
    * candidate set. At 100 TB the bucketed table is written partitioned by
    * `(table, bucket)` so each probe is a partition-pruned scan; recall/cost
    * is tuned by (nTables, nPlanes, probes), and genuinely near vectors
    * (cos ≳ 0.8) are recalled with high probability — uniformly random
    * "neighbors" (cos ≈ 0.3) are not, by design.
    */
  def annTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      nTables: Int = 4,
      nPlanes: Int = 8,
      seed: Long = 42L
  ): DataFrame = {
    val tableConds = probeBuckets(query, nTables, nPlanes, seed)
      .map { case (planes, probes) => bucketCol(col(vecCol), planes).isin(probes: _*) }
    cosineTopK(df.filter(tableConds.reduce(_ || _)), idCol, vecCol, query, k)
  }

  /** Materialized multi-table LSH bucket index (the 100-TB shape of
    * [[annTopK]], mirroring the IVF API): one row per (table, vector) with
    * its bucket id, written hive-partitioned by `(lsh_table, bucket)` so a
    * probe reads ONLY the probed bucket partitions — partition-pruned at the
    * file listing, never a full scan. `annBuild` is a single pass over the
    * table (nTables signature computations per row, no shuffle: the write
    * partitions by value at the task level).
    */
  def annBuild(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDir: String,
      nTables: Int = 4,
      nPlanes: Int = 8,
      seed: Long = 42L
  ): Unit = {
    val first = df.select(col(vecCol)).head()
    val dim = first.getSeq[Any](0).size
    val perTable = (0 until nTables).map { t =>
      val planes = hyperplanes(nPlanes, dim, seed + 1000L * t)
      df.select(
        lit(t).as("lsh_table"),
        bucketCol(col(vecCol), planes).as("bucket"),
        col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"))
    }
    perTable.reduce(_ unionByName _)
      .write
      .mode("overwrite")
      .partitionBy("lsh_table", "bucket")
      .parquet(outDir)
  }

  /** Probe the [[annBuild]] index: exact + hamming-1 buckets per table →
    * partition-pruned read → exact cosine top-k over the (deduped)
    * candidates. The scan touches `nTables × (nPlanes+1)` bucket partitions
    * regardless of table size.
    */
  def annProbe(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      query: Array[Double],
      k: Int,
      nTables: Int = 4,
      nPlanes: Int = 8,
      seed: Long = 42L
  ): DataFrame = {
    val probeConds = probeBuckets(query, nTables, nPlanes, seed).zipWithIndex.map {
      case ((_, probes), t) => col("lsh_table") === t && col("bucket").isin(probes: _*)
    }
    val candidates = spark.read.parquet(indexDir)
      .filter(probeConds.reduce(_ || _)) // partition filters only → pruned listing
      .select(col("id"), col("v"))
      .dropDuplicates("id") // a vector can match in several tables
    exactTopK(candidates, col("id"), col("v"), query, k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer assigns every vector
    * to its nearest centroid; a query scans only the `nprobe` nearest
    * centroid lists (exact cosine within). At 100 TB the assigned table is
    * written partitioned by `centroid_id`, so a probe is a partition-pruned
    * scan; centroids are trained once on a sample and broadcast.
    */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame)

  /** @param trainFraction fraction of rows the k-means coarse quantizer is
    *        fit on — at 100 TB the fit must NEVER see the full table; the
    *        sample is additionally capped at `maxTrainRows` rows so training
    *        cost is constant in table size. Assignment of the FULL table is a
    *        single broadcast-centroid pass (nearest-centroid argmin), no ML
    *        pipeline on the big side.
    */
  def ivfBuild(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      seed: Long = 42L,
      maxIter: Int = 10,
      trainFraction: Double = 0.05,
      maxTrainRows: Int = 200000
  ): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // sampled training set, floored so tiny tables still train on enough
    // rows for nLists clusters and capped so huge tables train on O(1) rows
    val sampled = feat
      .sample(withReplacement = false, math.min(trainFraction, 1.0), seed)
      .limit(maxTrainRows)
      .select(col("v"), array_to_vector(col("v")).as("features"))
      .persist()
    val trainDf =
      if (sampled.count() >= nLists.toLong * 8) sampled
      else feat.limit(maxTrainRows).select(col("v"), array_to_vector(col("v")).as("features"))
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(maxIter).fit(trainDf)
    sampled.unpersist()
    val centroids = model.clusterCenters.map(_.toArray)

    val bcCentroids = df.sparkSession.sparkContext.broadcast(centroids)
    val assign = udf { (v: Seq[Double]) =>
      val cs = bcCentroids.value
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cen = cs(c)
        var d = 0.0; var i = 0
        while (i < cen.length) { val t = v(i) - cen(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val assigned = feat.withColumn("centroid_id", assign(col("v")))
    IvfIndex(centroids, assigned)
  }

  def ivfTopK(ivf: IvfIndex, query: Array[Double], k: Int, nprobe: Int = 2): DataFrame = {
    def dist2(c: Array[Double]): Double =
      c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
    val probes = ivf.centroids.zipWithIndex
      .sortBy { case (c, _) => dist2(c) }
      .take(nprobe)
      .map(_._2)
    exactTopK(ivf.assigned.filter(col("centroid_id").isin(probes.map(Integer.valueOf): _*)),
      col("id"), col("v"), query, k)
  }

  /** Scale path for embedding near-dup pairs: bucket by hyperplane signature
    * and compare only within buckets, UNIONED with the hamming-1 probes for
    * recall — side `a` explodes to its exact bucket plus every one-bit
    * variant, so any pair whose signatures differ in ≤ 1 plane meets in the
    * join. Probe rows carry only (id, probe bucket); vectors re-join by id
    * after the match, so the exploded shuffle stays narrow. Duplicate
    * meetings (several probes matching the same pair) collapse with a
    * distinct on the id pair before the exact-cosine verification.
    */
  def lshCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      nPlanes: Int = 8,
      seed: Long = 42L
  ): DataFrame = {
    val first = df.select(col(vecCol)).head()
    val dim = first.getSeq[Any](0).size
    val planes = hyperplanes(nPlanes, dim, seed)
    // deliberately NOT persisted: `v` is the FULL id+vector table, and the
    // plan below references it four times (two probe projections + the two
    // exact-verify sides). Caching it would pin the whole embedding table in
    // executor storage for the session (at 100 TB that is the scale-killer);
    // each reference instead re-scans the source with column pruning — the
    // recompute is a projection + nPlanes dot products, cheaper than the pin.
    val v = df.select(
      col(idCol).as("id"),
      asDouble(col(vecCol)).as("v"),
      bucketCol(col(vecCol), planes).as("bucket"))
      .withColumn("nrm", norm(col("v")))
    // id-only probe table: exact bucket + every hamming-1 variant
    val variants = lit(0L) +: (0 until nPlanes).map(i => lit(1L << i))
    val probesA = v.select(
      col("id").as("id_a"),
      explode(array(variants.map(col("bucket").bitwiseXOR(_)): _*)).as("probe"))
    val exactB = v.select(col("id").as("id_b"), col("bucket").as("probe"))
    val candidates = probesA
      .join(exactB, probesA("probe") === exactB("probe") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // exact verification re-joins the full vectors by id
    val va = v.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val vb = v.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    candidates
      .join(va, "id_a")
      .join(vb, "id_b")
      .withColumn("cosine", dotPair(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }
}
