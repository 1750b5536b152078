package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k for a bounded query set (the exact
  * answer; O(|Q| * N) — |Q| kept small and broadcast). Scale path:
  * sign-random-projection LSH buckets so candidate generation is a bucket
  * equi-join instead of a cross join.
  */
object Similarity {

  /** Exact top-k cosine neighbors for queries (vec_id < nQueries).
    * The query side is tiny -> broadcast; the corpus side streams, so the
    * plan is a single pass over N rows regardless of cluster size. The
    * top-k cut is TopK's rank window, whose partial group limit keeps at
    * most k scored rows per query and input partition ahead of the
    * shuffle (VERDICT r05 #7). */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val joined = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      // parts-per-million integer score: exact cross-engine comparison
      .withColumn("cos_ppm", cosPpm(col("qe"), col("embedding")))
    graft.canonical.TopK.perGroup(joined, Seq("query_id"),
      Seq(col("cos_ppm").desc, col("vec_id")), k, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos_ppm"), col("rank"))
  }

  /** Deterministic ±1 hyperplane weight: top bit of md5("p|d") —
    * reproducible in any engine (the DuckDB oracle derives the same value
    * from `substr(md5(p||'|'||d),1,1) >= '8'`), no RNG state. */
  private def planeWeight(p: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$d".getBytes("UTF-8"))
    if ((h(0) & 0x80) != 0) 1.0 else -1.0
  }

  /** Integer cosine score (parts-per-million): the argmin/argmax orderings
    * below compare quantized longs, so a last-ulp float difference between
    * engines can never flip a cell assignment or a rank. */
  private def cosPpm(a: Column, b: Column): Column =
    round(Kernels.dot(a, b) / (Kernels.norm(a) * Kernels.norm(b)) * 1e6).cast("long")

  /** Rank every vector of `vectors` against a codebook frame
    * (cell, ce): one row per (vec_id, cell) with the similarity rank
    * (1 = nearest). Centroids are a handful of rows -> broadcast;
    * `vectors` streams once. */
  private def cellRanks(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim_ppm").desc, col("cell"))
    vectors.crossJoin(broadcast(centroids))
      .withColumn("sim_ppm", cosPpm(col("embedding"), col("ce")))
      .withColumn("rk", row_number().over(w))
      .select(col("vec_id"), col("cell"), col("rk"))
  }

  /** Codebook = the deterministic prefix `vec_id < nCells` of the corpus
    * (a k-means refinement slots in without changing the dataflow); the
    * cell id IS the centroid's vec_id. */
  private def prefixCodebook(corpus: DataFrame, nCells: Int): DataFrame =
    corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("ce"))

  /** IVF coarse quantization (the other scale path besides LSH): assign
    * every vector to its nearest of `nCells` centroids; a query then scans
    * only its probed cells (nProbes/nCells of the corpus). */
  def ivfAssign(emb: DataFrame, nCells: Int = 16): DataFrame =
    cellRanks(emb, prefixCodebook(emb, nCells)).filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"))

  /** IVF top-k with multi-probe: each query scans its `nProbes` nearest
    * cells (nProbes=1 is classic single-probe; recall rises with nProbes
    * and reaches brute-force exactness at nProbes = number of cells). The
    * probe list and the corpus partition are both cell-keyed, so candidate
    * generation is an equi-join on `cell` — never a cross join — and the
    * scan cost per query is nProbes/nCells of the corpus.
    *
    * The codebook is DERIVED from `assignments` (distinct cell ids joined
    * back to their centroid vectors), never passed as a separate count: a
    * caller can therefore not rank probe cells against a different
    * codebook than the one that partitioned the corpus (which would
    * silently degrade recall). Consequence: probe ranking sees the
    * OCCUPIED cells only — an empty cell has nothing to scan, so probing
    * it would waste one of the nProbes (the oracle ranks over occupied
    * cells identically). At production scale the codebook is the
    * committed side table the assignments were built from; here the
    * broadcast-join derivation costs one map-side pass, no shuffle. */
  def ivfTopK(emb: DataFrame, assignments: DataFrame, nQueries: Int = 20,
      k: Int = 10, nProbes: Int = 1): DataFrame = {
    val queries = emb.filter(col("vec_id") < nQueries)
    // probe list: the query's nProbes nearest cells. Single-probe reads
    // the query's own assignment row (its cell IS rk=1 — no codebook
    // recompute, and always consistent with `assignments`); multi-probe
    // re-ranks the queries against the assignment-derived codebook.
    val probes =
      if (nProbes <= 1)
        queries.select(col("vec_id").as("query_id"))
          .join(assignments.withColumnRenamed("vec_id", "query_id"), "query_id")
      else {
        val cells = assignments.select(col("cell")).distinct()
        val codebook = emb.join(broadcast(cells), col("vec_id") === col("cell"))
          .select(col("cell"), col("embedding").as("ce"))
        cellRanks(queries, codebook).filter(col("rk") <= nProbes)
          .select(col("vec_id").as("query_id"), col("cell"))
      }
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(probes, "query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("vec_id"))
    emb.join(assignments, "vec_id")
      .join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_ppm", cosPpm(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos_ppm"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (the fifth dedup family next
    * to exact/MinHash/SimHash/Jaccard): LSH buckets as the blocking key —
    * candidate generation is a bucket equi-self-join (a < b), never
    * all-pairs — then exact cosine verification at `minCosPpm`. The same
    * candidate-then-verify shape as Dedup.candidatePairs/jaccardAtLeast,
    * over vectors instead of shingle sets.
    *
    * Degenerate-bucket cap (same rule as Dedup.candidatePairs): a bucket
    * holding B vectors would emit B^2/2 candidate rows — quadratic OUTPUT
    * that AQE cannot shrink, and with 2^nPlanes buckets a uniform corpus
    * of N vectors emits ~N^2/2^nPlanes pairs. Buckets above `maxBucket`
    * are star-collapsed: every member pairs with the bucket's min-id
    * representative only (B-1 rows, linear). An oversized sign-projection
    * bucket is a near-duplicate cone, so connecting members through the
    * representative preserves dedup semantics for the downstream collapse
    * (the grouping closes the clique); only sub-threshold false-positive
    * members lose their direct pair, which the exact cosine verification
    * would have discarded anyway. At corpus scale also grow nPlanes
    * (expected occupancy N/2^nPlanes) so the cap is the backstop, not the
    * common path. Each vector has exactly ONE bucket (no bands), so the
    * pair set needs no distinct() — one shuffle fewer than the banded
    * MinHash path. */
  def cosineDupPairs(emb: DataFrame, minCosPpm: Long = 300000L,
      nPlanes: Int = 8, dim: Int = 64, maxBucket: Int = 1000): DataFrame = {
    val b = lshBuckets(emb, nPlanes, dim)
    val sized = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_n"), min(col("vec_id")).as("_rep"))
    val withSz = b.join(sized, Seq("bucket"))
    val small = withSz.filter(col("_n") <= maxBucket)
    val full = small.select(col("bucket"), col("vec_id").as("a"))
      .join(small.select(col("bucket"), col("vec_id").as("b")), Seq("bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    val star = withSz.filter(col("_n") > maxBucket && col("vec_id") =!= col("_rep"))
      .select(col("_rep").as("a"), col("vec_id").as("b"))
    val cand = full.unionByName(star)
    cand
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .withColumn("cos_ppm", cosPpm(col("ea"), col("eb")))
      .filter(col("cos_ppm") >= minCosPpm)
      .select(col("a"), col("b"), col("cos_ppm"))
  }

  /** Plane count for a corpus of n vectors at a target expected bucket
    * occupancy (uniform-case n / 2^nPlanes): the sf1 pressure run showed
    * the fixed-8-plane blocking growing quadratically in occupancy
    * (candidates ~ 256 * (n/256)^2 / 2) well before the star-collapse cap
    * engages — the plane count, not the cap, is the primary scale lever;
    * the cap stays as the skew backstop (real corpora are not uniform). */
  def planesFor(n: Long, targetOccupancy: Int = 32, minPlanes: Int = 8): Int = {
    require(n >= 0 && targetOccupancy > 0)
    // exact integer form of ceil(log2(n / target)): smallest p with
    // 2^p * target >= n, i.e. bit_length(ceilDiv(n, target) - 1). The
    // float log form could land a last-ulp below/above an exact power of
    // two and flip the count by one — this must agree bit-for-bit with
    // the oracle's length(bin(...)) derivation, so no float ever enters.
    val ceilDiv = (math.max(n, 1L) + targetOccupancy - 1L) / targetOccupancy
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(math.max(ceilDiv - 1L, 0L))
    math.max(minPlanes, needed)
  }

  /** [[cosineDupPairs]] with the plane count derived from the corpus size
    * (one count action — the blocking design step): expected bucket
    * occupancy stays ~targetOccupancy at ANY corpus size, so candidate
    * generation stays linear without leaning on the star-collapse cap. */
  def cosineDupPairsAuto(emb: DataFrame, minCosPpm: Long = 300000L,
      dim: Int = 64, targetOccupancy: Int = 32, maxBucket: Int = 1000): DataFrame =
    cosineDupPairs(emb, minCosPpm,
      nPlanes = planesFor(emb.count(), targetOccupancy), dim = dim,
      maxBucket = maxBucket)

  /** Sign-random-projection LSH bucket per vector: nPlanes sign bits.
    * Vectors in the same bucket are ANN candidates (query cost becomes an
    * equi-join by bucket instead of a scan).
    *
    * The plane weights are baked into the compiled [[Kernels.lshBucket]]
    * projection — one pass per row, ZERO shuffles (the previous
    * posexplode-to-(vec, dim) shape inflated the shuffle 64x at corpus
    * scale, VERDICT r02). Each plane's sum folds in dim order, matching
    * the oracle's sequential sum. */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame =
    emb.select(col("vec_id"), Kernels.lshBucket(col("embedding"),
      (0 until nPlanes).map(p => (0 until dim).map(planeWeight(p, _)))).as("bucket"))
}
