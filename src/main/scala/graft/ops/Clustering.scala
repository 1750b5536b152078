package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic clustering side-car (reference semantic_clustering.py:37-102 +
  * cluster_function_edges, knowledge_graph.py:1201-1218), as one verifiable
  * Lloyd iteration of k-means over the embedding table.
  *
  * All arithmetic is integer after quantizing the float embeddings to
  * micro-units, so cluster assignments are bit-identical across engines
  * (the DuckDB oracle reproduces them exactly) and across partitionings —
  * float summation order can never flip an argmin.
  *
  * Scale shape: centroids are k rows (broadcast); assignment is a
  * map-side-combinable `min(struct(d2, cid))` aggregate, not a window;
  * centroid means are a (k x dims)-group aggregate. One Lloyd round = two
  * shuffles on vec_id + one tiny aggregate, independent of corpus size.
  */
object Clustering {

  /** Quantize an embedding to integer micro-units (round(x * 1e6)). */
  def quantized(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x => round(x.cast("double") * 1e6).cast("long"))
        .as("xq"))

  /** Integer-rounded centroid (cid, cq) of every cluster of an assigned
    * quantized frame (vec_id, xq, cluster): a (k x dims)-group mean, then
    * the dim-sorted means as one array per cluster (a struct-field
    * extraction, no per-element lambda). */
  private def centroids(withA: DataFrame): DataFrame =
    withA.select(col("cluster"), posexplode(col("xq")).as(Seq("dim", "v")))
      .groupBy(col("cluster"), col("dim"))
      .agg(round(avg(col("v"))).cast("long").as("cv"))
      .groupBy(col("cluster").as("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).getField("cv").as("cq"))

  /** Nearest centroid per vector: argmin over (d2, cid) via a struct-min
    * aggregate (partial-aggregation friendly; no per-vector sort). */
  private def assign(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("d2", Kernels.sqDist(col("xq"), col("cq")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("cluster"))

  /** One full Lloyd iteration: seed centroids = vectors with vec_id in
    * [seedFrom, seedFrom + k), assign, recompute integer-rounded means,
    * reassign. Output: (vec_id, cluster), cluster in [0, k).
    * Distinct `seedFrom` values give independent ensemble members
    * (reference runs clustering more than once and joins the results,
    * semantic_clustering.py / SURVEY J9 — see [[ensemble]]).
    * Delegates to [[lloyd]] with iters = 1 (identical dataflow, so the
    * seed guard runs on the checkpointed frame, not a fresh derivation). */
  def lloydStep(emb: DataFrame, k: Int = 8, seedFrom: Int = 0): DataFrame =
    lloyd(emb, k, iters = 1, seedFrom = seedFrom)

  /** Full Lloyd loop: `iters` rounds of (means, assign) after the seeded
    * first assignment (iters=1 == [[lloydStep]]). Each round's assignment
    * is localCheckpointed — (vec_id, cluster) is two longs, the narrow
    * shape localCheckpoint is right for — so round N+1's plan never
    * re-derives round N (the fixpoint-iteration pattern of
    * ConnectedComponents; a growing lineage would re-execute every prior
    * round per action and stop scaling). Cost per round: two vec_id
    * shuffles + a (k x dims) aggregate over the ONE checkpointed
    * quantized pass — independent of iteration count, linear in corpus
    * size.
    *
    * Seed guard: sparse vec_ids in the seed window would silently yield
    * < k centroids (an EMPTY c0 makes assign return an empty frame with
    * no error) — fail loudly instead. The count scans the already
    * localCheckpointed q (a cached-partition pass, no upstream
    * re-execution however the caller derived `emb`). */
  def lloyd(emb: DataFrame, k: Int = 8, iters: Int = 2,
      seedFrom: Int = 0): DataFrame =
    lloydOnQ(quantized(emb).localCheckpoint(), k, iters, seedFrom)

  /** Lloyd over an ALREADY-quantized-and-checkpointed frame — the shared
    * core that lets [[kSweep]] pay the quantization pass once for the
    * whole sweep instead of once per k. */
  private def lloydOnQ(q: DataFrame, k: Int, iters: Int,
      seedFrom: Int, seedsChecked: Boolean = false): DataFrame = {
    require(iters >= 1, s"lloyd: iters must be >= 1, got $iters")
    val c0 = q.filter(col("vec_id") >= seedFrom && col("vec_id") < seedFrom + k)
      .select((col("vec_id") - seedFrom).as("cid"), col("xq").as("cq"))
    if (!seedsChecked) {
      val nSeeds = c0.count()
      require(nSeeds == k,
        s"lloyd: expected $k seed centroids (vec_id in [$seedFrom," +
          s"${seedFrom + k})), found $nSeeds — vec_ids must be dense")
    }
    var a = assign(q, c0)
    for (_ <- 1 to iters) {
      // checkpoint only assignments that feed a NEXT round (truncates the
      // fixpoint lineage); the final assignment stays lazy so a consumer
      // writing it to a stage table pays one pass, not two, and its plan
      // still shows the broadcast-assign shape
      val prev = a.localCheckpoint()
      a = assign(q, centroids(q.join(prev, Seq("vec_id"))))
    }
    a
  }

  /** Total integer SSE of an assignment against its own centroids —
    * the convergence metric (Lloyd never increases it). */
  def sse(emb: DataFrame, assignment: DataFrame): Long =
    sseOnQ(quantized(emb), assignment)

  private def sseOnQ(q: DataFrame, assignment: DataFrame): Long = {
    val withA = q.join(assignment, Seq("vec_id"))
    withA.join(centroids(withA).withColumnRenamed("cid", "cluster"), Seq("cluster"))
      .select(Kernels.sqDist(col("xq"), col("cq")).as("d2"))
      .agg(sum(col("d2"))).collect()(0).getLong(0)
  }

  /** Micro-averaged simplified silhouette of an assignment (the
    * reference's k-selection score, semantic_clustering.py:42-65, in the
    * centroid-based simplified form): per point, a = d2 to its own
    * centroid, b = min d2 to any OTHER centroid; the aggregate score is
    * Σ(b−a) / Σmax(a,b) ∈ [−1, 1]. Returned as the exact integer
    * (numerator, denominator) pair — a float mean over points would be
    * summation-order dependent, while long sums are associative and
    * compare exactly across engines. Centroids are the round(avg) means
    * of the assignment itself (same rule as [[sse]]); requires k >= 2
    * (b undefined otherwise). Long-overflow headroom: d2 ≤ dims·(2e6)²
    * per pair, so sums stay in range up to ~10^4 · dims^-1 · 10^18 / 2.6e14
    * ≈ tens of thousands of vectors per sweep sample — sample the corpus
    * before sweeping at larger scale. */
  def silhouette(emb: DataFrame, assignment: DataFrame): (Long, Long) = {
    val (_, num, den) = scoreOnQ(quantized(emb), assignment)
    (num, den)
  }

  /** One distributed pass computing BOTH sweep scores of an assignment:
    * (sse, sil_num, sil_den). SSE is the sum of each point's own-centroid
    * d2 — the `a` column the silhouette needs anyway, so scoring costs
    * one centroid aggregation + one distance pass, not two of each.
    * Null-safe: a degenerate assignment where every point lands in ONE
    * cluster has no "other centroid" (b is NULL everywhere) — its
    * silhouette contribution is the standard s=0 (num 0, den a), never a
    * null that would NPE at the collect boundary. */
  private def scoreOnQ(q: DataFrame, assignment: DataFrame): (Long, Long, Long) = {
    val withA = q.join(assignment, Seq("vec_id"))
    val d = withA.crossJoin(broadcast(centroids(withA)))
      .withColumn("d2", Kernels.sqDist(col("xq"), col("cq")))
    val perVec = d.groupBy(col("vec_id"), col("cluster"))
      .agg(min(when(col("cid") === col("cluster"), col("d2"))).as("a"),
        min(when(col("cid") =!= col("cluster"), col("d2"))).as("b"))
    val r = perVec.agg(
      coalesce(sum(col("a")), lit(0L)).as("sse"),
      coalesce(sum(when(col("b").isNotNull, col("b") - col("a"))
        .otherwise(lit(0L))), lit(0L)).as("num"),
      coalesce(sum(when(col("b").isNotNull, greatest(col("a"), col("b")))
        .otherwise(col("a"))), lit(0L)).as("den")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** k-selection sweep (reference semantic_clustering.py:42-65: sweep k,
    * pick the best silhouette): one Lloyd iteration per candidate k, then
    * integer SSE (the elbow diagnostic) AND the simplified-silhouette
    * components; `chosen = 1` for the k with the highest silhouette ratio
    * (num/den compared as deterministically-rounded doubles — both
    * engines round the same longs to the same doubles — ties and a zero
    * denominator fall back to the smaller k). Returns LOCAL rows
    * (k, sse, sil_num, sil_den, chosen): |ks| rows by construction, each
    * backed by a full distributed Lloyd + SSE + silhouette pass. */
  def kSweep(emb: DataFrame, ks: Seq[Int] = Seq(2, 4, 8, 16),
      maxVectors: Option[Long] = None): Seq[(Long, Long, Long, Long, Long)] = {
    // ONE quantization pass + checkpoint shared by every k's Lloyd chain
    // and both scorings (values identical to per-k derivation)
    val q = quantized(emb).localCheckpoint()
    // overflow guard (VERDICT r04 advice): the documented silhouette
    // headroom was advisory only — an oversized corpus would wrap the
    // long sums SILENTLY and turn the chosen-k argmax into garbage.
    // Fail loudly instead; one aggregate over the checkpointed q.
    guardSweepBound(sweepStats(q), maxVectors)
    kSweepOnQ(q, ks)
  }

  /** (n, dims, maxAbsCoord) of a quantized frame in ONE aggregate job
    * (the previous shape ran a count job + a head job; guide §1.2).
    * dims is the MAX array length — on a ragged corpus the conservative
    * choice for the overflow bound. */
  private def sweepStats(q: DataFrame): (Long, Int, Long) = {
    val r = q.agg(count(lit(1)),
      coalesce(max(size(col("xq"))), lit(0)),
      coalesce(max(greatest(abs(array_max(col("xq"))), abs(array_min(col("xq"))))),
        lit(0L))).head
    (r.getLong(0), r.getInt(1), r.getLong(2))
  }

  private def guardSweepBound(stats: (Long, Int, Long),
      maxVectors: Option[Long]): Long = {
    val (n, dims, maxAbs) = stats
    require(n > 0, "kSweep: empty corpus")
    val bound = maxVectors.getOrElse(sweepSafeBoundAt(dims, maxAbs))
    require(n <= bound,
      s"kSweep: $n vectors exceed the silhouette long-overflow headroom " +
        s"($bound at dims=$dims, max |coord| = $maxAbs) — pre-sample " +
        "with kSweepSampled (or Curation.stratifiedSample) before sweeping")
    bound
  }

  /** Sweep core over an already-quantized-and-checkpointed, already
    * bound-guarded frame. */
  private def kSweepOnQ(q: DataFrame, ks: Seq[Int]): Seq[(Long, Long, Long, Long, Long)] = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks && ks.head >= 2,
      s"kSweep: ks must be non-empty, ascending, distinct, all >= 2 — got $ks")
    // ONE seed-density check for the whole sweep: ks.max distinct vec_ids
    // in [0, ks.max) means every prefix [0, k) is dense, so each k's
    // per-chain guard count can be skipped (4 driver-synchronized count
    // jobs -> 1). A sparse window falls back to the per-k guard so the
    // loud per-k error message is preserved.
    val kmax = ks.max
    val sr = q.filter(col("vec_id") >= 0 && col("vec_id") < kmax)
      .agg(count(lit(1)), count_distinct(col("vec_id"))).head
    val seedsDense = sr.getLong(0) == kmax && sr.getLong(1) == kmax
    // the per-k chains are INDEPENDENT (each reads only the checkpointed
    // q), so they run as concurrent driver-submitted jobs (guide §2.6
    // "overlap independent jobs"): one k's scoring back-fills the cores
    // another k's assign stage leaves idle during its tail. Results are
    // per-k deterministic, and the output order is ks order (we map over
    // ks, not over completion order).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ks.length)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rows = try {
      val futures = ks.map { k =>
        scala.concurrent.Future {
          // ONE scoring pass per k: sse rides the silhouette's
          // own-centroid distances (scoreOnQ), so each k runs one
          // centroid aggregation + one distance pass, not two of each
          val a = lloydOnQ(q, k, iters = 1, seedFrom = 0,
            seedsChecked = seedsDense).localCheckpoint()
          val (sse, num, den) = scoreOnQ(q, a)
          (k.toLong, sse, num, den)
        }
      }
      futures.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    def sil(r: (Long, Long, Long, Long)): Double =
      if (r._4 == 0L) 0.0 else r._3.toDouble / r._4.toDouble
    val chosenK = rows.maxBy(r => (sil(r), -r._1))._1
    rows.map { case (k, s, n, d) =>
      (k, s, n, d, if (k == chosenK) 1L else 0L) }
  }

  /** Largest vector count whose sweep scoring provably cannot overflow a
    * long: each per-point centroid distance is bounded by
    * dims * (2e6)^2 = dims * 4e12 (quantized coordinates live in
    * [-1e6, 1e6] after micro-unit rounding of unit-scale embeddings, so
    * a coordinate gap is at most 2e6), and the silhouette/SSE sums add
    * one such term per point — Long.MaxValue / (dims * 4e12) points is
    * the exact safe ceiling (~36k at dims = 64). */
  def sweepSafeBound(dims: Int): Long = {
    require(dims > 0, s"sweepSafeBound: dims must be positive, got $dims")
    Long.MaxValue / (dims.toLong * 4000000000000L)
  }

  /** [[sweepSafeBound]] generalized to the OBSERVED max coordinate
    * magnitude (ADVICE r05 #2: quantized() neither clamps nor validates
    * the [-1e6, 1e6] assumption, so an over-unit corpus silently shrank
    * the real headroom quadratically). A coordinate gap is at most
    * 2 * maxAbs, so the per-point term is bounded by dims * (2*maxAbs)^2;
    * for unit-scale corpora (maxAbs <= 1e6) this is EXACTLY
    * [[sweepSafeBound]] — behavior unchanged — while an over-scale corpus
    * now gets the provably safe tighter bound instead of a wrap. BigInt
    * intermediate: (2*maxAbs)^2 itself overflows a long for maxAbs
    * beyond ~1.5e9. */
  def sweepSafeBoundAt(dims: Int, maxAbs: Long): Long = {
    require(dims > 0, s"sweepSafeBoundAt: dims must be positive, got $dims")
    val scale = math.max(maxAbs, 1000000L)
    val perPoint = BigInt(dims) * (BigInt(2) * BigInt(scale)).pow(2)
    (BigInt(Long.MaxValue) / perPoint).toLong
  }

  /** Deterministic sweep sample: every Lloyd seed (vec_id < kmax — the
    * seed-window contract of [[lloyd]]) plus a hash-thresholded fraction
    * of the rest sized to ~90% of `bound` (the margin absorbs sampling
    * variance so the downstream [[kSweep]] guard never fires on its own
    * sample). The keep decision is a pure per-row md5 threshold — the
    * same shuffle-free, rerun-stable rule as
    * [[Curation.stratifiedSample]] — so the sample is identical across
    * partitionings, cluster sizes, and reruns. */
  def sweepSample(emb: DataFrame, kmax: Int, bound: Long, n: Long): DataFrame = {
    val budget = math.max(1L, bound - kmax)
    // 32-bit threshold (8 hex chars): a 16-bit one floors the keep rate
    // at 1/65536, which above ~2.4e9 vectors cannot express a fraction
    // small enough to land under the bound — the exact at-scale case the
    // sampler exists for (code-review r5). 32 bits reaches n ~ 1.5e14.
    val t = math.max(1L, ((0.9 * budget / n) * 4294967296.0).toLong)
    emb.filter(col("vec_id") < kmax ||
      substring(md5(concat(lit("swp|"), col("vec_id").cast("string"))), 1, 8)
        < f"$t%08x")
  }

  /** [[kSweep]] behind the deterministic sampling front-end: a corpus
    * above the overflow-safe bound is hash-sampled down to it first
    * (seeds always kept, so every k in `ks` still finds its dense seed
    * window); a corpus within bounds sweeps in full — identical to
    * calling [[kSweep]] directly. The sweep sample is the standard
    * k-selection move at corpus scale (the reference sweeps a small
    * docstring corpus in full, semantic_clustering.py:45-65; at 100 TB
    * the sweep DESIGNS the clustering and a deterministic sample is the
    * only way to keep it bounded). */
  def kSweepSampled(emb: DataFrame, ks: Seq[Int] = Seq(2, 4, 8, 16),
      maxVectors: Option[Long] = None): Seq[(Long, Long, Long, Long, Long)] = {
    require(ks.nonEmpty, "kSweepSampled: ks must be non-empty")
    // quantize + checkpoint ONCE; the sample filter touches vec_id only,
    // so it applies to the quantized frame directly — the previous
    // sample-raw-then-kSweep shape paid a second full quantization pass
    // and a second corpus count even when no sampling was needed
    // (code-review r5). Count, dims and the coordinate-scale guard ride
    // ONE aggregate job (sweepStats).
    val q = quantized(emb).localCheckpoint()
    val (n, dims, maxAbs) = sweepStats(q)
    require(n > 0, "kSweepSampled: empty corpus")
    // the default bound derives from the observed max coordinate (same
    // rule as guardSweepBound; identical to sweepSafeBound for unit-scale
    // corpora, so the at-scale sample is unchanged)
    val bound = maxVectors.getOrElse(sweepSafeBoundAt(dims, maxAbs))
    val in = if (n <= bound) q else sweepSample(q, ks.max, bound, n)
    val m = if (n <= bound) n else in.count()
    require(m <= bound,
      s"kSweepSampled: sample of $m vectors still exceeds the bound $bound")
    kSweepOnQ(in, ks)
  }

  /** Greedy ensemble label alignment (the reference aligns the two label
    * spaces via pd.crosstab + driver-side assignment,
    * semantic_clustering.py:184-188): the contingency table of
    * (cluster_a, cluster_b) co-assignment counts is a k x k aggregate —
    * tiny by construction, so collecting it is bounded — then greedy
    * argmax matching: repeatedly take the largest remaining cell (ties:
    * cluster_a asc, cluster_b asc) whose row and column are both unused.
    * Equivalent single-pass form: scan cells sorted by (n desc, a, b)
    * and accept each whose row/col is still free. One row per matched
    * pair: (cluster_b, aligned_a, n_overlap), sorted by cluster_b. */
  def alignEnsemble(ens: DataFrame): Seq[(Long, Long, Long)] = {
    val cells = ens.groupBy(col("cluster_a"), col("cluster_b"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (a, b, n) => (-n, a, b) }
    val usedA = scala.collection.mutable.Set.empty[Long]
    val usedB = scala.collection.mutable.Set.empty[Long]
    val out = Seq.newBuilder[(Long, Long, Long)]
    for ((a, b, n) <- cells) if (!usedA(a) && !usedB(b)) {
      usedA += a; usedB += b; out += ((b, a, n))
    }
    out.result().sortBy(_._1)
  }

  /** Ensemble of two independently-seeded clusterings joined per vector
    * (the reference's ensemble cluster join, SURVEY J9): member A is a
    * given (vec_id, cluster) assignment (the committed seed-window-0
    * [[lloydStep]]), member B the full Lloyd iteration over `emb` with the
    * disjoint seed window [k, 2k); the equi-join on vec_id (both sides
    * distinct per key — no skew possible) emits the co-assignment, whose
    * distinct pairs are the consensus groups. */
  def ensemble(a: DataFrame, emb: DataFrame, k: Int = 8): DataFrame = {
    val b = lloydStep(emb, k, seedFrom = k)
      .withColumnRenamed("cluster", "cluster_b")
    a.withColumnRenamed("cluster", "cluster_a").join(b, Seq("vec_id"))
      .select(col("vec_id"), col("cluster_a"), col("cluster_b"),
        (col("cluster_a") * k + col("cluster_b")).as("consensus_key"))
  }
}
