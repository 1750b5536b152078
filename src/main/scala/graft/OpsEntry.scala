package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, Curation, Dedup, Multimodal, Similarity, TextOps}
import graft.graph.{ParquetTableIO, Pipeline}

/** Driver-contract queries for the training-data pipeline operators
  * (dedup / similarity / text analysis / multimodal) over the `documents`
  * and `embeddings` tables, with DuckDB oracles. */
object OpsEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    ParquetTableIO.read(s, s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    ParquetTableIO.read(s, s"$dir/embeddings.parquet")

  /** Brute-force cosine ground truth (emb_ann_topk + the recall
    * evaluation). Deliberately NOT a committed stage table: measured at
    * sf0.1, the derivation (~1.3 s) is cheaper than a stage write +
    * observability commit (~1.5-2 s), so staging was a net loss — the
    * staging pattern only pays when derivation cost x consumers clearly
    * exceeds the commit overhead (it does for dup_pairs, node_clusters,
    * decontam_hits; it does not here). */
  private def annTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(emb(s, dir))

  /** IVF multi-probe result (emb_ivf_topk + the recall evaluation); not
    * staged for the same measured reason as [[annTopk]]. */
  private def ivfTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfTopK(e, Similarity.ivfAssign(e, nCells = 16),
      nQueries = 20, k = 10, nProbes = 2)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).select(
        col("text_hash"), col("keep_id"), col("n_dups").cast("long").as("n_dups"))),

    "doc_minhash_lsh" -> ((s, dir) => Dedup.minhashBuckets(docs(s, dir))),

    "doc_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),

    "doc_jaccard_top" -> ((s, dir) => Dedup.jaccardTopPairs(docs(s, dir))),

    "doc_lang_id" -> ((s, dir) => TextOps.langId(docs(s, dir))),

    "doc_quality" -> ((s, dir) => TextOps.qualityScore(docs(s, dir))),

    "doc_tokens" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir))),

    // Gopher-style repetition gates: duplicate-word ratio + top-bigram share
    "doc_repetition" -> ((s, dir) =>
      TextOps.repetition(docs(s, dir)).select(
        col("doc_id").cast("long").as("doc_id"), col("n_words"),
        col("dup_word_ppm"), col("top_bigram_ppm"))),

    "doc_fingerprint" -> ((s, dir) => TextOps.fingerprints(docs(s, dir))),

    "doc_media_meta" -> ((s, dir) => Multimodal.extract(s, docs(s, dir))),

    // normalization-for-hashing + sha-256 content digest (X6 + X7).
    // The normalized text is projected ONCE as a bound attribute and both
    // outputs read it — hash and length can never re-run the regexp chain
    // independently (guide §2.3 "project before"; codegen CSE made this
    // implicit, the projection makes it structural).
    "doc_norm_hash" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), TextOps.normalizeForHash(col("text")).as("_n"))
      .select(col("doc_id"),
        sha2(col("_n"), 256).as("norm_hash"),
        length(col("_n")).cast("long").as("norm_len"))),

    "emb_ann_topk" -> ((s, dir) => annTopk(s, dir)),

    "emb_lsh_buckets" -> ((s, dir) => Similarity.lshBuckets(emb(s, dir))),

    "emb_cosine_dups" -> ((s, dir) => Similarity.cosineDupPairs(emb(s, dir))),

    // the scale-safe wired form (VERDICT r04): plane count derived from
    // the corpus size (planesFor — exact integer bit-length, no float
    // log), so expected bucket occupancy stays ~32 at ANY n and
    // candidate generation stays linear without leaning on the
    // star-collapse cap. The oracle derives the identical plane count
    // from its own count(*) via length(bin(...)).
    "emb_cosine_dups_auto" -> ((s, dir) =>
      Similarity.cosineDupPairsAuto(emb(s, dir))),

    // reads the SAME committed Lloyd stage table the kg_cluster_*
    // consumers share (one assignment chain per corpus, identical rows)
    "emb_clusters" -> ((s, dir) => Pipeline.nodeClusters(s, dir)),

    "emb_cluster_ensemble" -> ((s, dir) => Pipeline.ensemble(s, dir)),

    // k-selection sweep: Lloyd + integer SSE + simplified-silhouette
    // components per k; chosen = silhouette argmax (the reference rule).
    // Behind the deterministic sampling front-end: a corpus within the
    // silhouette long-overflow bound (~36k vectors at 64 dims — every
    // oracle sf) sweeps in FULL, identical to kSweep; above it (sf10+)
    // the sweep runs on the hash-sample instead of wrapping silently
    "emb_k_sweep" -> ((s, dir) => {
      import s.implicits._
      Clustering.kSweepSampled(emb(s, dir))
        .toDF("k", "sse", "sil_num", "sil_den", "chosen")
    }),

    // engine-exact TF-IDF (floor-log2 idf via bin(), no float log):
    // top-3 terms per document
    "doc_tfidf_terms" -> ((s, dir) =>
      TextOps.tfidfTerms(docs(s, dir)).select(
        col("doc_id").cast("long").as("doc_id"), col("term"),
        col("tf"), col("df"), col("idf"), col("score"), col("rk"))),

    // the reference's text -> TF-IDF -> k-means chain: hashed TF-IDF
    // feature vectors clustered by the same integer-exact Lloyd step
    "doc_text_clusters" -> ((s, dir) =>
      Clustering.lloydStep(TextOps.tfidfVectors(docs(s, dir)), k = 8)
        .select(col("vec_id").as("doc_id"), col("cluster"))),

    // greedy contingency-table alignment of the two ensemble label spaces
    // (read from the committed ensemble stage — the k x k contingency
    // collapse re-ran BOTH Lloyd chains per invocation before)
    "emb_cluster_align" -> ((s, dir) => {
      import s.implicits._
      Clustering.alignEnsemble(Pipeline.ensemble(s, dir))
        .toDF("cluster_b", "aligned_a", "n_overlap")
    }),

    "emb_ivf_topk" -> ((s, dir) => ivfTopk(s, dir)),

    // ANN quality evaluation: per-query recall of the production IVF
    // config against the exact brute-force ground truth — the measurement
    // a pipeline runs before trusting an approximate index.
    "emb_ivf_recall" -> ((s, dir) => {
      val bf = annTopk(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val iv = ivfTopk(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      bf.join(iv, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
        .select(col("query_id"), col("n_true"), col("n_matched"),
          round(col("n_matched").cast("double") / col("n_true").cast("double") * 1e6)
            .cast("long").as("recall_ppm"))
    }),

    // near-dup collapse: CC over verified LSH pairs -> dup_group + keep.
    // The verified pair set is a committed stage table (one
    // minhash->candidates->verify derivation per corpus; warm calls pay
    // the pair-table read + CC rounds only)
    "doc_dup_clusters" -> ((s, dir) => Pipeline.dupClusters(s, dir)),

    // train<->eval 8-gram decontamination; benchmark = doc_id % 100 == 0
    // (the committed hit table — shared with doc_source_stats and
    // doc_clean_corpus, one shingle derivation per corpus)
    "doc_decontam" -> ((s, dir) => Pipeline.decontamHits(s, dir)),

    // normalization-aware decontamination: case/comment/whitespace-
    // insensitive 8-gram matching (normalizeForHash composed in front
    // of the shingling; same benchmark slice)
    "doc_decontam_norm" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminateNormalized(d, d.filter(col("doc_id") % 100 === 0))
        .select(col("doc_id").cast("long").as("doc_id"), col("n_hits"))
    }),

    // bounded frame-sampling plan off the decoded media metadata
    "doc_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.extract(s, docs(s, dir)))),

    // REAL per-byte feature extraction (16-bucket nibble histogram) in
    // the batched mapPartitions shape — exact long counts per bucket
    "doc_media_features" -> ((s, dir) => {
      val feats = Multimodal.byteHistogram(s, Multimodal.asBinary(docs(s, dir))).toDF()
      feats.select(col("doc_id") +:
        (0 until 16).map(i => element_at(col("f"), i + 1).as(s"h$i")): _*)
    }),

    // aspect-preserving integer resize plan off the decoded metadata
    "doc_resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.extract(s, docs(s, dir)))),

    // deterministic hash-threshold sampling stratified by predicted lang
    "doc_sample_strata" -> ((s, dir) => {
      val lang = TextOps.langId(docs(s, dir))
        .select(col("doc_id").cast("long").as("doc_id"), col("pred_lang"))
      Curation.stratifiedSample(lang, "pred_lang",
        Seq("en" -> "40", "und" -> "80"), "zz")
    }),

    // dedup -> sample: the canonical curation ORDER (sampling before
    // dedup over-represents boilerplate cliques — every surviving
    // replica gets its own draw). Canonical near-dup representatives
    // (read through the committed dup_pairs stage table) are stratified
    // by predicted language and hash-threshold sampled.
    "doc_sample_dedup" -> ((s, dir) => {
      val keep = Pipeline.dupClusters(s, dir)
        .filter(col("keep") === 1).select(col("doc_id"))
      val lang = TextOps.langId(docs(s, dir))
        .select(col("doc_id").cast("long").as("doc_id"), col("pred_lang"))
      Curation.stratifiedSample(lang.join(keep, Seq("doc_id")), "pred_lang",
        Seq("en" -> "40", "und" -> "80"), "zz")
    }),

    // the end-to-end curation gate: one row per document with each
    // filter family's verdict bit — exact-dup keeper, near-dup keeper,
    // benchmark contamination, repetition gates, quality gate — and the
    // composed `clean` decision. This is the table a training-data
    // pipeline actually materializes before tokenization; every bit is
    // an integer compare over already-oracle-exact columns.
    "doc_clean_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = d.select(col("doc_id").cast("long").as("doc_id"))
      val exk = Dedup.exact(d)
        .select(col("keep_id").as("doc_id"), lit(1L).as("exact_keep"))
      val near = Pipeline.dupClusters(s, dir)
        .select(col("doc_id"), col("keep").as("neardup_keep"))
      val dec = Pipeline.decontamHits(s, dir)
        .select(col("doc_id"), lit(1L).as("contaminated"))
      val rep = TextOps.repetition(d)
        .select(col("doc_id").cast("long").as("doc_id"),
          (col("dup_word_ppm") < 500000 && col("top_bigram_ppm") < 500000)
            .cast("long").as("repetition_ok"))
      val qual = TextOps.qualityScore(d)
        .select(col("doc_id").cast("long").as("doc_id"),
          (col("quality_ppm") >= 300000).cast("long").as("quality_ok"))
      ids.join(exk, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .join(dec, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("exact_keep"), lit(0L)).as("exact_keep"),
          // today the staged cluster table covers every doc (singletons
          // included), but the invariant is cross-module: defend locally
          // like the other four families so a future clusters-only-
          // non-singletons change can never turn `clean` null
          // (VERDICT r05 #6)
          coalesce(col("neardup_keep"), lit(1L)).as("neardup_keep"),
          coalesce(col("contaminated"), lit(0L)).as("contaminated"),
          // a doc with no bigram evidence passes the repetition gate
          coalesce(col("repetition_ok"), lit(1L)).as("repetition_ok"),
          coalesce(col("quality_ok"), lit(0L)).as("quality_ok"),
          (coalesce(col("neardup_keep"), lit(1L)) === 1 &&
            coalesce(col("contaminated"), lit(0L)) === 0 &&
            coalesce(col("repetition_ok"), lit(1L)) === 1 &&
            coalesce(col("quality_ok"), lit(0L)) === 1)
            .cast("long").as("clean"))
    }),

    // incremental near-dup probe: index the corpus once (minhash band
    // buckets of its exact-dup representatives), then check an incoming
    // batch against the index — O(batch + matches), never O(corpus).
    // Benchmark split: doc_id % 10 == 7 plays the incoming batch.
    "doc_dup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") % 10 =!= 7)
      val incoming = d.filter(col("doc_id") % 10 === 7)
      Dedup.checkAgainstIndex(incoming, Dedup.dupIndex(corpus), corpus)
        .select(col("new_id").cast("long").as("new_id"),
          col("corpus_id").cast("long").as("corpus_id"), col("jaccard_ppm"))
    }),

    // n-gram novelty: the fraction of a doc's distinct 3-grams that
    // appear in NO other document — the inter-document repetition signal
    // (low novelty = boilerplate/template text) at shingle granularity.
    // Strict shingles (docs under 3 words emit nothing, matching the
    // oracle CTE); df per shingle is a map-side-combinable count over
    // the per-doc-distinct explode, joined back without a hint.
    "doc_ngram_novelty" -> ((s, dir) => {
      val sh = docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").as("_t"), split(col("text"), " ").as("_w"))
        .filter(size(col("_w")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          Dedup.shinglesOfWords(col("_w"), col("_t"), 3))).as("_sg"))
        .select(col("doc_id"), md5(col("_sg")).as("sh"))
      val dfq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      sh.join(dfq, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          round((col("n_shingles") - col("n_shared")).cast("double") /
            col("n_shingles").cast("double") * 1e6).cast("long")
            .as("novelty_ppm"))
    }),

    // per-source curation dashboard: doc/token counts, EXACT integer
    // mean quality (floor division — no float mean crosses engines),
    // and benchmark-contamination rate — the table that decides which
    // crawl/source to keep
    "doc_source_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("doc_id").cast("long").as("doc_id"),
        col("source"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"))
      val qual = TextOps.qualityScore(d)
        .select(col("doc_id").cast("long").as("doc_id"), col("quality_ppm"))
      val dec = Pipeline.decontamHits(s, dir)
        .select(col("doc_id"), lit(1L).as("cont"))
      base.join(qual, Seq("doc_id")).join(dec, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("tokens"),
          expr("sum(quality_ppm) div count(1)").as("mean_quality_ppm"),
          round(sum(coalesce(col("cont"), lit(0L))).cast("double") /
            count(lit(1)).cast("double") * 1e6).cast("long").as("contam_ppm"))
    }),

    // corpus length distribution by power-of-2 token bucket
    // (bit_length via bin() — the same engine-exact quantization as the
    // tf-idf idf); map-side combinable, one tiny aggregate
    "doc_length_hist" -> ((s, dir) =>
      docs(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("t"))
        .select(length(bin(col("t"))).cast("long").as("len_bucket"), col("t"))
        .groupBy(col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens"))),

    // training-mix statistics: per-language doc/token counts + token
    // share. ONE corpus scan: token counts ride the lang-ID projection
    // (`carry`) straight into the map-side-combinable aggregation — no
    // self-join of two scans of the same table.
    "doc_mix_stats" -> ((s, dir) =>
      Curation.mixStats(
        TextOps.langId(
          docs(s, dir).withColumn("ws_tokens",
            size(split(col("text"), " ")).cast("long")),
          carry = Seq("ws_tokens")),
        "pred_lang", "ws_tokens")),
  )

  /** Quantized-embedding CTE shared by every cluster oracle. */
  private[graft] val quantCte: String =
    """q AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xq
      |  FROM embeddings
      |)""".stripMargin

  /** DuckDB CTE chain reproducing one Clustering.lloydStep bit-for-bit
    * (integer-quantized distances); `<pfx>a1` is the final
    * (vec_id, cluster) assignment. Prefix + seed window make the chain
    * instantiable twice for the ensemble oracle. */
  private[graft] def lloydCtes(pfx: String, seedFrom: Int, k: Int = 8): String =
    s"""${pfx}c0 AS (SELECT vec_id - $seedFrom AS cid, dim, xq AS cq FROM q
      |       WHERE vec_id >= $seedFrom AND vec_id < ${seedFrom + k}),
      |${pfx}d0 AS (SELECT q.vec_id, ${pfx}c0.cid, sum((q.xq - ${pfx}c0.cq)*(q.xq - ${pfx}c0.cq)) AS d2
      |       FROM q JOIN ${pfx}c0 USING(dim) GROUP BY q.vec_id, ${pfx}c0.cid),
      |${pfx}a0 AS (SELECT vec_id, cid AS cluster FROM (
      |         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM ${pfx}d0
      |       ) WHERE rk = 1),
      |${pfx}m AS (SELECT ${pfx}a0.cluster, q.dim, CAST(round(avg(q.xq)) AS BIGINT) AS cq
      |      FROM q JOIN ${pfx}a0 USING(vec_id) GROUP BY ${pfx}a0.cluster, q.dim),
      |${pfx}d1 AS (SELECT q.vec_id, ${pfx}m.cluster AS cid, sum((q.xq - ${pfx}m.cq)*(q.xq - ${pfx}m.cq)) AS d2
      |       FROM q JOIN ${pfx}m USING(dim) GROUP BY q.vec_id, ${pfx}m.cluster),
      |${pfx}a1 AS (SELECT vec_id, cid AS cluster FROM (
      |         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk FROM ${pfx}d1
      |       ) WHERE rk = 1)""".stripMargin

  /** Default single-clustering chain (final assignment CTE: `a1`) —
    * shared by emb_clusters and the kg_cluster_* oracles in SparkEntry. */
  private[graft] val clusterCtes: String = s"$quantCte,\n${lloydCtes("", 0)}"

  /** Integer SSE of a `<pfx>a1` assignment (mirrors Clustering.sse:
    * centroids = round(avg) of the assignment's own members, then the
    * summed squared distance); `<pfx>sv` holds the single sse value. */
  private def sseCtes(pfx: String): String =
    s"""${pfx}sm AS (SELECT ${pfx}a1.cluster, q.dim, CAST(round(avg(q.xq)) AS BIGINT) AS cq
      |      FROM q JOIN ${pfx}a1 USING(vec_id) GROUP BY ${pfx}a1.cluster, q.dim),
      |${pfx}sv AS (SELECT CAST(sum((q.xq - ${pfx}sm.cq)*(q.xq - ${pfx}sm.cq)) AS BIGINT) AS sse
      |      FROM q JOIN ${pfx}a1 USING(vec_id)
      |      JOIN ${pfx}sm ON ${pfx}sm.cluster = ${pfx}a1.cluster AND ${pfx}sm.dim = q.dim)""".stripMargin

  /** Simplified-silhouette components of a `<pfx>a1` assignment against
    * its `<pfx>sm` centroids (mirrors Clustering.silhouette: per point
    * a = d2 to own centroid, b = min d2 to others; exact long sums).
    * `<pfx>sl` holds (num, den). */
  private def silCtes(pfx: String): String =
    s"""${pfx}sd AS (SELECT q.vec_id, ${pfx}sm.cluster AS cid, ${pfx}a1.cluster AS own,
      |      sum((q.xq - ${pfx}sm.cq)*(q.xq - ${pfx}sm.cq)) AS d2
      |      FROM q JOIN ${pfx}a1 USING(vec_id)
      |      JOIN ${pfx}sm ON ${pfx}sm.dim = q.dim
      |      GROUP BY q.vec_id, ${pfx}sm.cluster, ${pfx}a1.cluster),
      |${pfx}pv AS (SELECT vec_id, min(CASE WHEN cid = own THEN d2 END) AS a,
      |      min(CASE WHEN cid <> own THEN d2 END) AS b
      |      FROM ${pfx}sd GROUP BY vec_id),
      |${pfx}sl AS (SELECT
      |      CAST(coalesce(sum(CASE WHEN b IS NOT NULL THEN b - a ELSE 0 END), 0) AS BIGINT) AS num,
      |      CAST(coalesce(sum(CASE WHEN b IS NOT NULL THEN greatest(a, b) ELSE a END), 0) AS BIGINT) AS den
      |      FROM ${pfx}pv)""".stripMargin

  /** Shared TF-IDF CTE chain (mirrors TextOps.tfidfScores: tf per
    * (doc, term), df per term, idf = length(bin(n_docs // df)) — the
    * floor-log2 quantization, no float log). `sc` = scored terms. */
  private val tfidfCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tfq AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |sc AS (SELECT tfq.doc_id, tfq.term, CAST(tfq.tf AS BIGINT) AS tf,
      |              CAST(dfq.df AS BIGINT) AS df,
      |              CAST(length(bin(nd.n_docs // dfq.df)) AS BIGINT) AS idf
      |       FROM tfq JOIN dfq USING(term) CROSS JOIN nd)""".stripMargin

  /** Word n-gram shingle CTE (mirrors Kernels.WordNgrams for docs with >= n
    * words; shorter docs yield NULL shingles, filtered by `shf` — the
    * strict-sub-ngram drop). `src` lets a caller pre-project text (e.g.
    * the normalized-text decontamination). */
  private def shingleCte(n: Int, src: String = "documents"): String = {
    val leads = (1 until n).map(j => s"lead(s,$j) OVER win").mkString("||' '||", "||' '||", "")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
       |tok AS (SELECT doc_id, unnest(ws) AS s, generate_subscripts(ws, 1) AS i FROM w),
       |sh AS (SELECT doc_id, s $leads AS shingle
       |       FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
       |shf AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)""".stripMargin
  }

  /** DuckDB rendering of TextOps.normalizeForHash (shared: doc_norm_hash
    * + the normalized decontamination). */
  private val normSqlExpr: String =
    """regexp_replace(trim(regexp_replace(regexp_replace(lower(text), '#[^\n]*', '', 'g'), '\s+', ' ', 'g')), '^["'']+|["'']+$', '', 'g')"""

  private val minhashCols = (0 until 8)
    .map(s => s"min(md5('$s|'||shingle)) AS m$s").mkString(", ")

  private val simhashSums = (1 to 16)
    .map(p => s"sum(CASE WHEN substr(h,$p,1) >= '8' THEN 1 ELSE -1 END) AS b$p")
    .mkString(", ")
  private val simhashBits = (1 to 16)
    .map(p => s"(CASE WHEN b$p > 0 THEN '1' ELSE '0' END)").mkString("||")

  private val langRatio: String => String = dict =>
    s"CAST(round(CAST(len(list_filter(string_split(text,' '), x -> x IN ($dict))) AS DOUBLE) / len(string_split(text,' ')) * 1000000) AS BIGINT)"

  private def dictSql(l: String) =
    TextOps.langDicts.toMap.apply(l).map(w => s"'$w'").mkString(", ")

  /** Language-decision SQL fragments, built ONCE from langDicts: the
    * ratio projections, the greatest() argmax, and the tie-breaking CASE
    * (langs sorted asc => first max wins, mirroring TextOps.langId's
    * foldRight). Both the doc_lang_id oracle and langPredCte are
    * generated from these, so the decision logic cannot desynchronize. */
  private val langRatioSelects: String = TextOps.langDicts.map { case (l, _) =>
    s"${langRatio(dictSql(l))} AS r_$l"
  }.mkString(",\n       ")
  private val langGreatest: String =
    TextOps.langDicts.map(x => s"r_${x._1}").mkString("greatest(", ", ", ")")
  private val langCase: String = {
    val cases = TextOps.langDicts.map { case (l, _) =>
      s"WHEN r_$l = $langGreatest AND r_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** `lang` CTE: (doc_id, pred_lang) — the language-ID decision shared by
    * doc_lang_id (which also exposes the ratios), the stratified-sampling
    * oracle, and the mix-stats oracle. */
  private val langPredCte: String =
    s"""lang AS (
      |  SELECT doc_id, $langCase AS pred_lang
      |  FROM (SELECT doc_id,
      |        $langRatioSelects
      |  FROM documents)
      |)""".stripMargin

  /** Quality-score oracle (shared: doc_quality + the clean-corpus
    * gate). */
  private lazy val qualityOracle: String =
    s"""SELECT doc_id,
      |  CAST(nw AS BIGINT) AS n_words,
      |  CAST(round((CAST(length(text) AS DOUBLE) - (nw - 1)) / nw * 1000000) AS BIGINT) AS avg_word_len_ppm,
      |  CAST(round(stopn / nw * 1000000) AS BIGINT) AS stopword_ppm,
      |  CAST(round((least(nw / 100.0, 1.0) * 0.4 + (stopn / nw) * 0.3 +
      |       least(((CAST(length(text) AS DOUBLE) - (nw - 1)) / nw) / 10.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS quality_ppm
      |FROM (
      |  SELECT doc_id, text,
      |         CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
      |         CAST(len(list_filter(string_split(text,' '), x -> x IN (${dictSql("en")}))) AS DOUBLE) AS stopn
      |  FROM documents)""".stripMargin

  /** Repetition-gate oracle (shared: doc_repetition + the clean-corpus
    * gate). */
  private lazy val repetitionOracle: String =
    s"""WITH ${shingleCte(2)},
      |base AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n,
      |                CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS nd
      |         FROM documents),
      |cnt AS (SELECT doc_id, shingle, count(*) AS c FROM shf GROUP BY doc_id, shingle),
      |top AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM cnt GROUP BY doc_id)
      |SELECT base.doc_id, base.n AS n_words,
      |       CAST(round(CAST(base.n - base.nd AS DOUBLE) / CAST(base.n AS DOUBLE) * 1e6) AS BIGINT) AS dup_word_ppm,
      |       CAST(round(CAST(top.top_bg AS DOUBLE) / CAST(top.n_bg AS DOUBLE) * 1e6) AS BIGINT) AS top_bigram_ppm
      |FROM base JOIN top USING(doc_id)""".stripMargin

  /** Brute-force cosine top-k oracle (shared: emb_ann_topk + the
    * recall evaluation). */
  private val annTopkOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT q.query_id, e.vec_id, q.qe, e.embedding AS ve
        |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |z AS (SELECT query_id, vec_id, unnest(qe) AS xa, unnest(ve) AS xb FROM p),
        |d AS (SELECT query_id, vec_id,
        |             sum(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
        |             sum(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE)) AS na,
        |             sum(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE)) AS nb
        |      FROM z GROUP BY query_id, vec_id),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |             CAST(round(dot / (sqrt(na) * sqrt(nb)) * 1000000) AS BIGINT) AS cos_ppm
        |      FROM d)
        |SELECT query_id, neighbor_id, cos_ppm, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM s
        |) WHERE rank <= 10""".stripMargin

  /** IVF multi-probe top-k oracle (shared: emb_ivf_topk + recall). */
  private val ivfTopkOracle: String =
    """WITH v AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |),
        |nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM v GROUP BY vec_id),
        |cent AS (SELECT vec_id AS cell, d, x FROM v WHERE vec_id < 16),
        |simc AS (
        |  SELECT v.vec_id, c.cell,
        |         CAST(round(sum(v.x*c.x) / (nv.nv * nc.nv) * 1000000) AS BIGINT) AS sim_ppm
        |  FROM v JOIN cent c USING(d)
        |  JOIN nrm nv ON nv.vec_id = v.vec_id
        |  JOIN nrm nc ON nc.vec_id = c.cell
        |  GROUP BY v.vec_id, c.cell, nv.nv, nc.nv
        |),
        |rks AS (SELECT vec_id, cell,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY sim_ppm DESC, cell) AS rk
        |        FROM simc),
        |assign AS (SELECT vec_id, cell FROM rks WHERE rk = 1),
        |occ AS (SELECT DISTINCT cell FROM assign),
        |prk AS (SELECT vec_id, cell,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY sim_ppm DESC, cell) AS rk
        |        FROM simc WHERE cell IN (SELECT cell FROM occ)),
        |probes AS (SELECT vec_id AS query_id, cell FROM prk WHERE rk <= 2 AND vec_id < 20),
        |cand AS (SELECT p.query_id, a.vec_id
        |         FROM probes p JOIN assign a ON a.cell = p.cell
        |         WHERE a.vec_id <> p.query_id),
        |simq AS (
        |  SELECT c.query_id, c.vec_id,
        |         CAST(round(sum(qv.x*vv.x) / (nq.nv * nn.nv) * 1000000) AS BIGINT) AS cos_ppm
        |  FROM cand c
        |  JOIN v qv ON qv.vec_id = c.query_id
        |  JOIN v vv ON vv.vec_id = c.vec_id AND vv.d = qv.d
        |  JOIN nrm nq ON nq.vec_id = c.query_id
        |  JOIN nrm nn ON nn.vec_id = c.vec_id
        |  GROUP BY c.query_id, c.vec_id, nq.nv, nn.nv
        |)
        |SELECT query_id, vec_id AS neighbor_id, cos_ppm, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, vec_id) AS BIGINT) AS rank
        |  FROM simq
        |) WHERE rank <= 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "doc_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "doc_minhash_lsh" ->
      s"""WITH ${shingleCte(3)},
        |m AS (SELECT doc_id, $minhashCols FROM shf GROUP BY doc_id)
        |SELECT doc_id, CAST(0 AS BIGINT) AS band, md5(m0||m1) AS bucket FROM m
        |UNION ALL SELECT doc_id, CAST(1 AS BIGINT), md5(m2||m3) FROM m
        |UNION ALL SELECT doc_id, CAST(2 AS BIGINT), md5(m4||m5) FROM m
        |UNION ALL SELECT doc_id, CAST(3 AS BIGINT), md5(m6||m7) FROM m""".stripMargin,

    "doc_simhash" ->
      s"""WITH tok AS (
        |  SELECT doc_id, md5(unnest(string_split(text,' '))) AS h FROM documents
        |),
        |b AS (SELECT doc_id, $simhashSums FROM tok GROUP BY doc_id)
        |SELECT doc_id, $simhashBits AS simhash FROM b""".stripMargin,

    "doc_jaccard_top" ->
      """WITH tok AS (
        |  SELECT source AS blk, doc_id AS id,
        |         unnest(list_distinct(string_split(text,' '))) AS word
        |  FROM documents
        |),
        |sz AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
        |rare AS (SELECT blk, word FROM (
        |  SELECT blk, word, count(*) AS df FROM tok GROUP BY blk, word
        |) WHERE df <= 100),
        |kept AS (SELECT tok.* FROM tok JOIN rare ON tok.blk = rare.blk AND tok.word = rare.word),
        |common AS (
        |  SELECT t1.blk AS blk, t1.id AS a, t2.id AS b, count(*) AS inter
        |  FROM kept t1 JOIN kept t2 ON t1.blk = t2.blk AND t1.word = t2.word AND t1.id < t2.id
        |  GROUP BY t1.blk, t1.id, t2.id
        |),
        |scored AS (
        |  SELECT blk, a, b,
        |         CAST(round(CAST(inter AS DOUBLE) / CAST(sza.sz + szb.sz - inter AS DOUBLE) * 1000000) AS BIGINT) AS jaccard_ppm
        |  FROM common
        |  JOIN sz sza ON common.a = sza.id
        |  JOIN sz szb ON common.b = szb.id
        |)
        |SELECT blk, a, b, jaccard_ppm, rk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY blk ORDER BY jaccard_ppm DESC, a, b) AS BIGINT) AS rk
        |  FROM scored
        |) WHERE rk <= 5""".stripMargin,

    "doc_lang_id" ->
      s"""SELECT doc_id, r_de, r_en, r_es, r_fr, r_zh,
        |       $langCase AS pred_lang
        |FROM (SELECT doc_id,
        |       $langRatioSelects
        |FROM documents)""".stripMargin,

    "doc_quality" -> qualityOracle,

    // repetition gates: bigram multiplicity via the window-lead shingle
    // CTE (no distinct — the mode needs counts)
    "doc_repetition" -> repetitionOracle,

    "doc_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,

    "doc_fingerprint" -> {
      val fps = (0 until 4).map(s => s"min(md5('$s|'||shingle)) AS fp$s").mkString(", ")
      s"""WITH ${shingleCte(5)}
        |SELECT doc_id, $fps FROM shf GROUP BY doc_id""".stripMargin
    },

    "doc_media_meta" ->
      """SELECT doc_id, n AS n_bytes,
        |       64 + n % 576 AS width,
        |       36 + (n * 7) % 324 AS height,
        |       1 + n % 24 AS frames,
        |       'fake/rgb8' AS format
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents)""".stripMargin,

    "emb_ann_topk" -> annTopkOracle,

    "doc_norm_hash" ->
      s"""WITH n AS (
        |  SELECT doc_id, $normSqlExpr AS norm
        |  FROM documents
        |)
        |SELECT doc_id, sha256(norm) AS norm_hash,
        |       CAST(length(norm) AS BIGINT) AS norm_len
        |FROM n""".stripMargin,

    // one Lloyd iteration of k-means over micro-unit-quantized embeddings:
    // integer distances -> assignments are exact across engines
    "emb_clusters" ->
      s"""WITH $clusterCtes
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS BIGINT) AS cluster FROM a1""".stripMargin,

    // two independently-seeded Lloyd members joined per vector (SURVEY J9)
    "emb_cluster_ensemble" ->
      s"""WITH $quantCte,
        |${lloydCtes("ea_", 0)},
        |${lloydCtes("eb_", 8)}
        |SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
        |       CAST(a.cluster AS BIGINT) AS cluster_a,
        |       CAST(b.cluster AS BIGINT) AS cluster_b,
        |       CAST(a.cluster * 8 + b.cluster AS BIGINT) AS consensus_key
        |FROM ea_a1 a JOIN eb_a1 b ON a.vec_id = b.vec_id""".stripMargin,

    // k-selection sweep: one Lloyd chain + SSE + silhouette per k;
    // chosen = silhouette argmax (the reference rule; num/den compared
    // as deterministically-rounded doubles, ties -> smaller k)
    "emb_k_sweep" ->
      s"""WITH $quantCte,
        |${lloydCtes("k2_", 0, 2)},
        |${sseCtes("k2_")},
        |${silCtes("k2_")},
        |${lloydCtes("k4_", 0, 4)},
        |${sseCtes("k4_")},
        |${silCtes("k4_")},
        |${lloydCtes("k8_", 0, 8)},
        |${sseCtes("k8_")},
        |${silCtes("k8_")},
        |${lloydCtes("k16_", 0, 16)},
        |${sseCtes("k16_")},
        |${silCtes("k16_")},
        |sw AS (SELECT CAST(2 AS BIGINT) AS k, (SELECT sse FROM k2_sv) AS sse,
        |              (SELECT num FROM k2_sl) AS sil_num, (SELECT den FROM k2_sl) AS sil_den
        |       UNION ALL SELECT 4, (SELECT sse FROM k4_sv), (SELECT num FROM k4_sl), (SELECT den FROM k4_sl)
        |       UNION ALL SELECT 8, (SELECT sse FROM k8_sv), (SELECT num FROM k8_sl), (SELECT den FROM k8_sl)
        |       UNION ALL SELECT 16, (SELECT sse FROM k16_sv), (SELECT num FROM k16_sl), (SELECT den FROM k16_sl)),
        |rkd AS (SELECT *, row_number() OVER (ORDER BY
        |          CASE WHEN sil_den = 0 THEN 0.0
        |               ELSE CAST(sil_num AS DOUBLE) / CAST(sil_den AS DOUBLE) END DESC,
        |          k ASC) AS r
        |        FROM sw)
        |SELECT k, CAST(sse AS BIGINT) AS sse,
        |       CAST(sil_num AS BIGINT) AS sil_num, CAST(sil_den AS BIGINT) AS sil_den,
        |       CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM rkd""".stripMargin,

    // engine-exact TF-IDF: top-3 terms per doc by (tf * floor-log2-idf)
    "doc_tfidf_terms" ->
      s"""WITH $tfidfCtes
        |SELECT doc_id, term, tf, df, idf, tf * idf AS score, rk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf * idf DESC, term) AS BIGINT) AS rk
        |  FROM sc
        |) WHERE rk <= 3""".stripMargin,

    // text -> hashed TF-IDF vector (16 dims, per-dim score share) ->
    // one integer-exact Lloyd step
    "doc_text_clusters" ->
      s"""WITH $tfidfCtes,
        |hd AS (SELECT doc_id,
        |              CAST((strpos('0123456789abcdef', substr(md5(term),1,1)) - 1) % 16 AS INT) AS dim0,
        |              sum(tf * idf) AS s
        |       FROM sc GROUP BY doc_id, dim0),
        |tot AS (SELECT doc_id, sum(s) AS t FROM hd GROUP BY doc_id),
        |dims AS (SELECT CAST(range AS INT) AS dim0 FROM range(0, 16)),
        |q AS (SELECT d.doc_id AS vec_id, dims.dim0 + 1 AS dim,
        |             CAST(round(CAST(coalesce(hd.s, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |      FROM (SELECT DISTINCT doc_id FROM documents) d
        |      CROSS JOIN dims
        |      LEFT JOIN hd ON hd.doc_id = d.doc_id AND hd.dim0 = dims.dim0
        |      JOIN tot ON tot.doc_id = d.doc_id),
        |${lloydCtes("tc_", 0, 8)}
        |SELECT CAST(vec_id AS BIGINT) AS doc_id, CAST(cluster AS BIGINT) AS cluster
        |FROM tc_a1""".stripMargin,

    // greedy argmax alignment of the two ensemble label spaces over the
    // (cluster_a, cluster_b) contingency table: repeatedly take the
    // largest remaining cell (ties: a asc, b asc) with unused row+column
    "emb_cluster_align" ->
      s"""WITH RECURSIVE $quantCte,
        |${lloydCtes("ea_", 0)},
        |${lloydCtes("eb_", 8)},
        |ct AS (SELECT a.cluster AS ca, b.cluster AS cb, count(*) AS n
        |       FROM ea_a1 a JOIN eb_a1 b ON a.vec_id = b.vec_id
        |       GROUP BY a.cluster, b.cluster),
        |pick(step, ca, cb, n, used_a, used_b) AS (
        |  SELECT 1, ca, cb, n, [ca], [cb]
        |  FROM (SELECT * FROM ct ORDER BY n DESC, ca, cb LIMIT 1)
        |  UNION ALL
        |  SELECT p.step + 1, c.ca, c.cb, c.n,
        |         list_append(p.used_a, c.ca), list_append(p.used_b, c.cb)
        |  FROM pick p JOIN LATERAL (
        |    SELECT ca, cb, n FROM ct
        |    WHERE NOT list_contains(p.used_a, ct.ca)
        |      AND NOT list_contains(p.used_b, ct.cb)
        |    ORDER BY n DESC, ca, cb LIMIT 1) c ON true
        |)
        |SELECT CAST(cb AS BIGINT) AS cluster_b, CAST(ca AS BIGINT) AS aligned_a,
        |       CAST(n AS BIGINT) AS n_overlap
        |FROM pick""".stripMargin,

    // IVF multi-probe ANN (nCells=16, nProbes=2, queries = vec_id < 20):
    // assignment + probe ranking use ppm-quantized cosine so a last-ulp
    // float difference can never flip a cell across engines
    "emb_ivf_topk" -> ivfTopkOracle,

    // per-query IVF recall vs the brute-force ground truth (both chains
    // reused verbatim as subqueries — DuckDB allows WITH inside FROM)
    "emb_ivf_recall" ->
      s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($annTopkOracle)),
        |ivf AS (SELECT query_id, neighbor_id, 1 AS hit FROM ($ivfTopkOracle))
        |SELECT bf.query_id,
        |       CAST(count(*) AS BIGINT) AS n_true,
        |       CAST(sum(coalesce(ivf.hit, 0)) AS BIGINT) AS n_matched,
        |       CAST(round(CAST(sum(coalesce(ivf.hit, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS recall_ppm
        |FROM bf LEFT JOIN ivf USING(query_id, neighbor_id)
        |GROUP BY bf.query_id""".stripMargin,

    // near-dup clusters: LSH candidates (with candidatePairs' oversized-
    // bucket star-collapse mirrored: full pairs at n <= 1000, rep-star
    // above) -> integer-exact Jaccard >= 1/2 (3*inter >= |A|+|B|) ->
    // min-label reachability (same recursive pattern as the
    // kg_components oracle); singletons keep their own id
    "doc_dup_clusters" -> dupClustersOracle,

    // 8-gram decontamination: distinct-hit counts of training docs
    // against the benchmark slice's shingle set
    "doc_decontam" -> decontamOracle,
  ) ++ oracleSqlTail

  /** Near-dup cluster oracle (shared: doc_dup_clusters + the dedup-aware
    * sampler + the clean-corpus gate). NOTE: mirrors the FULL-GRAPH
    * chain (pairs among all docs); the engine's exact-dup pre-collapse
    * provably yields identical clusters (see Dedup.digestGroups)
    * — at oracle scale no star-collapse cap engages, so the outputs are
    * bit-identical. */
  private lazy val dupClustersOracle: String =
      s"""WITH RECURSIVE ${shingleCte(3)},
        |m AS (SELECT doc_id, $minhashCols FROM shf GROUP BY doc_id),
        |bkt AS (SELECT doc_id, 0 AS band, md5(m0||m1) AS bucket FROM m
        |        UNION ALL SELECT doc_id, 1, md5(m2||m3) FROM m
        |        UNION ALL SELECT doc_id, 2, md5(m4||m5) FROM m
        |        UNION ALL SELECT doc_id, 3, md5(m6||m7) FROM m),
        |bsz AS (SELECT band, bucket, count(*) AS n, min(doc_id) AS rep
        |        FROM bkt GROUP BY band, bucket),
        |bktz AS (SELECT bkt.doc_id, bkt.band, bkt.bucket, bsz.n, bsz.rep
        |         FROM bkt JOIN bsz ON bkt.band = bsz.band AND bkt.bucket = bsz.bucket),
        |cand AS (SELECT DISTINCT a, b FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM bktz x JOIN bktz y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        |  WHERE x.n <= 1000
        |  UNION ALL
        |  SELECT rep AS a, doc_id AS b FROM bktz WHERE n > 1000 AND doc_id <> rep
        |)),
        |dsh AS (SELECT DISTINCT doc_id, shingle FROM shf),
        |sz AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY doc_id),
        |ins AS (SELECT c.a, c.b, count(*) AS i
        |        FROM cand c
        |        JOIN dsh p ON p.doc_id = c.a
        |        JOIN dsh q ON q.doc_id = c.b AND q.shingle = p.shingle
        |        GROUP BY c.a, c.b),
        |pairs AS (SELECT ins.a, ins.b FROM ins
        |          JOIN sz za ON za.doc_id = ins.a
        |          JOIN sz zb ON zb.doc_id = ins.b
        |          WHERE 3*ins.i >= za.sz + zb.sz),
        |und AS (SELECT DISTINCT s, d FROM (
        |  SELECT a AS s, b AS d FROM pairs UNION ALL SELECT b, a FROM pairs
        |)),
        |verts AS (SELECT DISTINCT s AS id FROM und),
        |reach AS (
        |  SELECT id, id AS comp FROM verts
        |  UNION
        |  SELECT u.d AS id, r.comp FROM reach r JOIN und u ON u.s = r.id WHERE r.comp < u.d
        |),
        |comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS dup_group,
        |       CAST(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin

  /** 8-gram decontamination oracle (shared: doc_decontam + the
    * clean-corpus gate). */
  private lazy val decontamOracle: String =
      s"""WITH ${shingleCte(8)},
        |tsh AS (SELECT DISTINCT doc_id, md5(shingle) AS sh FROM shf),
        |esh AS (SELECT DISTINCT sh FROM tsh WHERE doc_id % 100 = 0)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |       CAST(count(DISTINCT t.sh) AS BIGINT) AS n_hits
        |FROM tsh t JOIN esh USING(sh)
        |GROUP BY t.doc_id""".stripMargin

  /** Second half of [[oracleSql]] (split around the shared-oracle vals
    * so each query's SQL stays next to its family). */
  private def oracleSqlTail: Map[String, String] = Map(
    // normalized decontamination: the same 8-gram strict chain over
    // normalizeForHash-projected text (shingle CTE reads the `ndoc`
    // projection instead of raw documents)
    "doc_decontam_norm" ->
      s"""WITH ndoc AS (SELECT doc_id, $normSqlExpr AS text FROM documents),
        |${shingleCte(8, "ndoc")},
        |tsh AS (SELECT DISTINCT doc_id, md5(shingle) AS sh FROM shf),
        |esh AS (SELECT DISTINCT sh FROM tsh WHERE doc_id % 100 = 0)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |       CAST(count(DISTINCT t.sh) AS BIGINT) AS n_hits
        |FROM tsh t JOIN esh USING(sh)
        |GROUP BY t.doc_id""".stripMargin,

    "doc_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, 1 + n % 24 AS frames
        |  FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents)
        |),
        |s AS (SELECT doc_id, frames,
        |             CAST(ceil(CAST(frames AS DOUBLE) / 4) AS BIGINT) AS stride
        |      FROM m)
        |SELECT doc_id, frames, stride,
        |       CAST(unnest(range(0, frames, stride)) AS BIGINT) AS frame_idx
        |FROM s""".stripMargin,

    // per-byte nibble histogram: ascii(char) == utf-8 byte for this
    // ASCII corpus, so char-position explode reproduces the byte loop
    "doc_media_features" -> {
      val sums = (0 until 16).map(i =>
        s"CAST(sum(CASE WHEN bk = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i")
        .mkString(",\n       ")
      s"""WITH pos AS (SELECT doc_id, unnest(range(1, length(text)+1)) AS i, text
        |             FROM documents),
        |b AS (SELECT doc_id, ascii(substr(text, CAST(i AS INTEGER), 1)) // 16 AS bk
        |      FROM pos)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       $sums
        |FROM b GROUP BY doc_id""".stripMargin
    },

    // integer aspect-fit resize plan over the stub metadata
    "doc_resize_plan" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + n % 576 AS width, 36 + (n * 7) % 324 AS height
        |  FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents)
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
        |       CAST(CASE WHEN width >= height THEN 224
        |                 ELSE greatest(width * 224 // height, 1) END AS BIGINT) AS out_w,
        |       CAST(CASE WHEN width >= height THEN greatest(height * 224 // width, 1)
        |                 ELSE 224 END AS BIGINT) AS out_h
        |FROM m WHERE width > 0 AND height > 0""".stripMargin,

    "doc_sample_strata" ->
      s"""WITH $langPredCte
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, pred_lang, sample_key
        |FROM (SELECT doc_id, pred_lang,
        |             substr(md5('smp|'||CAST(doc_id AS VARCHAR)),1,2) AS sample_key
        |      FROM lang)
        |WHERE sample_key < CASE pred_lang WHEN 'en' THEN '40' WHEN 'und' THEN '80' ELSE 'zz' END""".stripMargin,

    // incremental probe: corpus-rep band buckets ⋈ incoming buckets ->
    // distinct candidates -> integer-ppm Jaccard at >= 500000
    "doc_dup_incremental" ->
      s"""WITH ${shingleCte(3)},
        |dsh AS (SELECT DISTINCT doc_id, shingle FROM shf),
        |reps AS (SELECT min(doc_id) AS doc_id FROM documents
        |         WHERE doc_id % 10 <> 7 GROUP BY md5(text)),
        |m AS (SELECT doc_id, $minhashCols FROM shf GROUP BY doc_id),
        |bkt AS (SELECT doc_id, 0 AS band, md5(m0||m1) AS bucket FROM m
        |        UNION ALL SELECT doc_id, 1, md5(m2||m3) FROM m
        |        UNION ALL SELECT doc_id, 2, md5(m4||m5) FROM m
        |        UNION ALL SELECT doc_id, 3, md5(m6||m7) FROM m),
        |ibkt AS (SELECT b.doc_id AS corpus_id, band, bucket
        |         FROM bkt b JOIN reps ON b.doc_id = reps.doc_id),
        |nbkt AS (SELECT doc_id AS new_id, band, bucket FROM bkt
        |         WHERE doc_id % 10 = 7),
        |cand AS (SELECT DISTINCT new_id, corpus_id FROM nbkt JOIN ibkt USING(band, bucket)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY doc_id),
        |ins AS (SELECT c.new_id, c.corpus_id, count(*) AS i
        |        FROM cand c
        |        JOIN dsh p ON p.doc_id = c.new_id
        |        JOIN dsh q ON q.doc_id = c.corpus_id AND q.shingle = p.shingle
        |        GROUP BY c.new_id, c.corpus_id),
        |scored AS (SELECT ins.new_id, ins.corpus_id,
        |        CAST(round(CAST(i AS DOUBLE) / CAST(za.sz + zb.sz - i AS DOUBLE) * 1e6) AS BIGINT) AS jaccard_ppm
        |        FROM ins
        |        JOIN sz za ON za.doc_id = ins.new_id
        |        JOIN sz zb ON zb.doc_id = ins.corpus_id)
        |SELECT CAST(new_id AS BIGINT) AS new_id,
        |       CAST(corpus_id AS BIGINT) AS corpus_id, jaccard_ppm
        |FROM scored WHERE jaccard_ppm >= 500000""".stripMargin,

    // n-gram novelty: distinct 3-gram df >= 2 marks a shared shingle
    "doc_ngram_novelty" ->
      s"""WITH ${shingleCte(3)},
        |dsh AS (SELECT DISTINCT doc_id, md5(shingle) AS sh FROM shf),
        |dfq AS (SELECT sh, count(*) AS df FROM dsh GROUP BY sh)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST(round(CAST(count(*) - sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e6) AS BIGINT) AS novelty_ppm
        |FROM dsh d JOIN dfq USING(sh)
        |GROUP BY d.doc_id""".stripMargin,

    // per-source stats: exact floor-division mean quality + left-join
    // contamination rate over the shared family oracles
    "doc_source_stats" ->
      s"""WITH qu AS (SELECT doc_id, quality_ppm FROM ($qualityOracle)),
        |dec AS (SELECT doc_id FROM ($decontamOracle)),
        |b AS (SELECT doc_id, source, CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens
        |      FROM documents)
        |SELECT b.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(b.ws_tokens) AS BIGINT) AS tokens,
        |       CAST(sum(qu.quality_ppm) // count(*) AS BIGINT) AS mean_quality_ppm,
        |       CAST(round(CAST(sum(CASE WHEN dec.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e6) AS BIGINT) AS contam_ppm
        |FROM b
        |JOIN qu USING(doc_id)
        |LEFT JOIN dec ON dec.doc_id = b.doc_id
        |GROUP BY b.source""".stripMargin,

    // power-of-2 token-length histogram (bit_length via bin())
    "doc_length_hist" ->
      """SELECT CAST(length(bin(t)) AS BIGINT) AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(t) AS BIGINT) AS tokens
        |FROM (SELECT CAST(len(string_split(text,' ')) AS BIGINT) AS t FROM documents)
        |GROUP BY len_bucket""".stripMargin,

    // dedup -> stratified sample: the dup-cluster chain's keepers only
    // (the committed-pair consumer), then the identical hash-threshold
    // draw as doc_sample_strata
    "doc_sample_dedup" ->
      s"""WITH $langPredCte,
        |dc AS (SELECT * FROM ($dupClustersOracle))
        |SELECT CAST(s.doc_id AS BIGINT) AS doc_id, s.pred_lang, s.sample_key
        |FROM (SELECT doc_id, pred_lang,
        |             substr(md5('smp|'||CAST(doc_id AS VARCHAR)),1,2) AS sample_key
        |      FROM lang) s
        |JOIN dc ON dc.doc_id = s.doc_id AND dc.keep = 1
        |WHERE s.sample_key < CASE s.pred_lang WHEN 'en' THEN '40' WHEN 'und' THEN '80' ELSE 'zz' END""".stripMargin,

    // the composed curation gate: every bit re-derived from the shared
    // family oracles (dup clusters / decontamination / repetition /
    // quality) embedded as subqueries
    "doc_clean_corpus" ->
      s"""WITH dc AS (SELECT * FROM ($dupClustersOracle)),
        |exk AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |dec AS (SELECT doc_id FROM ($decontamOracle)),
        |rp AS (SELECT doc_id,
        |              CASE WHEN dup_word_ppm < 500000 AND top_bigram_ppm < 500000 THEN 1 ELSE 0 END AS rep_ok
        |       FROM ($repetitionOracle)),
        |qu AS (SELECT doc_id,
        |              CASE WHEN quality_ppm >= 300000 THEN 1 ELSE 0 END AS q_ok
        |       FROM ($qualityOracle))
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |       CAST(CASE WHEN exk.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_keep,
        |       CAST(dc.keep AS BIGINT) AS neardup_keep,
        |       CAST(CASE WHEN dec.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS contaminated,
        |       CAST(coalesce(rp.rep_ok, 1) AS BIGINT) AS repetition_ok,
        |       CAST(coalesce(qu.q_ok, 0) AS BIGINT) AS quality_ok,
        |       CAST(CASE WHEN dc.keep = 1 AND dec.doc_id IS NULL
        |                  AND coalesce(rp.rep_ok, 1) = 1
        |                  AND coalesce(qu.q_ok, 0) = 1
        |            THEN 1 ELSE 0 END AS BIGINT) AS clean
        |FROM documents d
        |LEFT JOIN dc ON dc.doc_id = d.doc_id
        |LEFT JOIN exk ON exk.doc_id = d.doc_id
        |LEFT JOIN dec ON dec.doc_id = d.doc_id
        |LEFT JOIN rp ON rp.doc_id = d.doc_id
        |LEFT JOIN qu ON qu.doc_id = d.doc_id""".stripMargin,

    "doc_mix_stats" ->
      s"""WITH $langPredCte,
        |t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens
        |      FROM documents),
        |per AS (SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(ws_tokens) AS BIGINT) AS tokens
        |        FROM lang JOIN t USING(doc_id) GROUP BY pred_lang)
        |SELECT pred_lang, n_docs, tokens,
        |       CAST(round(CAST(tokens AS DOUBLE) / CAST((SELECT sum(tokens) FROM per) AS DOUBLE) * 1000000) AS BIGINT) AS token_share_ppm
        |FROM per""".stripMargin,

    "emb_lsh_buckets" ->
      s"""WITH $lshBucketCtes
        |SELECT vec_id, bucket FROM bk""".stripMargin,

    // embedding-cosine near-dup pairs: LSH-bucket blocking (with the
    // oversized-bucket star-collapse mirrored: full pairs at n <= 1000,
    // min-id-rep star above) + exact cosine verification (the 5th dedup
    // family)
    "emb_cosine_dups" ->
      s"""WITH $lshBucketCtes,
        |$cosineVerifySql""".stripMargin,

    // the auto-plane wired form: np = greatest(8, bit_length(ceilDiv
    // (count, 32) - 1)) — the exact integer mirror of
    // Similarity.planesFor — filters a 64-plane master table, so the
    // bucket string grows with the corpus and expected occupancy stays
    // ~32 (emb_cosine_dups pins 8 planes; this is the scale path)
    "emb_cosine_dups_auto" ->
      s"""WITH $lshBucketCtesAuto,
        |$cosineVerifySql""".stripMargin,
  )

  /** Shared cosine near-dup verification chain over a `bk`(vec_id,
    * bucket) blocking CTE: star-collapse-capped candidates -> exact
    * ppm-quantized cosine at >= 300000. */
  private val cosineVerifySql: String =
    """bsz AS (SELECT bucket, count(*) AS n, min(vec_id) AS rep
      |        FROM bk GROUP BY bucket),
      |bkz AS (SELECT bk.vec_id, bk.bucket, bsz.n, bsz.rep
      |        FROM bk JOIN bsz USING(bucket)),
      |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
      |         FROM bkz x JOIN bkz y
      |           ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      |         WHERE x.n <= 1000
      |         UNION ALL
      |         SELECT rep AS a, vec_id AS b FROM bkz
      |         WHERE n > 1000 AND vec_id <> rep),
      |vv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |              CAST(unnest(embedding) AS DOUBLE) AS x
      |       FROM embeddings),
      |nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM vv GROUP BY vec_id),
      |scored AS (
      |  SELECT c.a, c.b,
      |         CAST(round(sum(va.x*vb.x) / (na.nv * nb.nv) * 1000000) AS BIGINT) AS cos_ppm
      |  FROM cand c
      |  JOIN vv va ON va.vec_id = c.a
      |  JOIN vv vb ON vb.vec_id = c.b AND vb.d = va.d
      |  JOIN nrm na ON na.vec_id = c.a
      |  JOIN nrm nb ON nb.vec_id = c.b
      |  GROUP BY c.a, c.b, na.nv, nb.nv
      |)
      |SELECT a, b, cos_ppm FROM scored WHERE cos_ppm >= 300000""".stripMargin

  /** Sign-random-projection bucket CTE (`bk`: vec_id, bucket) — the
    * DuckDB mirror of Similarity.lshBuckets, shared by emb_lsh_buckets
    * and the cosine near-dup blocking. */
  private[graft] val lshBucketCtes: String =
    """pl AS (
      |  SELECT t1.range AS p, t2.range AS d,
      |         CASE WHEN substr(md5(t1.range||'|'||t2.range),1,1) >= '8' THEN 1.0 ELSE -1.0 END AS w
      |  FROM range(0,8) t1, range(0,64) t2
      |),
      |v AS (SELECT vec_id, unnest(embedding) AS x,
      |             generate_subscripts(embedding, 1) - 1 AS d
      |      FROM embeddings),
      |proj AS (SELECT vec_id, p, sum(w * CAST(x AS DOUBLE)) AS s
      |         FROM v JOIN pl USING(d) GROUP BY vec_id, p),
      |bk AS (SELECT vec_id,
      |              string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |       FROM proj GROUP BY vec_id)""".stripMargin

  /** Auto-plane variant of [[lshBucketCtes]]: the plane count is derived
    * from count(*) exactly as Similarity.planesFor derives it —
    * np = greatest(8, length(bin((n + 31) // 32 - 1))), the integer
    * bit-length form of ceil(log2(n / 32)) (bin(0) = '0' has length 1,
    * washed out by the greatest-8 floor) — and filters a 64-plane master
    * table (2^64 buckets bounds any corpus). Same md5 top-bit weights,
    * same bucket-string construction, just a corpus-dependent length. */
  private[graft] val lshBucketCtesAuto: String =
    """np AS (SELECT greatest(8, length(bin((count(*) + 31) // 32 - 1))) AS np
      |       FROM embeddings),
      |pl AS (
      |  SELECT t1.range AS p, t2.range AS d,
      |         CASE WHEN substr(md5(t1.range||'|'||t2.range),1,1) >= '8' THEN 1.0 ELSE -1.0 END AS w
      |  FROM range(0,64) t1, range(0,64) t2, np
      |  WHERE t1.range < np.np
      |),
      |v AS (SELECT vec_id, unnest(embedding) AS x,
      |             generate_subscripts(embedding, 1) - 1 AS d
      |      FROM embeddings),
      |proj AS (SELECT vec_id, p, sum(w * CAST(x AS DOUBLE)) AS s
      |         FROM v JOIN pl USING(d) GROUP BY vec_id, p),
      |bk AS (SELECT vec_id,
      |              string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |       FROM proj GROUP BY vec_id)""".stripMargin
}
