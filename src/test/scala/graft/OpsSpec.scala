package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, Multimodal, Similarity, TextOps}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend", "s1"), // near-dup of 1
    (3L, "completely different words about spark shuffle partitions and joins ok", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank", "s2"), // exact dup of 1
    (5L, "unrelated text with tokens alpha beta gamma delta epsilon zeta eta", "s2"))
    .toDF("doc_id", "text", "source")

  test("exact dedup groups identical texts and keeps min id") {
    val d = Dedup.exact(corpus).collect()
    assert(d.length === 4) // 1&4 collapse
    val dup = d.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH buckets collide for near-dups, not for unrelated docs") {
    val pairs = Dedup.candidatePairs(Dedup.minhashBuckets(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "near-dup should share at least one band bucket")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      "unrelated doc must not collide")
  }

  test("degenerate LSH bucket is star-collapsed: candidate output stays linear") {
    // pathological corpus: 60 identical docs -> every (band, bucket) holds
    // all 60; uncapped pairing would emit 60*59/2 = 1770 rows
    val clones = (1L to 60L).map(i => (i, "same text everywhere forever and ever again", "s"))
      .toDF("doc_id", "text", "source")
    val buckets = Dedup.minhashBuckets(clones)
    val capped = Dedup.candidatePairs(buckets, maxBucket = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // star collapse: every member pairs with the min-id representative only
    assert(capped.length === 59, s"expected 59 star pairs, got ${capped.length}")
    assert(capped.forall(_._1 == 1L), "representative must be the bucket min id")
    assert(capped.map(_._2).toSet === (2L to 60L).toSet,
      "every clone must stay reachable from the representative")
    // under the cap the full pair set is unchanged
    val uncapped = Dedup.candidatePairs(buckets).collect()
    assert(uncapped.length === 1770)
  }

  test("decontamination flags docs sharing 8-grams with the eval set, counts distinct hits") {
    // eval = doc 1; doc 4 is its exact dup (all 6 shingles hit), doc 2
    // differs in the last word only (the 5 shingles not covering it hit),
    // docs 3/5 share nothing
    val evalSet = corpus.filter(col("doc_id") === 1)
    val hits = Dedup.decontaminate(corpus, evalSet).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(1L) === 6L && hits(4L) === 6L)
    assert(hits(2L) === 5L)
    assert(!hits.contains(3L) && !hits.contains(5L))
  }

  test("decontamination is strict: sub-ngram docs have no n-grams on either side") {
    // doc 6 (3 words) equals eval doc 7 (3 words) verbatim — neither has
    // an 8-gram, so no phantom whole-text hit is manufactured
    val train = corpus.unionByName(Seq((6L, "too short doc", "s3")).toDF("doc_id", "text", "source"))
    val evalSet = Seq((7L, "too short doc")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(train, evalSet).collect().isEmpty)
  }

  test("jaccard verification separates near-dups from candidates") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val shingles = corpus
      .select(col("doc_id"), col("text").as("_t"), split(col("text"), " ").as("_w"))
      .select(col("doc_id"),
        array_distinct(Dedup.shinglesOfWords(col("_w"), col("_t"), 3)).as("sh"))
    val v = Dedup.jaccardAtLeast(pairs, shingles, "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v === Set((1L, 2L)))
  }

  test("near-dup clusters: CC over verified pairs; singletons keep their own id") {
    val c = Dedup.dupClusters(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 1-4 exact dup, 1-2 near dup (jaccard 9/13) -> one group rooted at 1;
    // 3 and 5 have no verified pair -> singleton groups, keep = 1
    assert(c === Set((1L, 1L, 1L), (2L, 1L, 0L), (4L, 1L, 0L),
      (3L, 3L, 1L), (5L, 5L, 1L)))
  }

  test("dupClusters invariants on a generated corpus: partition, min-rooted groups, one keep each") {
    val docs = (1L to 120L).map { i =>
      val text = if (i % 7 == 0) "seven dup text block repeated across the corpus forever"
        else s"unique text number $i with words ${i * 31 % 97} ${i * 17 % 89} filler tail"
      (i, text)
    }.toDF("doc_id", "text")
    val c = Dedup.dupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // partition: every doc exactly once
    assert(c.map(_._1).sorted.toSeq === (1L to 120L))
    val groups = c.groupBy(_._2)
    groups.foreach { case (g, members) =>
      assert(members.map(_._1).min === g, s"group $g must be rooted at its min member")
      val keeps = members.filter(_._3 == 1L).map(_._1)
      assert(keeps.toSeq === Seq(g), s"group $g must keep exactly its root")
    }
    // the i%7 clique (17 identical docs) collapses to one group rooted at 7
    assert(groups(7L).map(_._1).toSet === (1L to 120L).filter(_ % 7 == 0).toSet)
  }

  test("incremental near-dup probe: row buckets match the explode path; index finds dups, not strangers") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different content about shuffle partitions and joins here"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    // per-row signatures are bit-identical to the corpus-scale explode path
    assertSameRows(Dedup.rowBuckets(corpus), Dedup.minhashBuckets(corpus))
    val reps = corpus.select(col("doc_id"), md5(col("text")).as("_h"))
      .groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val index = Dedup.minhashBuckets(corpus.join(reps, Seq("doc_id")))
    val incoming = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta iota"),  // near-dup of 1
      (101L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (102L, "nothing in common with anything indexed at all ok")).toDF("doc_id", "text")
    val got = Dedup.checkAgainstIndex(incoming, index, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // matches point at the REPRESENTATIVE (doc 1, not its clone 3)
    assert(got.keySet === Set((100L, 1L), (101L, 1L)))
    assert(got((101L, 1L)) === 1000000L, "exact dup scores jaccard 1.0")
    assert(got((100L, 1L)) >= 500000L && got((100L, 1L)) < 1000000L)
  }

  test("incremental probe properties on random corpora: exact dups found, every report verifies") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def text() = Seq.fill(6 + rnd.nextInt(6))(
      vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (iter <- 0 until 4) {
      val corpusTexts = Seq.fill(15)(text())
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val incoming = (0 until 8).map { j =>
        (100L + j, if (j % 2 == 0) corpusTexts(rnd.nextInt(corpusTexts.size)) else text())
      }
      val corpusDf = corpus.toDF("doc_id", "text")
      val reps = corpusDf.select(col("doc_id"), md5(col("text")).as("_h"))
        .groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val index = Dedup.minhashBuckets(corpusDf.join(reps, Seq("doc_id")))
      val got = Dedup.checkAgainstIndex(incoming.toDF("doc_id", "text"),
        index, corpusDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // exact copies MUST be found at ppm 1e6 against their text's rep
      // (LSH can't miss an identical signature)
      val textRep = corpus.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).min }
      for ((id, t) <- incoming if textRep.contains(t))
        assert(got.exists(g => g._1 == id && g._2 == textRep(t) && g._3 == 1000000L),
          s"exact dup $id not found at iter $iter")
      // every reported pair re-verifies: recomputed shingle-set Jaccard
      // equals the reported ppm and clears the threshold
      def shSet(t: String) = {
        val w = t.split(" "); (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
      }
      val textOf = (corpus ++ incoming).toMap
      for ((n, c, ppm) <- got) {
        val (a, b) = (shSet(textOf(n)), shSet(textOf(c)))
        val j = a.intersect(b).size.toDouble / a.union(b).size
        assert(math.round(j * 1e6) === ppm && ppm >= 500000L,
          s"pair ($n,$c) ppm $ppm fails re-verification at iter $iter")
      }
    }
  }

  test("dupIndex is a committed stage table over exact-dup representatives") {
    val dir = "/root/testdata/sf0.001"
    val idx = graft.graph.Pipeline.dupIndex(spark, dir)
    assert(new java.io.File(
      s"${graft.graph.StageStore.baseFor(dir)}/dup_index").exists)
    // 4 bands per representative; representative set = distinct texts
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nReps = docs.select(md5(col("text"))).distinct().count()
    assert(idx.count() === nReps * 4)
  }

  test("exact-dup pre-collapse: identical clusters to the full-graph chain, fewer candidates") {
    // exact clique (12 identical docs), a near-dup bridge ACROSS exact
    // groups (3 and 13 identical; 23 one-word-off), and unique filler
    val a = "the same boilerplate text repeated verbatim in every mirror copy"
    val c1 = "alpha beta gamma delta epsilon zeta eta theta"
    val c2 = "alpha beta gamma delta epsilon zeta eta iota"
    val docs = (1L to 60L).map { i =>
      val text =
        if (i % 5 == 0) a
        else if (i == 3 || i == 13) c1
        else if (i == 23) c2
        else s"unique text number $i with words ${i * 31 % 97} ${i * 17 % 89} tail"
      (i, text)
    }.toDF("doc_id", "text")
    val now = Dedup.dupClusters(docs)
    // the pre-collapse must not change ANY cluster decision: rebuild the
    // pre-round-5 full-graph collapse (verified pairs among ALL docs)
    val full = {
      val pairs = Dedup.verifiedPairs(docs)
      graft.canonical.ConnectedComponents.runWithNodes(
        docs.select(col("doc_id").cast("long").as("id")),
        pairs.select(col("a").cast("long").as("src"),
          col("b").cast("long").as("dst")))
        .select(col("id").as("doc_id"), col("component").as("dup_group"),
          (col("id") === col("component")).cast("long").as("keep"))
    }
    assertSameRows(now, full)
    // the near-dup bridge survives the collapse: 3, 13, 23 share a group
    val g = now.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(3L) === g(13L) && g(13L) === g(23L))
    // and the candidate work shrinks: pairs are generated among
    // DISTINCT-TEXT representatives only (the exact clique contributes
    // zero intra-clique pairs instead of m^2/2 per band)
    val repPairs = Dedup.dupPairs(docs).count()
    val allPairs = Dedup.verifiedPairs(docs).count()
    assert(repPairs < allPairs,
      s"rep-level pairs $repPairs must undercut full-graph pairs $allPairs")
  }

  test("ngram novelty: boilerplate shingles shared, unique text fully novel") {
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, shared), (2L, shared),
      (3L, "one two three four five six"),
      (4L, "ab")).toDF("doc_id", "text")
    val r = graft.OpsEntry.queries("doc_ngram_novelty")(spark,
      writeDocs(docs)).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // docs 1/2: all 3 shingles shared -> novelty 0
    assert(r(1L) === ((3L, 3L, 0L)) && r(2L) === ((3L, 3L, 0L)))
    // doc 3: 4 shingles, none shared -> novelty 1e6
    assert(r(3L) === ((4L, 0L, 1000000L)))
    // doc 4 (< 3 words): strict shingles -> no row
    assert(!r.contains(4L))
  }

  test("length histogram: power-of-2 buckets, counts and token sums exact") {
    val docs = Seq((1L, "a b c"), (2L, "a b c d"), (3L, "a")).toDF("doc_id", "text")
    val r = graft.OpsEntry.queries("doc_length_hist")(spark, writeDocs(docs))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // 3 tokens -> bin("11") bucket 2; 4 -> bucket 3; 1 -> bucket 1
    assert(r === Map(2L -> ((1L, 3L)), 3L -> ((1L, 4L)), 1L -> ((1L, 1L))))
  }

  /** Write a docs frame (with a deterministic source column) to a temp
    * corpus dir so dir-keyed OpsEntry queries can run on fixtures. */
  private def writeDocs(docs: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_opsfix").toString
    docs.withColumn("source",
      concat(lit("src"), (col("doc_id") % 2).cast("string")))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("source stats: exact floor-div mean quality, contamination rate per source") {
    val d = (0L to 9L).map(i => (i, s"the a of and is in word$i tail$i"))
      .toDF("doc_id", "text")
    val dir = writeDocs(d)
    val r = graft.OpsEntry.queries("doc_source_stats")(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.map(_._1).toSet === Set("src0", "src1"))
    r.foreach { case (_, nDocs, tokens, _, _) =>
      assert(nDocs === 5L && tokens === 40L)
    }
    // doc 0 (doc_id % 100 == 0) is the benchmark doc: 8-gram self-hit
    // -> contaminated; it lands in src0 -> contam 1/5, src1 0
    val contam = r.map(x => x._1 -> x._5).toMap
    assert(contam("src0") === 200000L && contam("src1") === 0L)
  }

  test("stratified sampling: deterministic hash threshold, per-stratum rates") {
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "pred_lang")
    val kept = Curation.stratifiedSample(rows, "pred_lang",
      Seq("en" -> "00"), "zz").collect()
    // "00" sorts below every md5 prefix -> stratum fully dropped; default
    // "zz" sorts above every hex digit -> stratum fully kept
    assert(kept.length === 100)
    assert(kept.forall(_.getAs[String]("pred_lang") == "de"))
    val again = Curation.stratifiedSample(rows, "pred_lang",
      Seq("en" -> "00"), "zz").collect()
    assert(again.map(_.getAs[Long]("doc_id")).sorted
      .sameElements(kept.map(_.getAs[Long]("doc_id")).sorted),
      "sampling must be deterministic across runs")
    val half = Curation.stratifiedSample(rows, "pred_lang",
      Seq("de" -> "80"), "zz")
      .filter(col("pred_lang") === "de").count()
    assert(half > 20 && half < 80, s"expected ~50 of 100 at threshold 80, got $half")
  }

  test("mix stats: per-stratum counts exact, token shares in ppm") {
    val rows = Seq((1L, "en", 100L), (2L, "en", 50L), (3L, "de", 50L))
      .toDF("doc_id", "pred_lang", "ws_tokens")
    val m = Curation.mixStats(rows, "pred_lang", "ws_tokens").collect()
    val byLang = m.map(r => r.getAs[String]("pred_lang") -> r).toMap
    assert(byLang("en").getAs[Long]("n_docs") === 2L)
    assert(byLang("en").getAs[Long]("tokens") === 150L)
    assert(byLang("en").getAs[Long]("token_share_ppm") === 750000L)
    assert(byLang("de").getAs[Long]("token_share_ppm") === 250000L)
  }

  test("simhash: near-dups differ in few bits, unrelated docs in many") {
    val sh = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(sh(1L) === sh(4L))
    assert(ham(sh(1L), sh(2L)) <= 4)
    assert(ham(sh(1L), sh(5L)) >= 4)
  }

  test("brute-force ANN: self-similar vectors rank first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // close to 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.98f, 0.2f, 0.0f)), // close to 2
      (4L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, nQueries = 2, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(top === Map(0L -> 1L, 1L -> 0L))
  }

  test("LSH buckets put near-identical vectors together") {
    val base = (0 until 64).map(i => math.sin(i * 1.7).toFloat).toArray
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = (0 until 64).map(i => math.cos(i * 3.1).toFloat).toArray
    val vecs = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val b = Similarity.lshBuckets(vecs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(0L) === b(1L))
    assert(b(0L) !== b(2L))
    assert(b(0L).length === 8 && b(0L).forall(c => c == '0' || c == '1'))
  }

  test("IVF: clustered vectors land in their cluster's cell; cell-probe finds the true neighbor") {
    // two tight clusters around orthogonal directions; centroids = first 2 vectors
    def v(axis: Int, eps: Float) =
      (0 until 8).map(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 7) eps else 0.0f)).toArray
    val vecs = Seq(
      (0L, v(0, 0f)), (1L, v(3, 0f)), // the codebook (cells 0 and 1)
      (2L, v(0, 0.05f)), (3L, v(0, 0.08f)),
      (4L, v(3, 0.05f)), (5L, v(3, 0.08f))).toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssign(vecs, nCells = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(2L) === 0L && cells(3L) === 0L)
    assert(cells(4L) === 1L && cells(5L) === 1L)
    val top = Similarity.ivfTopK(vecs, Similarity.ivfAssign(vecs, 2), nQueries = 6, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // within-cluster nearest neighbors, never cross-cluster
    assert(top(2L) === 3L || top(2L) === 0L)
    assert(Set(0L, 2L, 3L).contains(top(3L)))
    assert(!Set(top(2L), top(3L)).exists(Set(1L, 4L, 5L).contains))
  }

  test("IVF multi-probe: recall grows with nProbes, equals brute force at nProbes = nCells") {
    // deterministic 24-vector corpus (4 loose clusters, dim 8)
    val vecs = (0L until 24L).map { i =>
      (i, (0 until 8).map(j => (((i % 4) * 31 + j * 17 + i) % 7 - 3).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(vecs, nQueries = 6, k = 3)
    val truthSet = rowSet(truth.select("query_id", "neighbor_id"))
    val assign = Similarity.ivfAssign(vecs, nCells = 4)
    def recall(nProbes: Int): Double = {
      val got = rowSet(Similarity
        .ivfTopK(vecs, assign, nQueries = 6, k = 3, nProbes = nProbes)
        .select("query_id", "neighbor_id"))
      (got & truthSet).size.toDouble / truthSet.size
    }
    assert(recall(2) >= recall(1), "probing more cells must not lose neighbors")
    // probing every cell scans the whole corpus -> exact brute-force answer
    assertSameRows(
      Similarity.ivfTopK(vecs, assign, nQueries = 6, k = 3, nProbes = 4),
      truth)
  }

  test("multi-iteration Lloyd: iters=1 equals lloydStep; SSE never increases") {
    import graft.ops.Clustering
    val vecs = (0L until 30L).map { i =>
      (i, (0 until 8).map(j => (((i % 3) * 41 + j * 13 + i * 2) % 11 - 5).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    assertSameRows(Clustering.lloyd(vecs, k = 4, iters = 1),
      Clustering.lloydStep(vecs, k = 4))
    val s1 = Clustering.sse(vecs, Clustering.lloyd(vecs, 4, 1))
    val s3 = Clustering.sse(vecs, Clustering.lloyd(vecs, 4, 3))
    assert(s3 <= s1, s"Lloyd iterations must not increase SSE: $s1 -> $s3")
  }

  test("auto plane count keeps expected bucket occupancy bounded at any corpus size") {
    // never below the floor; above it, occupancy n / 2^planes <= target
    assert(Similarity.planesFor(100) === 8)
    assert(Similarity.planesFor(2000) === 8)
    // exact power-of-two boundaries (the integer bit-length form must not
    // drift by one where a float log2 could): 32 * 2^12 and +/-1
    assert(Similarity.planesFor(32L * 4096L) === 12)
    assert(Similarity.planesFor(32L * 4096L + 1) === 13)
    assert(Similarity.planesFor(32L * 4096L - 1) === 12)
    for (n <- Seq(100000L, 10000000L, 1000000000L)) {
      val p = Similarity.planesFor(n)
      assert(n.toDouble / math.pow(2, p) <= 32.0, s"occupancy at n=$n planes=$p")
      assert(n.toDouble / math.pow(2, p - 1) > 32.0, s"not overshooting at n=$n")
    }
    // the auto variant wires it through (3 near-identical vectors -> the
    // floor plane count; same pair as the fixed-plane path)
    val base = (0 until 64).map(i => math.sin(i * 2.3).toFloat).toArray
    val near = base.clone(); near(1) = near(1) + 0.01f
    val far = (0 until 64).map(i => math.cos(i * 5.1).toFloat).toArray
    val vecs = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val got = Similarity.cosineDupPairsAuto(vecs, minCosPpm = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L)))
  }

  test("k-sweep: silhouette argmax picks exactly one k, reproducibly") {
    import graft.ops.Clustering
    val vecs = (0L until 32L).map { i =>
      (i, (0 until 8).map(j => (((i % 4) * 29 + j * 13 + i) % 9 - 4).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val sw = Clustering.kSweep(vecs, Seq(2, 4, 8))
    assert(sw.map(_._1) === Seq(2L, 4L, 8L))
    assert(sw.count(_._5 == 1L) === 1, "exactly one chosen k")
    // silhouette invariants: den > 0, |num| <= den (b-a <= max(a,b))
    sw.foreach { r => assert(r._4 > 0 && math.abs(r._3) <= r._4, r) }
    // the chosen k must be the silhouette argmax (ties -> smaller k)
    def sil(r: (Long, Long, Long, Long, Long)): Double =
      if (r._4 == 0L) 0.0 else r._3.toDouble / r._4.toDouble
    val expected = sw.maxBy(r => (sil(r), -r._1))._1
    assert(sw.find(_._5 == 1L).get._1 === expected)
    // determinism: a second sweep returns identical rows
    assert(Clustering.kSweep(vecs, Seq(2, 4, 8)) === sw)
  }

  test("sampled k-sweep: full sweep within bounds, guarded + sampled above") {
    import graft.ops.Clustering
    val vecs = (0L until 32L).map { i =>
      (i, (0 until 8).map(j => (((i % 4) * 29 + j * 13 + i) % 9 - 4).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    // within the bound the sampled front-end is a no-op: identical rows
    assert(Clustering.kSweepSampled(vecs, Seq(2, 4, 8)) ===
      Clustering.kSweep(vecs, Seq(2, 4, 8)))
    // the overflow guard fires loudly on an oversize corpus (synthetic
    // tiny bound) instead of letting long sums wrap silently
    val e = intercept[IllegalArgumentException] {
      Clustering.kSweep(vecs, Seq(2, 4), maxVectors = Some(10L))
    }
    assert(e.getMessage.contains("overflow"))
    // above the bound, kSweepSampled sweeps the deterministic sample:
    // equal to sweeping the explicitly-sampled frame, seeds retained
    val bound = 20L
    val sampled = Clustering.sweepSample(vecs, kmax = 4, bound, n = 32L)
    val kept = sampled.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Seq(0L, 1L, 2L, 3L).forall(kept), "Lloyd seed window retained")
    assert(kept.size <= bound, s"sample ${kept.size} exceeds bound $bound")
    assert(Clustering.kSweepSampled(vecs, Seq(2, 4), Some(bound)) ===
      Clustering.kSweep(sampled, Seq(2, 4), Some(bound)))
    // the derived default bound is the exact long-headroom ceiling
    assert(Clustering.sweepSafeBound(64) === Long.MaxValue / (64L * 4000000000000L))
  }

  test("sweep bound derives from the observed coordinate scale (ADVICE r05)") {
    import graft.ops.Clustering
    // unit-scale corpora keep the published bound exactly
    assert(Clustering.sweepSafeBoundAt(64, 1000000L) === Clustering.sweepSafeBound(64))
    assert(Clustering.sweepSafeBoundAt(64, 5L) === Clustering.sweepSafeBound(64))
    // over-unit coordinates shrink the headroom quadratically (2*maxAbs)^2
    assert(Clustering.sweepSafeBoundAt(8, 4000000L) ===
      Long.MaxValue / (8L * 4L * 4000000L * 4000000L))
    // a corpus whose coordinates blow the derived headroom fails loudly
    // instead of wrapping the silhouette sums silently: |x| = 200 ->
    // quantized 2e8 -> bound = Long.Max / (4 * (4e8)^2) = 14 < n = 40
    val big = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => (200.0f + i + j)))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Clustering.kSweep(big, Seq(2, 4))
    }
    assert(e.getMessage.contains("long-overflow headroom"))
    assert(e.getMessage.contains("max |coord|"))
  }

  test("exact-dup pre-collapse leaves identical sub-ngram docs as singletons (ADVICE r05)") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "hi there"), (2L, "hi there"), // identical but < 3 words: no signature
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon"), // identical, signature-bearing
      (20L, "completely different content here now"))
      .toDF("doc_id", "text")
    val m = Dedup.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // sub-ngram docs can never pair in the full-graph chain (no minhash
    // signature) -> each stays its own keeper, matching the oracle
    assert(m(1L) === ((1L, 1L)))
    assert(m(2L) === ((2L, 1L)))
    // signature-bearing exact dups still collapse under the min-id rep
    assert(m(10L) === ((10L, 1L)))
    assert(m(11L) === ((10L, 0L)))
    assert(m(20L) === ((20L, 1L)))
  }

  test("silhouette is null-safe when every point collapses to one cluster") {
    import graft.ops.Clustering
    val vecs = (0L until 6L).map(i => (i, Array.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    val oneCluster = vecs.select(col("vec_id"), lit(0L).as("cluster"))
    // b is NULL for every point (no other centroid): s contributes 0,
    // den falls back to a (= 0 for identical points) — no NPE
    assert(Clustering.silhouette(vecs, oneCluster) === ((0L, 0L)))
  }

  test("tfidf: floor-log2 idf exact; rare terms outrank ubiquitous ones") {
    val docs = Seq(
      (0L, "the cat sat"), (1L, "the dog ran"),
      (2L, "the cat ran"), (3L, "the rare zebra")).toDF("doc_id", "text")
    val sc = TextOps.tfidfScores(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getAs[Long]("idf"), r.getAs[Long]("score"))).toMap
    // 'the' in all 4 docs: idf = bitlen(4/4) = 1; 'zebra' df=1: bitlen(4) = 3
    assert(sc((0L, "the"))._1 === 1L)
    assert(sc((3L, "zebra")) === ((3L, 3L)))
    // top term of doc 3: score tie between 'rare' and 'zebra' -> term asc
    val top = graft.ops.TextOps.tfidfTerms(docs, topK = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(3L) === "rare")
  }

  test("hashed tfidf vectors: dense dims, shares sum to 1, feed Lloyd") {
    import graft.ops.Clustering
    val docs = (0L until 12L).map { i =>
      (i, if (i % 2 == 0) s"alpha beta gamma token$i common words here"
          else s"omega psi chi token$i common words here")
    }.toDF("doc_id", "text")
    val vecs = TextOps.tfidfVectors(docs)
    val rows = vecs.collect()
    assert(rows.length === 12)
    rows.foreach { r =>
      val e = r.getSeq[Double](1)
      assert(e.length === 16)
      assert(math.abs(e.sum - 1.0) < 1e-9, s"shares must sum to 1: ${e.sum}")
    }
    // the vectors are Lloyd-consumable (dense vec_ids from 0)
    val cl = Clustering.lloydStep(vecs, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size === 12 && cl.values.toSet.subsetOf(Set(0L, 1L)))
  }

  test("ensemble alignment: greedy argmax matching on a hand-checked contingency") {
    import graft.ops.Clustering
    // cells (a,b,n): greedy picks (2,0,60) then (0,1,50) — (1,1,40) and
    // (1,0,35) lose to used rows/cols — then (3,3,7)
    val cells = Seq((0L, 1L, 50), (0L, 2L, 10), (1L, 1L, 40), (1L, 0L, 35),
      (2L, 0L, 60), (2L, 2L, 5), (3L, 3L, 7))
    val ens = cells.flatMap { case (a, b, n) => Seq.fill(n)((a, b)) }
      .toDF("cluster_a", "cluster_b")
    assert(Clustering.alignEnsemble(ens) ===
      Seq((0L, 2L, 60L), (1L, 0L, 50L), (3L, 3L, 7L)))
  }

  test("embedding-cosine near-dup: near-identical vectors pair, orthogonal ones never") {
    val base = (0 until 64).map(i => math.sin(i * 1.7).toFloat).toArray
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = (0 until 64).map(i => math.cos(i * 3.1).toFloat).toArray
    val vecs = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairs(vecs, minCosPpm = 900000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("cos_ppm")))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((0L, 1L)))
    assert(pairs.head._3 > 990000L)
  }

  test("cosine near-dup degenerate bucket is star-collapsed: candidate output stays linear") {
    // 60 near-identical vectors -> all share one sign-projection bucket;
    // uncapped pairing would emit 60*59/2 = 1770 rows (quadratic OUTPUT)
    val base = (0 until 64).map(i => math.sin(i * 1.7).toFloat).toArray
    val vecs = (0L until 60L).map { i =>
      val v = base.clone(); v(0) = v(0) + (i % 5) * 1e-4f; (i, v)
    }.toDF("vec_id", "embedding")
    val capped = Similarity.cosineDupPairs(vecs, minCosPpm = 0L, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.length === 59, s"expected 59 star pairs, got ${capped.length}")
    assert(capped.forall(_._1 == 0L), "representative must be the bucket min id")
    assert(capped.map(_._2).toSet === (1L until 60L).toSet,
      "every member must stay reachable from the representative")
    // under the cap the full (verified) pair set is unchanged
    val uncapped = Similarity.cosineDupPairs(vecs, minCosPpm = 0L).collect()
    assert(uncapped.length === 1770)
  }

  test("staged dup clusters: pair table committed once, collapse identical to direct") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val direct = Dedup.dupClusters(docs)
    val staged = graft.graph.Pipeline.dupClusters(spark, dir)
    assertSameRows(staged, direct)
    // the verified (a, b, jaccard) set is a committed stage table — the
    // expensive minhash->candidates->verify chain ran once; warm calls
    // (and future consumers, e.g. a dup-aware sampler) read it back
    val base = graft.graph.StageStore.baseFor(dir)
    assert(new java.io.File(s"$base/dup_pairs").exists, "committed pair table")
    assertSameRows(graft.graph.Pipeline.dupClusters(spark, dir), direct)
  }

  test("repetition signals: duplicate words and a repeated bigram dominate") {
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all words here are unique okay"),
      (3L, "loneword")).toDF("doc_id", "text")
    val r = TextOps.repetition(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3))).toMap
    // strict bigrams: a sub-2-word doc has no bigram -> NO row (matching
    // the oracle's shingle CTE + inner join), not a 1e6 fallback share
    assert(!r.contains(3L))
    assert(r.size === 2)
    // doc 1: 4 words, 1 distinct -> dup 750000; one bigram repeated 3x of 3 -> 1e6
    assert(r(1L) === ((750000L, 1000000L)))
    // doc 2: all distinct -> dup 0; 5 distinct bigrams -> top share 200000
    assert(r(2L) === ((0L, 200000L)))
  }

  test("lang id predicts the dictionary language") {
    val docs = Seq(
      (1L, "the cat is on the mat and the dog is here"),
      (2L, "le chat est la et le chien est un ami"),
      (3L, "xyz qqq zzz www")).toDF("doc_id", "text")
    val got = TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "fr")
    assert(got(3L) === "und")
  }

  test("token counts: regex tokenizer splits punctuation") {
    val docs = Seq((1L, "hello world42 x-y")).toDF("doc_id", "text")
    val r = TextOps.tokenCounts(docs).collect().head
    assert(r.getAs[Long]("ws_tokens") === 3L)
    // hello | world | 42 | x | - | y
    assert(r.getAs[Long]("re_tokens") === 6L)
  }

  test("frame sampling: stride bounds kept frames at maxFrames, indices in range") {
    val meta = Seq((1L, 24L), (2L, 1L), (3L, 5L)).toDF("doc_id", "frames")
    val s = Multimodal.sampleFrames(meta, maxFrames = 4).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getAs[Long]("frame_idx")).sorted.toSeq }
    assert(s(1L) === Seq(0L, 6L, 12L, 18L)) // 24 frames, stride 6
    assert(s(2L) === Seq(0L))               // single frame
    assert(s(3L) === Seq(0L, 2L, 4L))       // 5 frames, stride ceil(5/4)=2
  }

  test("byte histogram: exact nibble counts through the mapPartitions pipeline") {
    val docs = Seq((1L, "aA0 ")).toDF("doc_id", "text")
    val r = Multimodal.byteHistogram(spark, Multimodal.asBinary(docs))
      .collect().head
    // 'a'=0x61 -> bucket 6; 'A'=0x41 -> 4; '0'=0x30 -> 3; ' '=0x20 -> 2
    assert(r.doc_id === 1L)
    assert(r.f.toSeq === Seq(0L, 0L, 1L, 1L, 1L, 0L, 1L, 0L,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    assert(r.f.sum === 4L, "every byte lands in exactly one bucket")
  }

  test("resize plan: integer aspect fit, landscape and portrait") {
    val meta = Seq((1L, 640L, 360L), (2L, 100L, 400L), (3L, 224L, 224L))
      .toDF("doc_id", "width", "height")
    val r = Multimodal.resizePlan(meta).collect()
      .map(x => x.getLong(0) -> (x.getLong(3), x.getLong(4))).toMap
    assert(r(1L) === ((224L, 126L)))  // 360*224/640 = 126 exactly
    assert(r(2L) === ((56L, 224L)))   // 100*224/400 = 56
    assert(r(3L) === ((224L, 224L)))
  }

  test("multimodal stub decode: deterministic metadata from payload bytes") {
    val docs = Seq((7L, "abcd", "s")).toDF("doc_id", "text", "source")
    val m = Multimodal.extract(spark, docs).collect().head
    assert(m.getAs[Long]("n_bytes") === 4L)
    assert(m.getAs[Long]("width") === 68L)
    assert(m.getAs[String]("format") === "fake/rgb8")
  }

  test("fingerprints stable under distant edits") {
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val b = a + " tail1 tail2" // appended words leave most 5-gram minima intact
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val fp = TextOps.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getString(i))).toMap
    val overlap = fp(1L).zip(fp(2L)).count { case (x, y) => x == y }
    assert(overlap >= 2, s"expected mostly-stable fingerprints, got $overlap/4")
  }

  test("jaccard df-cap bounds hot-token candidate blowup") {
    import spark.implicits._
    // one stopword-class token shared by every doc in the block; unique
    // tokens otherwise. Without the cap the inverted-index self-join emits
    // ~n^2/2 candidate pairs from 'hot' alone.
    val docs = (0 until 200).map(i => (s"d$i", "blk", s"hot u$i v$i"))
      .toDF("doc_id", "source", "text")
    val capped = Dedup.jaccardTopPairs(docs, maxDf = 50)
    val uncapped = Dedup.jaccardTopPairs(docs, maxDf = 1000)
    assert(capped.count() === 0L, "df-cut must drop the hot token, leaving no candidates")
    assert(uncapped.count() > 0L)
  }

  test("identifier split: dots, snake, camel, ACRONYM -> lowercase words") {
    import spark.implicits._
    val got = Seq("pkg.module.HTTPServerImpl_v2", "supplier:Supplier#0001")
      .toDF("n")
      .select(graft.ops.TextOps.identifierWords(col("n")))
      .collect().map(_.getSeq[String](0))
    assert(got(0) === Seq("pkg", "module", "http", "server", "impl", "v2"))
    assert(got(1) === Seq("supplier", "supplier", "0001"))
  }

  test("normalize-for-hash strips comments, whitespace runs, wrapping quotes") {
    import spark.implicits._
    val got = Seq("\"Some   TEXT #comment here\"")
      .toDF("t")
      .select(graft.ops.TextOps.normalizeForHash(col("t")))
      .collect()(0).getString(0)
    assert(got === "some text")
  }

  test("lloyd clustering: points seeded near a centroid join its cluster; centroids broadcast") {
    import spark.implicits._
    // 8 seed vectors (vec_id < 8) at distinct corners, then satellites
    // displaced by a tiny epsilon from their seed
    val dim = 16
    def corner(c: Int) = (0 until dim).map(d => if ((c >> (d % 3)) % 2 == 1) 1.0f else -1.0f)
    val seeds = (0 until 8).map(c => (c.toLong, corner(c)))
    val sats = (0 until 64).map { i =>
      val c = i % 8
      (100L + i, corner(c).updated(0, corner(c)(0) + 0.001f * ((i / 8) + 1)))
    }
    val emb = (seeds ++ sats).toDF("vec_id", "embedding")
    val got = graft.ops.Clustering.lloydStep(emb, k = 8)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast:\n${plan.take(1200)}")
    val assign = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 64).foreach { i =>
      assert(assign(100L + i) === assign((i % 8).toLong),
        s"satellite $i must land in its seed's cluster")
    }
  }
}
