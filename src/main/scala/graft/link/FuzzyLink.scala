package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Kernels}

/** Fuzzy entity linking: map noisy surface forms onto a canonical
  * dictionary — the north star's profiled hot stage ("batched per-partition
  * mention detection and entity-link scoring via broadcast dictionary +
  * trigram/MinHash candidate blocking").
  *
  * Shape: exact matches short-circuit via a broadcast semi-join (the
  * reference's dict lookup, call_graph.py:729-732); the fuzzy remainder is
  * blocked by MinHash bands over character trigrams (candidate pairs
  * become an equi-join on band buckets instead of a surface × dictionary
  * cross join), then scored by exact trigram Jaccard and resolved to the
  * best candidate with a total deterministic tiebreak (score desc, name
  * asc). Everything is md5-based — column expressions plus the compiled
  * signature kernel (graft.ops.Kernels) — and reproducible in the DuckDB
  * oracle.
  */
object FuzzyLink {

  /** Trigram SET over an already-materialized padded-name COLUMN
    * ("^name$"), for candidate scoring (blocking signatures shingle inside
    * the compiled Kernels.minhashSig instead). Still a higher-order
    * `transform`, so its lambda runs interpreted and must reference a
    * bound attribute — a non-attribute subtree re-evaluates once per
    * element (see Dedup.shinglesOfWords). Empty names yield an empty set
    * (Spark's `sequence(1, 0)` would otherwise produce a bogus descending
    * range where the DuckDB oracle's `range()` is empty). */
  def trigramsOfPadded(padded: Column): Column =
    when(length(padded) >= 3,
      array_distinct(transform(
        sequence(lit(1), length(padded) - 2),
        i => padded.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** Convenience per-row form for small inputs (candidate scoring). */
  def charTrigramsCol(name: Column): Column =
    trigramsOfPadded(concat(lit("^"), name, lit("$")))

  /** MinHash band buckets over char trigrams (k seeds, rowsPerBand), one
    * row per (distinct name, band): the compiled per-row signature
    * ([[Kernels.minhashSig]] with the `^name$` trigram shingler), a
    * groupBy-min per name and the shared band builder — the shape of
    * Dedup.minhashBuckets. Names with no trigrams get no bucket (no
    * candidates), which matches the oracle's empty-set semantics. */
  def nameBuckets(df: DataFrame, nameCol: String, k: Int = 8,
      rowsPerBand: Int = 2): DataFrame =
    Dedup.bandsOf(Dedup.minPerKey(df.select(col(nameCol),
      Kernels.minhashSig(col(nameCol), Kernels.CharTrigrams, k).as("_sig")), nameCol, k),
      Seq(nameCol), k, rowsPerBand)

  /** Link surfaces to dictionary names.
    * Output: (surface, matched, score_ppm, method ∈ {exact, fuzzy}) —
    * one row per DISTINCT surface. Surfaces with no candidate above
    * `minScorePpm` are dropped (the caller can left-join to keep
    * misses). */
  def link(surfaces: DataFrame, dict: DataFrame, surfaceCol: String = "surface",
      dictCol: String = "name", minScorePpm: Long = 300000L): DataFrame = {
    // The dictionary is the canonical entity vocabulary — it scales with
    // the corpus, so the exact-match semi/anti joins carry no broadcast
    // hint: Spark broadcasts the side while it is under its threshold;
    // above it AQE plans from runtime sizes and splits skewed
    // partitions. The output has one row per surface, so enforce
    // distinctness here rather than trusting callers; for already-distinct
    // inputs this is one shuffle of the surface VOCABULARY, not the corpus.
    val surf = surfaces.dropDuplicates(surfaceCol)
    val dictAsSurface = dict.select(col(dictCol).as(surfaceCol))
    val exact = surf.join(dictAsSurface, Seq(surfaceCol), "left_semi")
      .select(col(surfaceCol), col(surfaceCol).as("matched"),
        lit(1000000L).as("score_ppm"), lit("exact").as("method"))

    val misses = surf.join(dictAsSurface, Seq(surfaceCol), "left_anti")

    val sb = nameBuckets(misses, surfaceCol)
      .withColumnRenamed(surfaceCol, "surface_")
    val db = nameBuckets(dict, dictCol).withColumnRenamed(dictCol, "cand")
    val candidates = sb.join(db, Seq("band", "bucket"))
      .select(col("surface_"), col("cand")).distinct()

    val scored = candidates
      .withColumn("tg_s", charTrigramsCol(col("surface_")))
      .withColumn("tg_c", charTrigramsCol(col("cand")))
      .withColumn("inter", size(array_intersect(col("tg_s"), col("tg_c"))).cast("double"))
      .withColumn("score_ppm",
        round(col("inter") /
          (size(col("tg_s")) + size(col("tg_c")) - col("inter")).cast("double") * 1e6)
          .cast("long"))
      .filter(col("score_ppm") >= minScorePpm)

    val w = Window.partitionBy("surface_")
      .orderBy(col("score_ppm").desc, col("cand"))
    val best = scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("surface_").as(surfaceCol), col("cand").as("matched"),
        col("score_ppm"), lit("fuzzy").as("method"))

    exact.unionByName(best)
  }
}
