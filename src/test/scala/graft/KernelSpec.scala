package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.link.FuzzyLink
import graft.ops.{Dedup, Kernels}

/** Parity of every compiled kernel with the higher-order expression it
  * replaced. Each reference below is a test-only copy of the old
  * `aggregate`/`zip_with`/`transform` form, evaluated by Spark on the same
  * rows; the kernel must reproduce its value bit for bit (doubles compare
  * by their bits), its nulls and its ANSI overflow failures. */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  // ---- the old higher-order forms --------------------------------------

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))
  private def refDot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
  private def refNorm(a: Column): Column =
    sqrt(aggregate(transform(asDouble(a), x => x * x), lit(0.0), (acc, x) => acc + x))
  private def refSqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
  private def refLsh(e: Column, weights: Seq[Seq[Double]]): Column =
    concat(weights.map { w =>
      val s = aggregate(zip_with(e, typedLit(w), (x, wv) => x.cast("double") * wv),
        lit(0.0), (acc, v) => acc + v)
      when(s > 0, "1").otherwise("0")
    }: _*)
  /** Strict word n-gram shingle array of a text (null below n words). */
  private def refWordShingles(t: Column, n: Int): Column = {
    val w = split(t, " ")
    when(size(w) >= n, array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))))
  }
  /** `^name$` trigram array (null when it has none). */
  private def refTrigrams(name: Column): Column = {
    val p = concat(lit("^"), name, lit("$"))
    when(length(p) >= 3, array_distinct(transform(sequence(lit(1), length(p) - 2),
      i => p.substr(i, lit(3)))))
  }
  private def refSig(shingles: Column, k: Int): Column =
    when(shingles.isNotNull, array((0 until k).map(s =>
      array_min(transform(shingles, x => md5(concat(lit(s"$s|"), x))))): _*))
  /** The old corpus-scale signature path: explode + groupBy-min. */
  private def refSignatures(df: DataFrame, id: String, shingles: Column,
      k: Int): DataFrame = {
    val aggs = (0 until k).map(s => min(md5(concat(lit(s"$s|"), col("_sg")))).as(s"m$s"))
    df.select(col(id), explode(shingles).as("_sg"))
      .groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  // ---- inputs --------------------------------------------------------------

  private val rnd = new Random(20261017L)

  private def floats(n: Int): Seq[java.lang.Float] =
    Seq.fill(n)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat * 3f))

  /** Pairs of float arrays: seeded random ones of equal length, then the
    * edge cases. */
  private def floatPairs: DataFrame = {
    val t = ArrayType(FloatType, containsNull = true)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", t), StructField("b", t)))
    val random = (0 until 200).map { i =>
      val n = rnd.nextInt(70)
      Row(i, floats(n), floats(n))
    }
    val nul: java.lang.Float = null
    val edges = Seq(
      Row(1000, null, floats(3)),
      Row(1001, floats(3), null),
      Row(1002, null, null),
      Row(1003, Seq[java.lang.Float](1f, nul, 2f), floats(3)),
      Row(1004, floats(4), floats(3)),
      Row(1005, floats(2), floats(5)),
      Row(1006, Seq.empty, Seq.empty),
      Row(1007, Seq.empty, floats(1)),
      Row(1008, Seq(Float.NaN, 1f).map(f => f: java.lang.Float), floats(2)),
      Row(1009, Seq(-0f, 0f).map(f => f: java.lang.Float), Seq(1f, -1f).map(f => f: java.lang.Float)),
      Row(1010, Seq(Float.MaxValue, Float.MaxValue).map(f => f: java.lang.Float),
        Seq(Float.MaxValue, Float.MaxValue).map(f => f: java.lang.Float)))
    spark.createDataFrame(spark.sparkContext.parallelize(random ++ edges, 3), schema)
  }

  private def sameDouble(x: Any, y: Any): Boolean = (x, y) match {
    case (null, null) => true
    case (a: Double, b: Double) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
    case _ => false
  }

  private def assertParity(df: DataFrame, kernel: Column, ref: Column,
      same: (Any, Any) => Boolean = _ == _): Unit = {
    val rows = df.select(col("id"), kernel.as("k"), ref.as("r")).collect()
    assert(rows.nonEmpty)
    val bad = rows.filterNot(r => same(r.get(1), r.get(2)))
    assert(bad.isEmpty, s"kernel != HOF on ${bad.length} rows: ${bad.take(5).mkString("; ")}")
  }

  // ---- vectors -------------------------------------------------------------

  test("dot equals the zip_with/aggregate fold bit for bit, nulls included") {
    assertParity(floatPairs, Kernels.dot(col("a"), col("b")),
      refDot(col("a"), col("b")), sameDouble)
  }

  test("norm equals the transform/aggregate fold bit for bit, nulls included") {
    val df = floatPairs
    assertParity(df, Kernels.norm(col("a")), refNorm(col("a")), sameDouble)
    assertParity(df, Kernels.norm(col("b")), refNorm(col("b")), sameDouble)
  }

  test("sqDist equals the integer zip_with/aggregate fold, nulls included") {
    val t = ArrayType(LongType, containsNull = true)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", t), StructField("b", t)))
    def longs(n: Int): Seq[java.lang.Long] =
      Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(4000001) - 2000000L))
    val nul: java.lang.Long = null
    val rows = (0 until 200).map { i => val n = rnd.nextInt(70); Row(i, longs(n), longs(n)) } ++
      Seq(Row(1000, null, longs(2)), Row(1001, longs(3), longs(2)),
        Row(1002, Seq[java.lang.Long](1L, nul, 3L), longs(3)),
        Row(1003, Seq.empty, Seq.empty), Row(1004, longs(1), Seq.empty))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assertParity(df, Kernels.sqDist(col("a"), col("b")), refSqDist(col("a"), col("b")))
  }

  test("sqDist overflow throws, as the ANSI fold does") {
    val big = Seq(Long.MaxValue / 2, 0L)
    val huge = Seq(Long.MinValue / 2, 0L)
    val df = Seq((1, big, huge)).toDF("id", "a", "b")
    // (x - y) overflows; so does a sum of two large squares
    val sums = Seq((2, Seq(3037000499L, 3037000499L), Seq(0L, 0L))).toDF("id", "a", "b")
    for (d <- Seq(df, sums)) {
      intercept[Exception](d.select(refSqDist(col("a"), col("b"))).collect())
      val e = intercept[Exception](d.select(Kernels.sqDist(col("a"), col("b"))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"not an overflow: $e")
    }
  }

  test("lshBucket equals the per-plane sign of the zip_with fold; never null") {
    val dim = 6
    val weights = Seq.tabulate(5, dim)((p, d) => if ((p * 7 + d * 3) % 5 < 2) 1.0 else -1.0)
    val t = ArrayType(FloatType, containsNull = true)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("a", t)))
    val nul: java.lang.Float = null
    val rows = (0 until 200).map(i => Row(i, floats(dim))) ++ Seq(
      Row(1000, null), Row(1001, floats(dim - 1)), Row(1002, floats(dim + 1)),
      Row(1003, floats(dim).updated(2, nul)), Row(1004, Seq.empty),
      Row(1005, floats(dim).updated(0, java.lang.Float.valueOf(Float.NaN))),
      Row(1006, Seq.fill(dim)(java.lang.Float.valueOf(0f))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assertParity(df, Kernels.lshBucket(col("a"), weights), refLsh(col("a"), weights))
    assert(df.select(Kernels.lshBucket(col("a"), weights)).collect()
      .forall(r => r.getString(0) != null && r.getString(0).length == weights.length))
  }

  // ---- MinHash -----------------------------------------------------------------

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "café", "naïve", "日本語",
    "🙂", "x", "", "Straße", "über")

  /** Seeded random texts plus the edge cases: fewer than n words, leading,
    * trailing and doubled spaces, non-ASCII (BMP and beyond), empty, null. */
  private def texts: DataFrame = {
    val random = (0 until 300).map { i =>
      val n = rnd.nextInt(14)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val edges = Seq("", " ", "one", "one two", "one two three", " one two three",
      "one two three ", "one  two three", "  ", "a b a b a b a b", "日本 語 です ね",
      "🙂 🙂 🙂", "x y z ").zipWithIndex.map { case (t, i) => (1000L + i, t) }
    spark.createDataFrame(random ++ edges :+ ((2000L, null: String)))
      .toDF("id", "text").repartition(3)
  }

  test("minhashSig over word n-grams equals the per-seed transform/array_min form") {
    val df = texts
    for (n <- Seq(1, 3, 5)) assertParity(df,
      Kernels.minhashSig(col("text"), Kernels.WordNgrams(n), 8),
      refSig(refWordShingles(col("text"), n), 8))
  }

  test("minhashSig over ^name$ trigrams equals the per-seed transform/array_min form") {
    val names = texts.union(Seq((3000L, "ab"), (3001L, "a"), (3002L, "é"), (3003L, "🙂x"))
      .toDF("id", "text"))
    assertParity(names, Kernels.minhashSig(col("text"), Kernels.CharTrigrams, 8),
      refSig(refTrigrams(col("text")), 8))
  }

  test("minhashSignatures equals the explode/groupBy path, duplicate ids included") {
    val df = texts.union(texts.select((col("id") % 40).as("id"), col("text")))
    assertSameRows(Dedup.minhashSignatures(df, "id", "text", 3, 8),
      refSignatures(df, "id", refWordShingles(col("text"), 3), 8))
  }

  test("nameBuckets equals the old trigram explode/groupBy bands") {
    val names = texts.select(col("text").as("name"))
      .union(Seq("alpha_service", "alpha_service", "ab", "", "é").toDF("name"))
    val sig = refSignatures(names.withColumn("id", col("name")), "id",
      refTrigrams(col("name")), 8)
    val bands = (0 until 4).map { b =>
      struct(lit(b).cast("long").as("band"),
        md5(concat(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))).as("bucket"))
    }
    val ref = sig.select(col("id").as("name"), inline(array(bands: _*)))
    assertSameRows(FuzzyLink.nameBuckets(names, "name"), ref)
  }
}
