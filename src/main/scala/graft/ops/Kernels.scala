package graft.ops

import java.lang.{Double => JDouble, Float => JFloat, Long => JLong}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Compiled row kernels: the per-row array math of the curation operators
  * as typed Scala functions behind `functions.udf`.
  *
  * Spark 4.1 evaluates every higher-order function (`aggregate`,
  * `zip_with`, `transform`, `filter`) through `CodegenFallback`: its lambda
  * runs interpreted, once per array element. A UDF call is one compiled
  * virtual call per row instead. Each kernel reproduces, bit for bit, the
  * higher-order expression named in its scaladoc — including its nulls,
  * its ANSI overflow failures and its left-fold order of float math — so
  * replacing one with the other changes no value anywhere (KernelSpec
  * checks each against that expression).
  *
  * Array elements arrive boxed (`Seq[java.lang.Float]`): with a
  * `Seq[Float]` parameter Spark would silently turn a null element into
  * 0.0. */
object Kernels {

  /** `aggregate(zip_with(transform(a, x -> double(x)),
    * transform(b, x -> double(x)), (x, y) -> x * y), 0D, (acc, x) -> acc + x)`:
    * the dot product as a left fold in index order. Null when either array
    * is null, holds a null, or the lengths differ (zip_with pads the
    * shorter side with nulls). */
  def dot(a: Column, b: Column): Column = dotUdf(a, b)

  /** `sqrt(aggregate(transform(a, x -> double(x) * double(x)), 0D,
    * (acc, x) -> acc + x))`: the L2 norm, left fold in index order. Null
    * when the array is null or holds a null. */
  def norm(a: Column): Column = normUdf(a)

  /** `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L,
    * (acc, v) -> acc + v)` over `array<bigint>`: the integer squared L2
    * distance. Every difference and square is computed (zip_with builds
    * the whole array first), then summed until the first null; any
    * overflow throws, as the expression does under ANSI mode. Null when
    * either array is null, holds a null, or the lengths differ. */
  def sqDist(a: Column, b: Column): Column = sqDistUdf(a, b)

  /** `concat(when(aggregate(zip_with(e, w_p, (x, w) -> double(x) * w), 0D,
    * (acc, v) -> acc + v) > 0, '1').otherwise('0') for each plane p)`: one
    * sign bit per plane of `weights` (planes × dims). A null sum — a null
    * embedding, a null element or a length mismatch — gives '0', so the
    * bucket itself is never null (declared non-nullable, so a join on it
    * infers no null filter that would evaluate the kernel twice); a NaN sum
    * gives '1', because Spark orders NaN above every number. */
  def lshBucket(embedding: Column, weights: Seq[Seq[Double]]): Column =
    udf(new LshBucket(weights.map(_.toArray).toArray)).asNonNullable().apply(embedding)

  /** Per-row MinHash signature: for seeds 0 until k, the minimum of
    * `md5(concat('<seed>|', shingle))` over the row's distinct shingles,
    * i.e. `array_min(transform(array_distinct(shingles), s ->
    * md5(concat('<seed>|', s))))` per seed. Null for a null text and for a
    * text with no shingle. The text must be valid UTF-8: the kernel hashes
    * the bytes of its Java string, which replaces invalid sequences. */
  def minhashSig(text: Column, shingler: Shingler, k: Int): Column =
    udf(new MinhashSig(shingler, k)).apply(text)

  /** How [[minhashSig]] cuts a text into shingles. */
  sealed trait Shingler extends Serializable {
    /** The UTF-8 bytes the shingles are cut from. */
    private[ops] def bytes(text: String): Array[Byte] = text.getBytes(UTF_8)
    /** (offset, length) of every shingle in those bytes. */
    private[ops] def slices(bytes: Array[Byte]): Iterator[(Int, Int)]
  }

  /** Strict word n-grams under `split(text, ' ')` semantics: words are cut
    * at every single space, empty words included, and a shingle is n
    * consecutive words joined by ' ' — a byte range of the text itself. A
    * text with fewer than n words has no shingle. */
  final case class WordNgrams(n: Int) extends Shingler {
    private[ops] def slices(bytes: Array[Byte]): Iterator[(Int, Int)] = {
      // word i spans [starts(i), starts(i + 1) - 1); the space byte 0x20
      // never occurs inside a multi-byte UTF-8 sequence
      val starts = Array.newBuilder[Int]
      starts += 0
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) == ' ') starts += i + 1
        i += 1
      }
      starts += bytes.length + 1
      val st = starts.result()
      val words = st.length - 1
      Iterator.range(0, words - n + 1).map(w => (st(w), st(w + n) - 1 - st(w)))
    }
  }

  /** Character trigrams of `^name$` (code points, as Spark's `substr`
    * counts them). A padded name shorter than 3 has no shingle. */
  case object CharTrigrams extends Shingler {
    override private[ops] def bytes(text: String): Array[Byte] = s"^$text$$".getBytes(UTF_8)
    private[ops] def slices(bytes: Array[Byte]): Iterator[(Int, Int)] = {
      // code point starts: every byte that is not a UTF-8 continuation
      val starts = (0 until bytes.length).filter(i => (bytes(i) & 0xC0) != 0x80) :+ bytes.length
      Iterator.range(0, starts.length - 3).map(c => (starts(c), starts(c + 3) - starts(c)))
    }
  }

  private val dotUdf = udf(new Dot)
  private val normUdf = udf(new Norm)
  private val sqDistUdf = udf(new SqDist)

  private final class Dot extends ((Seq[JFloat], Seq[JFloat]) => JDouble) with Serializable {
    def apply(a: Seq[JFloat], b: Seq[JFloat]): JDouble = {
      if (a == null || b == null || a.length != b.length) return null
      val (ia, ib) = (a.iterator, b.iterator)
      var acc = 0.0
      while (ia.hasNext) {
        val x = ia.next()
        val y = ib.next()
        if (x == null || y == null) return null
        acc += x.doubleValue * y.doubleValue
      }
      acc
    }
  }

  private final class Norm extends (Seq[JFloat] => JDouble) with Serializable {
    def apply(a: Seq[JFloat]): JDouble = {
      if (a == null) return null
      var acc = 0.0
      val it = a.iterator
      while (it.hasNext) {
        val x = it.next()
        if (x == null) return null
        acc += x.doubleValue * x.doubleValue
      }
      Math.sqrt(acc)
    }
  }

  private final class SqDist extends ((Seq[JLong], Seq[JLong]) => JLong) with Serializable {
    def apply(a: Seq[JLong], b: Seq[JLong]): JLong = {
      if (a == null || b == null) return null
      val (ia, ib) = (a.iterator, b.iterator)
      var acc = 0L
      var isNull = false
      while (ia.hasNext || ib.hasNext) {
        val x = if (ia.hasNext) ia.next() else null
        val y = if (ib.hasNext) ib.next() else null
        if (x == null || y == null) isNull = true
        else {
          val d = Math.subtractExact(x.longValue, y.longValue)
          val sq = Math.multiplyExact(d, d)
          // a null accumulator absorbs every later addition without
          // evaluating it, as `acc + v` does
          if (!isNull) acc = Math.addExact(acc, sq)
        }
      }
      if (isNull) null else acc
    }
  }

  private final class LshBucket(weights: Array[Array[Double]])
      extends (Seq[JFloat] => String) with Serializable {
    def apply(e: Seq[JFloat]): String = {
      val x = if (e == null) null else e.toArray
      val bits = new Array[Char](weights.length)
      var p = 0
      while (p < weights.length) {
        val w = weights(p)
        var s = 0.0
        var isNull = x == null || x.length != w.length
        var d = 0
        while (!isNull && d < w.length) {
          if (x(d) == null) isNull = true else s += x(d).doubleValue * w(d)
          d += 1
        }
        bits(p) = if (!isNull && (JDouble.isNaN(s) || s > 0)) '1' else '0'
        p += 1
      }
      new String(bits)
    }
  }

  private final class MinhashSig(shingler: Shingler, k: Int)
      extends (String => Seq[String]) with Serializable {
    private val seedPrefix = Array.tabulate(k)(s => s"$s|".getBytes(UTF_8))

    def apply(text: String): Seq[String] = {
      if (text == null) return null
      val bytes = shingler.bytes(text)
      val md = MessageDigest.getInstance("MD5")
      val mins = new Array[Array[Byte]](k)
      val seen = new java.util.HashSet[ByteBuffer]()
      shingler.slices(bytes).foreach { case (off, len) =>
        if (seen.add(ByteBuffer.wrap(bytes, off, len))) {
          var s = 0
          while (s < k) {
            md.update(seedPrefix(s))
            md.update(bytes, off, len)
            val h = md.digest()
            // unsigned byte order of a digest = order of its lowercase hex
            if (mins(s) == null || java.util.Arrays.compareUnsigned(h, mins(s)) < 0) mins(s) = h
            s += 1
          }
        }
      }
      if (mins.isEmpty || mins(0) == null) null else mins.toSeq.map(hex)
    }

    private def hex(h: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(32)
      h.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xF, 16))
        .append(Character.forDigit(b & 0xF, 16)))
      sb.toString
    }
  }
}
