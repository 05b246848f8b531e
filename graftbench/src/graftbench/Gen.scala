package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded input generation. Everything the engine receives is made here
  * from the run's seed, so one seed always yields one op sequence.
  */
final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  // rank -> value permutation, so the hot ranks spread over all buckets
  private val perm: Array[Int] = {
    val p = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    var idx = java.util.Arrays.binarySearch(cdf, u)
    if (idx < 0) idx = -idx - 1
    perm(math.min(idx, n - 1))
  }
}

/** One row of the PK schema `(k BIGINT, cat STRING, v BIGINT, ver BIGINT)`. */
final case class PkRow(k: Long, cat: String, v: Long, ver: Long)

/** One corpus document with what the model knows about it. */
final case class Doc(id: Long, text: String, copyOf: Long, exact: Boolean,
    junk: Boolean)

object Gen {
  val Cats: Array[String] = Array.tabulate(24)(i => f"cat$i%02d")

  // high-rank vocabulary: English stopwords, so langId sees real prose
  private val Stop = Seq("the", "of", "and", "to", "in", "a", "is", "that",
    "for", "it", "as", "was", "with", "be", "by", "on", "not", "he", "this",
    "are", "or", "his", "from", "at", "which", "but", "have", "an", "had")

  def vocabulary(rnd: SplittableRandom, size: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String](Stop: _*)
    while (seen.size < size) {
      val len = 3 + rnd.nextInt(7)
      seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** A corpus of `n` docs (~`chars` characters each) with planted exact
    * copies (`exactShare`), near copies with `editShare` of their tokens
    * replaced (`nearShare`) and digit/punctuation junk (`junkShare`),
    * each copy of a distinct original. Copies always get larger ids than
    * their originals, so the min-id keeper rule keeps the original.
    * Returned in shuffled order.
    */
  def corpus(rnd: SplittableRandom, vocab: Array[String], idBase: Long,
      n: Int, chars: Int, exactShare: Double, nearShare: Double,
      editShare: Double, junkShare: Double): IndexedSeq[Doc] = {
    val zipf = new Zipf(vocab.length, 1.0, rnd)
    def prose(): Array[String] = {
      val b = scala.collection.mutable.ArrayBuffer[String]()
      var len = 0
      while (len < chars) { val w = vocab(zipf.next()); b += w; len += w.length + 1 }
      b.toArray
    }
    def junk(): String =
      (0 until chars / 8).map(_ => f"${rnd.nextInt(100000)}%05d.${rnd.nextInt(100)}%02d").mkString(" ")
    val nExact = (n * exactShare).round.toInt
    val nNear = (n * nearShare).round.toInt
    val nJunk = (n * junkShare).round.toInt
    val nOrig = n - nExact - nNear
    val origs = (0 until nOrig).map { i =>
      val isJunk = i < nJunk
      val tokens = if (isJunk) null else prose()
      (idBase + i, tokens, if (isJunk) junk() else tokens.mkString(" "), isJunk)
    }
    // each copied original gets one copy, so the near-duplicate graph is
    // a matching and every seed costs the dedup stages the same rounds
    val sources = shuffle(origs.filterNot(_._4), rnd).take(nExact + nNear)
    var next = idBase + nOrig
    val exact = sources.take(nExact).map { o =>
      next += 1
      Doc(next - 1, o._3, o._1, exact = true, junk = false)
    }
    val near = sources.drop(nExact).map { o =>
      val t = o._2.clone()
      val edits = math.max(1, (t.length * editShare).round.toInt)
      (0 until edits).foreach(_ => t(rnd.nextInt(t.length)) = vocab(zipf.next()))
      next += 1
      Doc(next - 1, t.mkString(" "), o._1, exact = false, junk = false)
    }
    val all = origs.map(o => Doc(o._1, o._3, -1L, exact = false, junk = o._4)) ++ exact ++ near
    shuffle(all, rnd)
  }

  /** A bulk batch that Spark generates from `spark.range(n)`, the way a
    * distributed source would feed it, while the model computes the same
    * rows on the driver. Row `i`: the first `fresh` rows get the new keys
    * `live + i`; the others a hashed key below `live`. `cat` and `v` are
    * hashed too, `ver` counts up from `ver0`. The hash is Spark's
    * `xxhash64` of one long (seed 42), i.e. `XXH64.hashLong`.
    */
  final case class Bulk(n: Long, fresh: Long, live: Long, ver0: Long,
      kSalt: Long, catSalt: Long, vSalt: Long) {
    private def h(i: Long, salt: Long, mod: Long): Long =
      java.lang.Math.floorMod(XXH64.hashLong(i + salt, 42L), mod)
    private def hc(id: Column, salt: Long, mod: Long): Column =
      pmod(xxhash64(id + lit(salt)), lit(mod))

    def rows: IndexedSeq[PkRow] = (0L until n).map { i =>
      PkRow(if (i < fresh) live + i else h(i, kSalt, live),
        Cats(h(i, catSalt, Cats.length).toInt), h(i, vSalt, 1000L), ver0 + i)
    }

    /** The same rows as columns over `spark.range(n)`'s `id`. */
    def columns: Seq[Column] = {
      val id = col("id")
      // coalesce with a literal keeps the key column non-nullable
      Seq(coalesce(when(id < fresh, id + live).otherwise(hc(id, kSalt, live)), lit(0L)).as("k"),
        element_at(typedLit(Cats.toSeq), (hc(id, catSalt, Cats.length) + 1).cast("int")).as("cat"),
        hc(id, vSalt, 1000L).as("v"), (id + lit(ver0)).as("ver"))
    }
  }

  def shuffle[A](xs: IndexedSeq[A], rnd: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Character `n`-shingle Jaccard, the resemblance the dedup stage
    * verifies (texts shorter than `n` are one shingle).
    */
  def jaccard(a: String, b: String, n: Int): Double = {
    def sh(s: String): Set[String] =
      if (s.length <= n) Set(s) else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
    val x = sh(a); val y = sh(b)
    (x intersect y).size.toDouble / (x union y).size
  }
}
