package perfbench

import java.util.SplittableRandom
import scala.util.hashing.MurmurHash3

/** Seeded input generators. The same seed gives the same inputs; the
  * program sees only what these produce.
  */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)

  private def bytes(n: Int): Array[Byte] = { val a = new Array[Byte](n); rnd.nextBytes(a); a }

  /** A 16 B key and a 1 KiB value of random bytes (incompressible). */
  def record(): (Array[Byte], Array[Byte]) = (bytes(16), bytes(1024))

  /** The key's partition: a seeded hash, so partition load follows the seed. */
  def partitionOf(key: Array[Byte], partitions: Int): Int =
    Math.floorMod(MurmurHash3.bytesHash(key, seed.toInt), partitions)

  /** Zipf(s) over `n` user ids by inverse CDF: a few users take most events. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail.toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** One JSON event for the lake topic: (user, amt, encoded value). */
  def event(users: Zipf): (String, Long, Array[Byte]) = {
    val user = f"u${users.next()}%04d"
    val amt = 1L + rnd.nextInt(1000)
    (user, amt, s"""{"user":"$user","amt":$amt}""".getBytes("UTF-8"))
  }

  /** Synthetic corpus in the board's `documents` schema, shaped like the
    * repository's sf0.1 `documents` table: 10-100 tokens, uniform, from
    * [[Gen.Vocab]]; `dupShare` of the documents a copy of another one
    * (earlier or later, possibly itself a copy) with the token `dup`
    * appended; language and source drawn as in that table. The share sets
    * the near-duplicate candidate-pair and cluster sizes.
    */
  def documents(n: Int, dupShare: Double): Seq[(Long, String, String, String, Long)] = {
    val texts = Array.fill(n)(Array.fill(10 + rnd.nextInt(91))(word()))
    (0 until n).map { i =>
      if (rnd.nextDouble() < dupShare) texts(i) = texts((i + 1 + rnd.nextInt(n - 1)) % n) :+ "dup"
      val text = texts(i).mkString(" ")
      val lang = if (rnd.nextDouble() < 0.41) "en" else Gen.OtherLangs(rnd.nextInt(Gen.OtherLangs.length))
      (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  private def word(): String = Gen.Vocab(rnd.nextInt(Gen.Vocab.length))
}

object Gen {
  /** The 30 words of the sf0.1 `documents` table, each about equally
    * frequent there. Unrelated documents share a few trigrams by chance
    * (Jaccard 0.02-0.04), as in that table.
    */
  val Vocab: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  /** Languages other than `en` (41 % of the sf0.1 documents), each about 15 %. */
  val OtherLangs: Array[String] = Array("de", "es", "fr", "zh")
}
