package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. The same seed always yields the same
  * records, texts and registry sample; nothing here reads the clock.
  */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n via an inverted CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val syllables =
    Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po",
      "da", "fe", "gu", "hi", "jo", "bu", "ce", "xa", "wi", "yo")

  /** Pseudo-word for rank i: base-20 syllables, at least two. Distinct
    * ranks give distinct words.
    */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    var k = 0
    while (k < 2 || x > 0) {
      sb.append(syllables(x % 20)); x /= 20; k += 1
    }
    sb.toString
  }

  val VocabSize = 30000
  val Users = 1500
  val Partitions = 8

  /** Kafka-shaped record body: (key bytes, value bytes, partition). */
  final case class Rec(key: Array[Byte], value: Array[Byte], partition: Int)

  /** `n` ingest records: key = a Zipf-drawn user over 1.5k users,
    * partition = user mod 8, value = 10..14 Zipf-drawn words over a
    * 30k-word vocabulary.
    */
  def ingestRecords(seed: Long, n: Int): Array[Rec] = {
    val r = new SplittableRandom(seed)
    val users = new Zipf(Users, 1.1)
    val words = new Zipf(VocabSize, 1.0)
    Array.fill(n) {
      val u = users.sample(r)
      val k = 10 + r.nextInt(5)
      val v = Iterator.fill(k)(word(words.sample(r))).mkString(" ")
      Rec(s"u$u".getBytes(UTF_8), v.getBytes(UTF_8), u % Partitions)
    }
  }

  /** The fixture document vocabulary (FIXTURES.md `documents.text`). */
  private val docWords = ("key agg row scan slow fast table value part " +
    "hash merge batch spark a the line sort window data column join small " +
    "customer query order group filter stream big vector").split(" ")

  /** `n` document texts of 8..60 words, half from the fixture
    * vocabulary and half Zipf-drawn from the 30k-word vocabulary, so
    * distinct documents get distinct SimHash signatures. About 10% are
    * exact repeats of one of the previous 50 documents, which the near-dup
    * stage suppresses within its 2-hour watermark.
    */
  def docTexts(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val zipf = new Zipf(VocabSize, 1.0)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= 50 && r.nextInt(10) == 0) out(i - 1 - r.nextInt(50))
        else Iterator.fill(8 + r.nextInt(53)) {
          if (r.nextBoolean()) docWords(r.nextInt(docWords.length))
          else word(zipf.sample(r))
        }.mkString(" ")
      i += 1
    }
    out
  }

  /** Registry strata: stratum -> bands of row names, from strata.txt
    * lines `<stratum> <band> <row>` (`#` starts a comment).
    */
  def readStrata(path: String): Seq[(String, Seq[Seq[String]])] = {
    val lines = scala.io.Source.fromFile(path).getLines()
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
      .map(_.split("\\s+")).toSeq
    lines.groupBy(_(0)).toSeq.sortBy(_._1).map { case (s, ls) =>
      s -> ls.groupBy(_(1)).toSeq.sortBy(_._1).map(_._2.map(_(2)).sorted)
    }
  }

  /** One row per band of every stratum, drawn with the seed: a fixed
    * count from each stratum. Rows absent from `known` are skipped.
    */
  def registrySample(seed: Long, strata: Seq[(String, Seq[Seq[String]])],
                     known: Set[String]): Seq[(String, String)] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    strata.flatMap { case (s, bands) =>
      bands.flatMap { b =>
        val pool = b.filter(known)
        if (pool.isEmpty) None else Some(s -> pool(r.nextInt(pool.size)))
      }
    }
  }
}
