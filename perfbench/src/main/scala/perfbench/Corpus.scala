package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded job-post corpus in the `Tables.documents` schema, with the
  * dirt profile of the reference's raw `jobs` input (FIXTURES.md A1):
  * HTML markup, exact duplicates that only differ by markup, case and
  * whitespace, and post lengths fitted to the reference's measured raw
  * lengths. Near-duplicate families (a base post plus lightly edited
  * variants) are planted and returned as the ground truth; the program
  * under test only ever sees the parquet. */
object Corpus {

  final case class Spec(n: Int, exactDupShare: Double, familyShare: Double,
      htmlShare: Double)

  /** `truth`: planted near-dup pairs as (id1 < id2) over the doc ids
    * that survive stage 1's keep-first exact dedup. `rawChars`: median
    * and mean length of the written raw posts. */
  final case class Generated(rows: Int, distinctTexts: Int,
      families: Int, truth: Set[(Long, Long)], rawChars: (Double, Double))

  // the reference's raw post lengths in chars (SURVEY.md §6, notebook
  // cell 15): median 3,350, mean 3,894.7, range 9..35,528 (FIXTURES.md A1)
  private val MedianChars = 3350.0
  private val MeanChars = 3894.7
  private val MinChars = 9
  private val MaxChars = 35528
  // log-normal with that median and mean: mean / median = exp(sigma² / 2)
  private val Sigma = math.sqrt(2 * math.log(MeanChars / MedianChars))
  private val VocabSize = 6000

  // fixed vocabulary: pseudo-words from syllables, Zipf-weighted draws
  private val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val syl = Array("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
      "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "ar",
      "en", "is", "om", "ul", "st", "tr", "pl", "ch")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize)
      seen += (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1, 0.9))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val sections = Array("responsibilities:", "requirements:", "benefits:",
    "about us:", "qualifications:")
  private val tags = Array("<br>", " <br/> ", "</p><p>", " <li>", "</li>\n<li>", "<b> ")
  private val gaps = Array("  ", "\n", "\t", " \n ")
  private val sources = Array("indeed", "linkedin", "glassdoor", "company_site")

  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  /** Target length of a post in chars: the log-normal above, clipped to
    * the reference's range. It bounds the clean text; the markup that
    * `dirty` adds makes the raw post a few percent longer. */
  private def length(r: SplittableRandom): Int = {
    val g = {
      // Box–Muller from the split generator (java.util.Random is not splittable)
      val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    math.max(MinChars, math.min(MaxChars, math.exp(math.log(MedianChars) + Sigma * g).toInt))
  }

  /** A clean post: lowercase words, single-spaced, with section headers. */
  private def post(r: SplittableRandom): Array[String] = {
    val chars = length(r)
    val out = mutable.ArrayBuffer.empty[String]
    var len = -1
    while (len < chars) {
      val w = if (out.nonEmpty && r.nextInt(40) == 0) sections(r.nextInt(sections.length))
        else word(r)
      out += w; len += w.length + 1
    }
    out.toArray
  }

  /** Near-dup variant: ~1% of words substituted, deleted or inserted
    * (at least one edit), so family members stay well above cos 0.9. */
  private def variant(r: SplittableRandom, base: Array[String]): Array[String] = {
    val b = base.toBuffer
    val edits = math.max(1, base.length / 100)
    (0 until edits).foreach { _ =>
      val at = r.nextInt(b.length)
      r.nextInt(3) match {
        case 0 => b(at) = word(r)
        case 1 if b.length > 1 => b.remove(at)
        case _ => b.insert(at, word(r))
      }
    }
    b.toArray
  }

  /** Raw form of a clean post: markup, case and whitespace dirt that
    * stage 1 (tag strip, whitespace collapse, lowercase) removes
    * exactly. Tags only replace or pad the single space between words,
    * so stripping never glues two words together. */
  private def dirty(r: SplittableRandom, words: Array[String], html: Boolean): String = {
    val sb = new StringBuilder
    if (r.nextInt(4) == 0) sb ++= " \n"
    if (html) sb ++= "<div class=\"job\"><p>"
    val upper = r.nextInt(3) == 0
    var i = 0
    while (i < words.length) {
      if (i > 0) {
        if (html && r.nextInt(12) == 0)
          sb ++= tags(r.nextInt(tags.length))
        else if (r.nextInt(15) == 0) sb ++= gaps(r.nextInt(gaps.length))
        else sb += ' '
      }
      val w = words(i)
      sb ++= (if (upper && r.nextInt(5) == 0) w.toUpperCase
        else if (r.nextInt(20) == 0) w.capitalize else w)
      i += 1
    }
    if (html) sb ++= "</p></div>"
    if (r.nextInt(4) == 0) sb ++= "  "
    sb.toString
  }

  /** Generate the corpus for `seed` and write `<dir>/documents.parquet`. */
  def generate(spark: SparkSession, dir: String, seed: Long, spec: Spec): Generated = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val nCopies = math.round(spec.n * spec.exactDupShare).toInt
    val nBase = spec.n - nCopies
    val nFamilyMembers = math.round(spec.n * spec.familyShare).toInt

    // distinct clean texts; family = indices into `texts` sharing a base
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val families = mutable.ArrayBuffer.empty[Seq[Int]]
    var members = 0
    while (members < nFamilyMembers) {
      val size = math.min(2 + r.nextInt(3), math.max(2, nFamilyMembers - members))
      val base = post(r)
      val idx = texts.length
      texts += base
      // an edit can undo itself (a word swapped for the same word); a
      // variant equal to another member would be merged by stage 1's
      // exact dedup and plant a pair no run can return
      val seen = mutable.HashSet(base.mkString(" "))
      while (texts.length < idx + size) {
        val v = variant(r, base)
        if (seen.add(v.mkString(" "))) texts += v
      }
      families += (idx until idx + size)
      members += size
    }
    while (texts.length < nBase) texts += post(r)

    // one row per distinct text, plus exact copies of random texts;
    // doc ids follow a seeded shuffle, so a copy can precede its original
    val rowText = (texts.indices ++ Seq.fill(nCopies)(r.nextInt(texts.length))).toArray
    val perm = rowText.indices.toArray
    var k = perm.length - 1
    while (k > 0) {
      val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t; k -= 1
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val rep = mutable.HashMap.empty[Int, Long] // text -> surviving (min) doc id
    val rows = new java.util.ArrayList[Row](rowText.length)
    val rawLen = new Array[Double](rowText.length)
    perm.indices.foreach { pos =>
      val t = rowText(perm(pos))
      val id = pos + 1L
      rep.update(t, math.min(rep.getOrElse(t, Long.MaxValue), id))
      val raw = dirty(r, texts(t), html = r.nextDouble() < spec.htmlShare)
      rawLen(pos) = raw.length
      rows.add(Row(id, raw, "en", sources(r.nextInt(sources.length)), raw.length.toLong))
    }
    java.util.Arrays.sort(rawLen)
    val truth = families.iterator.flatMap { fam =>
      val ids = fam.map(rep).sorted
      for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator)
        yield (ids(i), ids(j))
    }.toSet
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Generated(rowText.length, texts.length, families.length, truth,
      (rawLen(rawLen.length / 2), rawLen.sum / rawLen.length))
  }
}
