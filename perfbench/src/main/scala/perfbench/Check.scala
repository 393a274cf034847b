package perfbench

import java.io.File
import java.math.RoundingMode
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Output check of one `JobPipeline.run`, made after the timed region.
  * Every violation is a message; a run with any message counts as failed.
  *
  * The oracle is a brute-force all-pairs cosine over the run's committed
  * `s3_index` vectors in plain JVM code (not the engine's `cosineFast`),
  * with the same arithmetic (products summed in order,
  * dot / sqrt(|a|²·|b|²)) and Spark's HALF_UP 4-dp rounding. */
object Check {

  /** `indexRows`: vectors in the run's committed `s3_index`. */
  final case class Result(errors: Seq[String], pairs: Int, indexRows: Int,
      truthFound: Int, truthTotal: Int) {
    def recall: Double = if (truthTotal == 0) 1.0 else truthFound.toDouble / truthTotal
  }

  private final case class Pair(id1: Long, id2: Long, sim: Double)

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, RoundingMode.HALF_UP).doubleValue

  /** CSV rows in file order: Spark writes a range-partitioned sort as
    * part files in partition order, each with its own header. */
  private def readCsv(dir: String): Seq[Pair] = {
    val parts = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName)
    parts.toSeq.flatMap { f =>
      Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty)
        .filterNot(_ == "id1,id2,sim").map { l =>
          val c = l.split(',')
          Pair(c(0).toLong, c(1).toLong, c(2).toDouble)
        }
    }
  }

  def verify(spark: SparkSession, workDir: String, threshold: Double,
      truth: Set[(Long, Long)]): Result = {
    val err = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (err.size < 20) err += msg

    val csv = readCsv(s"$workDir/similarity_results_csv")
    val committed = spark.read.parquet(s"$workDir/s4_pairs").collect()
      .map(r => Pair(r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // pair-relation invariants, on the CSV in its written order
    if (csv.size != committed.size) fail(s"CSV rows ${csv.size} != committed pairs ${committed.size}")
    if (csv.toSet != committed) fail("CSV rows differ from committed s4_pairs")
    if (csv.map(p => (p.id1, p.id2)).distinct.size != csv.size) fail("duplicate pairs")
    csv.foreach { p =>
      if (p.id1 >= p.id2) fail(s"id1 >= id2: $p")
      if (p.sim < threshold) fail(s"sim below threshold: $p")
      if (round4(p.sim) != p.sim) fail(s"sim not rounded to 4 dp: $p")
    }
    csv.sliding(2).foreach {
      case Seq(a, b) =>
        val ordered = a.sim > b.sim || (a.sim == b.sim &&
          (a.id1 < b.id1 || (a.id1 == b.id1 && a.id2 < b.id2)))
        if (!ordered) fail(s"sort order broken: $a before $b")
      case _ => ()
    }

    // detail docs name the strongest and the weakest pair
    def doc(name: String) = Files.readString(Paths.get(s"$workDir/$name"))
    if (csv.isEmpty) {
      Seq("top_pair_detail.md", "bottom_pair_detail.md").foreach { d =>
        if (!doc(d).contains("No pairs above threshold")) fail(s"$d: expected the empty note")
      }
    } else {
      val top = csv.head
      val bottom = csv.minBy(p => (p.sim, p.id1, p.id2))
      if (!doc("top_pair_detail.md").contains(s"**Pair:** ${top.id1} <-> ${top.id2}"))
        fail(s"top detail doc does not name $top")
      if (!doc("bottom_pair_detail.md").contains(s"**Pair:** ${bottom.id1} <-> ${bottom.id2}"))
        fail(s"bottom detail doc does not name $bottom")
    }
    if (!new File(s"$workDir/sample_pairs.md").isFile) fail("sample_pairs.md missing")

    // oracle: brute force over the committed stage-3 vectors
    val vecs = spark.read.parquet(s"$workDir/s3_index").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val ids = vecs.map(_._1); val vs = vecs.map(_._2)
    val sq = vs.map { v => var s = 0.0; var i = 0; while (i < v.length) { s += v(i) * v(i); i += 1 }; s }
    def cos(i: Int, j: Int): Double = {
      val (a, b) = (vs(i), vs(j)); val n = math.min(a.length, b.length)
      var d = 0.0; var k = 0
      while (k < n) { d += a(k) * b(k); k += 1 }
      if (sq(i) == 0.0 || sq(j) == 0.0) 0.0 else d / math.sqrt(sq(i) * sq(j))
    }
    val index = ids.zipWithIndex.toMap
    // a cosine this close to a rounding boundary may round either way
    // between two summation orders; such pairs are not held against a run
    def ambiguous(c: Double) = {
      val scaled = c * 1e4; math.abs(scaled - math.floor(scaled) - 0.5) < 1e-6
    }
    committed.foreach { p =>
      (index.get(p.id1), index.get(p.id2)) match {
        case (Some(i), Some(j)) =>
          val c = cos(i, j)
          if (round4(c) != p.sim && !ambiguous(c)) fail(s"sim ${p.sim} != oracle ${round4(c)} for $p")
        case _ => fail(s"pair names an id missing from s3_index: $p")
      }
    }
    val got = committed.map(p => (p.id1, p.id2))
    val n = vs.length
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[((Long, Long), Boolean)]()
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      var j = i + 1
      while (j < n) {
        val c = cos(i, j)
        if (c >= threshold - 1e-4 && round4(c) >= threshold) hits.add((ids(i), ids(j)) -> ambiguous(c))
        j += 1
      }
    }
    val found = hits.asScala.toSeq
    val expected = found.map(_._1).toSet
    val soft = found.filter(_._2).map(_._1).toSet
    val missing = expected -- got -- soft
    val extra = got -- expected -- soft
    if (missing.nonEmpty) fail(s"${missing.size} oracle pairs missing, e.g. ${missing.take(3)}")
    if (extra.nonEmpty) fail(s"${extra.size} pairs not in the oracle, e.g. ${extra.take(3)}")
    Result(err.toList, committed.size, vs.length, (got intersect truth).size, truth.size)
  }
}
