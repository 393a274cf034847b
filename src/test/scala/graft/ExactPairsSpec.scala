package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.VectorKernels.cosineFast
import graft.operators.Similarity

/** Kernel equivalence for the block-join exact pair operator
  * (Similarity.exactPairs): against the row-level nested-loop join it
  * replaced, one joined row per pair scored by `cosineFast`, it must
  * return the identical (id1, id2, sim) multiset, bit for bit, under
  * both callers' semantics (stage 4: round then filter; nearDupPairs:
  * filter raw cos then round), whatever the block count and the shuffle
  * partition count. */
class ExactPairsSpec extends SparkSpec {

  /** The replaced plan, kept as the reference: one row per pair. */
  private def rowJoin(df: DataFrame): DataFrame = {
    val a = df.select(col("id").as("id1"), col("v").as("v1"))
    val b = df.select(col("id").as("id2"), col("v").as("v2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosineFast(col("v1"), col("v2")).as("cos"))
  }

  private def roundThenFilter(scored: DataFrame, t: Double): DataFrame =
    scored.select(col("id1"), col("id2"), round(col("cos"), 4).as("sim"))
      .filter(col("sim") >= t)

  private def filterThenRound(scored: DataFrame, t: Double): DataFrame =
    scored.filter(col("cos") >= t)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("sim"))

  /** Sorted rows with each sim as its IEEE bits (doubleToLongBits: one
    * canonical NaN, and 0.0 distinct from -0.0), so equality is bitwise. */
  private def multiset(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map((r: Row) => (r.get(0).toString.toLong, r.get(1).toString.toLong,
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).sorted

  private def floats(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("id", "v")
  }

  private def doubles(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "v")
  }

  /** Seeded vectors: random directions plus planted near-copies (so
    * high sims exist), with zero vectors mixed in. */
  private def corpus(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    val base = Array.fill(math.max(1, n / 3))(Array.fill(dim)(rnd.nextGaussian()))
    (0 until n).map { i =>
      val v =
        if (i % 11 == 7) Array.fill(dim)(0.0)
        else if (i % 2 == 0) base(i % base.length).map(_ + 0.15 * rnd.nextGaussian())
        else Array.fill(dim)(rnd.nextGaussian())
      (rnd.nextInt(1000000).toLong * 64 + i, v)
    }
  }

  /** Pairs whose cosines straddle 4-dp HALF_UP boundaries around τ:
    * (1, 0) against (c, √(1 − c²)) for c a hair either side of
    * 0.89995, 0.90000 and 0.90005. */
  private val boundary: Seq[(Long, Array[Double])] = {
    val cs = Seq(0.89995, 0.9, 0.90005, 0.8999, 0.9001).flatMap(c =>
      Seq(c, Math.nextUp(c), Math.nextDown(c), c + 1e-12, c - 1e-12))
    (1L, Array(1.0, 0.0)) +: cs.zipWithIndex.map { case (c, i) =>
      (100L + i, Array(c, math.sqrt(1 - c * c)))
    }
  }

  private def rawAbove(scored: DataFrame, t: Double): DataFrame = scored.filter(col("cos") >= t)

  private def check(name: String, df: DataFrame, t: Double, nbs: Seq[Int] = Seq(1, 4, 7)): Unit = {
    val ref = rowJoin(df)
    val want = Seq(roundThenFilter(ref, t), filterThenRound(ref, t), rawAbove(ref, t)).map(multiset)
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    try {
      for (parts <- Seq("3", "17"); nb <- nbs) {
        spark.conf.set(key, parts)
        val got = Similarity.exactPairs(df.toDF(), "id", "v", t, nb)
        assert(multiset(roundThenFilter(got, t)) == want(0),
          s"$name: round-then-filter differs (nb=$nb, partitions=$parts)")
        assert(multiset(filterThenRound(got, t)) == want(1),
          s"$name: filter-then-round differs (nb=$nb, partitions=$parts)")
        assert(multiset(rawAbove(got, t)) == want(2),
          s"$name: unrounded cosines differ (nb=$nb, partitions=$parts)")
      }
    } finally spark.conf.set(key, orig)
  }

  test("identical (id1, id2, sim) multisets for N in {0, 1, 2, 5, 4k+3}, float and double") {
    for (n <- Seq(0, 1, 2, 5, 4 * 13 + 3); (mk, tag) <- Seq((floats _, "float"), (doubles _, "double"))) {
      val rows = corpus(n, dim = 24, seed = 17L + n)
      check(s"N=$n $tag", mk(rows), t = 0.5)
    }
  }

  test("uneven blocks: many more blocks than rows, one block, an even block count") {
    val rows = corpus(4 * 9 + 3, dim = 10, seed = 5)
    check("uneven", doubles(rows), t = 0.4, nbs = Seq(1, 2, 6, 64))
    // the hash split really is uneven at nb = 6
    val sizes = doubles(rows).groupBy(pmod(xxhash64(col("id")), lit(6L))).count()
      .collect().map(_.getLong(1))
    assert(sizes.max > sizes.min, s"blocks came out even: ${sizes.toSeq}")
  }

  test("sims straddling a 4-dp HALF_UP boundary keep their rounding under both semantics") {
    val df = doubles(boundary)
    val ref = multiset(roundThenFilter(rowJoin(df), 0.9))
    // the fixture must put pairs on both sides of the rounding boundary
    val raw = rowJoin(df).filter(col("id1") === 1L).collect().map(_.getDouble(2))
    assert(raw.exists(c => c < 0.9 && c >= 0.89995 - 1e-9) && raw.exists(_ < 0.89995),
      s"fixture does not straddle the boundary: ${raw.sorted.toSeq}")
    // and the rounding must admit pairs a raw-cos filter drops
    assert(ref.size > multiset(filterThenRound(rowJoin(df), 0.9)).size)
    check("boundary", df, t = 0.9)
    check("boundary floats", floats(boundary), t = 0.9)
  }

  test("ragged rows, zero vectors, NaN, null vectors and null elements score exactly as the row join") {
    val s = spark
    import s.implicits._
    val nan = Double.NaN
    val df = Seq[(java.lang.Long, Array[Double])](
      (1L, Array(1.0, 2.0, 3.0)), (2L, Array(1.0, 2.0)), (3L, Array(1.0, 2.0, 3.0, 4.0)),
      (4L, Array(0.0, 0.0, 0.0)), (5L, Array.empty[Double]), (6L, Array(nan, 1.0, 1.0)),
      (7L, null), (null, Array(1.0, 2.0, 3.0)), (8L, Array(1.0, 2.0, 3.1)),
      (8L, Array(1.0, 2.0, 3.0)), (9L, Array(2.0, 4.0, 6.0)))
      .toDF("id", "v")
    check("ragged", df, t = 0.5)
    check("ragged, negative threshold", df, t = -1.0)
    // null elements count as 0, as in cosineFast
    val holes = spark.sql("""SELECT * FROM VALUES
      (1L, array(1.0D, CAST(NULL AS DOUBLE), 2.0D)), (2L, array(1.0D, 0.0D, 2.0D)),
      (3L, array(CAST(NULL AS DOUBLE), 1.0D, 1.0D)), (4L, array(0.5D, 1.0D, 1.0D)) AS t(id, v)""")
    check("null elements", holes, t = -1.0)
    // seeded rows of random lengths, so four-row tiles end in ragged tails
    val rnd = new scala.util.Random(29)
    val mixed = (0 until 43).map(i =>
      (i.toLong, Array.fill(rnd.nextInt(13))(rnd.nextGaussian())))
    check("ragged random", doubles(mixed), t = 0.2)
  }

  test("vectors over the broadcast threshold join blocks without a broadcast, same multiset") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = doubles(corpus(31, dim = 12, seed = 11))
      val plan = Similarity.exactPairs(df, "id", "v", 0.4, 5).queryExecution.executedPlan.toString
      assert(plan.contains("CartesianProduct") && !plan.contains("Broadcast"),
        s"the blocks were broadcast over the threshold:\n$plan")
      check("no broadcast", df, t = 0.4)
    } finally spark.conf.set(key, orig)
  }

  test("integer ids keep their type") {
    val df = doubles(corpus(23, dim = 8, seed = 3)).select(col("id").cast("int").as("id"), col("v"))
    val out = Similarity.exactPairs(df, "id", "v", 0.3)
    assert(out.schema("id1").dataType == org.apache.spark.sql.types.IntegerType)
    check("int ids", df, t = 0.3)
  }
}
