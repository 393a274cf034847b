package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{HashingTF, IDF, Normalizer, RegexTokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Embedding, ModelStore}
import graft.functions.VectorKernels._

/** M1 embedding-stage contract (no SQL oracle possible — murmur3 feature
  * hashing — so the guarantees live here). The reference for the native
  * kernel is MLlib's RegexTokenizer -> HashingTF -> IDF -> Normalizer
  * chain, which exists only here. */
class EmbeddingSpec extends SparkSpec {

  private def mllibEmbed(docs: DataFrame, dim: Int): DataFrame =
    new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol("text").setOutputCol("toks")
        .setPattern("\\s+").setToLowercase(true),
      new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(dim),
      new IDF().setInputCol("tf").setOutputCol("tfidf"),
      new Normalizer().setInputCol("tfidf").setOutputCol("emb").setP(2.0)))
      .fit(docs).transform(docs)
      .select(col("doc_id"), vector_to_array(col("emb")).as("embedding"))

  private def withDim[T](dim: Int)(body: => T): T = {
    spark.conf.set("spark.graft.embedding.dim", dim.toString)
    try body finally spark.conf.unset("spark.graft.embedding.dim")
  }

  /** doc_id -> raw bits of every element. */
  private def bits(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap

  private def assertBitwiseMllib(docs: DataFrame, dim: Int, what: String): Map[Long, Seq[Long]] = {
    val got = withDim(dim)(bits(Embedding.embedDocs(docs)))
    val want = bits(mllibEmbed(docs, dim))
    assert(got.keySet == want.keySet, s"$what dim=$dim: doc ids differ")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"$what dim=$dim doc $id: ${got(id).take(8)} != ${w.take(8)}")
    }
    got
  }

  private def docsOf(texts: String*): DataFrame = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private val edgeTexts = Seq(
    "alpha\tbeta\ngamma\u000Bdelta\fepsilon\rzeta",
    "   leading and trailing whitespace   ",
    "\t\n mixed \r\n\u000B\f runs\t\t of\n\nwhitespace \r",
    "",
    " \t\n\u000B\f\r ",
    "ÉCOLE Straße ΣΟΦΙΑ naïve 日本語 テキスト 😀 İstanbul ǅ",
    "ÀÉÎÕÜ àéîõü ÀÉÎÕÜ Ωmega ωMEGA",
    "nbsp\u00A0joins file\u001Csep HELLO Hello hello",
    "alpha beta alpha beta alpha gamma")

  test("the native kernel equals MLlib's chain bit for bit on sfTiny, dims 1/7/64/384") {
    val docs = Tables.documents(spark, sfTiny).select(col("doc_id"), col("text"))
    Seq(1, 7, 64, 384).foreach(d => assertBitwiseMllib(docs, d, "sfTiny"))
  }

  test("the native kernel equals MLlib's chain on whitespace, case and UTF-8 edge texts") {
    Seq(1, 7, 64, 384).foreach { d =>
      val got = assertBitwiseMllib(docsOf(edgeTexts: _*), d, "edge texts")
      // the empty and the all-whitespace text have no tokens
      Seq(3L, 4L).foreach(id => assert(got(id).forall(_ == 0L), s"doc $id not zero at dim=$d"))
    }
  }

  test("a token in every document has idf 0; a document of only that token embeds as zero") {
    val docs = docsOf("shared x", "shared y z", "shared", "SHARED shared x")
    val got = assertBitwiseMllib(docs, 384, "shared token")
    assert(got(2L).forall(_ == 0L), "idf-0 token left a non-zero vector")
    assert(got(0L).exists(_ != 0L))
  }

  test("null text embeds as the zero vector and fits as an empty document") {
    val s = spark
    import s.implicits._
    val texts = Seq[Option[String]](Some("alpha beta"), None, Some("beta gamma"), Some("gamma"))
    val withNull = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
    val withEmpty = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.getOrElse("")) }
      .toDF("doc_id", "text")
    val got = withDim(64)(bits(Embedding.embedDocs(withNull)))
    assert(got(1L).length == 64 && got(1L).forall(_ == 0L))
    assert(got == withDim(64)(bits(Embedding.embedDocs(withEmpty))),
      "null text must weigh in the fit as the empty string does")
  }

  test("embeddings are unit-norm, fixed-dim, deterministic") {
    val e1 = Embedding.embed(spark, sfTiny).collect().sortBy(_.getLong(0))
    assert(e1.nonEmpty)
    e1.foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length == GraftConf.embeddingDim(spark))
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-6 || norm == 0.0, s"doc ${r.getLong(0)}")
    }
    val e2 = Embedding.embed(spark, sfTiny).collect().sortBy(_.getLong(0))
    e1.zip(e2).foreach { case (a, b) =>
      assert(a.getSeq[Double](1) == b.getSeq[Double](1), "non-deterministic")
    }
  }

  test("embedding model is fit once per (session, dataset, dim)") {
    Embedding.clearCaches()
    val c0 = Embedding.fitCount.get()
    Embedding.embed(spark, sfTiny).count()
    Embedding.embed(spark, sfTiny).count()
    assert(Embedding.fitCount.get() == c0 + 1,
      "second embed() call re-fit the pipeline instead of using the session cache")
  }

  test("embedding model persists under index.dir and is loaded, not refit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embed_index").toString
    spark.conf.set("spark.graft.index.dir", dir)
    Embedding.clearCaches()
    try {
      Embedding.embed(spark, sfTiny).count() // fit + save
      Embedding.clearCaches() // "new JVM": only the on-disk artifact remains
      val c0 = Embedding.fitCount.get()
      val rows = Embedding.embed(spark, sfTiny).count() // must load
      assert(rows > 0)
      assert(Embedding.fitCount.get() == c0,
        "artifact present but the model was refit")
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      Embedding.clearCaches()
    }
  }

  test("a stray legacy embed_pipeline dir is ignored; a torn artifact is refit, never served") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embed_legacy").toString
    spark.conf.set("spark.graft.index.dir", dir)
    Embedding.clearCaches()
    try {
      val dim = GraftConf.embeddingDim(spark)
      def put(kind: String, rel: String, bytes: Array[Byte]): Unit = {
        val p = java.nio.file.Paths.get(
          ModelStore.artifactPath(spark, kind, sfTiny, s"dim=$dim").get, rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, bytes)
      }
      // what the MLlib form left behind: a PipelineModel dir, here junk
      put("embed_pipeline", "metadata/part-00000", "{not a model".getBytes("UTF-8"))
      // a torn write of the current artifact
      put("embed_idf", "", Array[Byte](0, 3, 'g', 'r'))
      val want = bits(mllibEmbed(
        Tables.documents(spark, sfTiny).select(col("doc_id"), col("text")), dim))
      val c0 = Embedding.fitCount.get()
      assert(bits(Embedding.embed(spark, sfTiny)) == want)
      assert(Embedding.fitCount.get() == c0 + 1, "a torn artifact was served")
      Embedding.clearCaches() // "new JVM": the rewritten artifact loads
      assert(bits(Embedding.embed(spark, sfTiny)) == want)
      assert(Embedding.fitCount.get() == c0 + 1, "the rewritten artifact did not load")
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      Embedding.clearCaches()
    }
  }

  test("word2vec backend: fixed dim, deterministic under a seed") {
    val a = Embedding.embedWord2Vec(spark, sfTiny).collect().sortBy(_.getLong(0))
    assert(a.nonEmpty && a.forall(_.getSeq[Double](1).length == GraftConf.embeddingDim(spark)))
    val b = Embedding.embedWord2Vec(spark, sfTiny).collect().sortBy(_.getLong(0))
    a.zip(b).foreach { case (x, y) =>
      assert(x.getSeq[Double](1) == y.getSeq[Double](1))
    }
  }

  test("approx aggregates track exact within tolerance (at-scale A4/A6 path)") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sfTiny)
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact_d"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_d"),
      expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_med"))
      .head()
    val (ed, ad) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(ad - ed) / ed < 0.05, s"HLL off: $ad vs $ed")
    assert(math.abs(r.getDouble(3) - r.getDouble(2)) / r.getDouble(2) < 0.01)
  }

  test("a document embeds closer to itself-with-noise than to others") {
    // near-dup pair: doc text vs doc text + one extra token, via a self
    // union — their embeddings must be more similar than the corpus mean
    val docs = Tables.documents(spark, sfTiny).select(col("doc_id"), col("text"))
    val emb = Embedding.embed(spark, sfTiny)
    val pairs = emb.select(col("doc_id").as("a"), col("embedding").as("va"))
      .join(emb.select(col("doc_id").as("b"), col("embedding").as("vb")), col("a") < col("b"))
      .select(cosineFast(col("va"), col("vb")).as("sim"))
      .agg(avg(col("sim"))).head().getDouble(0)
    // corpus of shared-vocabulary docs: mean pairwise sim well below 1
    assert(pairs < 0.95, s"mean pairwise sim $pairs suspiciously high")
  }

  // ------------------------------------------------------------------
  // q220/q221 integer-exact PCA
  // ------------------------------------------------------------------

  test("pca: integer power iteration tracks the float reference and is deterministic") {
    val cov = Embedding.embeddingCovariance(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val dDim = cov.map(_._1).max + 1
    // covariance is symmetric and PSD-diagonal (S_ii >= 0) by construction
    val m = Array.ofDim[Long](dDim, dDim)
    cov.foreach { case (i, j, v) => m(i)(j) = v }
    for (i <- 0 until dDim) {
      assert(m(i)(i) >= 0, s"negative variance at $i")
      for (j <- 0 until dDim)
        assert(m(i)(j) == m(j)(i), s"asymmetric at ($i,$j)")
    }
    // float reference: the same power iteration in doubles
    val md = m.map(_.map(_.toDouble))
    var xr = Array.fill(dDim)(1.0)
    for (_ <- 1 to 8) {
      val y = Array.tabulate(dDim)(i =>
        (0 until dDim).map(j => md(i)(j) * xr(j)).sum)
      val nrm = math.sqrt(y.map(v => v * v).sum)
      xr = y.map(_ / nrm)
    }
    val xi = Embedding.pcaPowerLocal(cov, 8).map(_.toDouble)
    val cos = math.abs(
      xi.zip(xr).map { case (a, b) => a * b }.sum /
        (math.sqrt(xi.map(v => v * v).sum) * math.sqrt(xr.map(v => v * v).sum)))
    assert(cos >= 0.999, s"integer loading diverged from float reference: cos $cos")
    // the registered frame is deterministic and diag-consistent
    val out = Embedding.embeddingPca(spark, sfTiny, iters = 8).collect()
    assert(out.length == dDim)
    out.foreach { r =>
      assert(r.getLong(1) == m(r.getInt(0))(r.getInt(0)), "diag mismatch")
    }
    val again = Embedding.embeddingPca(spark, sfTiny, iters = 8).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)),
      "pca must be deterministic")
  }

  test("pca projection equals the per-vector dot with the loading") {
    val load = Embedding.embeddingPca(spark, sfTiny, iters = 8).collect()
      .map(r => (r.getInt(0), r.getLong(2))).sortBy(_._1).map(_._2)
    val scores = Embedding.pcaProjection(spark, sfTiny, iters = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val vecs = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding")).collect()
    assert(vecs.nonEmpty)
    vecs.foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1)
      val expect = v.zipWithIndex.map { case (f, i) =>
        math.round(f.toDouble * 1000) * load(i)
      }.sum
      assert(scores(id) == expect, s"vec $id: ${scores(id)} != $expect")
    }
  }
}
