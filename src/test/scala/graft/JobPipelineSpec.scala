package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.operators.Embedding

/** End-to-end composed pipeline (the reference's main.py equivalent). */
class JobPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("full pipeline runs, produces canonical thresholded pairs + sinks, resumes from cache") {
    val work = Files.createTempDirectory("graft_jobpipe_spec").toString
    val t0 = System.nanoTime()
    val pairs = JobPipeline.run(spark, sfTiny, work, threshold = 0.5).collect()
    val coldS = (System.nanoTime() - t0) / 1e9

    // pair relation contract
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.5))

    // sinks exist
    assert(new java.io.File(s"$work/similarity_results_csv").exists())
    assert(new java.io.File(s"$work/sample_pairs.md").exists())

    // fetech_jd-style detail docs: the strongest pair's ids appear with
    // their joined (cleaned) document text
    val top = pairs.maxBy(_.getDouble(2))
    val detail = Files.readString(java.nio.file.Paths.get(s"$work/top_pair_detail.md"))
    assert(detail.contains(s"**Pair:** ${top.getLong(0)} <-> ${top.getLong(1)}"))
    val cleanedText = spark.read.parquet(s"$work/s1_preprocess")
      .filter(col("doc_id") === top.getLong(0))
      .select(col("text")).head().getString(0)
    assert(detail.contains(cleanedText.take(80)),
      "detail doc must embed the joined cleaned description")
    assert(new java.io.File(s"$work/bottom_pair_detail.md").exists())

    // all four stages committed
    Seq("s1_preprocess", "s2_embed", "s3_index", "s4_pairs").foreach { st =>
      assert(Files.exists(java.nio.file.Paths.get(s"$work/$st/_DONE")), st)
    }

    // second run resumes from the committed stages and agrees exactly
    val again = JobPipeline.run(spark, sfTiny, work, threshold = 0.5).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)

    // dedup stage actually deduplicates: staged doc count <= input count
    val staged = spark.read.parquet(s"$work/s1_preprocess").count()
    assert(staged <= Tables.documents(spark, sfTiny).count())
    assert(coldS > 0) // smoke for the timer itself
  }

  test("stage-3 index table is bucketed: id-keyed lookups never re-shuffle the corpus side") {
    val work = Files.createTempDirectory("graft_jobpipe_bucket").toString
    val pairs = JobPipeline.run(spark, sfTiny, work, threshold = 0.5)
    val pipe = new plans.Pipeline(spark, work)
    val indexTable = pipe.bucketedTableName("s3_index")
    assert(spark.catalog.tableExists(indexTable), s"$indexTable not in catalog")

    assertBucketedLookup(indexTable, pairs)
  }

  /** The M3 lookup shape: fetch the stored vector for each result id —
    * the join every search/enrichment does against the index at scale —
    * reads the index through a bucketed scan with no Exchange over it. */
  private def assertBucketedLookup(indexTable: String,
      pairs: org.apache.spark.sql.DataFrame): Unit = {
    val resultIds = pairs.select(col("id1").as("doc_id")).distinct()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val lookup = spark.table(indexTable).join(resultIds, Seq("doc_id"))
      val exec = lookup.queryExecution.executedPlan
      val plan = exec.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      // the tiny id side may shuffle to the bucket layout; the corpus
      // side must not: no Exchange anywhere above the bucketed scan
      val shuffleOverCorpus = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.toString.contains("Bucketed: true") => e
      }
      assert(shuffleOverCorpus.isEmpty, s"bucketed index side re-shuffles:\n$plan")
      assert(lookup.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stage 4 routes through LSH above exactPairCutoff with pair recall >= 0.99") {
    val exactWork = Files.createTempDirectory("graft_jobpipe_exact").toString
    val lshWork = Files.createTempDirectory("graft_jobpipe_lsh").toString
    def pairSet(work: String): Set[(Long, Long)] =
      JobPipeline.run(spark, sfTiny, work, threshold = 0.5)
        .select(col("id1"), col("id2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // corpus (500) is far below the default cutoff -> exact branch
    val exact = pairSet(exactWork)
    assert(exact.nonEmpty)
    // cutoff 0 -> every corpus takes the LSH candidate branch
    spark.conf.set("spark.graft.pairs.exactCutoff", "0")
    val lsh = try pairSet(lshWork)
    finally spark.conf.unset("spark.graft.pairs.exactCutoff")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"LSH-path pair recall $recall vs exact (${exact.size})")
    assert((lsh -- exact).isEmpty, "LSH verify stage must not invent pairs")
  }

  test("stage 4 is threshold-aware: a committed s4 at another threshold is recomputed") {
    val work = Files.createTempDirectory("graft_jobpipe_tau").toString
    val fresh = Files.createTempDirectory("graft_jobpipe_tau_fresh").toString
    val loose = pairSet(JobPipeline.run(spark, sfTiny, work, threshold = 0.5))
    val rerun = pairSet(JobPipeline.run(spark, sfTiny, work, threshold = 0.8))
    val want = pairSet(JobPipeline.run(spark, sfTiny, fresh, threshold = 0.8))
    assert(loose.exists(_._3 < 0.8), "fixture has no pair between the two thresholds")
    assert(rerun == want, "s4_pairs committed at 0.5 was served for 0.8")
    // the commit point stays where resume tooling expects it
    val marker = java.nio.file.Paths.get(s"$work/s4_pairs/_DONE")
    assert(Files.readString(marker) == "threshold=0.8")
  }

  /** Executed plans of the SQL executions `body` runs. */
  private def executions(body: => Unit): Seq[QueryExecution] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body finally {
      // a sentinel query's own event marks the end of body's events
      val mark = spark.range(1).toDF("graft_executions_sentinel")
      mark.collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.contains(mark.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      spark.listenerManager.unregister(listener)
    }
    plans.toArray(Array.empty[QueryExecution]).toSeq
  }

  private def writesTo(plans: Seq[QueryExecution], dir: String) =
    plans.filter(qe => find(qe.executedPlan) {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.toString.endsWith(dir)
      case _ => false
    }.isDefined)

  test("stage 4's exact route joins blocks, not pairs: nested-loop rows <= nb(nb+1)/2") {
    val work = Files.createTempDirectory("graft_jobpipe_plan").toString
    var nPairs = 0L
    val s4 = writesTo(
      executions { nPairs = JobPipeline.run(spark, sfTiny, work, threshold = 0.5).count() },
      s"$work/s4_pairs")
    assert(s4.length == 1, s"expected one s4_pairs write, got ${s4.length}")
    val joins = collectWithSubqueries(s4.head.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(joins.length == 1, s"expected one nested-loop join in stage 4:\n${s4.head.executedPlan}")
    val nb = operators.Similarity.exactPairBlocks(spark)
    val rows = joins.head.metrics("numOutputRows").value
    assert(rows > 0 && rows <= nb * (nb + 1) / 2,
      s"stage 4 joined $rows rows; block pairs are at most ${nb * (nb + 1) / 2} (nb=$nb)")
    assert(nPairs > 0)
  }

  /** Spark jobs `body` starts. Listener events arrive in order on one
    * queue, so once a sentinel job's end is seen every job of `body` has
    * been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val group = s"graft-jobs-sentinel-${System.nanoTime()}"
    val listener = new SparkListener {
      private def isSentinel(p: java.util.Properties) =
        p != null && p.getProperty("spark.jobGroup.id") == group
      private val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isSentinel(e.properties)) sentinelJobs.add(e.jobId) else started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) sentinelDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(group, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  private def embeddingBits(dir: String): Map[Long, Seq[Long]] =
    spark.read.parquet(dir).collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap

  /** What a fresh JVM starts without: fitted models and fingerprints. */
  private def newJvm(): Unit = { Embedding.clearCaches(); operators.Ann.clearCaches() }

  test("a corpus regenerated under one sfDir refits the embedding, never loads the old model") {
    val sf = Files.createTempDirectory("graft_jobpipe_regen_sf").toString
    def generate(parity: Int): Unit = Tables.documents(spark, sfTiny)
      .filter(col("doc_id") % 2 === parity)
      .write.mode("overwrite").parquet(s"$sf/documents.parquet")
    def work() = Files.createTempDirectory("graft_jobpipe_regen").toString
    spark.conf.set("spark.graft.index.dir",
      Files.createTempDirectory("graft_jobpipe_regen_store").toString)
    try {
      generate(0); newJvm()
      JobPipeline.run(spark, sf, work(), threshold = 0.5)
      generate(1); newJvm()
      val c0 = Embedding.fitCount.get()
      val regenerated = work()
      JobPipeline.run(spark, sf, regenerated, threshold = 0.5)
      assert(Embedding.fitCount.get() == c0 + 1,
        "the regenerated corpus was embedded with the previous corpus's model")
      spark.conf.set("spark.graft.index.dir",
        Files.createTempDirectory("graft_jobpipe_regen_fresh").toString)
      newJvm()
      val fresh = work()
      JobPipeline.run(spark, sf, fresh, threshold = 0.5)
      assert(embeddingBits(s"$regenerated/s2_embed") == embeddingBits(s"$fresh/s2_embed"))
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      newJvm()
    }
  }

  test("a fresh catalog resumes stage 3 by re-registering its files, with no write") {
    val work = Files.createTempDirectory("graft_jobpipe_resume3").toString
    val first = pairSet(JobPipeline.run(spark, sfTiny, work, threshold = 0.5))
    val table = new plans.Pipeline(spark, work).bucketedTableName("s3_index")
    val s3 = new java.io.File(s"$work/s3_index")
    def files = s3.listFiles().map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = files
    assert(Files.readString(s3.toPath.resolve("_DONE")).startsWith("key=doc_id,n="))
    // what a new session sees: the committed stage, no catalog entry
    // (the table is external, so DROP keeps its files) and no stage 4
    spark.sql(s"DROP TABLE $table")
    Files.delete(java.nio.file.Paths.get(s"$work/s4_pairs/_DONE"))
    var again: org.apache.spark.sql.DataFrame = null
    val qes = executions { again = JobPipeline.run(spark, sfTiny, work, threshold = 0.5) }
    assert(writesTo(qes, s"$work/s3_index").isEmpty, "stage 3 was rewritten")
    assert(files == before, "stage 3's files changed")
    assert(pairSet(again) == first)
    assert(spark.catalog.tableExists(table))
    assertBucketedLookup(table, again)
    // stage 4 reads the re-registered table by the same route as cold
    val s4 = writesTo(qes, s"$work/s4_pairs")
    assert(s4.length == 1 && collectWithSubqueries(s4.head.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.length == 1, "stage 4 over the re-registered table left the broadcast block join")
  }

  test("stage 2 runs a fit job and a write job cold, the write alone once loaded; saving runs none") {
    val work = Files.createTempDirectory("graft_jobpipe_s2jobs").toString
    JobPipeline.run(spark, sfTiny, work, threshold = 0.5)
    val clean = spark.read.parquet(s"$work/s1_preprocess")
    val store = Files.createTempDirectory("graft_jobpipe_s2store").toString
    def embedTo(out: String): Unit = Embedding.embedDocs(clean, Some((sfTiny, "s1_preprocess")))
      .write.parquet(s"$work/$out")
    spark.conf.set("spark.graft.index.dir", store)
    try {
      newJvm()
      val c0 = Embedding.fitCount.get()
      // cold, model persisted: the fit's one job, the write's one job,
      // and no job for the save
      assert(jobsDuring(embedTo("cold")) == 2)
      assert(Embedding.fitCount.get() == c0 + 1)
      // (Hadoop's local filesystem adds a hidden .crc beside each file)
      val saved = Files.walk(java.nio.file.Paths.get(store)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toList
      assert(saved.length == 1 && saved.head.toString.contains("/embed_idf/"),
        s"expected one artifact file, got $saved")
      newJvm()
      assert(jobsDuring(embedTo("loaded")) == 1)
      assert(Embedding.fitCount.get() == c0 + 1, "the persisted model was refit")
      val cold = embeddingBits(s"$work/cold")
      assert(cold == embeddingBits(s"$work/s2_embed") && cold == embeddingBits(s"$work/loaded"))
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      newJvm()
    }
  }
}
