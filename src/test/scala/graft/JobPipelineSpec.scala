package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

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

    // the M3 lookup shape: fetch the stored vector for each result id —
    // the join every search/enrichment does against the index at scale
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

  private def s4Writes(plans: java.util.Collection[QueryExecution], work: String) =
    plans.toArray(Array.empty[QueryExecution]).filter(qe => find(qe.executedPlan) {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.toString.endsWith(s"$work/s4_pairs")
      case _ => false
    }.isDefined)

  test("stage 4's exact route joins blocks, not pairs: nested-loop rows <= nb(nb+1)/2") {
    val work = Files.createTempDirectory("graft_jobpipe_plan").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val nPairs = try JobPipeline.run(spark, sfTiny, work, threshold = 0.5).count()
    finally {
      // listener events arrive on the bus thread; wait for the s4 write
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (s4Writes(plans, work).isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      spark.listenerManager.unregister(listener)
    }
    val s4 = s4Writes(plans, work)
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
}
