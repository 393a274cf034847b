package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: multi-probe LSH sweep — recall / verified-candidate volume /
  * time across (probeTables × probes), against the same exact pair set
  * LshTune uses. probes=0 rows are the single-probe baseline at the same
  * table count, so each row isolates what the adjacent-bucket probing
  * buys at fixed index size. */
object MpLshTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exact = graft.operators.Similarity
      .nearDupPairs(spark, sfDir, 0.35)
      .select(col("id1"), col("id2")).cache()
    val total = exact.count()
    def run(nt: Int, pr: Int, threshold: Double) =
      if (pr == 0) graft.operators.Ann.lshNearDupTuned(spark, sfDir, threshold, 0.25, nt)
      else graft.operators.Ann.lshMultiProbeNearDup(spark, sfDir, threshold, 0.25, nt, pr)
    for (nt <- Seq(2, 3, 4); pr <- Seq(0, 1, 2)) {
      // one pipeline execution per config, timed alone: run at threshold
      // -1.0 (all verified candidate pairs), then derive both the
      // candidate count and the >= 0.35 recall from the cached result —
      // timing a second full run or the exact-side join would misrank
      // configs on time
      val cand = run(nt, pr, -1.0).select(col("id1"), col("id2"), col("sim")).cache()
      val t0 = System.nanoTime()
      val candN = cand.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val ann = cand.filter(col("sim") >= 0.35).select(col("id1"), col("id2"))
      val found = exact.join(ann, Seq("id1", "id2")).count()
      cand.unpersist()
      println(f"[mplshtune] tables=$nt%2d probes=$pr%d " +
        f"recall=${found.toDouble / total}%.3f candidates=$candN%d time=$dt%.1fs")
    }
    spark.stop()
  }
}
