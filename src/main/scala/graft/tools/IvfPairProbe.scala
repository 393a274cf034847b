package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: IVF pair-search recall/candidate sweep over nprobe. */
object IvfPairProbe {
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
    for (np <- Seq(1, 2, 3, 4, 6)) {
      val t0 = System.nanoTime()
      val ann = graft.operators.Ann.ivfNearDup(spark, sfDir, 0.35, np)
        .select(col("id1"), col("id2"))
      val found = exact.join(ann, Seq("id1", "id2")).count()
      val cand = graft.operators.Ann.ivfNearDup(spark, sfDir, -1.0, np).count()
      println(f"[ivfpair] nprobe=$np recall=${found.toDouble / total}%.3f candidates=$cand time=${(System.nanoTime()-t0)/1e9}%.1fs")
    }
    spark.stop()
  }
}
