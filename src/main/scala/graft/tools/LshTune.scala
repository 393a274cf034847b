package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: LSH bucketLength sweep — time + recall at a given sf. */
object LshTune {
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
    for (nt <- Seq(5, 8, 12); bl <- Seq(1.0, 0.5, 0.25, 0.1)) {
      val t0 = System.nanoTime()
      val ann = graft.operators.Ann.lshNearDupTuned(spark, sfDir, 0.35, bl, nt)
        .select(col("id1"), col("id2"))
      val found = exact.join(ann, Seq("id1", "id2")).count()
      val cand = graft.operators.Ann
        .lshNearDupTuned(spark, sfDir, -1.0, bl, nt).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[lshtune] numTables=$nt%2d bucketLength=$bl%.2f " +
        f"recall=${found.toDouble / total}%.3f candidates=$cand%d time=$dt%.1fs")
    }
    spark.stop()
  }
}
