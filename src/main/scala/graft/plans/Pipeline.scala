package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Idempotent stage runner — the reference's file-existence stage cache
  * (S10: app/main.py:110-123 preprocess, :130-141 embeddings, :177-198
  * index) as a first-class engine component: each stage materializes to
  * parquet once and is skipped (read back) on re-run, so a multi-stage
  * pipeline (clean -> embed -> index -> search) restarts from the last
  * completed stage after a failure.
  *
  * A stage writes to `<root>/<name>/_DONE`-guarded parquet; the done
  * marker (not bare directory existence) is the commit point, so a
  * half-written stage from a crashed run is transparently recomputed.
  * Markers go through the workDir's Hadoop FileSystem — the same
  * filesystem the stage data is written to — so resume works identically
  * on local disk, HDFS, or S3A (java.nio would silently break anything
  * but local paths).
  * At 100 TB each stage boundary is also the natural place to repartition
  * or bucket for the next stage's join keys. */
final class Pipeline(spark: SparkSession, root: String) {

  private def dir(name: String) = s"$root/$name"
  private def doneMarker(name: String) = new Path(s"${dir(name)}/_DONE")
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True if the stage has committed output — under `fingerprint`, the
    * content its done marker was written with. */
  def isDone(name: String, fingerprint: String = ""): Boolean = {
    val m = doneMarker(name)
    val f = fs(m)
    f.exists(m) && {
      val in = f.open(m)
      try new String(in.readAllBytes(), UTF_8) == fingerprint finally in.close()
    }
  }

  private def commit(name: String, fingerprint: String): Unit = {
    val m = doneMarker(name)
    val out = fs(m).create(m, true)
    try out.write(fingerprint.getBytes(UTF_8)) finally out.close()
  }

  /** Run (or skip) a stage: returns the materialized stage output.
    * `fingerprint` names the parameters the output depends on beyond its
    * inputs (stage 4's threshold, say). It is the done marker's content,
    * so a committed stage whose fingerprint differs is recomputed, never
    * served for the new parameters. */
  def stage(name: String, fingerprint: String = "")(compute: => DataFrame): DataFrame = {
    if (!isDone(name, fingerprint)) {
      compute.write.mode(SaveMode.Overwrite).parquet(dir(name))
      commit(name, fingerprint)
    }
    spark.read.parquet(dir(name))
  }

  /** Drop a stage's materialization (the M5 "rebuild the index" path). */
  def invalidate(name: String): Unit = {
    val m = doneMarker(name)
    val f = fs(m)
    if (f.exists(m)) f.delete(m, false)
    // a stage about to be recomputed must not serve stale cached stats
    // to planner-style consumers (JobPipeline stage 4 routing)
    TableStats.invalidate(dir(name))
  }

  /** Catalog table name for a bucketed stage — root-scoped so two
    * pipelines with different workDirs never collide in the catalog. */
  def bucketedTableName(name: String): String =
    s"graft_${name}_${Integer.toHexString(root.hashCode)}"

  /** Stage variant materialized as a table BUCKETED by `key` (external,
    * data at the stage dir): the "shuffle once at ingest, never per
    * query" layout — every downstream equi-join on `key` reads this side
    * with zero Exchange (asserted by JobPipelineSpec/BucketingSpec).
    * Bucket metadata lives in the session catalog, and the commit
    * marker records it (`key=…,n=…`). A fresh session that finds a
    * matching marker but no catalog entry re-registers the committed
    * files with their footer schema: DDL, no rewrite. A marker written
    * for another layout (or none) rewrites the stage from its (already
    * materialized) inputs. */
  def stageBucketed(name: String, key: String, buckets: Int)
      (compute: => DataFrame): DataFrame = {
    val table = bucketedTableName(name)
    val layout = s"key=$key,n=$buckets"
    if (!isDone(name, layout)) {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // the _DONE marker is underscore-prefixed, so parquet readers treat
      // it as hidden metadata and the table dir stays self-contained
      compute.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .option("path", dir(name)).format("parquet").saveAsTable(table)
      commit(name, layout)
    } else if (!spark.catalog.tableExists(table)) {
      // Spark's DDL takes a bucket clause only with a column list
      val schema = spark.read.parquet(dir(name)).schema.toDDL
      spark.sql(s"""CREATE TABLE $table ($schema) USING parquet
        CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
        LOCATION '${dir(name)}'""")
    }
    spark.table(table)
  }
}
