package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{FitTiming, GraftSession, JobPipeline}
import graft.functions.VectorKernels
import graft.operators.{Ann, Embedding}
import graft.plans.TableStats

/** End-to-end benchmark of the reference's batch job, `JobPipeline.run`
  * (preprocess -> embed -> index -> pair search -> CSV + reports), on
  * seeded job-post corpora. See perfbench/README.md for the workloads,
  * metrics and how to run it.
  *
  * usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Prints one `[perfbench]` line per run (with host load before and
  * after), a summary per metric, and as its last line the JSON result.
  * Exits 1 if any run fails its output check. */
object Main {

  val Threshold = 0.9

  /** `resume`: s1–s3 are committed in set-up and every run resumes from
    * a crash in stage 4. Both workloads are built for stage 4's exact
    * route; a run that takes another route fails. */
  final case class Workload(name: String, corpus: Corpus.Spec, resume: Boolean)

  // exact dupes: 9,635 of the reference's 99,986 dated rows (FIXTURES.md A1);
  // markup on every raw post (A1); families: 10%, this benchmark's choice
  private val corpus = Corpus.Spec(n = 2000, exactDupShare = 0.096, familyShare = 0.10,
    htmlShare = 1.0)
  val workloads: Map[String, Workload] = Seq(
    Workload("exact-cold", corpus, resume = false),
    Workload("resume-s4", corpus, resume = true),
  ).map(w => w.name -> w).toMap

  /** Set-up repetitions (corpus generation + committed-stage preparation)
    * whose median goes into `setup_s`. */
  private val SetupReps = 3
  /** Measured runs per call at the least. The first run after the warm-up
    * is typically 5–15% slower than the later ones (the JIT is still
    * compiling); a median of three leaves it out, where the mean of two
    * would not. */
  private val MinRuns = 3
  /** No measured run starts after this much of the process's life, so the
    * process ends inside its 180 s allowance. */
  private val StartBudgetS = 120.0

  final case class Run(wallS: Double, taskCpuS: Double, storedMb: Double,
      heapPeakMb: Double, recall: Double, pairs: Int, errors: Seq[String],
      route: String, fits: Long, jvmGcS: Double, loadBefore: Double,
      loadAfter: Double, attribution: Option[Spans.Attribution], indexRows: Long,
      startMs: Long, endMs: Long) {
    def ok: Boolean = errors.isEmpty
  }

  private def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def layersOf(a: Spans.Attribution): Seq[Spans.Layer] =
    Spans.Layers.map(a.layers)

  /** Highest percentile with at least ten samples beyond it, if any. */
  private def tail(xs: Seq[Double]): String = {
    val s = xs.sorted; val n = s.size
    Seq(99, 95, 90, 75, 50).find(p => n - math.ceil(p / 100.0 * n) >= 10) match {
      case Some(p) => f"p$p=${s(math.ceil(p / 100.0 * n).toInt - 1)}%.4f"
      case None => "no percentile has >= 10 samples beyond it"
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(opts.getOrElse("workload", ""),
      sys.error(s"--workload must be one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val root = new File(opts.getOrElse("work", ".bench_work")).getAbsolutePath
    val runTag = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}"
    val work = s"$root/$runTag"
    deleteTree(work)
    val nproc = Runtime.getRuntime.availableProcessors

    Heap.install()
    var serial = 0
    def freshDir(kind: String): String = { serial += 1; s"$work/$kind-$serial" }

    // ---- set-up: session, warm-up, corpus (+ committed stages) --------
    val tSession = System.nanoTime()
    var spark = GraftSession.local(nproc.toString)
    var tracker = new Tracker(spark.sparkContext, detail = false)
    spark.sparkContext.addSparkListener(tracker)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    def freshState(): Unit = {
      Embedding.clearCaches(); Ann.clearCaches(); TableStats.clear()
      spark.conf.set("spark.graft.index.dir", freshDir("model_store"))
    }

    val corpusDir = s"$work/corpus-${wl.name}-$seed"
    var gen: Corpus.Generated = null
    var resumeDir = ""
    val repS = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      gen = Corpus.generate(spark, corpusDir, seed, wl.corpus)
      if (wl.resume) {
        // commit s1–s3 by crashing a real run at stage 4's first job
        resumeDir = freshDir("resume")
        freshState()
        tracker.crashOn(Some("s4_pairs"))
        try { JobPipeline.run(spark, corpusDir, resumeDir, Threshold); sys.error("crash not injected") }
        catch { case e: Exception if !e.getMessage.contains("crash not injected") => () }
        finally tracker.crashOn(None)
        Seq("s1_preprocess", "s2_embed", "s3_index").foreach { s =>
          require(new File(s"$resumeDir/$s/_DONE").exists, s"set-up did not commit $s")
        }
        require(!new File(s"$resumeDir/s4_pairs/_DONE").exists, "set-up committed s4_pairs")
      }
      (System.nanoTime() - t) / 1e9
    }

    // ---- one run ------------------------------------------------------
    def oneRun(detail: Boolean): Run = {
      val runStart = System.currentTimeMillis()
      val workDir =
        if (wl.resume) {
          // crash emulation: new session (no catalog entry for s3's
          // bucketed table), no in-JVM caches, no s4 marker, no sinks
          spark.stop()
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          spark = GraftSession.local(nproc.toString)
          new File(s"$resumeDir/s4_pairs/_DONE").delete()
          Seq("similarity_results_csv").foreach(d => deleteTree(s"$resumeDir/$d"))
          Seq("sample_pairs.md", "top_pair_detail.md", "bottom_pair_detail.md")
            .foreach(f => new File(s"$resumeDir/$f").delete())
          resumeDir
        } else freshDir("run")
      freshState()
      spark.sparkContext.removeSparkListener(tracker)
      tracker = new Tracker(spark.sparkContext, detail)
      spark.sparkContext.addSparkListener(tracker)
      val fits0 = FitTiming.snapshot.values.map(_._2).sum
      val load0 = loadavg(); val gc0 = gcMs()
      System.gc(); Heap.reset()

      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val outcome = scala.util.Try(JobPipeline.run(spark, corpusDir, workDir, Threshold))
      val wall = (System.nanoTime() - t0) / 1e9; val ms1 = System.currentTimeMillis()

      tracker.drain()
      // everything the run is measured by is read here, before the output
      // check runs Spark jobs of its own
      val cpu = tracker.taskCpuSeconds
      val attribution = if (detail) Some(Spans.attribute(tracker, ms0, ms1)) else None
      val load1 = loadavg()
      val heapMb = Heap.peakBytes / 1e6
      val jvmGcS = (gcMs() - gc0) / 1e3
      val stored = dirBytes(workDir) / 1e6
      val fits = FitTiming.snapshot.values.map(_._2).sum - fits0
      val route = tracker.executions.filter(_.writes.contains("s4_pairs")).flatMap(_.route)
        .distinct.mkString("+")
      val errors = mutable.ArrayBuffer.empty[String]
      outcome.failed.foreach(e => errors += s"JobPipeline.run threw: $e")
      if (outcome.isSuccess && route != "exact")
        errors += s"stage 4 took route '$route', workload is built for 'exact'"
      val check = if (outcome.isSuccess && errors.isEmpty)
        scala.util.Try(Check.verify(spark, workDir, Threshold, gen.truth))
          .fold(e => { errors += s"output check threw: $e"; None }, Some(_))
      else None
      check.foreach(errors ++= _.errors)
      Run(wall, cpu, stored, heapMb,
        check.map(_.recall).getOrElse(0.0), check.map(_.pairs).getOrElse(0), errors.toList,
        route, fits, jvmGcS, load0, load1, attribution,
        check.map(_.indexRows.toLong).getOrElse(0L),
        runStart, System.currentTimeMillis())
    }

    def report(kind: String, i: Int, r: Run): Unit = {
      println(f"[perfbench] run $kind#$i wall_s=${r.wallS}%.4f task_cpu_s=${r.taskCpuS}%.4f " +
        f"stored_mb=${r.storedMb}%.3f heap_peak_mb=${r.heapPeakMb}%.1f pairs=${r.pairs} " +
        f"pair_recall=${r.recall}%.4f route=${r.route} fits=${r.fits} jvm_gc_s=${r.jvmGcS}%.3f " +
        f"nproc=$nproc loadavg=${r.loadBefore}%.2f->${r.loadAfter}%.2f ok=${r.ok}")
      r.errors.foreach(e => println(s"[perfbench]   check failed: $e"))
    }

    // warm-up: one untimed run of the workload itself, so the measured
    // runs see compiled code and a sized heap (a 400-post warm-up corpus
    // left the first measured run ~20% slower than the rest)
    val tWarm = System.nanoTime()
    val warmup = oneRun(detail = false)
    report("warm-up", 1, warmup)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + warmS + median(repS)
    println(f"[perfbench] set-up ${wl.name} seed=$seed: session=$sessionS%.3fs warmup=$warmS%.3fs " +
      s"reps=${repS.map(x => f"$x%.3f").mkString(",")} corpus rows=${gen.rows} " +
      s"distinct=${gen.distinctTexts} families=${gen.families} truth_pairs=${gen.truth.size} " +
      f"raw_chars median=${gen.rawChars._1}%.0f mean=${gen.rawChars._2}%.1f")

    // ---- measured, untraced runs --------------------------------------
    val runs = mutable.ArrayBuffer.empty[Run]
    val tMeasure = System.nanoTime()
    def elapsed(from: Long) = (System.nanoTime() - from) / 1e9
    while (runs.isEmpty || ((runs.size < MinRuns || elapsed(tMeasure) < seconds) &&
        elapsed(jvmStart) + runs.map(_.wallS).max * 1.5 < StartBudgetS)) {
      runs += oneRun(detail = false)
      report("untraced", runs.size, runs.last)
    }

    // ---- traced run + kernel probe ------------------------------------
    val tracedRun = if (traced) Some(oneRun(detail = true)) else None
    tracedRun.foreach(report("traced", 1, _))
    val kernel = if (traced) Some(KernelProbe.run(spark)) else None

    val all = warmup :: runs.toList ++ tracedRun
    val failed = all.count(!_.ok)
    val good = runs.toList.filter(_.ok)
    val basis = if (good.nonEmpty) good else runs.toList
    val e2e = Seq(
      ("wall_s", "s", basis.map(_.wallS)),
      ("task_cpu_s", "s", basis.map(_.taskCpuS)),
      ("pair_recall", "ratio", basis.map(_.recall)),
      ("stored_mb", "MB", basis.map(_.storedMb)))
    e2e.foreach { case (n, u, xs) =>
      println(f"[perfbench] $n median=${median(xs)}%.4f $u n=${xs.size} ${tail(xs)}")
    }
    println(f"[perfbench] setup_s value=$setupS%.4f s (session + warm-up + median of $SetupReps set-ups)")
    println(f"[perfbench] failed_share=${failed.toDouble / all.size}%.4f ($failed of ${all.size} runs)")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (n, u, xs) => (n, median(xs), u) } :+ (("setup_s", setupS, "s"))
      else {
        val t = tracedRun.get
        val a = t.attribution.get
        val s4 = a.layers("s4_pairs")
        // the exact route scores every pair of stage 3's vectors
        val pairsScored = t.indexRows * (t.indexRows - 1) / 2.0
        val nsPerPair = if (pairsScored > 0) s4.taskCpuS * 1e9 / pairsScored else 0.0
        val (kNs, kSpeed) = kernel.get
        val perLayer = layersOf(a).flatMap { l =>
          Seq((s"${l.name}.wall_s", l.wallS, "s"), (s"${l.name}.task_cpu_s", l.taskCpuS, "s"),
            (s"${l.name}.gc_s", l.gcS, "s"), (s"${l.name}.shuffle_write_mb", l.shuffleWriteMb, "MB"),
            (s"${l.name}.spill_mb", l.spillMb, "MB"), (s"${l.name}.tasks", l.tasks.toDouble, "count"),
            (s"${l.name}.task_skew", l.taskSkew, "ratio"))
        }
        perLayer ++ Seq(
          ("s2_embed.fits", t.fits.toDouble, "count"),
          ("s4_pairs.pairs_scored", pairsScored, "count"),
          ("s4_pairs.useful_ratio", if (pairsScored > 0) t.pairs / pairsScored else 0.0, "ratio"),
          ("s4_pairs.ns_per_pair", nsPerPair, "ns"),
          ("s4_pairs.kernel_share", if (nsPerPair > 0) kNs / nsPerPair else 0.0, "ratio"),
          ("pipeline.wall_s", t.wallS, "s"),
          ("pipeline.stages_skipped", a.skipped.toDouble, "count"),
          ("pipeline.job_share", a.jobShare, "ratio"),
          ("jvm.gc_s", t.jvmGcS, "s"),
          ("jvm.heap_peak_mb", t.heapPeakMb, "MB"),
          ("kernel.cosine_ns_per_pair", kNs, "ns"),
          ("kernel.codegen_speedup", kSpeed, "ratio"))
      }

    // figures of the traced run that have no better/worse direction: they
    // go to stdout and the trace file, not into the metrics
    val notes: Seq[(String, Double, String)] = tracedRun.toSeq.flatMap { t =>
      layersOf(t.attribution.get).map(l => (s"${l.name}.rows_out", l.rowsOut.toDouble, "count")) ++
        Seq(("trace.overhead_s", t.wallS - median(basis.map(_.wallS)), "s"),
          ("host.nproc", nproc.toDouble, "count"),
          ("host.loadavg_before", t.loadBefore, "load"),
          ("host.loadavg_after", t.loadAfter, "load"))
    }

    for (t <- tracedRun; a <- t.attribution) {
      val dir = new File(s"$root/traces"); dir.mkdirs()
      val runId = s"$runTag-${ProcessHandle.current.pid}"
      val spans = (Spans.Span("run", "", t.startMs, t.endMs) +: a.spans)
        .map(s => s"""{"run_id":"$runId","name":"${s.name}","parent":"${s.parent}",""" +
          s""""start_ms":${s.start},"end_ms":${s.end}}""")
      def fields(xs: Seq[(String, Double, String)]) =
        xs.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
      val runsJson = all.map(r => f"""{"wall_s":${r.wallS},"task_cpu_s":${r.taskCpuS},""" +
        f""""loadavg_before":${r.loadBefore},"loadavg_after":${r.loadAfter},"nproc":$nproc,""" +
        f""""ok":${r.ok},"traced":${r.attribution.isDefined}}""")
      Files.writeString(Paths.get(s"$dir/$runTag.json"),
        s"""{"spans":[${spans.mkString(",\n")}],\n"metrics":{${fields(metrics)}},""" +
        s"""\n"notes":{${fields(notes)}},\n"runs":[${runsJson.mkString(",\n")}]}\n""")
      println(s"[perfbench] trace written to ${dir.getPath}/$runTag.json")
    }
    (metrics ++ notes).foreach { case (n, v, u) => println(f"[perfbench] $n = $v%.6f $u") }

    spark.stop()
    deleteTree(work) // corpora and stage outputs; the trace stays
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {${json.mkString(", ")}}}""")
    sys.exit(if (failed == 0) 0 else 1)
  }
}

/** Peak heap in use right after a garbage collection, from the JVM's GC
  * notifications (live data, not the garbage a collector has yet to
  * reclaim). */
object Heap {
  @volatile private var peak = 0L
  def reset(): Unit = peak = 0L
  def peakBytes: Long = peak

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
            .filter { case (pool, _) => !pool.contains("Metaspace") && !pool.contains("Code") &&
              !pool.contains("Compressed") }
            .map(_._2.getUsed).sum
          if (used > peak) peak = used
        }
      }, null, null)
    case _ => ()
  }
}

/** Kernel layer: `VectorKernels.cosineFast` over a fixed frame of 384-d
  * vector pairs, generated code vs the interpreted path, in executor CPU
  * nanoseconds per pair (the unit of `s4_pairs.ns_per_pair`). */
object KernelProbe {
  private val Pairs = 20000
  private val Dim = 384

  def run(spark: SparkSession): (Double, Double) = {
    val sc = spark.sparkContext
    // array<double>, the type stage 2 writes and stage 4 reads
    val schema = StructType(Seq(StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    val rdd = sc.parallelize(0 until Pairs, sc.defaultParallelism).map { i =>
      val r = new java.util.SplittableRandom(i.toLong)
      def v = scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array.fill(Dim)(r.nextDouble() * 2 - 1))
      org.apache.spark.sql.Row(v, v)
    }
    val frame = spark.createDataFrame(rdd, schema).persist()
    frame.count()
    val tracker = new Tracker(sc, detail = false)
    sc.addSparkListener(tracker)
    val conf = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = conf.map(k => k -> spark.conf.getOption(k))
    def nsPerPair(codegen: Boolean): Double = {
      spark.conf.set(conf(0), if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      spark.conf.set(conf(1), codegen.toString)
      val q = frame.select(sum(VectorKernels.cosineFast(col("a"), col("b"))))
      q.collect() // compile + warm
      tracker.drain(); tracker.reset()
      val t0 = System.nanoTime(); var reps = 0
      while (reps < 3 || System.nanoTime() - t0 < 500000000L) { q.collect(); reps += 1 }
      tracker.drain()
      tracker.taskCpuSeconds * 1e9 / (reps.toDouble * Pairs)
    }
    try {
      val gen = nsPerPair(codegen = true)
      val interp = nsPerPair(codegen = false)
      (gen, interp / gen)
    } finally {
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      sc.removeSparkListener(tracker)
      frame.unpersist()
    }
  }
}
