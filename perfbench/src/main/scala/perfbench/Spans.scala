package perfbench

import scala.collection.mutable

/** Per-layer attribution of one traced `JobPipeline.run`.
  *
  * Layers are the pipeline's stages plus its sinks. Stage k's span runs
  * from the end of the previous layer to the end of the SQL execution
  * that wrote stage k's directory; a stage with no write (committed, so
  * skipped) gets an empty span. `sinks` runs from the end of the stage-4
  * write to the return of `JobPipeline.run`. The spans therefore tile
  * the `pipeline` span. A Spark job goes to the stage its SQL execution
  * writes, else to the span it started in — which puts stage 2's model
  * fit in `s2_embed` and stage 4's `TableStats` route probe in `s4_pairs`,
  * as the code orders them. */
object Spans {
  import Tracker._

  val Layers: Seq[String] = Stages :+ "sinks"

  final case class Span(name: String, parent: String, start: Long, end: Long)

  final case class Layer(name: String, wallS: Double, taskCpuS: Double, gcS: Double,
      shuffleWriteMb: Double, spillMb: Double, tasks: Int, taskSkew: Double,
      rowsOut: Long)

  final case class Attribution(spans: Seq[Span], layers: Map[String, Layer],
      skipped: Int, jobShare: Double)

  def attribute(t: Tracker, pipeStart: Long, pipeEnd: Long): Attribution = {
    val execs = t.executions
    val writeEnd: Map[String, Long] = execs.filter(_.writes.exists(Stages.contains))
      .groupBy(_.writes.get).map { case (s, xs) => s -> xs.map(_.end).max }
    val bounds = mutable.ArrayBuffer(pipeStart)
    Stages.foreach(s => bounds += writeEnd.getOrElse(s, bounds.last))
    bounds += pipeEnd
    val windows = Layers.indices.map(i => Layers(i) -> (bounds(i), bounds(i + 1)))
    val execWrites = execs.flatMap(x => x.writes.map(x.id -> _)).toMap

    val jobs = t.jobs
    val jobLayer: Map[Int, String] = jobs.map { j =>
      j.id -> execWrites.get(j.execId).map(w => if (Stages.contains(w)) w else "sinks")
        .getOrElse(windows.find { case (_, (a, b)) => j.start >= a && j.start < b }
          .map(_._1).getOrElse(if (j.start < pipeStart) Layers.head else Layers.last))
    }.toMap
    val byLayer = t.tasks.groupBy(r => t.jobOfStage(r.stageId).flatMap(jobLayer.get)
      .getOrElse("sinks"))

    val layers = windows.map { case (name, (a, b)) =>
      val ts = byLayer.getOrElse(name, Nil)
      // skew inside the layer's heaviest Spark stage: max / median task time
      val skew = ts.groupBy(_.stageId).values.toSeq.sortBy(-_.map(_.runMs).sum).headOption
        .map { st =>
          val rt = st.map(_.runMs.toDouble).sorted
          rt.last / math.max(rt(rt.size / 2), 1.0)
        }.getOrElse(0.0)
      name -> Layer(name, (b - a) / 1e3, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
        ts.map(_.shuffleWriteBytes).sum / 1e6, ts.map(_.spillBytes).sum / 1e6,
        ts.size, skew, ts.map(_.recordsOut).sum)
    }.toMap

    // share of the pipeline span during which at least one job ran
    val busy = jobs.filter(_.end >= 0).map(j => (math.max(j.start, pipeStart),
      math.min(j.end, pipeEnd))).filter(x => x._2 > x._1).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
    val spans = Span("pipeline", "run", pipeStart, pipeEnd) +:
      (windows.map { case (n, (a, b)) => Span(n, "pipeline", a, b) } ++
       jobs.map(j => Span(s"job-${j.id}", jobLayer(j.id), j.start, math.max(j.end, j.start))))
    Attribution(spans, layers, Stages.count(s => !writeEnd.contains(s)),
      busy / math.max(1.0, (pipeEnd - pipeStart).toDouble))
  }
}
