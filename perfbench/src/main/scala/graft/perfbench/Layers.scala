package graft.perfbench

/** Per-layer metrics of one traced pass. Every workload reports every
  * metric; a layer the workload does not exercise reports 0, which is
  * itself a check (`etl` writes nothing, and only `publish_stream`
  * commits stream state).
  *
  * Jobs map to layers by the table in [[Workloads]]; a job's Spark work
  * maps to it by the job group the harness sets around it. */
object Layers {
  val queryLayers: Seq[String] = Seq("etl", "dedup", "sim", "graph")
  val monitors: Seq[String] = Workloads.PublishStream.monitors

  def unit(k: String): String = k match {
    case _ if k.endsWith("_per_s") => "1/s"
    case _ if k.endsWith("_s") || k.contains(".batch_s.") => "s"
    case _ if k.endsWith("_mb") => "MB"
    case _ if k.endsWith("_ms") || k.endsWith("_ms_p50") => "ms"
    case _ if k.endsWith("_pct") => "%"
    case _ if k.endsWith("ratio") || k.endsWith("busy") || k.endsWith("_amp") => "ratio"
    case _ => "count"
  }

  /** Length of the part of [s, e] that no interval in `busy` (sorted,
    * disjoint) covers. */
  private def uncovered(s: Double, e: Double, busy: Seq[(Double, Double)]): Double =
    (e - s) - busy.map { case (a, b) => math.max(0.0, math.min(b, e) - math.max(a, s)) }.sum

  private def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def compute(h: Harness, t0: Double, t1: Double, written: Long,
              gcS: Double): Map[String, Double] = {
    val tr = h.trace
    val jobs = h.passJobs
    val layerOf = jobs.map(j => j.name -> j.layer).toMap
    val sparkJobs = tr.jobs.toSeq
    val jobLayer = sparkJobs.map(sj => sj.jobId ->
      sj.group.flatMap(g => layerOf.get(g.job))).toMap
    val tasks = tr.tasks.toSeq
    val busy = merge(tasks.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)))
    val mb = 1e6
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()

    queryLayers.foreach { l =>
      val js = jobs.filter(_.layer == l)
      val sj = sparkJobs.filter(j => jobLayer(j.jobId).contains(l))
      val ids = sj.map(_.jobId).toSet
      val ts = tasks.filter(t => ids.contains(t.jobId))
      out(s"$l.construct_s") = js.map(_.constructS).sum
      out(s"$l.execute_s") = js.map(_.executeS).sum
      out(s"$l.construct_jobs") = sj.count(_.group.exists(_.phase == "construct"))
      out(s"$l.jobs") = sj.length
      out(s"$l.no_task_s") = js.map(j => uncovered(j.startMs, j.endMs, busy)).sum / 1e3
      out(s"$l.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
      out(s"$l.shuffle_mb") = ts.map(_.shuffleWriteBytes).sum / mb
      out(s"$l.spill_mb") = ts.map(_.spillBytes).sum / mb
      out(s"$l.scan_mb") = tr.queries.filter(q =>
        q.group.flatMap(g => layerOf.get(g.job)).contains(l)).map(_.scanBytes).sum / mb
    }

    val pub = jobs.filter(_.layer == "publish")
    val pubIds = sparkJobs.filter(j => jobLayer(j.jobId).contains("publish")).length
    out("publish.build_s") = pub.filter(_.name.startsWith("pub:build:")).map(_.seconds).sum
    out("publish.serve_s") = pub.filter(_.name.startsWith("pub:serve:")).map(_.seconds).sum
    out("publish.served_ratio") = h.served
    out("publish.jobs") = pubIds
    out("publish.write_mb") = h.bytesIn("publish:") / mb
    out("storage.write_mb") = written / mb
    out("storage.write_amp") = written.toDouble / math.max(1L, h.inputBytes)

    val bs = h.passBatches
    monitors.foreach { m =>
      out(s"streaming.batch_s.$m") = Main.median(bs.filter(_.monitor == m).map(_.seconds))
    }
    val inBatch = sparkJobs.count(j => bs.exists(b => b.startMs <= j.submitMs && j.submitMs <= b.endMs))
    out("streaming.jobs_per_batch") = if (bs.isEmpty) 0.0 else inBatch.toDouble / bs.length
    val prog = tr.progress.toSeq.filter(p => p.stateRows > 0 || p.commitMs > 0)
    out("streaming.state_commit_ms") = Main.median(prog.map(_.commitMs.toDouble))
    val last = prog.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
    out("streaming.state_rows") = last.map(_.stateRows).sum.toDouble
    out("streaming.state_mb") = last.map(_.stateBytes).sum / mb
    out("streaming.checkpoint_mb") = h.checkpointBytes / mb
    out("streaming.events_per_s") =
      if (bs.isEmpty) 0.0 else Workloads.PublishStream.rowsFed.toDouble / bs.map(_.seconds).sum

    val launch = sparkJobs.filter(_.firstLaunchMs != Long.MaxValue)
      .map(j => (j.firstLaunchMs - j.submitMs).toDouble)
    val wallS = (t1 - t0) / 1e3
    val cores = h.spark.sparkContext.defaultParallelism
    out("spark.jobs") = sparkJobs.length
    out("spark.tasks") = tasks.length
    out("spark.job_launch_ms_p50") = Main.median(launch)
    out("spark.plan_s") = tr.queries.map(_.planMs).sum / 1e3
    out("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    out("spark.gc_s") = gcS
    out("spark.core_busy") =
      tasks.map(t => (t.finishMs - t.launchMs).toDouble).sum / 1e3 / (wallS * cores)
    out("spark.shuffle_mb") = tasks.map(_.shuffleWriteBytes).sum / mb
    out("spark.spill_mb") = tasks.map(_.spillBytes).sum / mb
    out.toMap
  }
}
