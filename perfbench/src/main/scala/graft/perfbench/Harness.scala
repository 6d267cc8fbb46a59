package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs a workload's passes: times each job's construction and
  * execution, each micro-batch, checks outputs against the expected
  * digests, and (on traced passes) turns the listeners' records into
  * spans and per-layer metrics. */
final class Harness(o: Opts, w: Workload, expected: Map[String, Digest],
                    val spark: SparkSession, val dir: String) {
  def seed: Long = o.seed
  var passDir: String = ""
  var attempted = 0
  var failed = 0
  val observed = scala.collection.mutable.Map[String, Digest]()

  private val tracer = new Tracer
  private var passIdx = 0
  private val jobs = ArrayBuffer[JobTiming]()
  private val batches = ArrayBuffer[BatchTiming]()
  private val phases = ArrayBuffer[(String, Double, Double)]()
  private val phaseBytes = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  private var servedRatio = 0.0
  private val spans = ArrayBuffer[Span]()
  private var nextSpan = 1L

  private def setGroup(job: String, phase: String): Unit =
    spark.sparkContext.setJobGroup(Group(passIdx, job, phase).id, job)

  private def fail(what: String, why: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what: $why")
  }

  /** Compare with the recorded digest: oracled keys and stream outputs
    * by full digest, every other key by its row count. */
  private def check(key: String, got: Digest, fullDigest: Boolean): Boolean = {
    if (!observed.contains(key)) observed(key) = got
    if (o.record) true
    else expected.get(key) match {
      case None => fail(key, "no expected digest recorded"); false
      case Some(e) if e.rows != got.rows =>
        fail(key, s"rows ${got.rows} != expected ${e.rows}"); false
      case Some(e) if fullDigest && e.hash != got.hash =>
        fail(key, s"digest ${got.hex} != expected ${e.hex}"); false
      case _ => true
    }
  }

  def job(j: Job): Unit = {
    attempted += 1
    val key = j.name.replaceFirst("^pub:(build|serve):", "pub:")
    val t0 = Clock.nowMs
    var t1 = Double.NaN
    var ok = false
    try {
      setGroup(j.name, "construct")
      val df = j.build(spark, dir)
      t1 = Clock.nowMs
      setGroup(j.name, "execute")
      df.write.format(DigestSink.Format).option("job", j.name).mode("overwrite").save()
      ok = check(key, DigestSink.get(j.name), j.oracled)
    } catch {
      case NonFatal(e) => fail(j.name, e.toString)
    } finally spark.sparkContext.clearJobGroup()
    val t2 = Clock.nowMs
    if (t1.isNaN) t1 = t2
    jobs += JobTiming(j.name, j.layer, (t1 - t0) / 1e3, (t2 - t1) / 1e3, t0, t2, ok)
  }

  /** Time one micro-batch hand-off (`body`) for `monitor`. */
  def batch(monitor: String)(body: => Unit): Unit = {
    attempted += 1
    val n = batches.count(_.monitor == monitor)
    setGroup(s"stream:$monitor#$n", "batch")
    val t0 = Clock.nowMs
    val ok = try { body; true } catch {
      case NonFatal(e) => fail(s"stream:$monitor batch $n", e.toString); false
    } finally spark.sparkContext.clearJobGroup()
    val t1 = Clock.nowMs
    batches += BatchTiming(monitor, (t1 - t0) / 1e3, t0, t1, ok)
  }

  /** Compare a stream monitor's final sink digest with its expectation. */
  def checkStream(monitor: String, d: Digest): Unit = {
    attempted += 1
    check(s"stream:$monitor", d, fullDigest = true)
  }

  def phase(name: String)(body: => Unit): Unit = {
    val b0 = Main.bytesWritten()
    val stamps0 = if (name == "publish:serve") successStamps() else Map.empty[String, Long]
    val t0 = Clock.nowMs
    try body
    catch { case NonFatal(e) => fail(name, e.toString) }
    phases += ((name, t0, Clock.nowMs))
    phaseBytes(name) += Main.bytesWritten() - b0
    if (name == "publish:serve") {
      val after = successStamps()
      servedRatio = if (stamps0.isEmpty) 0.0
        else stamps0.count { case (p, t) => after.get(p).contains(t) }.toDouble / stamps0.size
    }
  }

  /** `_SUCCESS` commit markers of the publish stages and their mtimes. */
  private def successStamps(): Map[String, Long] = {
    val root = new java.io.File(s"$passDir/publish")
    Option(root.listFiles).toSeq.flatten.map(d => new java.io.File(d, "_SUCCESS"))
      .filter(_.exists).map(f => f.getPath -> f.lastModified).toMap
  }

  def runPass(traced: Boolean): PassRec = {
    w.reset()
    passDir = s"${o.work}/pass-$passIdx"
    Files.createDirectories(Paths.get(passDir))
    jobs.clear(); batches.clear(); phases.clear(); phaseBytes.clear(); servedRatio = 0.0
    if (traced) { tracer.clear(); tracer.attach(spark) }
    val b0 = Main.bytesWritten()
    val gc0 = Main.gcMs()
    val t0 = Clock.nowMs
    w.pass(this)
    val t1 = Clock.nowMs
    val written = Main.bytesWritten() - b0
    val gcS = (Main.gcMs() - gc0) / 1e3
    if (traced) tracer.detach(spark)
    val layers =
      if (traced) Layers.compute(this, t0, t1, written, gcS) else Map.empty[String, Double]
    if (traced) recordSpans(t0, t1)
    Main.rmrf(passDir)
    val rec = PassRec(passIdx, traced, (t1 - t0) / 1e3, t0, t1, jobs.toSeq,
      batches.toSeq, layers)
    passIdx += 1
    rec
  }

  // read-only views for the per-layer computation
  private[perfbench] def passJobs: Seq[JobTiming] = jobs.toSeq
  private[perfbench] def passBatches: Seq[BatchTiming] = batches.toSeq
  private[perfbench] def bytesIn(phasePrefix: String): Long =
    phaseBytes.collect { case (k, v) if k.startsWith(phasePrefix) => v }.sum
  private[perfbench] def served: Double = servedRatio
  private[perfbench] def trace: Tracer = tracer
  private[perfbench] def checkpointBytes: Long =
    Seq("bloom_checkpoint", "tws_checkpoint", "control_chart_state")
      .map(d => Main.du(s"$passDir/$d")).sum
  private[perfbench] def inputBytes: Long =
    w.inputs.map(t => Main.du(s"$dir/$t.parquet")).sum

  private def span(parent: Long, kind: String, name: String, start: Double, end: Double,
                   attrs: Map[String, Double] = Map.empty): Long = {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, parent, kind, name, start, end, attrs)
    id
  }

  /** workload → pass → phase → job → construct/execute → Spark job →
    * task, and stream batches. */
  private def recordSpans(t0: Double, t1: Double): Unit = {
    val root = if (spans.isEmpty) span(0, "workload", w.name, t0, t1) else 1L
    val passSpan = span(root, "pass", s"pass-$passIdx", t0, t1)
    val phaseSpans = phases.map { case (n, s, e) => (n, s, e, span(passSpan, "phase", n, s, e)) }
    def parentAt(t: Double) = phaseSpans.find { case (_, s, e, _) => s <= t && t <= e }
      .map(_._4).getOrElse(passSpan)
    val groupSpan = scala.collection.mutable.Map[(String, String), Long]()
    jobs.foreach { j =>
      val js = span(parentAt(j.startMs), "job", j.name, j.startMs, j.endMs)
      val tc = j.startMs + j.constructS * 1e3
      groupSpan((j.name, "construct")) = span(js, "construct", j.name, j.startMs, tc)
      groupSpan((j.name, "execute")) = span(js, "execute", j.name, tc, j.endMs)
    }
    val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    batches.foreach { b =>
      val n = counts(b.monitor); counts(b.monitor) += 1
      groupSpan((s"stream:${b.monitor}#$n", "batch")) =
        span(parentAt(b.startMs), "batch", s"${b.monitor}#$n", b.startMs, b.endMs)
    }
    val sparkSpan = scala.collection.mutable.Map[Int, Long]()
    tracer.jobs.foreach { sj =>
      val parent = sj.group.flatMap(g => groupSpan.get((g.job, g.phase)))
        .getOrElse(parentAt(sj.submitMs.toDouble))
      sparkSpan(sj.jobId) = span(parent, "spark_job", s"job-${sj.jobId}",
        sj.submitMs.toDouble, sj.endMs.toDouble)
    }
    tracer.tasks.foreach { t =>
      span(sparkSpan.getOrElse(t.jobId, passSpan), "task", "task", t.launchMs.toDouble,
        t.finishMs.toDouble, Map("cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3))
    }
  }

  def writeTrace(path: String, runId: String): Unit = {
    // the workload span covers every traced pass
    if (spans.nonEmpty) spans(0) = spans(0).copy(end = spans.map(_.end).max)
    val lines = spans.map { s =>
      Json.mapper.writeValueAsString(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "attrs" -> s.attrs))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
