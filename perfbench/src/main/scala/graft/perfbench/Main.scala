package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.SortedMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.`type`.TypeReference
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      expected: String, record: Boolean, work: String, records: String,
                      dataKey: String, fixtureS: Double)

final case class JobTiming(name: String, layer: String, constructS: Double,
                           executeS: Double, startMs: Double, endMs: Double, ok: Boolean) {
  def seconds: Double = constructS + executeS
}

final case class BatchTiming(monitor: String, seconds: Double, startMs: Double,
                             endMs: Double, ok: Boolean)

final case class PassRec(idx: Int, traced: Boolean, wallS: Double, startMs: Double,
                         endMs: Double, jobs: Seq[JobTiming], batches: Seq[BatchTiming],
                         layers: Map[String, Double])

/** The benchmark driver: one JVM runs one workload. It sets up the
  * session once (the set-up time counts from JVM start), then runs
  * closed-loop passes of the workload until `--seconds` have elapsed,
  * checking every job's output against the recorded digests. With
  * `--trace 1` every other pass runs with Spark's listeners attached
  * and the per-layer metrics come from those passes. */
object Main {

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try run(o) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("expected"), m.getOrElse("record", "0") == "1",
      need("work"), need("records"), need("data-key"), m.getOrElse("fixture-s", "0").toDouble)
  }

  /** Median (mean of the middle two for an even count; 0 for none). */
  private[perfbench] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  private def run(o: Opts): Int = {
    val w = Workloads.byName(o.workload)
    val expected = Expected.load(o.expected, o.dataKey)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up, from JVM start: session + warm-up + the workload's own set-up
    val (spark, dir) = graft.Bench.session()
    val tSession = Clock.nowMs
    warmUp(spark, dir)
    val tWarm = Clock.nowMs
    w.prepare(spark, dir, o.seed, s"${o.work}/setup")
    val harness = new Harness(o, w, expected, spark, dir)
    val tReady = Clock.nowMs
    val setupS = (tReady - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] set-up: $setupS%.2f s")

    // Measured passes. A further pass starts only if it is expected to
    // end within `--seconds`, so the number of passes does not flip
    // between runs. A traced run first runs one untraced pass that only
    // warms the JVM, then traced / untraced ..., so the tracing overhead
    // compares passes of the same warmth.
    val passes = ArrayBuffer[PassRec]()
    if (o.trace) harness.runPass(traced = false)
    val t0 = Clock.nowMs
    val minPasses = if (o.trace) 2 else 1
    while (passes.length < minPasses ||
        (Clock.nowMs - t0) / 1e3 + passes.last.wallS <= o.seconds) {
      passes += harness.runPass(traced = o.trace && passes.length % 2 == 0)
      System.err.println(f"[perfbench] pass ${passes.last.idx}: ${passes.last.wallS}%.3f s" +
        (if (passes.last.traced) " (traced)" else ""))
    }

    if (o.record) Expected.save(o.expected, o.dataKey, harness.observed.toMap)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val plain = passes.filterNot(_.traced).toSeq
        val ops =
          if (w eq Workloads.PublishStream) plain.flatMap(_.batches.map(_.seconds))
          else plain.flatMap(_.jobs.map(_.seconds))
        Seq(("wall_s", median(plain.map(_.wallS)), "s"),
          ("setup_s", setupS, "s"),
          ("latency_mean_s", ops.sum / ops.length, "s"))
      } else {
        val traced = passes.filter(_.traced).toSeq
        val plain = passes.filterNot(_.traced).toSeq
        val layerKeys = traced.head.layers.keys.toSeq.sorted
        val perLayer = layerKeys.map { k =>
          (k, median(traced.map(_.layers(k))), Layers.unit(k)) }
        val overhead = 100.0 * (median(traced.map(_.wallS)) / median(plain.map(_.wallS)) - 1)
        val os = ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum
        perLayer ++ Seq(
          ("setup.session_s", (tSession - jvmStartMs) / 1e3, "s"),
          ("setup.warmup_s", (tWarm - tSession) / 1e3, "s"),
          ("setup.fixture_s", o.fixtureS, "s"),
          ("driver.heap_hwm_mb", heapPeak / 1e6, "MB"),
          ("driver.process_cpu_s", os.getProcessCpuTime / 1e9, "s"),
          ("bench.trace_overhead_pct", overhead, "%"))
      }

    val metricsJson = metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}"
    Files.createDirectories(Paths.get(o.records))
    if (o.trace) harness.writeTrace(s"${o.records}/trace-$runId.jsonl", runId)
    val record = Map(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "data" -> o.dataKey,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setupS,
      "passes" -> passes.map(p => Map("idx" -> p.idx, "traced" -> p.traced,
        "wall_s" -> p.wallS, "jobs" -> p.jobs.map(j => Map("name" -> j.name,
          "construct_s" -> j.constructS, "execute_s" -> j.executeS, "ok" -> j.ok)),
        "batches" -> p.batches.groupBy(_.monitor).map { case (m, bs) =>
          m -> bs.map(_.seconds) })),
      "samples" -> Map("passes" -> passes.count(_.traced == o.trace)),
      "attempted" -> harness.attempted, "failed" -> harness.failed,
      "metrics" -> metricsJson,
      "spark_conf" -> spark.conf.getAll)
    Json.mapper.writeValue(new File(o.records, s"$runId.json"), record)

    val result = Map(
      "correct" -> (harness.failed == 0),
      "attempted" -> harness.attempted,
      "failed" -> harness.failed,
      "metrics" -> metricsJson)
    println("PERFBENCH_RESULT " + Json.mapper.writeValueAsString(result))
    spark.stop()
    0
  }

  /** The same JIT/classloading warm-up `graft.Bench` runs: one small
    * scan + aggregate + join over the codegen, parquet and shuffle paths. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.groupBy("l_returnflag").count().count()
    val o = spark.read.parquet(s"$dir/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey")).count()
  }

  /** Total bytes written through Hadoop's local filesystem: stage
    * commits, exports, manifests, state stores and checkpoints. */
  private[perfbench] def bytesWritten(): Long = {
    @annotation.nowarn("cat=deprecation")
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    stats.filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  private[perfbench] def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private[perfbench] def du(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => du(c.getPath)).sum
  }

  private[perfbench] def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => rmrf(c.getPath))
    f.delete()
  }
}

/** Expected output digests, recorded from a reference run with
  * `--record 1` and stored per dataset in one JSON file. */
object Expected {
  private type Entries = SortedMap[String, SortedMap[String, Map[String, Any]]]

  private def read(f: File): Entries =
    if (!f.exists) SortedMap.empty
    else Json.mapper.readValue(f, new TypeReference[Entries] {})

  def load(path: String, dataKey: String): Map[String, Digest] =
    read(new File(path)).get(dataKey).toSeq.flatten.map { case (k, e) =>
      k -> Digest(e("rows").toString.toLong,
        java.lang.Long.parseUnsignedLong(e("hash").toString, 16))
    }.toMap

  def save(path: String, dataKey: String, digests: Map[String, Digest]): Unit = {
    val f = new File(path)
    val all = read(f)
    val updated = all.getOrElse(dataKey, SortedMap.empty[String, Map[String, Any]]) ++
      digests.map { case (k, d) => k -> Map[String, Any]("rows" -> d.rows, "hash" -> d.hex) }
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(f, all + (dataKey -> updated))
  }
}
