package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{LlmQueries, PublishCorpus, SparkEntry, StageRoots, Tables}

/** One timed unit of a workload: `build` is the public entry-point call
  * that returns a DataFrame (construction, including any eager jobs it
  * runs); the benchmark then runs the frame through [[DigestSink]]
  * (execution). Oracled keys compare the full digest, all others the
  * row count only. */
final case class Job(name: String, layer: String,
                     build: (SparkSession, String) => DataFrame) {
  def oracled: Boolean = SparkEntry.oracleSql.contains(name)
}

trait Workload {
  def name: String
  /** In-program set-up kept out of the timed passes. */
  def prepare(spark: SparkSession, dir: String, seed: Long, workDir: String): Unit = ()
  /** Drop every per-run cache so the next pass rebuilds from scratch. */
  def reset(): Unit = {
    StageRoots.reset()
    graft.sim.Ann.clearOpCache()
  }
  def pass(r: Harness): Unit
  /** Input tables the workload reads (write amplification denominator). */
  def inputs: Seq[String]
}

object Workloads {
  val all: Seq[Workload] = Seq(Etl, DedupGraph, PublishStream)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Seeded shuffle: the seed chooses the order of independent jobs. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)

  private def query(name: String, layer: String): Job =
    Job(name, layer, SparkEntry.queries(name))

  /** The reference DAG's surface: the CoreQueries ETL keys (q17 is the
    * flagship EtlPipeline) plus the upsert/SCD/CDC family. */
  object Etl extends Workload {
    val name = "etl"
    val keys: Seq[String] = Seq("q02_agg_pricing", "q03_join_enrich",
      "q07_dedup_top_per_key", "q12_window_rank", "q15_rollup",
      "q17_etl_pipeline", "q41_scd2", "q67_cdc_apply", "q69_scd2_temporal")
    def inputs: Seq[String] = Seq("lineitem", "orders", "customer", "part",
      "supplier", "nation", "region")
    // The flagship always opens the pass: in a fresh JVM the first query
    // pays most of the JIT and codegen warm-up (1.5-2.5x its warm time),
    // so letting the seed pick it moved the whole pass by +-15%.
    def pass(r: Harness): Unit =
      ("q17_etl_pipeline" +: shuffled(keys.filterNot(_ == "q17_etl_pipeline"), r.seed))
        .foreach(k => r.job(query(k, "etl")))
  }

  /** The LLM-corpus kernels: five shared stage builds from a fresh stage
    * root, then their consumers. */
  object DedupGraph extends Workload {
    val name = "dedup_graph"
    val stages: Seq[Job] = Seq(
      Job("stage:neardup_pairs", "dedup", LlmQueries.pairGraph),
      Job("stage:dedup_clusters", "dedup", LlmQueries.clusters),
      Job("stage:copurchase", "graph", LlmQueries.coPurchaseEdges),
      // the shared ANN quantizer fit, under the memo key s17/s19 use
      Job("stage:ann_fit", "sim", (spark, dir) => graft.sim.AnnIndex.fitFrame(
        Tables.embeddings(spark, dir).select(col("vec_id").as("id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec")),
        nCells = 23, seed = 42L, cacheKey = Some(dir))))
    val consumers: Seq[(String, String)] = Seq(
      "d02" -> "dedup", "d04" -> "dedup", "d26" -> "dedup",
      "d18" -> "graph", "d25" -> "graph", "s19" -> "sim")
    private def key(prefix: String): String =
      SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq.sorted.head
    def inputs: Seq[String] = Seq("documents", "embeddings", "lineitem")
    def pass(r: Harness): Unit = {
      // the pair graph feeds the cluster table: swap the two if the
      // shuffle put the consumer first
      val order = shuffled(stages, r.seed).toArray
      val p = order.indexWhere(_.name == "stage:neardup_pairs")
      val c = order.indexWhere(_.name == "stage:dedup_clusters")
      if (c < p) { val t = order(c); order(c) = order(p); order(p) = t }
      order.foreach(r.job)
      shuffled(consumers, r.seed + 1).foreach { case (prefix, layer) =>
        r.job(query(key(prefix), layer)) }
    }
  }

  /** The durable-output workload: the PublishCorpus flagship built from a
    * fresh root, re-run served from its committed prefix, then five
    * streaming monitor shapes folded one micro-batch at a time. */
  object PublishStream extends Workload {
    val name = "publish_stream"
    /** Micro-batches per monitor. */
    val nBatches: Int = 3
    val monitors: Seq[String] = Seq("control_chart", "hist_artifact",
      "bloom_dedup", "tws", "neardup_gate")
    def inputs: Seq[String] = Seq("documents", "events")

    // in-program set-up (MemoryStream key collects, near-dup index)
    private var bloomSlices: Map[Int, Seq[Long]] = Map.empty
    private var twsSlices: Map[Int, Seq[(Long, Double)]] = Map.empty
    private var indexDir: String = ""
    /** Rows handed to the monitors in one pass. */
    var rowsFed: Long = 0L

    private def batchOf(c: org.apache.spark.sql.Column, seed: Long) =
      pmod(xxhash64(c, lit(seed)), lit(nBatches)).cast("int")

    private def facts(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir).where(col("ts").isNotNull)
        .select(col("event_id"), col("event_type"),
          col("ts").cast("date").as("day"),
          round(col("value") * 100, 0).cast("long").as("cents"))

    override def prepare(spark: SparkSession, dir: String, seed: Long,
                         workDir: String): Unit = {
      import spark.implicits._
      bloomSlices = facts(spark, dir)
        .select(batchOf(col("event_id"), seed), xxhash64(col("event_id")))
        .as[(Int, Long)].collect().toSeq.groupMap(_._1)(_._2)
        .withDefaultValue(Seq.empty)
      twsSlices = Tables.events(spark, dir)
        .select(batchOf(col("event_id"), seed), col("user_id"), col("value"))
        .as[(Int, Long, Double)].collect().toSeq
        .groupMap(_._1)(t => (t._2, t._3)).withDefaultValue(Seq.empty)
      // the gate's corpus side (even doc_ids) is a persisted index
      indexDir = s"$workDir/neardup_index"
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      graft.dedup.NearDupIndex.build(docs.filter(col("doc_id") % 2 === 0), indexDir)
      val nFacts = bloomSlices.values.map(_.length).sum
      rowsFed = 3L * nFacts + bloomSlices(0).length + twsSlices.values.map(_.length).sum +
        docs.filter(col("doc_id") % 2 === 1).count()
    }

    /** The flagship's steps in dependency order, with `graft.Bench`'s
      * 32k-token shard budget. */
    private def pubSteps(root: String, out: String): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "split" -> ((s, d) => PublishCorpus.splitFrame(s, d, root)),
      "kept" -> ((s, d) => PublishCorpus.keptFrame(s, d, root)),
      "plan" -> ((s, d) => PublishCorpus.planFrame(s, d, root, tokenBudget = 32768L)),
      "datasheet" -> ((s, d) => PublishCorpus.datasheetFrame(s, d, root)),
      "export" -> ((s, d) => PublishCorpus.run(s, d, out, root, tokenBudget = 32768L)))

    def pass(r: Harness): Unit = {
      val steps = pubSteps(s"${r.passDir}/publish", s"${r.passDir}/publish_out")
      for (mode <- Seq("build", "serve")) r.phase(s"publish:$mode") {
        steps.foreach { case (step, f) => r.job(Job(s"pub:$mode:$step", "publish", f)) }
      }
      // fixed monitor order: the seed varies the micro-batch split; a
      // seeded order would also move which monitor pays the cold JIT
      monitors.foreach(m => r.phase(s"stream:$m")(monitor(r, m)))
    }

    private def sinkTo(key: String, df: DataFrame, replace: Boolean): Unit =
      df.write.format(DigestSink.Format).option("job", key)
        .mode(if (replace) "overwrite" else "append").save()

    private def monitor(r: Harness, m: String): Unit = {
      val spark = r.spark
      val key = s"stream:$m"
      DigestSink.clear(key)
      lazy val ev = facts(spark, r.dir)
      def eventBatch(i: Int): DataFrame = ev.filter(batchOf(col("event_id"), r.seed) === i)
      m match {
        case "control_chart" =>
          val sink = graft.streaming.EventStream.controlChartForeachBatch(
              stateDir = Some(s"${r.passDir}/control_chart_state")) { (rep, _) =>
            sinkTo(key, rep, replace = true) }
          (0 until nBatches).foreach { i =>
            r.batch(m)(sink(eventBatch(i).select(col("event_type"),
              col("day").cast("string"), col("cents")), i.toLong))
          }
        case "hist_artifact" =>
          val art = s"${r.passDir}/hist/hist"
          val sink = graft.streaming.EventStream.histogramArtifactForeachBatch(
            art, Seq("event_type"))()
          (0 until nBatches).foreach { i =>
            r.batch(m)(sink(eventBatch(i).select(col("day"), col("event_type"),
              col("cents").as("v")), i.toLong))
          }
          sinkTo(key, spark.read.parquet(art), replace = true)
        case "bloom_dedup" =>
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
          import spark.implicits._
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          val input = MemoryStream[Long]
          val q = graft.streaming.EventStream.bloomDedupStream[Long](input.toDS(), identity)
            .writeStream.format(DigestSink.Format).option("job", key)
            .outputMode("append")
            .option("checkpointLocation", s"${r.passDir}/bloom_checkpoint").start()
          try {
            (0 until nBatches).foreach { i =>
              r.batch(m) { input.addData(bloomSlices(i)); q.processAllAvailable() }
            }
            // replay batch 0: every key is already in the bloom
            r.batch(m) { input.addData(bloomSlices(0)); q.processAllAvailable() }
          } finally q.stop()
        case "tws" =>
          implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
          import spark.implicits._
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          val provKey = "spark.sql.streaming.stateStore.providerClass"
          val prev = spark.conf.getOption(provKey)
          spark.conf.set(provKey,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val view = s"perfbench_tws_${System.nanoTime()}"
          try {
            val input = MemoryStream[(Long, Double)]
            val q = graft.streaming.EventStream.runningUserAggV2(
                input.toDF().toDF("user_id", "value"))
              .writeStream.format("memory").queryName(view).outputMode("append")
              .option("checkpointLocation", s"${r.passDir}/tws_checkpoint").start()
            try (0 until nBatches).foreach { i =>
              r.batch(m) { input.addData(twsSlices(i)); q.processAllAvailable() }
            } finally q.stop()
          } finally prev match {
            case Some(v) => spark.conf.set(provKey, v)
            case None => spark.conf.unset(provKey)
          }
          // running totals depend on where batches end; the last total
          // per user does not
          sinkTo(key, spark.table(view).groupBy("user_id").agg(
            max("n_events").as("n_events"),
            round(max_by(col("total_value"), col("n_events")), 2).as("total_value")),
            replace = true)
          spark.catalog.dropTempView(view)
        case "neardup_gate" =>
          val docs = Tables.documents(spark, r.dir).select("doc_id", "text")
            .filter(col("doc_id") % 2 === 1)
          val gate = graft.dedup.NearDupIndex.gate(spark, indexDir) { (admitted, _) =>
            sinkTo(key, admitted, replace = false) }
          (0 until nBatches).foreach { i =>
            r.batch(m)(gate(docs.filter(batchOf(col("doc_id"), r.seed) === i), i.toLong))
          }
      }
      r.checkStream(m, DigestSink.get(key))
    }
  }
}
