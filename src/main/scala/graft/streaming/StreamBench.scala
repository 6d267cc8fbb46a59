package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throughput lines for the streaming family (r13): the batch queries
  * have a 249-entry scale ledger, but the 40+ streaming twins were
  * parity-pinned with ZERO performance evidence — a monitor that is
  * bit-identical to its batch query and 100× slower per batch would
  * have passed every gate. These lines price five REPRESENTATIVE
  * monitor shapes end to end at bench scale, one per state regime:
  *
  *  - `stream:control_chart` — a driver-fold monitor on the
  *    [[EventStream.FoldMonitor]] skeleton (bounded key domain,
  *    per-batch report re-derived from the fold);
  *  - `stream:hist_artifact` — a parquet-artifact maintainer on the
  *    stamped-artifact skeleton (`EventStream.stampedForeachBatch`:
  *    state lives day-partitioned on disk with a durable batch stamp;
  *    the per-batch cost is merge + overwrite of touched partitions);
  *  - `stream:neardup_gate` — a stateless foreachBatch ingest gate
  *    (batch joins against static corpus band/sig tables);
  *  - `stream:bloom_dedup` (r14) — the flatMapGroupsWithState regime
  *    (#91's bounded-state bloom dedup as a real streaming query);
  *  - `stream:tws` (r14) — the state API v2 regime (#309's
  *    transformWithState running-agg on the RocksDB provider).
  *
  * Protocol: the input table is split into `nBatches` deterministic
  * micro-batches (pmod of a row-key digest — a partition of the
  * multiset), and each batch drives the REAL foreachBatch closure in
  * arrival order; the reported number is the wall over the whole fold
  * including each batch's report/sink materialization. That is the
  * same surface a Structured Streaming runtime invokes per
  * micro-batch (the StreamingSpec replay tests drive sinks exactly
  * this way), so seconds here are per-batch monitor cost without
  * engine-scheduling noise; rows/sec context prints on stderr and the
  * one-time corpus-side setup (the near-dup index build) is OUTSIDE
  * the timed region, matching the staged-artifact convention. */
object StreamBench {

  /** Local iteration entry (`runMain graft.streaming.StreamBench`):
    * the stream lines without the 245-query suite around them — same
    * session + env bootstrap as the suite ([[graft.Bench.session]]). */
  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = graft.Bench.session()
    val lines = run(spark, sfDir)
    println(lines.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}"))
    spark.stop()
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def timed(name: String, rows: Long, nBatches: Int)(
      body: => Unit): (String, Double) = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
    val sec = (System.nanoTime() - t0) / 1e9
    if (ok) System.err.println(
      f"[bench] $name: $rows rows / $nBatches batches in $sec%.2f s " +
        f"(${rows / math.max(sec, 1e-9)}%.0f rows/s, " +
        f"${sec / nBatches}%.3f s/batch)")
    name -> (if (ok) sec else -1.0)
  }

  /** `only`: restrict to these line names (empty = all). Setup work
    * for unselected lines is skipped. */
  def run(spark: SparkSession, sfDir: String,
          only: Set[String] = Set.empty): Map[String, Double] = {
    def wanted(name: String): Boolean = only.isEmpty || only.contains(name)
    val nBatches = 8

    // shared event facts: the q122 series definition (null-ts rows
    // carry no day and are out of every monitor's series)
    lazy val facts = graft.Tables.events(spark, sfDir)
      .where(col("ts").isNotNull)
      .select(col("event_id"), col("event_type"),
        col("ts").cast("date").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    lazy val nEvents = facts.count()
    def eventBatch(i: Int): DataFrame =
      facts.filter(pmod(xxhash64(col("event_id")), lit(nBatches)) === i)

    val controlChart = if (!wanted("stream:control_chart")) None else Some {
      val sink = EventStream.controlChartForeachBatch() { (r, _) =>
        r.write.mode("overwrite").format("noop").save()
      }
      timed("stream:control_chart", nEvents, nBatches) {
        (0 until nBatches).foreach { i =>
          sink(eventBatch(i)
            .select(col("event_type"), col("day").cast("string"), col("cents")),
            i.toLong)
        }
      }
    }

    val histArtifact = if (!wanted("stream:hist_artifact")) None else Some {
      // the maintainer expects a not-yet-existing artifact path (an
      // existing EMPTY dir reads as a schema-less parquet source)
      val dir = tmpDir("graft-bench-hist") + "/hist"
      val sink = EventStream.histogramArtifactForeachBatch(
        dir, Seq("event_type"))()
      timed("stream:hist_artifact", nEvents, nBatches) {
        (0 until nBatches).foreach { i =>
          sink(eventBatch(i)
            .select(col("day"), col("event_type"), col("cents").as("v")),
            i.toLong)
        }
      }
    }

    // r14 (verdict task 6): the two state regimes the r13 lines left
    // unpriced — flatMapGroupsWithState (streaming bloom dedup #91)
    // and the state API v2 transformWithState (#309, RocksDB
    // provider). These ARE stream operators (no foreachBatch closure
    // to fold), so they run as REAL Structured Streaming queries over
    // MemoryStream micro-batches; seconds include the per-batch state
    // store turnover — exactly the "bit-identical but 100× slower"
    // exposure the parity specs cannot see. MemoryStream feeds from
    // the driver by design; the fed columns are 8-16 bytes/event
    // (digest / (user_id, value)), so the driver-side slice is MBs at
    // bench scale, not a corpus copy.
    val bloomDedup = if (!wanted("stream:bloom_dedup")) None else Some {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val keys = facts.select(xxhash64(col("event_id"))).as[Long].collect()
      // groupBy drops residues with no rows when the input is smaller
      // than nBatches — total-default so a tiny sf dir degrades to
      // empty batches instead of NoSuchElementException voiding every
      // stream line (the replay slice below reads slices(0) too)
      val slices = keys.zipWithIndex.groupBy(_._2 % nBatches)
        .view.mapValues(_.map(_._1).toSeq).toMap
        .withDefaultValue(Seq.empty[Long])
      val input = MemoryStream[Long]
      val q = EventStream.bloomDedupStream[Long](input.toDS(), identity)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", tmpDir("graft-bench-bloom"))
        .start()
      // +1 batch: replay batch 0 — the unbounded-history regime the
      // operator exists for (every key already in the bloom)
      try timed("stream:bloom_dedup",
          keys.length.toLong + slices(0).length, nBatches + 1) {
        (0 until nBatches).foreach { i =>
          input.addData(slices(i)); q.processAllAvailable()
        }
        input.addData(slices(0)); q.processAllAvailable()
      } finally q.stop()
    }

    val tws = if (!wanted("stream:tws")) None else Some {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val pairs = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("value")).as[(Long, Double)].collect()
      val slices = pairs.zipWithIndex.groupBy(_._2 % nBatches)
        .view.mapValues(_.map(_._1).toSeq).toMap
        .withDefaultValue(Seq.empty[(Long, Double)])
      // the v2 operator requires the RocksDB state store provider
      // (the BucketingSpec parity test's setup, restored after)
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[(Long, Double)]
        val q = EventStream.runningUserAggV2(
            input.toDF().toDF("user_id", "value"))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", tmpDir("graft-bench-tws"))
          .start()
        try timed("stream:tws", pairs.length.toLong, nBatches) {
          (0 until nBatches).foreach { i =>
            input.addData(slices(i)); q.processAllAvailable()
          }
        } finally q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }

    val nearDupGate = if (!wanted("stream:neardup_gate")) None else Some {
      // corpus side (even doc_ids) is a PERSISTED index — built once,
      // outside the timed region (the gate's staged-artifact contract)
      val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      val idxDir = tmpDir("graft-bench-ndidx")
      graft.dedup.NearDupIndex.build(
        docs.filter(col("doc_id") % 2 === 0), idxDir)
      val nNew = docs.filter(col("doc_id") % 2 === 1).count()
      val gate = graft.dedup.NearDupIndex.gate(spark, idxDir) { (admitted, _) =>
        admitted.write.mode("overwrite").format("noop").save()
      }
      val gateBatches = 4
      timed("stream:neardup_gate", nNew, gateBatches) {
        (0 until gateBatches).foreach { i =>
          gate(docs.filter(col("doc_id") % 2 === 1)
            .filter(pmod(xxhash64(col("doc_id")), lit(gateBatches)) === i),
            i.toLong)
        }
      }
    }

    (controlChart.toSeq ++ histArtifact.toSeq ++ bloomDedup.toSeq ++
      tws.toSeq ++ nearDupGate.toSeq).toMap
  }
}
