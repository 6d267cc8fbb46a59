package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for graft deployments: the configs that
  * matter at scale, with environment-driven sizing. Library users call
  * `GraftSession.builder(...)`; the driver-contract mains (Bench,
  * StreamBench, Verify, Probe) share the minimal
  * [[Bench.localSession]] per contract.
  */
object GraftSession {

  /** @param cores            parallelism for local mode
    * @param shufflePartitions size to ~2-3× total executor cores; at
    *                          100 TB AQE coalesces the excess
    */
  def builder(appName: String = "graft",
              master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              cores: Int = Runtime.getRuntime.availableProcessors(),
              shufflePartitions: Int = 0): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions",
        (if (shufflePartitions > 0) shufflePartitions else cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts carries parquet TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep scan partitions near the default 128 MB rowgroup sweet spot
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
