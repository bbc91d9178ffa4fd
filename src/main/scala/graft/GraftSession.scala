package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for the graft engine, in one place —
  * what Verify/Bench use, minus the harness-specific bits. Library users:
  *
  * {{{
  * val spark = GraftSession.builder("local[32]").getOrCreate()
  * }}}
  *
  * On a cluster, pass the master/deploy config as usual and keep the rest;
  * shuffle partitions and the broadcast threshold are the knobs to re-size
  * (see SCALE.md). The broadcast threshold also decides whether the graph
  * engine broadcasts vertex-sized loop frames (label propagation's label
  * map, k-core's survivor set): it does while |V| × 48 B fits under it. */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      // events.parquet-style TIMESTAMP(NANOS) columns read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native functions + the as-of join strategy
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
