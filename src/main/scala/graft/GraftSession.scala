package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Settings chosen for correctness parity with the DuckDB oracle (UTC,
  * ANSI-ish) and for scale (AQE, skew-join handling, partition sizing).
  * On a real cluster the same builder applies — only master/memory
  * change; everything else is partition-count-relative.
  */
object GraftSession {

  /** Cores to use locally; the driver exports SPARK_GRAFT_CPUS. Falls
    * back to the machine's core count (capped at 32) rather than a
    * tiny constant. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  def builder(appName: String = "graft", cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // graft's SQL functions + custom operator strategies.
      .withExtensions(new GraftExtensions)
      // Shuffle partitions sized to parallelism, not the 200 default.
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE: runtime coalescing, skew-join splitting, plan re-opt.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 16 MB static threshold: real dimension tables at any tested SF
      // are either well under it (they still broadcast) or far over it
      // (they never did); the 16–64 MB band is exactly where
      // materialized corpus-grown tables (posting sets, checkpointed
      // candidate lists) masquerade as broadcastable and then inflate
      // 10×+ into the driver heap building the hash relation.
      .config("spark.sql.autoBroadcastJoinThreshold", (16L << 20).toString)
      // AQE's RUNTIME broadcast threshold is deliberately much lower
      // than the static one: runtime estimates are COMPRESSED shuffle
      // bytes, and a corpus-grown table (shingle/bigram posting sets)
      // at 10–60 MB compressed inflates 10×+ building the hash
      // relation — the sf10 OOM class. Dimension tables the planner
      // sizes statically, and everything explicitly broadcast()-ed,
      // are unaffected.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        (8L << 20).toString)
      // Honor per-bucket SORT metadata when (and only when) every
      // selected bucket is a single file — the standing-store contract:
      // a freshly compacted store streams straight into its merge-join
      // probes with no store-side sort, and appended (multi-file)
      // buckets still re-sort correctly. Spark 3+ turned this off by
      // default because it lists files at PLANNING time to count them;
      // the file index is cached per table, and our store probes pay
      // that listing anyway, so the check is ~free here.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS): read as nanosecond
      // longs (graft.operators.Events floor-divides to micros, matching
      // DuckDB's reader).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ui.explainMode", "formatted")
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
