package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Decision logic of the adaptive scan helpers in [[Tables]]
  * (r16 ADVICE: the fan-out rules were covered only by the end-to-end
  * oracle/bench gates).
  *
  * - fanOut must insert its exchange for a planted 1-file scan (the
  *   single-split case it exists for), must NO-OP for a table already
  *   split at least `defaultParallelism` ways, and must NO-OP on
  *   frames with no file lineage.
  * - The split probe must count ROW GROUPS, not byte-range splits: a
  *   large single-row-group file slices into many mostly-empty splits
  *   and is exactly the case the fan-out targets.
  * - clusterParts must scale with input bytes and clamp to the session
  *   shuffle parallelism.
  */
class FanOutSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def hasFanOutExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.sparkPlan.toString.contains("Exchange hashpartitioning")

  private val tmp = java.nio.file.Files
    .createTempDirectory("fanout_spec").toString

  test("fanOut inserts the exchange for a 1-file scan, no-ops at >= cores files") {
    val one = s"$tmp/one.parquet"
    spark.range(0, 50000).select($"id", ($"id" * 7).as("x"))
      .coalesce(1).write.mode("overwrite").parquet(one)
    val scan1 = spark.read.parquet(one)
    assert(hasFanOutExchange(Tables.fanOut(scan1, "id")),
      "single-file scan must fan out")

    val cores = spark.sparkContext.defaultParallelism
    val many = s"$tmp/many.parquet"
    spark.range(0, 50000).select($"id", ($"id" * 7).as("x"))
      .repartition(cores + 2).write.mode("overwrite").parquet(many)
    // small files pack into one split under the 4 MB openCost charge —
    // cap the split size at the openCost so each file is its own split
    // (the well-laid-out multi-file regime this assertion is about)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
    try {
      val scanN = spark.read.parquet(many)
      assert(scanN.rdd.getNumPartitions >= cores,
        "precondition: the multi-file scan must be split >= cores ways")
      assert(!hasFanOutExchange(Tables.fanOut(scanN, "id")),
        "a scan already split >= cores ways must not fan out")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("fanOut skips non-scan frames") {
    val one = s"$tmp/nolineage.parquet"
    spark.range(0, 1000).coalesce(1).write.mode("overwrite").parquet(one)
    val scan = spark.read.parquet(one)
    // no file lineage: a checkpointed frame must pass through untouched
    val cp = graft.functions.Cp.local(scan).toDF()
    assert(Tables.fanOut(cp, "id") eq cp,
      "frames with no input files must be returned as-is")
  }

  test("split probe counts row groups, not byte-range splits") {
    // one file, ONE row group, but sliced into many byte-range splits:
    // tiny maxPartitionBytes makes the planner report >= cores splits
    // while only one is non-empty — the row-group refinement must still
    // fan out (r16 ADVICE: the probe no-op'd on exactly this case)
    val one = s"$tmp/bigrg.parquet"
    spark.range(0, 200000)
      .select($"id", concat_ws("-", lit("padpadpad"), $"id").as("pad"))
      .coalesce(1).write.mode("overwrite").parquet(one)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 << 10).toString)
    try {
      val scan = spark.read.parquet(one)
      assert(scan.rdd.getNumPartitions >=
        spark.sparkContext.defaultParallelism,
        "precondition: byte-range splits must exceed cores for this test")
      assert(hasFanOutExchange(Tables.fanOut(scan, "id")),
        "many empty byte-range splits over one row group must still fan out")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("clusterParts scales with bytes and clamps to session parallelism") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tiny = s"$tmp/tiny.parquet"
    spark.range(0, 10).coalesce(1).write.mode("overwrite").parquet(tiny)
    assert(Tables.clusterParts(spark.read.parquet(tiny)) === 1)
    val big = s"$tmp/big.parquet"
    spark.range(0, 3000000).select($"id",
        md5(concat_ws("", $"id", $"id" * 3)).as("pad"))
      .coalesce(2).write.mode("overwrite").parquet(big)
    assert(Tables.clusterParts(spark.read.parquet(big)) === cap,
      "a table >> ClusterBytesPerPart*cap must clamp to shuffle.partitions")
    // no file lineage falls back to the cap (the safe upper bound)
    val cp = graft.functions.Cp.local(spark.read.parquet(tiny))
    assert(Tables.clusterParts(cp.toDF()) === cap)
  }
}
