package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single place the engine reads its tables from. Keeping every scan
  * behind these loaders means filter/column pushdown decisions are made
  * once: callers `select`/`filter` on the returned DataFrame and
  * Catalyst pushes both into the parquet scan (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * API is identical (`spark.read.table`), so only this file changes.
  */
object Tables {

  /** Columns every loader guarantees to its callers. Checked at load
    * time from parquet footers only (no data read): a renamed upstream
    * column fails HERE with the table and column named, not three
    * operators deep with an unresolved-attribute error. */
  private val required: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_regionkey", "n_name"),
    "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment",
      "c_acctbal", "c_name"),
    "supplier" -> Seq("s_suppkey", "s_nationkey", "s_acctbal", "s_name"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate",
      "o_totalprice", "o_orderstatus", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "user_id", "event_type", "ts", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Memoized EFFECTIVE scan parallelism per file set: the planner's
    * own split count REFINED by the parquet row-group count (scans
    * parallelize at row-group granularity, so byte-range splits over a
    * few-row-group file are mostly empty — min(splits, rowGroups) is
    * what actually runs concurrently). Keyed on paths + lengths +
    * mtimes + maxPartitionBytes + defaultParallelism — everything the
    * planner's maxSplitBytes derives from — so an in-place rewrite or
    * a different-parallelism session in the same JVM never reuses a
    * stale count (r16 ADVICE). */
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Fresh (length, mtime) stat — never memoized: the probe keys above
    * must see an in-place rewrite, and a local/HDFS stat is microseconds
    * against the job the decision feeds. */
  private def statOf(s: SparkSession, p: String): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(s.sessionState.newHadoopConf())
    val st = fs.getFileStatus(path)
    (st.getLen, st.getModificationTime)
  }

  /** Total parquet row groups across `files` (footer metadata only — no
    * data pages read). Non-parquet / unreadable footers fall back to
    * Int.MaxValue so the refinement only ever LOWERS the split count. */
  private def rowGroupsOf(s: SparkSession, files: Seq[String]): Int =
    try {
      val conf = s.sessionState.newHadoopConf()
      var n = 0L
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try n += r.getRowGroups.size finally r.close()
      }
      math.min(n, Int.MaxValue.toLong).toInt
    } catch { case _: Throwable => Int.MaxValue }

  /** EXPLICIT SCAN FAN-OUT for scans whose map-side work is heavy.
    * A parquet scan parallelizes at row-group granularity; a table
    * that arrives as a handful of small files (every local test SF: one file, one row
    * group per table) runs its ENTIRE map side as a single task while
    * the other cores idle. The optimization guide's input-skew rule
    * ("one huge unsplittable file … repartition immediately after the
    * read", §2.5) applied adaptively: when the scan's real split count
    * is below the session parallelism, redistribute by a deterministic
    * (near-)unique key — NEVER round-robin, which pays a
    * sort-before-repartition and re-draws assignments on task retry
    * (SPARK-38388) — so the per-row compute above the scan uses every
    * core. At production scale (many files / many row groups) the
    * split count exceeds the core count and this is a NO-OP: no extra
    * exchange ever appears on a well-laid-out table.
    *
    * Applied PER QUERY SITE, not blanket in [[load]]: the inserted
    * exchange costs a fixed ~0.2-0.4 s locally (AQE stage barrier +
    * M×R shuffle blocks), so it only pays where the single-threaded
    * map work exceeds that — measured per adopted site (r16; e.g.
    * q_bootstrap's 32-md5/row explode 5.1→1.9 s, while light
    * scan→agg queries REGRESSED under a blanket table-level fan-out
    * and keep the plain scan). Results are partitioning-independent
    * (decimal-exact sums, unique tie-breaks, sorted collect_lists —
    * SURVEY §6), re-proven by the oracle gate. */
  def fanOut(df: DataFrame, keys: String*): DataFrame = {
    val spark = df.sparkSession
    val files = df.inputFiles
    if (files.isEmpty) return df // not a file scan — nothing to assess
    val cores = spark.sparkContext.defaultParallelism
    val sorted = files.sorted
    // stat/footer probes are per-file metadata reads: fine for the
    // few-file regime this decision targets; a many-file table is
    // already parallel at file granularity (≥1 row group each)
    if (sorted.length >= math.max(cores, 512)) return df
    val stats = sorted.map(statOf(spark, _))
    val key = cores + ":" +
      spark.conf.get("spark.sql.files.maxPartitionBytes") + ":" +
      sorted.mkString(",") + ":" +
      stats.map { case (l, m) => s"$l.$m" }.mkString(",")
    val effective = scanParts.computeIfAbsent(key, _ =>
      math.min(df.rdd.getNumPartitions, rowGroupsOf(spark, sorted)))
    if (effective >= cores) df
    else df.repartition(cores, keys.map(df.col): _*)
  }

  /** Compressed input bytes per clustered-checkpoint partition. */
  val ClusterBytesPerPart: Long = 128L << 10

  /** Scale-adaptive partition count for EXPLICIT clustered layouts
    * (the `Cp.localClustered*` call sites). REPARTITION_BY_NUM is
    * exempt from AQE coalescing BY DESIGN — that is what makes the
    * layout claim provable — so a count pinned to
    * spark.sql.shuffle.partitions pays its full task/sort/block
    * overhead even when the materialized table is KB-scale (measured
    * r17: the pair/iterative family runs 1.3–2.2× slower on local[32]
    * than local[8] at sf0.1 purely from fixed 32-partition clustered
    * checkpoints). Derive the count from the frame's LEAF input bytes
    * instead — one partition per [[ClusterBytesPerPart]] of compressed
    * input, clamped to
    * [1, spark.sql.shuffle.partitions] — so at production scale
    * (≥ tens of MB per table) the clamp lands on the session
    * parallelism and plans are IDENTICAL to the old constant, while
    * gate/test SFs stop paying 32 tasks per checkpoint to lay out
    * kilobytes. Frames with no file lineage (built over an upstream
    * checkpoint) keep the session constant — the safe upper bound. */
  def clusterParts(df: DataFrame): Int = {
    val s = df.sparkSession
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    val files = df.inputFiles
    if (files.isEmpty || files.length >= 512) return cap
    val bytes = files.iterator.map(statOf(s, _)._1).sum
    math.max(1, math.min(cap.toLong,
      (bytes + ClusterBytesPerPart - 1) / ClusterBytesPerPart)).toInt
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    required.get(name).foreach { cols =>
      val missing = cols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"graft.Tables.$name: missing columns ${missing.mkString(", ")} " +
          s"(found: ${df.columns.mkString(", ")})")
    }
    df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
