package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Column/DataFrame ⇄ Catalyst bridge. Spark 4 hides the
  * Expression-backed Column constructor and plan accessors behind
  * `private[sql]`; living under `org.apache.spark.sql` is the standard
  * way extension libraries plug custom Catalyst expressions and
  * logical plans into the public API. The bench's listener reads the
  * `private[spark]` listener bus and job-group key through here too.
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager ColumnNode→Catalyst conversion. The lazy wrapper returned by
    * [[expression]] keeps the (non-serializable) internal column node
    * alive until analysis; custom operators that embed expressions in
    * their own nodes need the converted catalyst tree up front. */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical

  /** Resolved plan with bound output attributes — custom binary nodes
    * that embed child attributes in their own expressions need this
    * (the raw logical plan of a freshly-built frame can be unresolved,
    * with empty output). */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Blocks until every posted listener event is delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job group a job was submitted under, from its properties. */
  def jobGroup(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Bloom-filter build aggregate over a hashed (LONG) column; yields
    * one BINARY cell — the serialized filter. Spark only exposes this
    * through the scala-udf-free `bloom_filter_agg` internals, so the
    * catalyst construction lives here, not in operator code. */
  def bloomAggregate(hashed: Column, expectedItems: Long,
                     numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
        eagerExpression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Codegen'd membership probe against a driver-built serialized
    * bloom filter (the executor-side half of [[bloomAggregate]]). */
  def bloomMightContain(filterBytes: Array[Byte], hashed: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        filterBytes, org.apache.spark.sql.types.BinaryType),
      eagerExpression(hashed)))

  /** Re-declare the physical layout of a CHECKPOINTED frame.
    *
    * `Dataset.localCheckpoint` wraps the materialized RDD in a
    * [[org.apache.spark.sql.execution.LogicalRDD]] whose
    * outputPartitioning is whatever the executed plan reported — under
    * AQE that is `UnknownPartitioning`, so every downstream
    * join/aggregate on the SAME key re-shuffles the materialized
    * table from scratch (the pair family pays 3 extra posting-volume
    * exchanges per query from this). This helper rebuilds the
    * LogicalRDD with `HashPartitioning(cols, nPart)` (+ optional
    * per-partition ascending order on the same cols), which is
    * exactly what `ShuffleExchangeExec` would have declared for the
    * shuffle that produced the layout.
    *
    * CONTRACT (the caller proves, the engine trusts): the
    * checkpointed RDD really is laid out as
    * `pmod(murmur3(cols), nPart)` — i.e. it was produced by
    * `repartition(nPart, cols)` (REPARTITION_BY_NUM is exempt from
    * AQE coalescing) or by a chain of partition-preserving operators
    * (filters/projections/merge-joins/hash-agg on the same key) from
    * such a shuffle — and, when `sorted`, each partition is ascending
    * on `cols` (e.g. the streamed side of a sort-merge join). A false
    * claim produces WRONG JOINS silently; keep every call site behind
    * the DuckDB oracle gate. LogicalRDD.newInstance remaps the
    * partitioning/ordering attributes on self-join deduplication, so
    * the claim survives self-joins. */
  def claimClustered(df: DataFrame, nPart: Int, cols: Seq[String],
                     sorted: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val lr = cds.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalArgumentException(
        s"claimClustered expects a checkpointed frame (LogicalRDD), got ${other.nodeName}")
    }
    val attrs = cols.map { c =>
      val hits = lr.output.filter(_.name == c)
      require(hits.size <= 1,
        s"claimClustered: ambiguous column name $c (${hits.size} matches) " +
          s"in ${lr.output.map(_.name)} — a claim bound to the wrong " +
          "attribute declares a false layout (silently wrong joins)")
      hits.headOption.getOrElse(throw new IllegalArgumentException(
        s"claimClustered: no output column named $c in ${lr.output.map(_.name)}"))
    }
    require(lr.rdd.getNumPartitions == nPart,
      s"claimClustered: rdd has ${lr.rdd.getNumPartitions} partitions, claimed $nPart")
    val ord = if (sorted) attrs.map(a => SortOrder(a, Ascending)) else Nil
    // the original LogicalRDD's second ctor arg list is protected;
    // lr.stats / lr.constraints re-expose the same planning inputs
    // (stats resolve FROM originStats when it was set), so the
    // relabeled node plans identically — including broadcast
    // decisions — except for the declared layout
    val relabeled = new LogicalRDD(
      lr.output, lr.rdd, HashPartitioning(attrs, nPart), ord,
      lr.isStreaming, lr.stream)(
      cds.sparkSession, Some(lr.stats), Some(lr.constraints))
    classic.Dataset.ofRows(cds.sparkSession, relabeled)
  }
}
