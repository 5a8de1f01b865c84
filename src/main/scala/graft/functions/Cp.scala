package graft.functions

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** House localCheckpoint: eager + MEMORY_AND_DISK_SER.
  *
  * The default localCheckpoint() stores DESERIALIZED rows
  * (MEMORY_AND_DISK): a shingle/bigram posting table that is 1–2 GB
  * as parquet inflates several-fold on-heap, and at 100× SF the block
  * build itself OOMs a modestly-sized executor before spill can help
  * (observed: the whole pair family dying in stage 9 at sf10 on the
  * 8 g local JVM). Serialized storage keeps blocks compact (UnsafeRow
  * bytes), spills cleanly, and costs one deserialization on re-read —
  * the right trade for every materialize-once table in this engine.
  * Small frames lose nothing. On a real cluster the same reasoning
  * holds per executor.
  */
object Cp {

  /** Checkpoint-transparency registry for the plan-invariant tests.
    *
    * Eager checkpoints TRUNCATE lineage: anything materialized via
    * [[local]] disappears from the final sparkPlan, so invariants
    * scanned there (global-window funnels, merge-join/no-broadcast
    * assertions) cannot see inside a materialized subtree — and the
    * engine materializes its most scale-sensitive subtrees (pair
    * pipelines, posting tables, histogram spines) exactly there.
    * While recording is on, [[local]] captures each input's physical
    * plan BEFORE truncation; PlanShapeSpec asserts invariants over
    * the union of the final plan and every recorded subtree, so a
    * data-sized global window hidden under a checkpoint fails the
    * test instead of slipping through (the round-10 q_dsir lesson). */
  private val recorded =
    new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.execution.SparkPlan]()
  @volatile private var recording = false

  def startRecording(): Unit = synchronized {
    recorded.clear(); recording = true
  }

  def stopRecording(): Seq[org.apache.spark.sql.execution.SparkPlan] =
    synchronized {
      recording = false
      val out = recorded.toList
      recorded.clear()
      out
    }

  def local[T](ds: Dataset[T]): Dataset[T] = {
    if (recording) synchronized {
      if (recording) recorded += ds.queryExecution.sparkPlan
    }
    ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** Checkpoint MATERIALIZED AND DECLARED clustered by `cols`.
    *
    * [[local]] forgets the physical layout (under AQE the captured
    * outputPartitioning is Unknown), so a table materialized
    * partitioned-by-key still gets re-shuffled by every downstream
    * join/agg on that key. This variant repartitions to exactly
    * `nPart` hash partitions on `cols` (REPARTITION_BY_NUM — AQE
    * never coalesces it, so the layout is provably
    * pmod(murmur3(cols), nPart)), checkpoints, and re-declares the
    * partitioning on the checkpointed frame — downstream same-key
    * aggregations and co-partitioned joins (including self-joins;
    * attribute remapping survives dedup) then plan with ZERO
    * exchanges. The posting-table pipelines are the target: build
    * shuffled once, consumed shuffle-free three times. */
  def localClustered(df: org.apache.spark.sql.DataFrame, nPart: Int,
                     cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    org.apache.spark.sql.graft.Bridge.claimClustered(
      local(df.repartition(nPart, cols.map(col): _*)), nPart, cols)
  }

  /** [[localClustered]] + per-partition ASCENDING ORDER on the same
    * `cols`: repartition (REPARTITION_BY_NUM, AQE-exempt) then
    * sortWithinPartitions (partition-preserving), checkpoint, and
    * re-declare both properties. Downstream same-key merge joins then
    * plan with zero exchanges AND zero sorts — the build shape for a
    * table consumed by several merge-hinted equi-joins on its key
    * (recall/census evaluators joining two pair tables, per-round
    * edge⋈degree joins). Both layout facts are provable from the
    * plan: the claim never sits downstream of an ENSURE_REQUIREMENTS
    * exchange. */
  def localClusteredSorted(df: org.apache.spark.sql.DataFrame, nPart: Int,
                           cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    org.apache.spark.sql.graft.Bridge.claimClustered(
      local(df.repartition(nPart, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)),
      nPart, cols, sorted = true)
  }

  /** Checkpoint a frame whose CLUSTERED (and optionally per-partition
    * SORTED) layout is inherited from upstream, and re-declare it.
    * For frames derived from a [[localClustered]] ancestor through
    * partition-preserving operators only — filters, projections, and
    * merge/broadcast joins or hash-aggs keyed on the same `cols`
    * (a merge join additionally leaves its streamed side ascending on
    * the key: pass `sorted = true` and the next merge self-join skips
    * its sorts too). The layout claim is the CALLER's proof burden —
    * see [[org.apache.spark.sql.graft.Bridge.claimClustered]]; every
    * call site stays behind the DuckDB oracle gate. */
  def localClusteredAs(df: org.apache.spark.sql.DataFrame, nPart: Int,
                       cols: Seq[String],
                       sorted: Boolean = false): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.Bridge.claimClustered(
      local(df), nPart, cols, sorted)

  /** One-shot checkpoint hygiene for SIDE-EFFECTING verbs (the
    * append/ensure store maintenance family): run `body`, then drop
    * every localCheckpoint block it created — also when it throws. The
    * append verbs checkpoint intermediate frames (batch reps, novelty
    * hits, capped edges) that are fully consumed by their eager writes
    * — but the blocks themselves survive the call
    * (MEMORY_AND_DISK_SER, reaped only on a driver GC), so a
    * multi-cycle ingest/soak driver accumulates a generation per cycle
    * until the heap forces the collection — the same
    * checkpoint-retention OOM class [[Rounds]] exists for, one
    * call-shape out. ONLY safe when `body`'s RESULT does not reference
    * the checkpoints (Unit-returning appends, ensure* returning a table
    * name); a verb returning a lazy DataFrame over its checkpoint must
    * keep the generation alive. */
  def scoped[T](s: SparkSession)(body: => T): T =
    created(s)(body)(dropGeneration(s, _))

  /** Checkpoint the frame `build` returns through [[local]], then drop
    * the checkpoints that building it created — also when either step
    * throws. The new checkpoint truncates the lineage, so an upstream
    * pipeline's blocks (the pair pipeline's posting tables under a
    * near-dup edge list) die with the call instead of on a driver GC.
    * A `build` that creates no checkpoint (one reading the shared
    * [[graft.operators.Dedup.withSharedPairs]] build) drops nothing. */
  def localReplacing[T](s: SparkSession)(build: => Dataset[T]): Dataset[T] = {
    var gen = Set.empty[Int]
    try local(created(s)(build)(gen = _))
    finally dropGeneration(s, gen)
  }

  /** ITERATIVE-ROUND checkpoint generations. Each `round { ... }` runs
    * its body, keeps the localCheckpoints the body created live, and
    * drops the previous round's once the body has returned — eager
    * checkpoints have materialized by then and truncated the lineage
    * to the dead generation, so at most two generations are ever
    * live. Without this an N-round loop pins N generations of
    * checkpointed state until the ContextCleaner GCs them — which at
    * 100× SF is after the OOM, not before (observed: q_kcore executor
    * OOM at sf10 on an 8 g heap). A round body must therefore hold
    * every read of the previous generation (convergence checks
    * included); a checkpoint that must outlive its round is made
    * outside any round body, where no generation owns it. */
  final class Rounds private[Cp] (s: SparkSession) {
    private var live = Set.empty[Int]
    def apply[T](body: => T): T =
      created(s)(body) { ids => dropGeneration(s, live); live = ids }
  }

  def rounds(s: SparkSession): Rounds = new Rounds(s)

  /** Run `body`, then hand `after` the persistent RDD ids it created
    * — in this engine, its [[local]] checkpoint blocks — also when it
    * throws. */
  private[graft] def created[T](s: SparkSession)(body: => T)(
      after: Set[Int] => Unit): T = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    try body
    finally after((s.sparkContext.getPersistentRDDs.keySet -- before).toSet)
  }

  /** Drop a DEAD generation's localCheckpoint blocks by RDD id. Eager
    * localCheckpoints truncate lineage, so dropped blocks are
    * unrecoverable — callers pass only ids no live plan references. */
  private[graft] def dropGeneration(s: SparkSession, ids: Set[Int]): Unit =
    s.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids(id) }
      .values.foreach(_.unpersist(blocking = false))
}
