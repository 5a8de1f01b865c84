package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The five STANDING STORES and their one lifecycle: ensure (build from
  * the corpus split if absent) → append (a batch's novel rows) →
  * compact (back to one file per bucket or partition), plus the
  * fixed-slice probe each store serves. fp / band / anchor hold
  * document-grain keys; graph / ivf hold embedding-grain vectors.
  *
  * Callers name a family and nothing else — which tables it owns, what
  * its verbs take and which verb compacts it are decided here, once.
  * The verbs themselves live with their operators (a store's build and
  * novelty anti-join are the operator's own plans); the scaffolding
  * they share — the table-name rule, the store path, recover → exists →
  * build and recover → require → append — is the helpers below. */
object Stores {

  /** What a store's batches carry: full document rows, or
    * (vec_id, embedding) rows. */
  sealed trait Grain
  case object Documents extends Grain
  case object Embeddings extends Grain

  /** One store family, keyed by corpus dir `d`. `tables(d)` lists its
    * catalog tables, the one `ensure` returns first. `probe` is the
    * fixed-slice query the store serves (the oracle-gated one) and
    * `probeTvf` its SQL table function; `admit` is the same probe over
    * an arbitrary incoming batch, for the stores that admit documents. */
  final case class Store(
      family: String,
      grain: Grain,
      tables: String => Seq[String],
      ensure: (SparkSession, String) => String,
      append: (SparkSession, String, DataFrame) => Unit,
      compact: (SparkSession, String) => Unit,
      probe: (SparkSession, String) => DataFrame,
      probeTvf: String,
      admit: Option[(SparkSession, String, DataFrame) => DataFrame] = None)

  val all: Seq[Store] = Seq(
    Store("fp", Documents, d => Seq(Dedup.fpStoreTable(d)),
      Dedup.ensureFpStore, Dedup.appendFpStore,
      (s, d) => Sources.compactBucketed(s, Dedup.fpStoreTable(d), "fp"),
      Dedup.qIncrementalDedupStore, "incremental_admit",
      Some(Dedup.incrementalDedupStoreOver)),
    Store("band", Documents, d => Seq(Dedup.bandStoreTable(d)),
      Dedup.ensureBandStore, Dedup.appendBandStore,
      (s, d) => Sources.compactBucketed(s, Dedup.bandStoreTable(d), "bb"),
      Dedup.qNeardupAdmitStore, "neardup_admit",
      Some(Dedup.neardupAdmitStoreOver)),
    Store("anchor", Documents, d => Seq(TextAnalysis.anchorStoreTable(d)),
      TextAnalysis.ensureAnchorStore, TextAnalysis.appendAnchorStore,
      (s, d) => Sources.compactBucketed(s, TextAnalysis.anchorStoreTable(d), "h"),
      TextAnalysis.qSpanAdmitStore, "span_admit",
      Some(TextAnalysis.spanAdmitStoreOver)),
    Store("graph", Embeddings, d => {
        val t = Similarity.graphStoreTable(d)
        Seq(t, Similarity.graphNodesTable(t))
      },
      Similarity.ensureGraphStore,
      (s, d, b) => Similarity.appendGraphStore(s, Similarity.graphStoreTable(d), b),
      (s, d) => Similarity.compactGraphStore(s, Similarity.graphStoreTable(d)),
      Similarity.qAnnGraphStore, "ann_graph_store"),
    Store("ivf", Embeddings, d => Seq(Similarity.ivfStoreTable(d)),
      (s, d) => Similarity.ensureIvfStore(s, d), Similarity.appendIvfStore,
      Similarity.compactIvfStore, Similarity.qAnnIvfStore, "ann_ivf_store"))

  /** The entry for `family`; an unknown name is a caller error that
    * lists the families. */
  def apply(family: String): Store = all.find(_.family == family).getOrElse(
    throw new IllegalArgumentException(
      s"store family must be one of ${all.map(_.family).mkString("|")}, got '$family'"))

  /** Deterministic store table name per corpus dir (the catalog key a
    * cross-session ingest job would agree on):
    * `graft_<family>store_<first 12 hex of md5(dir)>`. */
  private[graft] def tableName(family: String, d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_${family}store_${md.take(12)}"
  }

  /** Where a store table's files live. */
  private[graft] def path(tbl: String): String = s"/tmp/graft_fpstore/$tbl"

  /** The table's location, from the catalog. */
  private[graft] def location(s: SparkSession, tbl: String): String =
    s.sql(s"DESCRIBE TABLE EXTENDED $tbl")
      .filter(col("col_name") === "Location")
      .head.getString(1)

  /** Bucket count for a NEW standing store: scale-adaptive
    * ([[graft.Tables.clusterParts]] over the corpus frame — ~1 bucket
    * per 128 KB of compressed input, clamped at the session shuffle
    * parallelism). A fixed 32 paid 32 scan tasks per probe (and per
    * beam-walk hop) on KB-scale gate corpora; at production bytes the
    * clamp lands on the session parallelism, the old constant.
    * Appends/compactions NEVER use this — they read the standing
    * table's own count from the catalog ([[Sources.bucketCountOf]]),
    * the single source of truth the bucketed-append validation must
    * agree with. */
  private[graft] def buckets(corpus: DataFrame): Int =
    graft.Tables.clusterParts(corpus)

  /** recover → exists → build: restores every table of a store from a
    * crashed rename rotation ([[Sources.recoverRotation]] — a crash
    * must never read as "absent" and trigger a rebuild that discards
    * the appended batches), then runs `build` only if the first table
    * is absent. Returns that table. */
  private[graft] def ensureTables(s: SparkSession, tbls: String*)(
      build: => Unit): String = {
    tbls.foreach(Sources.recoverRotation(s, _))
    if (!s.catalog.tableExists(tbls.head)) build
    tbls.head
  }

  /** [[ensureTables]] for a one-table bucketed store: `rows` (built only
    * when the table is absent) lands bucketed and sorted by `key` at
    * [[buckets]] of the `sizing` corpus frame. */
  private[graft] def ensureBucketed(s: SparkSession, tbl: String, key: String,
                                    sizing: => DataFrame)(
      rows: => DataFrame): String =
    ensureTables(s, tbl)(create(rows, tbl, key, buckets(sizing)))

  /** A new store table at [[path]]: `rows` bucketed and sorted by `key`
    * into `nBuckets`. */
  private[graft] def create(rows: DataFrame, tbl: String, key: String,
                            nBuckets: Int): Unit =
    Sources.writeBucketed(rows, tbl, key, nBuckets, path = Some(path(tbl)))

  /** recover → require: an append's precondition — every table of the
    * store is registered (a crashed rotation restored first). */
  private[graft] def requireTables(s: SparkSession, tbls: String*): Unit = {
    tbls.foreach(Sources.recoverRotation(s, _))
    require(tbls.forall(s.catalog.tableExists),
      s"store ${tbls.mkString("/")} does not exist — build it with its ensure verb")
  }

  /** recover → require → append for a one-table bucketed store. `rows`
    * is built only once the table is live (it anti-joins the standing
    * rows). */
  private[graft] def appendBucketed(s: SparkSession, tbl: String, key: String)(
      rows: => DataFrame): Unit = {
    requireTables(s, tbl)
    appendRows(s, rows, tbl, key)
  }

  /** Bucketed append at the table's own catalog bucket count. */
  private[graft] def appendRows(s: SparkSession, rows: DataFrame, tbl: String,
                                key: String): Unit =
    Sources.writeBucketed(rows, tbl, key, Sources.bucketCountOf(s, tbl),
      mode = SaveMode.Append)
}
