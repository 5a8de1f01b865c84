package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{LshParams, MinHash}
import graft.functions.MinHash.minhashSigs
import graft.functions.TextFunctions._

/** Deduplication operators for an LLM training-data pipeline: exact
  * (content hash), normalized fingerprint, MinHash+LSH banding, SimHash,
  * and n-gram Jaccard verification of candidate pairs.
  *
  * Scale design (100 TB corpus):
  * - exact/fingerprint dedup is one hash-partitioned groupBy (single
  *   shuffle on a 128-bit key — uniformly distributed, no skew);
  * - MinHash signatures are a narrow map (one codegen pass per row,
  *   no explode/shuffle); LSH banding shuffles once on (band, bucket)
  *   keys, and candidate pair generation is per-bucket — bounded by
  *   band width, never a global cross product;
  * - Jaccard verification joins only on shared *rare* shingles: the
  *   [[DfCap]] document-frequency cap drops ubiquitous shingles from
  *   the join key (they carry no Jaccard signal), bounding every join
  *   bucket at DfCap² — no quadratic hot bucket at corpus scale.
  */
object Dedup {

  private val K = 16          // minhash signature length
  private val Bands = 4       // LSH bands (K/Bands rows per band)
  private val ShingleN = 3    // minhash shingle width (words)
  private[graft] val JaccardN = 5    // jaccard shingle width (words)

  def qExactDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_unique"))
  }

  def qFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy(fingerprint($"text").as("fp"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper"))
  }

  private val BatchMod = 10 // doc_id % 10 == 3 → the incoming "new batch"
  private val BatchRem = 3

  /** INCREMENTAL dedup — the ingestion-time primitive: dedup a new
    * batch AGAINST the existing corpus without re-clustering the
    * corpus. A new doc is dropped iff its normalized fingerprint
    * already exists in the corpus (left-semi probe); novel docs
    * survive. The probe shuffles only on the 128-bit fingerprint (not
    * text), and Spark's runtime Bloom-filter join injection (on by
    * default) pre-filters the big corpus side before the shuffle —
    * the batch side is days-of-ingest small, the corpus side is the
    * 100 TB table, and neither is ever materialized wide. Here the
    * batch is the deterministic doc_id % [[BatchMod]] == [[BatchRem]]
    * slice; in production it is the incoming partition. */
  def qIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // materialized once: the corpus and batch sides both derive from
    // this scan, and fingerprint = md5(regex-normalize(text)) is the
    // dominant cost — two passes without it
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"source", fingerprint($"text").as("fp"))
      .transform(graft.functions.Cp.local)
    val isBatch = pmod($"doc_id", lit(BatchMod)) === BatchRem
    // no distinct(): a LEFT SEMI probe is set-semantics already, so
    // pre-deduplicating the corpus side is a pure extra shuffle+agg
    // over the 100 TB table
    val corpusFp = docs.filter(!isBatch).select($"fp")
    val batch = docs.filter(isBatch)
    val batchCounts = batch.groupBy($"source")
      .agg(count(lit(1)).as("n_batch"))
    val dupCounts = batch.join(corpusFp, Seq("fp"), "left_semi")
      .groupBy($"source").agg(count(lit(1)).as("n_dup"))
    // combine per-source (a handful of rows) instead of re-joining the
    // batch on doc_id — one fewer wide shuffle
    batchCounts.join(dupCounts, Seq("source"), "left")
      .select($"source", $"n_batch",
        coalesce($"n_dup", lit(0L)).as("n_dup_vs_corpus"),
        ($"n_batch" - coalesce($"n_dup", lit(0L))).as("n_novel"))
  }

  /** The fingerprint store's table for corpus dir `d`
    * ([[graft.sources.Stores.tableName]]). */
  private[graft] def fpStoreTable(d: String): String =
    graft.sources.Stores.tableName("fp", d)

  /** Build (if absent) the STANDING FINGERPRINT STORE for corpus dir
    * `d`: the corpus side of [[qIncrementalDedup]] — (doc_id, source,
    * fp) with fp = md5(normalized text) — persisted as a parquet table
    * BUCKETED AND SORTED BY fp ([[graft.sources.Sources
    * .writeBucketed]]). This is the cross-SESSION form of
    * [[withSharedPairs]]: on a standing 100 TB corpus the fingerprint
    * scan+normalize+hash runs ONCE at ingest/compaction time, and
    * every later dedup batch probes a pre-partitioned table — the
    * probe plan carries ZERO corpus-side exchange (bucketed scan
    * feeds the merge semi-join directly; FpStoreSpec asserts it) and
    * never re-reads corpus TEXT, only the narrow fp column. */
  private[graft] def ensureFpStore(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.sources.Stores.ensureBucketed(s, fpStoreTable(d), "fp",
        Tables.documents(s, d)) {
      Tables.documents(s, d)
        .filter(pmod($"doc_id", lit(BatchMod)) =!= BatchRem)
        .select($"doc_id", $"source", fingerprint($"text").as("fp"))
    }
  }

  /** Close the ingest loop on the standing fingerprint store: append
    * a newly ADMITTED batch's fingerprints so the next cycle's probe
    * sees them — probe → admit → append → next batch. Parquet
    * bucketed append adds per-bucket files with the SAME hash spec
    * (Spark validates it), so later probes still skip the corpus-side
    * exchange; multi-file buckets re-sort per partition (sort
    * metadata applies only to single-file buckets) until the next
    * compaction, which is the standard bucketed-table lifecycle.
    * Callers append only what they admit; batch rows whose fp is
    * ALREADY STANDING are anti-joined away first (probes are
    * semi/anti-joins on fp, so multiplicity never changes results —
    * but without the anti-join, repeated ingest cycles grow bucket
    * occupancy with rows no probe can distinguish). The anti-join is
    * probe-shaped: batch side shuffles once to the bucket
    * granularity, store side streams off its files merge-hinted. */
  private[graft] def appendFpStore(s: SparkSession, d: String,
                                   docs: DataFrame): Unit = {
    import s.implicits._
    val tbl = fpStoreTable(d)
    graft.sources.Stores.appendBucketed(s, tbl, "fp") {
      docs.select($"doc_id", $"source", fingerprint($"text").as("fp"))
        .join(s.table(tbl).select($"fp").hint("merge"),
          Seq("fp"), "left_anti")
    }
  }

  /** INCREMENTAL dedup against the PERSISTED fingerprint store — the
    * production shape of [[qIncrementalDedup]]: same census, same
    * oracle, but the corpus side is the standing bucketed table from
    * [[ensureFpStore]] instead of a per-query fingerprint pass over
    * corpus text. The batch side (days-of-ingest small) is fingerprinted
    * fresh and shuffled once to the store's bucket granularity; the
    * store side streams straight off its bucketed+sorted files into
    * the merge semi-join (merge-hinted — the corpus-grown side must
    * never ride an AQE broadcast). At 100 TB this removes the whole
    * corpus scan+hash+shuffle from every ingest cycle. */
  def qIncrementalDedupStore(s: SparkSession, d: String): DataFrame =
    incrementalDedupStoreOver(s, d, Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(BatchMod)) === BatchRem))

  /** [[qIncrementalDedupStore]] over an ARBITRARY incoming batch —
    * the ingest-session entry point ([[graft.IngestBench]] drives it
    * with mixed dup/novel batches); the oracle-gated query is the
    * fixed-slice instance of this exact plan. */
  private[graft] def incrementalDedupStoreOver(s: SparkSession, d: String,
                                               docs: DataFrame): DataFrame = {
    import s.implicits._
    val store = s.table(ensureFpStore(s, d)).select($"fp")
    val batch = docs
      .select($"doc_id", $"source", fingerprint($"text").as("fp"))
      .transform(graft.functions.Cp.local) // read twice: counts + probe
    val batchCounts = batch.groupBy($"source")
      .agg(count(lit(1)).as("n_batch"))
    val dupCounts = batch.join(store.hint("merge"), Seq("fp"), "left_semi")
      .groupBy($"source").agg(count(lit(1)).as("n_dup"))
    batchCounts.join(dupCounts, Seq("source"), "left")
      .select($"source", $"n_batch",
        coalesce($"n_dup", lit(0L)).as("n_dup_vs_corpus"),
        ($"n_batch" - coalesce($"n_dup", lit(0L))).as("n_novel"))
  }

  /** The band store's table for corpus dir `d`. */
  private[graft] def bandStoreTable(d: String): String =
    graft.sources.Stores.tableName("band", d)

  /** Build (if absent) the STANDING LSH BAND STORE for corpus dir
    * `d`: the corpus side of [[qNeardupAdmitStore]] — every banded
    * MinHash bucket key `bb = band|bucket` with its full signature,
    * DISTINCT at (bb, sig) grain, persisted as a parquet table
    * bucketed+sorted by bb. Two scale facts are baked in at write
    * time: the distinct collapses verbatim-replica families (an
    * N-copy document contributes ONE row per band, so no probe ever
    * meets an N-sized bucket of identical signatures), and the
    * band id is folded into the join key so the probe is a
    * single-column equi-join aligned with the table's bucketing —
    * zero corpus-side exchange, corpus text never re-shingled. */
  private[graft] def ensureBandStore(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.sources.Stores.ensureBucketed(s, bandStoreTable(d), "bb",
        Tables.documents(s, d)) {
      minhashBandedOf(
        Tables.documents(s, d)
          .filter(pmod($"doc_id", lit(BatchMod)) =!= BatchRem))
        .select(concat_ws("|", $"band", $"bucket").as("bb"), $"sig")
        .distinct()
    }
  }

  /** Close the ingest loop on the standing band store: append an
    * admitted batch's (bb, sig) band rows — distinct within the batch,
    * like the store build, and ANTI-JOINED against the standing rows
    * (a probe-shaped merge join on bb + a sig equality filter; the
    * store side never broadcasts) so repeated cycles can't erode the
    * write-time (bb, sig) DISTINCT invariant that keeps replica
    * families collapsed and probe fan-out bounded. Same lifecycle as
    * [[appendFpStore]]: bucketed append keeps the hash spec,
    * multi-file buckets re-sort until
    * [[graft.sources.Sources.compactBucketed]]. */
  private[graft] def appendBandStore(s: SparkSession, d: String,
                                     docs: DataFrame): Unit =
      graft.functions.Cp.scoped(s) {
    import s.implicits._
    val tbl = bandStoreTable(d)
    graft.sources.Stores.appendBucketed(s, tbl, "bb") {
      val batch = minhashBandedOf(docs)
        .select(concat_ws("|", $"band", $"bucket").as("bb"), $"sig")
        .distinct()
        .transform(graft.functions.Cp.local) // read twice: hits + anti
      // candidate matches ride the bb merge join (store side streams off
      // its buckets — a composite (bb, sig) join key would re-shuffle
      // the standing table by both columns instead); exact sig equality
      // is verified on the bb-colliding pairs, and the anti-join then
      // runs batch × batch-sized hits
      val hits = batch
        .join(s.table(tbl).withColumnRenamed("sig", "sig_st").hint("merge"),
          Seq("bb"))
        .filter($"sig" === $"sig_st")
        .select($"bb", $"sig")
      batch.join(hits, Seq("bb", "sig"), "left_anti")
    }
  }

  /** NEAR-DUP ADMISSION against the PERSISTED band store — the third
    * member of the standing-store family ([[qIncrementalDedupStore]]
    * exact-fingerprint, [[graft.operators.TextAnalysis
    * .qSpanAdmitStore]] span-grain): an incoming document is FLAGGED
    * when any of its [[Bands]] MinHash band buckets contains a
    * standing-corpus signature agreeing on ≥ K/2 lanes (estimated
    * Jaccard ≥ 1/2 — the near-dup threshold the pair family uses).
    * The batch side shingles + signs its own (days-of-ingest small)
    * documents fresh and shuffles once to the store's bucket
    * granularity; the store streams off its bucketed+sorted files
    * into the merge join (merge-hinted — corpus-grown sides never
    * broadcast). Per source: batch size, flagged count, and a
    * bit_xor proof over the ADMITTED doc_ids, so the oracle match
    * certifies every admission decision. */
  def qNeardupAdmitStore(s: SparkSession, d: String): DataFrame =
    neardupAdmitStoreOver(s, d, Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(BatchMod)) === BatchRem))

  /** [[qNeardupAdmitStore]] over an ARBITRARY incoming batch (the
    * [[incrementalDedupStoreOver]] convention). */
  private[graft] def neardupAdmitStoreOver(s: SparkSession, d: String,
                                           batchDocs: DataFrame): DataFrame = {
    import s.implicits._
    val store = s.table(ensureBandStore(s, d))
      .withColumnRenamed("sig", "sig_c")
    val best = minhashBandedOf(batchDocs)
      .select($"doc_id", concat_ws("|", $"band", $"bucket").as("bb"), $"sig")
      .join(store.hint("merge"), Seq("bb"))
      .groupBy($"doc_id")
      .agg(max(MinHash.sigAgree($"sig", $"sig_c").cast("long")).as("best_agree"))
    batchDocs.select($"doc_id", $"source")
      .join(best.hint("merge"), Seq("doc_id"), "left")
      .withColumn("flagged", lit(2) * coalesce($"best_agree", lit(0L)) >= K)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_batch"),
        sum($"flagged".cast("long")).as("n_flagged"),
        coalesce(bit_xor(when(!$"flagged", expr("doc_id * 1000003"))),
          lit(0L)).as("admit_checksum"))
      .orderBy($"source".asc)
  }

  /** MinHash signature matrix: K universal-hash mins over 3-word
    * shingles, one md5 per shingle (see [[MinHash]]), as a single
    * narrow projection (no shuffle). */
  def signatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = MinHash.shingleHash60(tokens($"text"), ShingleN)
    Tables.documents(s, d)
      .select($"doc_id", minhashSigs(sh, K).as("sig"))
      .select(($"doc_id" +:
        (0 until K).map(j => element_at($"sig", j + 1).as(f"sig_$j%02d"))): _*)
  }

  def qMinhashSig(s: SparkSession, d: String): DataFrame = signatures(s, d)

  /** Banded (band, bucket) MinHash view: the full signature array
    * rides through the (band, bucket) shuffle (128 B/row), so the
    * estimated jaccard is computed directly on the joined pair — one
    * self-join total, no joins back to the signature table. */
  private[graft] def minhashBandedOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val rows = K / Bands
    val sh = MinHash.shingleHash60(tokens($"text"), ShingleN)
    val sig = docs.select($"doc_id", minhashSigs(sh, K).as("sig"))
    val bandKeys = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(array_join(transform(
          slice($"sig", b * rows + 1, rows), x => x.cast("string")), "|")).as("bucket"))
    }
    sig
      .select($"doc_id", $"sig", explode(array(bandKeys: _*)).as("bk"))
      .select($"doc_id", $"sig", $"bk.band".as("band"), $"bk.bucket".as("bucket"))
  }

  /** LSH banding: equal band-signature ⇒ candidate near-duplicate pair.
    * The md5 band-bucket space grows with the data (no fixed ceiling),
    * but an N-copy document still makes one f² bucket — so pair
    * generation carries the same [[LshParams.BucketCap]] star fallback
    * as [[Similarity.nearDupLshOf]]: buckets above the cap emit only
    * (bucket-min, member) pairs, bounding volume at f−1 while keeping
    * the duplicate cluster connected. */
  def qMinhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    minhashCandidates(Tables.documents(s, d))
      .select($"doc_a", $"doc_b",
        round($"agree".cast("double") / K, 6).as("est_jaccard"))
  }

  /** Distinct banded candidate pairs with their signature-agreement
    * count — the shared core of [[qMinhashPairs]] and [[qJaccardEst]].
    * The agreement count is a fused codegen expression — the
    * interpreted zip_with+aggregate HOF equivalent costs ~µs per pair,
    * which dominates at corpus scale. */
  private def minhashCandidates(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cap = LshParams.BucketCap
    val w = Window.partitionBy($"band", $"bucket")
    // materialized once: both self-join sides would otherwise re-run
    // the whole signature pass (shingle md5 + K minhash lanes + band
    // window) — the dominant cost of the query. The explicit
    // repartition BEFORE the window pins the (band, bucket) layout
    // (REPARTITION_BY_NUM — AQE can't coalesce it, unlike the
    // ENSURE_REQUIREMENTS exchange the window would otherwise
    // introduce), the window's sort leaves partitions ascending on
    // exactly those keys, and both are re-declared on the checkpoint —
    // so the 128 B/row signature table shuffles ONCE and the
    // self-join below is a pure co-partitioned merge.
    val nPart = graft.Tables.clusterParts(docs)
    val banded = graft.functions.Cp.localClusteredAs(
      minhashBandedOf(docs)
        .repartition(nPart, $"band", $"bucket")
        .withColumn("f", count(lit(1)).over(w))
        .withColumn("bmin", min($"doc_id").over(w)),
      nPart, Seq("band", "bucket"), sorted = true)
    banded.as("a")
      .join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id" &&
          ($"a.f" <= cap || $"a.doc_id" === $"a.bmin"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        MinHash.sigAgree($"a.sig", $"b.sig").cast("long").as("agree"))
      .distinct()
  }

  /** Sketch ACCURACY measured in-engine: every banded candidate pair
    * with its MinHash signature agreement (the estimator, agree/K ≈
    * Jaccard) NEXT TO the exact shingle intersection and union sizes —
    * the calibration table you consult before trusting a sketch
    * threshold on a new corpus. All integer-exact columns. Scale
    * shape: the exact-verify join touches only candidate pairs (LSH-
    * bounded), never the corpus cross product — the standard
    * candidate-then-verify pattern. */
  def qJaccardEst(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cand = minhashCandidates(Tables.documents(s, d))
      .withColumnRenamed("agree", "agree_k")
    val ds = Tables.fanOut(Tables.documents(s, d), "doc_id")
      .select($"doc_id", explode(array_distinct(
        MinHash.shingleHash60(tokens($"text"), ShingleN))).as("sh"))
    val sz = ds.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = cand.select($"doc_a", $"doc_b")
      .join(ds.toDF("doc_a", "sh"), "doc_a")
      .join(ds.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sz.toDF("doc_a", "n_a"), "doc_a")
      .join(sz.toDF("doc_b", "n_b"), "doc_b")
      .select($"doc_a", $"doc_b", $"agree_k",
        coalesce($"inter", lit(0L)).as("inter"),
        ($"n_a" + $"n_b" - coalesce($"inter", lit(0L))).as("un"))
  }

  /** Per-document 32-bit SimHash and its ladder-width prefix bucket:
    * prefix bits = [[LshParams.widthForCount]] of the corpus size
    * (capped at [[LshParams.MaxPrefix]]), so bucket cardinality grows
    * with the data instead of flooring candidate volume at N²/2⁸. */
  private[operators] def simhashOf(docs: DataFrame): (DataFrame, Int) = {
    import docs.sparkSession.implicits._
    val pb = LshParams.widthForCount(docs.count(), LshParams.MaxPrefix)
    val df = docs
      .select($"doc_id",
        MinHash.simhash32(tokens($"text")).as("simhash"))
      .withColumn("bucket", shiftright($"simhash", 32 - pb))
    (df, pb)
  }

  def qSimhash(s: SparkSession, d: String): DataFrame =
    simhashOf(Tables.documents(s, d))._1

  /** SimHash near-dup candidate pairs: bucket on the ladder-width
    * prefix (only pairs agreeing on the top bits are candidates — the
    * simhash analogue of LSH banding), then verify by full 32-bit
    * Hamming distance ≤ [[SimHammingMax]]. bit_count(xor) is identical
    * integer arithmetic on both engines, so the pair set is exact.
    * Hot prefixes are bounded by the same star-fallback cap as the
    * other pair generators. */
  private val SimHammingMax = 6

  def qSimhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = LshParams.BucketCap
    val w = Window.partitionBy($"bucket")
    // single simhash pass, clustered by bucket (the minhashCandidates
    // layout discipline): without the checkpoint both self-join sides
    // re-run the tokenize+simhash scan; the pinned repartition +
    // re-declared layout make the self-join a co-partitioned merge
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val sh = graft.functions.Cp.localClusteredAs(
      simhashOf(Tables.documents(s, d))._1
        .repartition(nPart, $"bucket")
        .withColumn("f", count(lit(1)).over(w))
        .withColumn("bmin", min($"doc_id").over(w)),
      nPart, Seq("bucket"), sorted = true)
    sh.as("a").join(sh.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id" &&
          ($"a.f" <= cap || $"a.doc_id" === $"a.bmin"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long").as("hamming"))
      .filter($"hamming" <= SimHammingMax)
  }

  /** Gate-visible LSH health diagnostic, one row per bucketing family:
    * corpus size, the ladder-chosen key width, bucket count, the
    * hottest bucket, and how many buckets exceeded [[LshParams
    * .BucketCap]] (i.e. engaged the star fallback). This is the
    * number to watch on a corpus drop: n_over_cap > 0 means planted
    * duplication or collapsed embeddings somewhere. `width` is the
    * ladder value for the vector/simhash families and the rows-per-band
    * count for minhash (whose md5 bucket space is unbounded). */
  def qLshBucketStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = LshParams.BucketCap
    def statsOf(grouped: DataFrame, family: String, n: Long, width: Int) =
      grouped.agg(
          count(lit(1)).as("n_buckets"),
          max($"f").as("max_f"),
          sum(when($"f" > cap, 1L).otherwise(0L)).as("n_over_cap"))
        .select(lit(family).as("family"), lit(n).as("n"),
          lit(width.toLong).as("width"), $"n_buckets", $"max_f", $"n_over_cap")
    val docs = Tables.documents(s, d)
    val nDocs = docs.count()
    val emb = Tables.embeddings(s, d)
    val (eBanded, np) = Similarity.ndBandedOf(emb)
    val embStats = statsOf(
      eBanded.groupBy($"t", $"bucket").agg(count(lit(1)).as("f")),
      "embed_lsh", emb.count(), np)
    val (shDf, pb) = simhashOf(docs)
    val simStats = statsOf(
      shDf.groupBy($"bucket").agg(count(lit(1)).as("f")),
      "simhash", nDocs, pb)
    val mhStats = statsOf(
      minhashBandedOf(docs).groupBy($"band", $"bucket")
        .agg(count(lit(1)).as("f")),
      "minhash", nDocs, K / Bands)
    embStats.unionAll(simStats).unionAll(mhStats)
  }

  /** Exact n-gram Jaccard over candidate pairs that share ≥1
    * 5-word shingle. The join key is the 60-bit md5 prefix of the
    * shingle, not the string: an 8-byte shuffle key instead of ~30
    * chars, with collision odds ~n²/2⁶¹ (immaterial, and identical
    * on the oracle side if mirrored). */
  def qNgramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    jaccardPairs(s, d)
      .select($"doc_a", $"doc_b", $"inter",
        round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 6).as("jaccard"))
  }

  /** Max documents a shingle may appear in before it is dropped from
    * the pair-join key. A ubiquitous shingle ("in the middle of the")
    * shared by f docs creates an f² hot bucket in the self-join — the
    * classic quadratic skew killer at corpus scale. Shingles with
    * df > DfCap carry ~zero Jaccard signal (they don't discriminate),
    * so dropping them makes `inter` a tight lower bound while bounding
    * every join bucket at DfCap². Mirrored verbatim in the DuckDB
    * oracles, so the gate stays bit-exact with the cap ACTIVE. */
  private[graft] val DfCap = 256

  /** Shared pair pipeline: intersection size + both set sizes. Set
    * sizes (na/nb) count ALL distinct shingles; only the join is
    * restricted to shingles rarer than [[DfCap]].
    *
    * The exploded (doc, shingle-hash) posting table is MATERIALIZED
    * once, CLUSTERED by the shingle hash ([[graft.functions.Cp
    * .localClustered]]): it is read three times below (df aggregation
    * + both self-join sides), and every one of those consumers keys
    * on `s` — with a plain checkpoint the layout is forgotten and
    * each consumer re-shuffles the posting volume (measured: 3 extra
    * posting-grain exchanges per pair query), while the clustered
    * declaration makes the df-agg, the semi-join AND the self-join
    * plan with zero exchanges. The df-capped table is re-declared
    * clustered AND sorted ([[graft.functions.Cp.localClusteredAs]] —
    * the merge semi-join streams its left side in key order), so the
    * pair self-join is a pure co-partitioned merge: no exchange, no
    * sort, on a table shuffled exactly once at build. One shuffle +
    * block reads is the shape a production minhash pipeline uses. */
  private[graft] def jaccardPairsOf(docs: DataFrame,
                                    cappedSizes: Boolean = false,
                                    n: Int = JaccardN,
                                    dfCap: Long = DfCap,
                                    nPartHint: Int = -1): DataFrame = {
    import docs.sparkSession.implicits._
    // scale-adaptive posting layout width (Tables.clusterParts); callers
    // whose `docs` is checkpoint-backed (no file lineage) pass the hint
    // they derived from their own base scan
    val nPart =
      if (nPartHint > 0) nPartHint else graft.Tables.clusterParts(docs)
    val ds = graft.functions.Cp.localClustered(docs
      .select($"doc_id",
        array_distinct(MinHash.shingleHash60(tokens($"text"), n)).as("shs"))
      .select($"doc_id", size($"shs").cast("long").as("n"), explode($"shs").as("s")),
      nPart, Seq("s"))
    // document frequency per shingle hash; ds is distinct per (doc, s)
    // so count(*) IS the df. Zero-exchange: ds is declared clustered
    // by s, the aggregation key.
    val rare = ds.groupBy($"s").agg(count(lit(1)).as("df"))
      .filter($"df" <= dfCap).select($"s")
    // rare is shingle-grain (corpus-grown): never an AQE broadcast.
    // The merge semi-join preserves ds's clustering and leaves its
    // streamed side ascending on s — both re-declared on the
    // checkpoint (sorted = true), which is what lets the self-join
    // below skip its exchanges AND its sorts.
    val dsr = graft.functions.Cp.localClusteredAs(
      ds.join(rare.hint("merge"), Seq("s"), "left_semi"),
      nPart, Seq("s"), sorted = true)
    // merge-pinned: a small corpus's posting table slides under the
    // broadcast threshold, and the planner would broadcast one side of
    // the co-partitioned, sorted self-join
    val base = dsr.as("a")
      .join(dsr.as("b").hint("merge"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .agg(count(lit(1)).as("inter"))
    if (!cappedSizes) base
    else {
      // Per-doc size WITHIN the df-capped universe (doc-grain, map-side
      // combined off the checkpointed posting): the denominator that
      // makes the containment test EXACT inside the capped universe —
      // inter counts only rare shingles, so comparing it against the
      // ALL-shingle size na can never reach equality once the small doc
      // holds a single ubiquitous shingle (round-11 ADVICE fix). Joined
      // onto the PAIR table (pairs ≪ postings), never back onto dsr —
      // and OPT-IN: only the containment consumer (and the shared
      // build, where it is a one-time cost serving every consumer)
      // pays the two pair-grain joins; measured +0.2–0.5 s per
      // pair-family query at sf0.1 when unconditional.
      val szr = dsr.groupBy($"doc_id").agg(count(lit(1)).as("nr"))
      base
        .join(szr.select($"doc_id".as("doc_a"), $"nr".as("na_r"))
          .hint("merge"), Seq("doc_a"))
        .join(szr.select($"doc_id".as("doc_b"), $"nr".as("nb_r"))
          .hint("merge"), Seq("doc_b"))
    }
  }

  /** Active shared pair builds, keyed by (session, data dir). Written
    * only by [[withSharedPairs]]; read by [[jaccardPairs]]. */
  private val sharedPairs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** SESSION-SCOPED SHARED PAIR PIPELINE — serve every
    * [[jaccardPairs]] consumer inside `body` from ONE checkpointed
    * pair build. The pair family (threshold sweep, reachability,
    * k-core, dup-depth, clusters, minhash recall, …) shares the same
    * upstream: shingle posting table → df cap → self-join →
    * (doc_a, doc_b, inter, na, nb). Run standalone, each query pays
    * that build; inside this scope it is built and checkpointed ONCE
    * and every consumer starts from the materialized pair table — the
    * production shape, where the posting/pair build is a shared stage
    * of the curation DAG, not a per-query cost. Contract: (1) results
    * are bit-identical (consumers see the same frame they would have
    * built — SharedPairsSpec asserts equality and instance reuse;
    * measured 1.92× over 4 consumers at sf0.1);
    * (2) consumers must MATERIALIZE within `body` — on exit the
    * build's checkpoint blocks are dropped (generation hygiene, the
    * [[graft.functions.Cp.Rounds]] rule); (3) NOT used by Bench: the
    * per-query isolation contract there prices each query standalone.
    * Not re-entrant per (session, dir). */
  def withSharedPairs[T](s: SparkSession, d: String)(body: => T): T = {
    val key = (s, d)
    var gen = Set.empty[Int]
    // cappedSizes on: the shared table serves EVERY consumer incl.
    // containment, and the szr joins are a one-time build cost here
    val pairs = graft.functions.Cp.created(s)(
      jaccardPairsOf(Tables.documents(s, d), cappedSizes = true)
        .transform(graft.functions.Cp.local))(gen = _)
    require(sharedPairs.putIfAbsent(key, pairs) == null,
      s"withSharedPairs already active for $d in this session")
    try body
    finally {
      sharedPairs.remove(key)
      graft.functions.Cp.dropGeneration(s, gen)
    }
  }

  private[graft] def jaccardPairs(s: SparkSession, d: String,
                                  cappedSizes: Boolean = false): DataFrame =
    Option(sharedPairs.get((s, d)))
      .getOrElse(jaccardPairsOf(Tables.documents(s, d), cappedSizes))

  /** The near-dup graph: (doc_a, doc_b) pairs with jaccard > 1/2 under
    * the df cap, in the engine-exact integer form `3·inter > na+nb`. */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d).filter(lit(3) * col("inter") > col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"))

  /** Both directions of (doc_a, doc_b) edges, named (`a`, `b`). */
  private def undirected(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col("doc_a").as(a), col("doc_b").as(b))
      .union(e.select(col("doc_b").as(a), col("doc_a").as(b)))

  /** CROSS-SOURCE DUPLICATION CENSUS — the provenance-leakage question
    * a corpus card must answer: which SOURCES copy from each other?
    * Near-dup pairs (jaccard > 1/2 under the df cap — the cluster
    * threshold) roll up per unordered source pair with an integer
    * jaccard mass and a bit_xor placement proof over the exact pair
    * set; the diagonal (src_lo = src_hi) is within-source duplication,
    * off-diagonal cells are syndication/mirroring between feeds.
    * Scale shape: the shared capped pair pipeline + two doc-grain
    * merge joins (the source table is corpus-grown — never broadcast);
    * output is bounded by the source-pair census. */
  def qCrossSourceDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d).select($"doc_id", $"source")
    jaccardPairs(s, d)
      .filter(lit(3) * $"inter" > $"na" + $"nb")
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa"))
        .hint("merge"), Seq("doc_a"))
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb"))
        .hint("merge"), Seq("doc_b"))
      .groupBy(least($"sa", $"sb").as("src_lo"),
        greatest($"sa", $"sb").as("src_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("inter * 1000000000 div (na + nb - inter)"))
          .as("sum_jac_e9"),
        bit_xor(expr("doc_a * 1000003 ^ doc_b")).as("pair_checksum"))
      .orderBy($"src_lo".asc, $"src_hi".asc)
  }

  /** SUBSET-CONTAINMENT DETECTION — the asymmetric dup relation a
    * symmetric Jaccard threshold misses: doc A is a verbatim subset of
    * a LONGER doc B (truncated copy, quoted-in-full, prefix crawl).
    * Containment C(A→B) = |S(A)∩S(B)| / |S(A)| over distinct
    * [[JaccardN]]-gram shingles; a proper subset pair has C = 1 while
    * J = n_small/n_big can sit well under a 0.8 dedup threshold (at
    * the gate SFs pairs reach J ≈ 0.75 — kept by a Jaccard rule,
    * caught here). Full containment is tested INTEGER-EXACTLY as
    * inter = min(na_r, nb_r) — no division at the filter boundary —
    * where na_r/nb_r are the per-doc sizes WITHIN the df-capped
    * shingle universe ([[jaccardPairsOf]]'s szr): both the numerator
    * and the denominator live in the same universe, so the test is
    * EXACT there. (Round 11 fix: comparing inter against the
    * ALL-shingle size na could never fire once the small doc held a
    * single df > [[DfCap]] shingle — an exact truncated copy sharing
    * one "in the middle of the" was silently missed. A containment
    * riding ONLY on df > cap shingles remains out of scope — those
    * carry no discriminative signal by the same documented cap as the
    * whole Jaccard family.) Reported sizes/ratios are capped-universe
    * quantities. Scale shape: one derivation + filter over the shared
    * pair table; output grows only with the planted-dup count. */
  def qContainment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    jaccardPairs(s, d, cappedSizes = true)
      .filter($"inter" === least($"na_r", $"nb_r"))
      .select(
        when($"na_r" < $"nb_r" ||
          ($"na_r" === $"nb_r" && $"doc_a" < $"doc_b"),
          $"doc_a").otherwise($"doc_b").as("doc_small"),
        when($"na_r" < $"nb_r" ||
          ($"na_r" === $"nb_r" && $"doc_a" < $"doc_b"),
          $"doc_b").otherwise($"doc_a").as("doc_big"),
        least($"na_r", $"nb_r").as("n_small"),
        greatest($"na_r", $"nb_r").as("n_big"),
        expr("inter * 1000000000 DIV greatest(na_r, nb_r)").as("cont_big_e9"),
        expr("inter * 1000000000 DIV (na_r + nb_r - inter)").as("jac_e9"),
        ($"na_r" =!= $"nb_r").cast("long").as("proper"))
      .orderBy($"doc_small".asc, $"doc_big".asc)
  }

  /** PREFIX-FILTERING set-similarity join (AllPairs/PPJoin family) —
    * the LOSSLESS alternative to [[jaccardPairsOf]]'s df-capped
    * posting join: instead of dropping ubiquitous shingles (bounded
    * buckets, but any pair whose overlap rides on common shingles is
    * silently lost), each document indexes only its PREFIX — its
    * `n div 2 + 1` globally-RAREST distinct shingles under the total
    * (df, hash) order. Prefix lemma (Chaudhuri/Xiao AllPairs): for
    * J(a,b) ≥ 1/2 the required overlap is ≥ ⌈(na+nb)/3⌉ ≥ ⌈na/2⌉,
    * and two sets sorted by one global order with overlap ≥ α must
    * share an element inside their (n−α+1)-prefixes — so every
    * J > 1/2 pair shares a PREFIX shingle and candidate generation
    * loses NOTHING. The oracle computes the exact UNCAPPED pair set
    * naively, so the hash match empirically proves losslessness at
    * both gate SFs. Candidates (plus the 2·min ≥ max size filter,
    * implied by J > 1/2) are verified on full sets — the intersection
    * join is routed THROUGH the candidate pair list, never all-pairs —
    * with the integer-exact 3·inter > na+nb test. Scale shape: prefix
    * entries are rare-by-construction join keys (a doc's prefix is
    * its rarest shingles), so the self-join has no hot bucket without
    * any lossy cap; df and prefix rank are two windows over the
    * once-materialized posting table; verification shuffles on
    * doc_id. */
  def qPrefixJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOTE round-14: the clustered-checkpoint treatment was measured
    // and REJECTED here (20.8 → 39.2 s at sf10): clustering the
    // posting table on doc_id adds a full posting-sized repartition +
    // sort before the checkpoint, while the only shuffle it saves is
    // the doc_a merge join's build side — the df window (s) and the
    // (doc_b, s) join redistribute regardless. The narrow
    // explode-into-checkpoint below is the right shape.
    val ds = Tables.documents(s, d)
      .select($"doc_id",
        array_distinct(MinHash.shingleHash60(tokens($"text"), JaccardN)).as("shs"))
      .select($"doc_id", size($"shs").cast("long").as("n"), explode($"shs").as("s"))
      .transform(graft.functions.Cp.local)
    val pref = ds
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df".asc, $"s".asc)))
      .filter($"pos" <= expr("n div 2 + 1"))
      .select($"doc_id", $"n", $"s")
    // every side of the candidate and verify joins GROWS WITH THE
    // CORPUS: never left to the AQE broadcast heuristic (compressed
    // stats slide under the threshold at 100× SF while the hash
    // relation inflates 10×+ → driver broadcast OOM, observed sf10)
    val cand = pref.as("a").hint("merge").join(pref.as("b").hint("merge"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
          lit(2) * $"b.n" >= $"a.n" && lit(2) * $"a.n" >= $"b.n")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .distinct()
    cand.hint("merge")
      .join(ds.select($"doc_id".as("doc_a"), $"s").hint("merge"), Seq("doc_a"))
      .join(ds.select($"doc_id".as("doc_b"), $"s").hint("merge"), Seq("doc_b", "s"))
      .groupBy($"doc_a", $"doc_b", $"na", $"nb")
      .agg(count(lit(1)).as("inter"))
      .filter(lit(3) * $"inter" > $"na" + $"nb")
      .select($"doc_a", $"doc_b", $"inter",
        round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 6)
          .as("jaccard"))
  }

  /** Chunk-level duplication profile via content-defined chunking
    * (rolling-hash boundaries, see [[graft.functions.TextChunker]]):
    * how much of the corpus is made of chunks shared across documents.
    * Rows-only oracle (the rolling boundary isn't SQL-expressible);
    * kernel behavior is property-tested. */
  def qChunkDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        explode(graft.functions.TextChunker.rollingChunks($"text")).as("chunk"))
      .groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when($"n_docs" > 1, 1L).otherwise(0L)).as("n_shared_chunks"),
        sum($"n_occ").as("n_occurrences"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): each round rewires every node's larger neighbors
    * (large-star) and then its smaller neighbors (small-star) onto the
    * locally-smallest node, which provably converges to a star forest
    * rooted at each component's minimum in O(log n) rounds — a
    * 1000-hop duplicate chain takes ~10 rounds, where min-label
    * propagation would take 1000. Each round's edge set is
    * `localCheckpoint`ed, so lineage stays one round deep no matter
    * how many rounds run.
    *
    * Returns (id, label) with label = min doc_id of the component.
    * Throws on non-convergence by default (returning partial labels
    * would silently mis-cluster; pass failOnNonConvergence = false to
    * get best-effort labels instead). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          failOnNonConvergence: Boolean = true): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, failOnNonConvergence)._1

  /** Edge-count threshold below which [[connectedComponents]] finishes
    * with an exact driver-local union-find instead of more contraction
    * rounds. Size-gated hybrid finish, the standard production CC
    * shape: every distributed round costs ~4 jobs (two shuffles, a
    * checkpoint, a count) regardless of data size, so once the
    * CONTRACTED edge set is a few MB the remaining O(log n) rounds are
    * pure scheduling overhead. 1M canonical edges ≈ 16 MB of longs —
    * trivially driver-safe — while a 100 TB near-dup graph enters the
    * loop distributed and only drops to the local finish after
    * contraction has shrunk it below the gate. Results are provably
    * identical (union-find computes the same min-labeled components
    * the remaining rounds would); ConnectedComponentsSpec asserts
    * exactly that on random graphs. */
  val LocalFinishMaxEdges = 1000000L

  /** Exact min-label union-find over a collected edge list (the local
    * finish). Path-halving + union-by-min keeps roots at component
    * minima throughout. */
  private def unionFindLabels(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path-halving
        val gp = parent.getOrElse(p, p)
        parent.update(x, gp); x = gp; p = parent.getOrElse(x, x)
      }
      x
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent.update(math.max(ru, rv), math.min(ru, rv))
    }
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    nodes.iterator.map(n => n -> find(n)).filter(p => p._1 != p._2).toSeq
  }

  /** [[connectedComponents]] plus the number of contraction rounds it
    * took — observable so the O(log n) convergence claim is testable
    * (ConnectedComponentsSpec asserts rounds ≤ log₂(n)+c on adversarial
    * random graphs, not just chains/cliques). */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 50,
      failOnNonConvergence: Boolean = true,
      localFinishMaxEdges: Long = LocalFinishMaxEdges): (DataFrame, Int) = {
    import pairs.sparkSession.implicits._
    // canonical undirected edges (u < v), materialized once — nodes are
    // derived from the checkpoint so the (possibly expensive) upstream
    // pair pipeline is computed exactly once
    var edges = pairs
      .select(least($"doc_a", $"doc_b").as("u"),
        greatest($"doc_a", $"doc_b").as("v"))
      .filter($"u" =!= $"v").distinct()
      .transform(graft.functions.Cp.local)
    val nodes = edges.select($"u".as("id"))
      .union(edges.select($"v".as("id"))).distinct()
    // carried across rounds: |edges| is last round's |small|, so each
    // round pays ONE count action (on the just-checkpointed set), not two
    var edgeCount = edges.count()
    var converged = false
    var i = 0
    // the original `edges` checkpoint is PROTECTED (the final `nodes`
    // join reads it): it is made outside every round
    val round = graft.functions.Cp.rounds(pairs.sparkSession)
    while (!converged && i < maxIter && edgeCount > localFinishMaxEdges) round {
      // large-star: group by each endpoint; attach every LARGER
      // neighbor to min(neighbors ∪ self)
      val dir = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val largeMins = dir.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val large = dir.join(largeMins, "u").filter($"v" > $"u")
        .select(least($"v", $"m").as("u"), greatest($"v", $"m").as("v"))
        .filter($"u" =!= $"v").distinct()
        .transform(graft.functions.Cp.local)
      // small-star: group by the larger endpoint; attach it and every
      // smaller neighbor to the smallest neighbor
      val smallMins = large.groupBy($"v".as("c")).agg(min($"u").as("m"))
      val joined = large.join(smallMins, $"v" === $"c")
      val small = joined.select($"u".as("a"), $"m".as("b"))
        .union(joined.select($"v".as("a"), $"m".as("b")))
        .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
        .filter($"u" =!= $"v").distinct()
        .transform(graft.functions.Cp.local)
      // fixpoint = edge set unchanged. Both sides are distinct sets, so
      // equal counts + one-sided containment (small ⊆ edges) is an EXACT
      // set-equality check at half the cost of a symmetric difference.
      // left_anti (not except) skips re-distincting two already-distinct
      // checkpointed sets; the carried edgeCount makes the count half free.
      val smallCount = small.count()
      converged = smallCount == edgeCount &&
        small.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edgeCount = smallCount
      edges = small
      i += 1
    }
    if (!converged && edgeCount <= localFinishMaxEdges) {
      // size-gated local finish: the contracted edge set is driver-
      // bounded, so one exact union-find replaces the remaining rounds
      // (contraction rewires edges but never drops a non-isolated node,
      // so the round-k components equal the original ones)
      val es = edges.select($"u".cast("long"), $"v".cast("long"))
        .as[(Long, Long)].collect()
      val lbl = unionFindLabels(es).toDF("id", "root")
      return (nodes.join(lbl, Seq("id"), "left")
        .select($"id", coalesce($"root", $"id").as("label")), i)
    }
    if (!converged) {
      val msg = s"[graft] connectedComponents: not converged after $maxIter rounds"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      else System.err.println(msg + " — returning best-effort labels")
    }
    // converged star forest: every non-root is attached directly to its
    // component's minimum; roots (and isolated nodes) label themselves
    val lbl = edges.groupBy($"v".as("id")).agg(min($"u").as("root"))
    (nodes.join(lbl, Seq("id"), "left")
      .select($"id", coalesce($"root", $"id").as("label")), i)
  }

  /** Near-duplicate clusters: exact-jaccard pairs above 0.5 become
    * edges; components give one canonical (min) doc per cluster.
    * The threshold is the integer form `3·inter > na+nb` (⇔ jaccard
    * > 0.5), so the boundary is engine-exact. */
  def qDupClusters(s: SparkSession, d: String): DataFrame =
    clusterCensusOf(jaccardPairs(s, d))

  /** Pair table → cluster census: jaccard > tauPct/100 in exact
    * integer form ((100+tauPct)·inter > tauPct·(na+nb) — at the
    * default tauPct=50 this is literally 3·inter > na+nb after
    * dividing by 50, so the q_dup_clusters oracle boundary is
    * unchanged), CC labels, per-cluster (n_docs, max_doc). Shared by
    * [[qDupClusters]] and the eager `dup_clusters` SQL TVF so the
    * two paths cannot drift. */
  private[graft] def clusterCensusOf(pairs: DataFrame,
                                     tauPct: Int = 50): DataFrame = {
    import pairs.sparkSession.implicits._
    require(tauPct >= 1 && tauPct <= 99, s"tauPct must be 1..99, got $tauPct")
    val edges = pairs
      .filter(lit(100L + tauPct) * $"inter" >
        lit(tauPct.toLong) * ($"na" + $"nb"))
      .select($"doc_a", $"doc_b")
    connectedComponents(edges)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_docs"), max($"id").as("max_doc"))
  }

  /** [[qDupClusters]] over an arbitrary (doc_id, text) frame with
    * caller-chosen shingle width, df cap and threshold — the library
    * entry behind the `dup_clusters` SQL TVF. */
  def dupClustersOf(docs: DataFrame, n: Int = JaccardN,
                    dfCap: Long = DfCap, tauPct: Int = 50): DataFrame =
    clusterCensusOf(jaccardPairsOf(docs, n = n, dfCap = dfCap), tauPct)

  /** Exact-truth slice bound for [[qSimhashRecall]] — the N² Hamming
    * ground truth only ever runs on this fixed slice (qEmbedNearDup
    * rule). */
  private val SimRecallSlice = 512L

  /** SIMHASH BANDING RECALL — the in-engine recall/precision audit of
    * the prefix-bucket candidate generator ([[qSimhashPairs]]),
    * completing the pattern q_minhash_recall set for the OTHER LSH
    * family: ground truth = ALL pairs at Hamming ≤ [[SimHammingMax]]
    * on the bounded doc_id < [[SimRecallSlice]] slice (exact N² only
    * on the slice), candidates = the production bucket pairs (built
    * with the FULL corpus's ladder width and caps, then restricted to
    * the slice — so the measurement reflects production banding, not
    * a slice-tuned variant). Missed pairs are xor-checksummed so the
    * gate pins exactly WHICH pairs the prefix bucketing loses, not
    * just how many. */
  def qSimhashRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = simhashOf(Tables.documents(s, d))._1
      .filter($"doc_id" < SimRecallSlice)
      .select($"doc_id", $"simhash")
      .transform(graft.functions.Cp.local) // slice reused by both sides
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long")
          .as("hamming"))
      .filter($"hamming" <= SimHammingMax)
      .select($"doc_a", $"doc_b")
      .transform(graft.functions.Cp.local)
    val cand = qSimhashPairs(s, d)
      .filter($"doc_a" < SimRecallSlice && $"doc_b" < SimRecallSlice)
      .select($"doc_a", $"doc_b")
      .transform(graft.functions.Cp.local)
    val hit = truth.join(cand, Seq("doc_a", "doc_b"))
    val missed = truth.join(cand, Seq("doc_a", "doc_b"), "left_anti")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .crossJoin(missed.agg(coalesce(
        bit_xor(expr("doc_a * 1000003 ^ doc_b")), lit(0L))
        .as("missed_checksum")))
      .select($"n_truth", $"n_cand", $"n_hit",
        expr("CASE WHEN n_truth = 0 THEN 1000000000" +
          " ELSE n_hit * 1000000000 DIV n_truth END").as("recall_e9"),
        expr("CASE WHEN n_cand = 0 THEN 1000000000" +
          " ELSE n_hit * 1000000000 DIV n_cand END").as("precision_e9"),
        $"missed_checksum")
  }

  private val WinnowK = 4 // winnowing k-gram width (tokens)
  private val WinnowW = 4 // winnowing window (consecutive hashes)

  /** WINNOWING FINGERPRINTS (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm, STANDARD winnowing §4): from every window of
    * [[WinnowW]] consecutive k-gram hashes select the minimum
    * (RIGHTMOST position on ties, independently per window), dedup —
    * the selected (pos, hash) set is the document's fingerprint. (The
    * paper's §5.2 "robust" variant instead breaks ties by preferring
    * the hash selected in the PREVIOUS window — a sequential rule;
    * with 60-bit hashes ties are ~n·w/2⁶⁰ rare, so the variants are
    * observationally identical here and the parallel-friendly
    * standard rule is the one implemented.) Winnowing's guarantee (any shared substring of
    * length ≥ w+k−1 shares a fingerprint) and its expected density
    * 2/(w+1) are what make it the standard local fingerprinting
    * scheme, vs the fixed-stride chunker ([[qChunkDedup]]) which has
    * no positional-shift robustness. The rightmost-tie argmin is ONE
    * aggregate in both engines: min over the lexicographic struct
    * (h, −pos) — no nested windows, no self-join. Window membership
    * is an explode of each hash into the ≤ w window-ends it can win
    * (bounded ×w row inflation, map-side), grouped per (doc, end) —
    * a shuffle keyed like any fact agg. Output: per-source census
    * (grams, windows, selected, e9 density ≈ 2/(w+1) visible in the
    * gated result) with a per-fingerprint xor placement proof. */
  def qWinnow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val an = Tables.documents(s, d)
      .select($"doc_id", $"source", tokens($"text").as("t"))
      .select($"doc_id", $"source",
        greatest(size($"t") - (WinnowK - 1), lit(1)).cast("long")
          .as("npos"),
        // fused hash pass — identical value to md5Prefix60 over the
        // space-joined gram, no intermediate gram strings (r16)
        posexplode(graft.functions.MinHash.shingleHash60($"t", WinnowK))
          .as(Seq("p0", "h")))
      .select($"doc_id", $"source", $"npos",
        ($"p0" + 1).cast("long").as("pos"), $"h")
      .transform(graft.functions.Cp.local) // reused: windows + doc census
    val sel = an
      .select($"doc_id", $"source", $"pos", $"h",
        explode(sequence($"pos",
          least($"pos" + lit(WinnowW - 1).cast("long"), $"npos"))).as("e"))
      .filter($"e" >= WinnowW) // only full windows fingerprint
      .groupBy($"doc_id", $"source", $"e")
      .agg(min(struct($"h".as("h"), (-$"pos").as("np"))).as("m"))
    val fp = sel
      .select($"doc_id", (-$"m.np").as("selpos"), $"m.h".as("selh"))
      .distinct()
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nsel"),
        bit_xor(($"doc_id" * 1000003L)
          .bitwiseXOR($"selpos" * 131L).bitwiseXOR($"selh")).as("x"))
    an.groupBy($"doc_id", $"source").agg(max($"npos").as("npos"))
      .join(fp, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(sum($"npos").as("n_grams"),
        sum(greatest($"npos" - (WinnowW - 1), lit(0L))).as("n_windows"),
        sum(coalesce($"nsel", lit(0L))).as("n_selected"),
        bit_xor(coalesce($"x", lit(0L))).as("fp_xor"))
      .select($"source", $"n_grams", $"n_windows", $"n_selected",
        expr("n_selected * 1000000000 DIV n_windows").as("density_e9"),
        $"fp_xor")
      .orderBy($"source".asc)
  }

  /** CONTRASTIVE TRIPLET MINING — training-data prep for embedding
    * models (the E5/SimCSE-style (anchor, positive, hard-negative)
    * corpus): for every document with at least one near-dup edge, the
    * POSITIVE is its highest-Jaccard duplicate neighbor and the HARD
    * NEGATIVE its highest-Jaccard NON-duplicate candidate — a doc that
    * shares rare shingles (lexically close, so the contrast is
    * informative) yet fails the 3·inter > na+nb dup test. Everything
    * derives from ONE symmetrized pass over the shared df-capped pair
    * table ([[jaccardPairs]], [[withSharedPairs]]-served): no second
    * scan, no all-pairs. An anchor with no hard negative still emits
    * its (anchor, positive) pair with a NULL negative — the trainer's
    * in-batch-negative fallback — so small corpora aren't silently
    * dropped. Integer e9 Jaccards with
    * (jac desc, neighbor asc) tie-breaks make every pick
    * deterministic; margin_e9 = j_pos − j_neg is the contrastive gap
    * the trainer sees. Scale shape: pair-table derivation + two
    * partitioned rank windows + one anchor-grain join. */
  def qTriplets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pr = jaccardPairs(s, d)
      .withColumn("jac_e9", expr("inter * 1000000000 DIV (na + nb - inter)"))
      .withColumn("is_dup", lit(3) * $"inter" > $"na" + $"nb")
    // clustered on anchor: BOTH rank windows and the final positive ⋈
    // negative join re-key on it — one paid shuffle of the symmetrized
    // pair table replaces three downstream exchanges (window sorts
    // remain; windows and the join all ride the claimed layout)
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val sym = graft.functions.Cp.localClustered(
      pr.select($"doc_a".as("anchor"), $"doc_b".as("nbr"),
          $"jac_e9", $"is_dup")
        .unionByName(pr.select($"doc_b".as("anchor"), $"doc_a".as("nbr"),
          $"jac_e9", $"is_dup")),
      nPart, Seq("anchor"))
    val w = Window.partitionBy($"anchor")
      .orderBy($"jac_e9".desc, $"nbr".asc)
    def top(dup: Boolean) = sym.filter($"is_dup" === dup)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
    top(dup = true)
      .select($"anchor", $"nbr".as("positive"), $"jac_e9".as("j_pos_e9"))
      .join(top(dup = false)
        .select($"anchor", $"nbr".as("negative"), $"jac_e9".as("j_neg_e9")),
        Seq("anchor"), "left")
      .select($"anchor", $"positive", $"negative", $"j_pos_e9",
        $"j_neg_e9", ($"j_pos_e9" - $"j_neg_e9").as("margin_e9"))
      .orderBy($"anchor".asc)
  }

  /** SPLIT-LEAKAGE AUDIT + CLUSTER-AWARE REPAIR — the train/test
    * integrity verb: a hash split (md5 80/10/10, the [[Sampling
    * .qSplitAssign]] rule) assigns near-DUPLICATE documents to
    * DIFFERENT splits, so "held-out" eval rows have verbatim twins in
    * train (eval leakage). Stage `before`: census of near-dup edges
    * (jaccard > 1/2 on the shared pair pipeline) by their endpoints'
    * split pair — every (train, test) row is a leak. Repair: each doc
    * adopts the split keyed by its dup-CLUSTER REPRESENTATIVE's hash
    * (component-min doc_id from [[connectedComponents]]; singletons
    * are their own label, so their split is UNCHANGED — no join
    * needed, the new split is md5(label) directly). Stage `after`
    * re-censuses the same edges under the repaired split: all mass on
    * the diagonal, zero cross-split pairs BY CONSTRUCTION and proven
    * in the gated output. Stage `moved` counts reassigned docs per
    * (old, new) split with a doc-grain xor proof. Scale shape: the
    * pair pipeline + O(log n) CC rounds (both existing substrates),
    * two merge-hinted edge↔split joins, bounded 3×3 censuses. */
  def qSplitLeakage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    def splitOf(id: Column): Column = {
      val b = pmod(md5Prefix60(id.cast("string")), lit(100L))
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    // reused by CC + both censuses; clustered+sorted by doc_a so each
    // census's first merge join reads it exchange- and sort-free
    val edges = graft.functions.Cp.localClusteredSorted(
      nearDupEdges(s, d),
      nPart, Seq("doc_a"))
    val lab = connectedComponents(edges).withColumnRenamed("id", "doc_id")
    // reused by both censuses (x2 joins each, keyed doc_a/doc_b via
    // alias — projection keeps the declared layout on the renamed
    // attribute) + moved; clustered+sorted by doc_id so all four
    // census joins stream it without re-shuffling. Explicit
    // repartition, NOT a layout claim off the docs⋈lab merge join:
    // that join's exchanges are ENSURE_REQUIREMENTS-inserted and AQE
    // may coalesce them (the false-claim class).
    val assigned = graft.functions.Cp.localClusteredSorted(
      Tables.documents(s, d).select($"doc_id")
        .join(lab.hint("merge"), Seq("doc_id"), "left")
        .withColumn("label", coalesce($"label", $"doc_id"))
        .select($"doc_id", splitOf($"doc_id").as("s_old"),
          splitOf($"label").as("s_new")),
      nPart, Seq("doc_id"))
    def census(stage: String, c: String) = edges
      .join(assigned.select($"doc_id".as("doc_a"), col(c).as("sa"))
        .hint("merge"), Seq("doc_a"))
      .join(assigned.select($"doc_id".as("doc_b"), col(c).as("sb"))
        .hint("merge"), Seq("doc_b"))
      .groupBy(least($"sa", $"sb").as("split_a"),
        greatest($"sa", $"sb").as("split_b"))
      .agg(count(lit(1)).as("n"),
        bit_xor(($"doc_a" * 1000003L).bitwiseXOR($"doc_b")).as("xor_proof"))
      .withColumn("stage", lit(stage))
    val moved = assigned.filter($"s_old" =!= $"s_new")
      .groupBy($"s_old".as("split_a"), $"s_new".as("split_b"))
      .agg(count(lit(1)).as("n"),
        bit_xor($"doc_id" * 1000003L).as("xor_proof"))
      .withColumn("stage", lit("moved"))
    census("before", "s_old")
      .unionByName(census("after", "s_new"))
      .unionByName(moved)
      .select($"stage", $"split_a", $"split_b", $"n", $"xor_proof")
      .orderBy($"stage".asc, $"split_a".asc, $"split_b".asc)
  }

  private val PrIters = 3

  /** PAGERANK over the near-dup graph — iterative graph analytics as
    * repeated join+aggregate (the canonical BSP-on-Spark shape:
    * contributions shuffle on dst once per round, nothing else moves).
    * Rank is FIXED-POINT (scale 1e9 longs) with floor division at
    * every step — rank div deg per edge, 0.85·inflow via
    * `85·x div 100` — so all three rounds are integer-exact and the
    * DuckDB oracle (the same rounds unrolled as CTEs) matches
    * bit-for-bit; damping mass from dangling docs is dropped, the
    * documented simplification of the non-normalized variant. Edges
    * reuse the materialized-once jaccard pair pipeline; [[PrIters]]
    * rounds, then global top-20 by (rank, doc_id) — a
    * TakeOrderedAndProject, never a full sort. At 100 TB each round
    * is one shuffle on dst keyed like any fact agg; convergence runs
    * just add rounds. */
  def qPagerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id")
    // materialized CLUSTERED+SORTED by src: all 7 consumers key on it
    // (the degree agg ×4 plan sites and the per-round edges⋈deg join
    // ×3) — with a plain checkpoint each re-shuffled the edge volume
    // every round (7 UnknownPartitioning scans in the round-13 plans)
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val edges = graft.functions.Cp.localClusteredSorted(
      undirected(nearDupEdges(s, d), "src", "dst"), nPart, Seq("src"))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    var ranks = docs.select($"doc_id", lit(1000000000L).as("rank_e9"))
    for (_ <- 0 until PrIters) {
      val inflow = edges.join(deg, Seq("src"))
        .join(ranks, $"src" === $"doc_id")
        .select($"dst", expr("rank_e9 div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("inflow"))
      ranks = docs.join(inflow, $"doc_id" === $"dst", "left")
        .select($"doc_id",
          (lit(150000000L) +
            expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
            .as("rank_e9"))
    }
    ranks.join(deg, $"doc_id" === $"src", "left")
      .select($"doc_id", $"rank_e9",
        coalesce($"deg", lit(0L)).as("n_neighbors"))
      .orderBy($"rank_e9".desc, $"doc_id".asc)
      .limit(20)
  }

  private val KcoreK = 2     // core order
  private val KcorePeels = 8 // simultaneous peel rounds, oracle-mirrored

  /** K-CORE EXTRACTION over the near-dup graph — the density filter
    * graph curation uses above connected components (a CC can be a
    * long fragile chain; the 2-core keeps only docs embedded in
    * cycles/dense duplication neighborhoods — template farms, mirror
    * clusters): repeatedly delete vertices of degree < [[KcoreK]]
    * until stable. Peeling is SIMULTANEOUS (all under-degree vertices
    * drop per round — deterministic, no removal-order dependence) and
    * bounded at [[KcorePeels]] rounds, mirrored exactly in the
    * oracle's unrolled CTEs (the q_dup_depth cap discipline; peel
    * depth beyond 8 means near-pathological chain structure a
    * production run handles by raising the cap — each round is one
    * degree agg + two semi-joins, all shuffling on vertex keys).
    * Output is the per-source core census with a bit_xor membership
    * checksum, so the oracle match proves every surviving vertex. */
  def qKcore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val round = graft.functions.Cp.rounds(s)
    // generation 0 owns the upstream pair-pipeline checkpoints too —
    // all dead once generation 1 materializes
    var e = round {
      undirected(nearDupEdges(s, d), "u", "v")
        .transform(graft.functions.Cp.local)
    }
    for (_ <- 0 until KcorePeels) {
      val keep = e.groupBy($"u").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= KcoreK).select($"u")
      e = round {
        e.join(keep, Seq("u"), "left_semi")
          .join(keep.select($"u".as("v")), Seq("v"), "left_semi")
          .transform(graft.functions.Cp.local)
      }
    }
    e.select($"u".as("doc_id")).distinct()
      .join(Tables.documents(s, d).select($"doc_id", $"source"),
        Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_core_docs"),
        bit_xor($"doc_id").as("core_checksum"))
  }

  private val LpRounds = 5

  /** SYNCHRONOUS LABEL PROPAGATION over the near-dup graph — the
    * fixed-round community census: every node starts as its own label
    * and each round adopts the MINIMUM label in its closed
    * neighborhood (the deterministic variant — majority-vote LPA is
    * execution-order-dependent and can never be oracle-exact). After
    * [[LpRounds]] synchronous rounds a node's label is the smallest
    * doc_id within R hops, so the result is an R-HOP FLOODING census —
    * deliberately not convergence (that is q_dup_clusters' contraction
    * CC); the per-round Δ is what an operator watches to size the full
    * CC run. Report: community-size histogram with label and
    * per-node assignment checksums (xor of xors proves every node's
    * final label), plus the last round's changed-node count. Scale
    * shape: R rounds of one edge-keyed shuffle agg + one node join
    * each, generations checkpointed and dropped ([[qKcore]]
    * discipline); oracle = [[LpRounds]] unrolled MATERIALIZED
    * rounds. */
  def qLabelProp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the edge table is LIVE for every round — it must not join the
    // per-round label generations that get dropped (unlike qKcore,
    // where edges are replaced each round). A clustered+sorted-on-u
    // claim (the q_pagerank shape) measured NEUTRAL here — 26.5 s both
    // ways at sf10 isolated (the per-round label side stays under the
    // broadcast threshold, so the edge side never re-shuffles anyway);
    // rejected per measure-before-adopt (BASELINE.md wave 4).
    val e = graft.functions.Cp.localReplacing(s)(
      undirected(nearDupEdges(s, d), "u", "v"))
    val round = graft.functions.Cp.rounds(s)
    val seed = e.select($"u".as("node")).distinct()
      .select($"node", $"node".as("label"))
    // each generation is (node, label, chg); only the last one's
    // changed-node count is reported, so it is the only one summed
    val last = (1 to LpRounds).foldLeft(seed) { (gen, _) =>
      val lab = gen.select($"node", $"label")
      val nbr = e.join(lab.select($"node".as("u"), $"label"), Seq("u"))
        .groupBy($"v".as("node")).agg(min($"label").as("nl"))
      round {
        lab.join(nbr, Seq("node"), "left")
          .select($"node",
            least($"label", coalesce($"nl", $"label")).as("label"),
            ($"nl".isNotNull && $"nl" < $"label").cast("long").as("chg"))
          .transform(graft.functions.Cp.local)
      }
    }
    val changedLast = last.agg(sum($"chg")).as[Long].head()
    val lab = last.select($"node", $"label")
    val comms = lab.groupBy($"label")
      .agg(count(lit(1)).as("csize"),
        bit_xor($"node".bitwiseXOR($"label" * lit(1000003L))).as("ax"))
    comms.groupBy($"csize")
      .agg(count(lit(1)).as("n_communities"),
        bit_xor($"label").as("label_checksum"),
        bit_xor($"ax").as("assign_checksum"))
      .withColumn("changed_last_round", lit(changedLast))
      .orderBy($"csize".asc)
  }

  /** DEGREE DISTRIBUTION of the near-dup graph — the power-law audit
    * run before any graph algorithm is sized (hub-heavy duplication
    * means template farms; the histogram decides salting/cap knobs):
    * per-vertex degree from the shared jaccard edge list, then the
    * (degree → n_vertices) histogram with a bit_xor vertex checksum
    * per degree class — the oracle match proves every vertex's exact
    * degree, not just the counts. Scale shape: one vertex-keyed agg
    * over edges + one histogram agg over the (≤ max-degree) spine. */
  def qDegreeDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val und = nearDupEdges(s, d)
    val deg = und.select($"doc_a".as("v")).union(und.select($"doc_b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    deg.groupBy($"deg")
      .agg(count(lit(1)).as("n_vertices"), bit_xor($"v").as("vertex_checksum"))
      .orderBy($"deg".asc)
  }

  /** DUPLICATE-CHAIN DEPTH census via a RECURSIVE CTE — the SQL
    * recursion surface (Spark 4's UnionLoopExec): multi-source BFS
    * from each component's local-minimum docs over the near-dup
    * graph, min hop distance per doc, then a depth histogram — "how
    * long do duplicate chains stretch" (depth 1 = direct copies,
    * deeper = drift chains an exact-dedup pass would miss).
    * Spark's recursive CTE only allows UNION ALL, so each recursion
    * step applies DISTINCT to its own output: layer k is then a SET
    * (≤ |V| rows, no combinatorial path blowup on cliques) and
    * MIN(d) over layers is exactly BFS depth. Depth is capped at 6
    * (deterministic termination on cycles; near-dup chains beyond 6
    * hops fall out of the census by design, mirrored in the oracle).
    * Roots need no CC pass: with canonical doc_a < doc_b edges, a
    * doc is a local minimum iff it never appears as doc_b. */
  def qDupDepth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // materialize the (small) edge set once: the CTE references it
    // three times (forward, reversed, roots anti-probe) and each
    // recursion round references `e` again — without the checkpoint
    // every reference re-runs the full shingle pair join
    graft.functions.Cp.localReplacing(s)(nearDupEdges(s, d))
      .createOrReplaceTempView("graft_dup_edges")
    s.sql(
      """WITH RECURSIVE
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM graft_dup_edges
        |      UNION ALL SELECT doc_b, doc_a FROM graft_dup_edges),
        |roots AS (SELECT DISTINCT doc_a AS id FROM graft_dup_edges
        |          WHERE doc_a NOT IN (SELECT doc_b FROM graft_dup_edges)),
        |r(id, d) AS (
        |  SELECT id, 0 FROM roots
        |  UNION ALL
        |  SELECT DISTINCT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.d < 6),
        |m AS (SELECT id, MIN(d) AS hops FROM r GROUP BY id)
        |SELECT hops, COUNT(*) AS n_docs FROM m GROUP BY hops""".stripMargin)
  }

  /** TRIANGLE CENSUS over the near-dup graph — the local-clustering
    * primitive (community density, clique detection: duplicate
    * clusters are near-cliques, so triangle count measures how
    * "bursty" duplication is vs chain-like drift). Uses the standard
    * degree-ordered orientation: each undirected edge points toward
    * its higher-(degree, id) endpoint, every triangle is then counted
    * exactly once at its lowest-degree apex and per-vertex wedge work
    * is bounded by out-degree ≤ O(√m) — the O(m^{3/2}) algorithm, not
    * the hot-node-quadratic naive join. The oracle counts the same
    * triangles with the naive canonical 3-way join (a < b < c), which
    * is fine at oracle SF and proves set equality via the per-triangle
    * bit_xor checksum (collision-spread sorted-triple encoding).
    * n_wedges = Σ C(deg,2) closes the global clustering coefficient
    * 3·tri/wedges downstream, kept as exact integers. */
  def qTriangles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val e = graft.functions.Cp.localReplacing(s)(nearDupEdges(s, d))
    val deg = e.select(explode(array($"doc_a", $"doc_b")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    // clustered+sorted on src: the wedge self-join below reads BOTH
    // sides of the materialized oriented edge list with zero
    // exchanges and zero sorts. Measured at sf10 (reps=2 isolated):
    // 23.7 → 21.5 s. Clustering `e` on doc_a as well was measured and
    // REJECTED (25.7 s with both treatments): it adds a full pair-set
    // repartition that serves only one of e's four consumers.
    val dir = graft.functions.Cp.localClusteredSorted(e
      .join(deg.select($"v".as("doc_a"), $"deg".as("da")), Seq("doc_a"))
      .join(deg.select($"v".as("doc_b"), $"deg".as("db")), Seq("doc_b"))
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"doc_a" < $"doc_b"),
          $"doc_a").otherwise($"doc_b").as("src"),
        when($"da" < $"db" || ($"da" === $"db" && $"doc_a" < $"doc_b"),
          $"doc_b").otherwise($"doc_a").as("dst")),
      nPart, Seq("src"))
    // wedges at the apex: unordered out-neighbor pairs; closing edge
    // probed in canonical (min, max) form against the undirected set
    val tri = dir.as("x")
      .join(dir.as("y"), $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
      .select($"x.src".as("apex"), $"x.dst".as("u"), $"y.dst".as("v"))
      .join(e.select($"doc_a".as("u2"), $"doc_b".as("v2")),
        least($"u", $"v") === $"u2" && greatest($"u", $"v") === $"v2",
        "left_semi")
      .select(least($"apex", $"u", $"v").as("t1"),
        greatest($"apex", $"u", $"v").as("t3"),
        ($"apex" + $"u" + $"v").as("tsum"))
      .select($"t1", ($"tsum" - $"t1" - $"t3").as("t2"), $"t3")
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("n_wedges"))
    tri.agg(count(lit(1)).as("n_triangles"),
        expr("bit_xor(t1 * 1000003 + t2 * 1009 + t3)").as("tri_checksum"))
      .crossJoin(wedges)
  }

  /** The dedup DECISION the cluster pipeline exists for: per source,
    * how much of the corpus survives near-dup removal when each cluster
    * keeps only its canonical (minimum-id) document. Unclustered docs
    * are kept by definition (left join, null label). */
  def qDedupKeep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val edges = nearDupEdges(s, d)
    val labels = connectedComponents(edges)
    docs.join(labels, docs("doc_id") === labels("id"), "left")
      .withColumn("keep", $"label".isNull || $"label" === $"doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"keep", $"n_chars").otherwise(0L)).as("chars_kept"))
  }

  private val FuzzyMaxDist = 3
  private val FuzzyBlockCap = 256

  /** FUZZY string matching (edit-distance record linkage) — the
    * dedup verb for near-identical NAMES rather than near-identical
    * documents: part-name pairs within Levenshtein distance
    * [[FuzzyMaxDist]]. Classic COMPOSITE blocking join: candidates
    * must share the head noun (second word) AND the brand, and have
    * lengths within the distance bound (an edit-distance-d pair can't
    * differ in length by more than d — the standard length-pruning
    * rule), so the quadratic explosion is confined to small
    * (brand × noun) blocks — the multi-key blocking every production
    * record-linkage system uses (recall is bounded by the blocking
    * keys, by design; a deletion-neighborhood join would make d ≤ 2
    * recall exact and is the R8 upgrade path). Blocks larger than
    * [[FuzzyBlockCap]] fall back to star comparison (every member vs
    * the block-min row only — the same cap [[qMinhashPairs]] uses), so
    * a degenerate block costs f−1 comparisons, never f²; the cap is
    * mirrored in the oracle so the gate runs with it ACTIVE. The
    * checksum
    * bit_xors each matching pair's key pair, proving the exact match
    * set. levenshtein is the same unweighted DP in both engines —
    * integer-exact. */
  def qFuzzyMatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, d).select($"p_partkey", $"p_name", $"p_brand",
      split($"p_name", " ").getItem(1).as("w"),
      length($"p_name").as("len"))
    val bw = Window.partitionBy($"w", $"p_brand")
    // spread the verify stage: AQE coalesces the tiny dictionary's
    // window shuffle to ~1 partition, and the block self-join + its
    // per-pair levenshtein DP (the EXPANSION stage — pairs ≫ dict
    // rows) then runs single-task; the explicit block-keyed
    // REPARTITION_BY_NUM is coalescing-exempt, so the DP uses every
    // core. Dictionary-grain rows: the re-shuffle is KBs at any SF.
    val pc = p
      .withColumn("bf", count(lit(1)).over(bw))
      .withColumn("bmin", min($"p_partkey").over(bw))
      .repartition(s.sparkContext.defaultParallelism, $"w", $"p_brand")
    pc.as("a").join(pc.as("b"),
        $"a.w" === $"b.w" && $"a.p_brand" === $"b.p_brand" &&
          $"a.p_partkey" < $"b.p_partkey" &&
          ($"a.bf" <= FuzzyBlockCap || $"a.p_partkey" === $"a.bmin") &&
          abs($"a.len" - $"b.len") <= FuzzyMaxDist)
      .withColumn("dist", levenshtein($"a.p_name", $"b.p_name"))
      .filter($"dist" <= FuzzyMaxDist)
      .groupBy($"a.w".as("block"))
      .agg(count(lit(1)).as("n_pairs"),
        min($"dist").as("min_dist"),
        sum($"dist").as("sum_dist"),
        bit_xor($"a.p_partkey" * lit(1073741824L) + $"b.p_partkey")
          .as("pair_checksum"))
  }

  private[graft] val FuzzyExactMaxDist = 2

  /** Deletion neighborhood of `nm` up to 2 deletions — the FastSS /
    * SymSpell candidate key set. Exactness: for any optimal alignment
    * of u,v with s substitutions, i insertions, j deletions
    * (s+i+j ≤ d), deleting the substituted+deleted positions from u
    * (≤ d deletions) and the substituted+inserted ones from v (≤ d
    * deletions) yields the SAME matched-character subsequence, so
    * every pair within edit distance d shares a common member of the
    * two neighborhoods — candidate generation misses nothing, unlike
    * key blocking. Cost is C(len,2)+len+1 variants per string, the
    * documented price of exact recall (right for short keys like
    * names; for long documents use the shingle/MinHash family). */
  private[graft] def deletionVariants2(nm: Column): Column = {
    val ln = length(nm)
    val d1 = transform(sequence(lit(1), ln), i =>
      concat(nm.substr(lit(1), i - 1), nm.substr(i + 1, ln)))
    val d2 = flatten(transform(sequence(lit(1), ln - 1), i =>
      transform(sequence(i + 1, ln), j =>
        concat(nm.substr(lit(1), i - 1), nm.substr(i + 1, j - i - 1),
          nm.substr(j + 1, ln)))))
    array_distinct(concat(array(nm), d1,
      when(ln >= 2, d2).otherwise(array().cast("array<string>"))))
  }

  /** FastSS pair join over a name DICTIONARY: all distinct-name pairs
    * within Levenshtein distance [[FuzzyExactMaxDist]], found by
    * equi-joining deletion-neighborhood variants (exact recall — see
    * [[deletionVariants2]]), length-pruned, deduplicated, then
    * verified with the real DP. `dict` columns: name, rep, n_parts,
    * head, len. */
  private[graft] def fuzzyExactPairs(dict: DataFrame): DataFrame = {
    import dict.sparkSession.implicits._
    val v = dict.withColumn("variant", explode(deletionVariants2($"name")))
    v.as("a").join(v.as("b"),
        $"a.variant" === $"b.variant" && $"a.name" < $"b.name" &&
          abs($"a.len" - $"b.len") <= FuzzyExactMaxDist)
      .select($"a.name".as("na"), $"b.name".as("nb"),
        $"a.rep".as("ra"), $"b.rep".as("rb"),
        ($"a.n_parts" * $"b.n_parts").as("mult"),
        ($"a.head" === $"b.head").as("same_head"))
      .distinct()
      .withColumn("dist", levenshtein($"na", $"nb"))
      .filter($"dist" <= FuzzyExactMaxDist)
  }

  /** EXACT-recall fuzzy matching — the deletion-neighborhood upgrade
    * [[qFuzzyMatch]]'s scaladoc names: every distinct part-NAME pair
    * within edit distance 2, including pairs whose brand or head noun
    * differ (invisible to any blocking join by construction;
    * `n_cross_head` counts exactly those). SymSpell-shaped for scale:
    * the quadratic work runs over the NAME DICTIONARY (vocabulary-
    * bounded — it grows with distinct names, not corpus rows; the only
    * corpus-sized pass is the dictionary groupBy), and each matched
    * name pair carries its occurrence multiplicity (`n_part_pairs` =
    * Σ na_count·nb_count) so the row-level pair count is reported
    * without materializing row pairs. Checksum bit_xors each name
    * pair's representative (min) partkeys, proving the exact match
    * set; levenshtein is the same unweighted DP in both engines. */
  def qFuzzyExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dict = Tables.part(s, d)
      .groupBy($"p_name".as("name"))
      .agg(min($"p_partkey").as("rep"), count(lit(1)).as("n_parts"))
      .withColumn("head", split($"name", " ").getItem(0))
      .withColumn("len", length($"name"))
    fuzzyExactPairs(dict)
      .groupBy($"dist")
      .agg(count(lit(1)).as("n_name_pairs"),
        sum($"mult").as("n_part_pairs"),
        sum(when(!$"same_head", 1L).otherwise(0L)).as("n_cross_head"),
        bit_xor($"ra" * lit(1073741824L) + $"rb").as("pair_checksum"))
  }

  /** DEDUP THRESHOLD SWEEP — the knob-setting census run before
    * committing a Jaccard cutoff: pair counts and pair checksums at
    * J ≥ 1/3, 1/2 and 2/3 from ONE pass over the shared pair
    * pipeline, with every threshold expressed as an exact integer
    * cross-multiplication (J = i/(na+nb−i) ≥ t ⟺ (1+t)·i ≥ t·(na+nb)
    * in integers — 4i ≥ na+nb, 3i ≥ na+nb, 5i ≥ 2(na+nb)), so the
    * sweep is engine-exact at every boundary. One-pass multi-metric
    * via stack/UNION ALL (the q_corpus_stats idiom). */
  def qThresholdSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = jaccardPairs(s, d)
      .select($"doc_a", $"doc_b", $"inter", ($"na" + $"nb").as("sz"))
      .transform(graft.functions.Cp.local)
    def at(cond: Column, label: String) =
      p.filter(cond).agg(
        count(lit(1)).as("n_pairs"),
        coalesce(bit_xor(expr("doc_a * 1000003 ^ doc_b")), lit(0L))
          .as("pair_checksum"))
        .select(lit(label).as("threshold"), $"n_pairs", $"pair_checksum")
    at(lit(4) * $"inter" >= $"sz", "j_1_3")
      .unionAll(at(lit(3) * $"inter" >= $"sz", "j_1_2"))
      .unionAll(at(lit(5) * $"inter" >= lit(2) * $"sz", "j_2_3"))
      .orderBy($"threshold".asc)
  }

  private val ReachDepth = 4

  /** NATIVE RECURSIVE-CTE REACHABILITY — the SQL-surface member of the
    * graph family: Spark 4.1's `WITH RECURSIVE` (UnionLoop) drives a
    * depth-capped BFS from the seed documents (doc_id ≡ 0 mod 10)
    * over the near-dup edges, where [[qDupDepth]] hand-rolls the same
    * iteration as checkpointed rounds — this entry proves a pure-SQL
    * user gets the verb too, engine-iterated. The recursive arm is
    * SELECT DISTINCT, so each layer is bounded by distinct
    * (node, depth) pairs — nodes × depth overall, never path count
    * (a bare UNION ALL arm would enumerate walks — combinatorial on
    * cliques, exactly what near-dup clusters are). MIN(depth) makes
    * the result identical either way; DISTINCT is the scale contract. Census: per min-depth layer, reached-node count + bit_xor
    * checksum. Oracle: the same recursive SQL in DuckDB. */
  def qReachability(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    undirected(graft.functions.Cp.localReplacing(s)(nearDupEdges(s, d)),
      "u", "v").createOrReplaceTempView("graft_nd_edges")
    s.sql(
      s"""WITH RECURSIVE reach(node, depth) AS (
         |  SELECT DISTINCT u AS node, 0 AS depth FROM graft_nd_edges
         |  WHERE u % 10 = 0
         |  UNION ALL
         |  SELECT DISTINCT e.v, r.depth + 1 FROM reach r
         |  JOIN graft_nd_edges e ON e.u = r.node
         |  WHERE r.depth < $ReachDepth),
         |md AS (SELECT node, MIN(depth) AS depth FROM reach GROUP BY 1)
         |SELECT depth, COUNT(*) AS n_reached,
         |bit_xor(node) AS layer_checksum
         |FROM md GROUP BY 1 ORDER BY 1 ASC""".stripMargin)
  }

  /** MINHASH BANDING EVALUATION — the tuning loop every LSH deployment
    * runs before committing band/row parameters: candidates from the
    * production banding ([[qMinhashPairs]]' shared core) measured
    * against the engine's own EXACT truth (df-capped Jaccard pairs at
    * J > 1/2, the [[qKcore]] edge definition) — recall, precision and
    * a bit_xor over the MISSED pairs, so the oracle match proves
    * exactly WHICH true pairs the banding lost, not just how many
    * (the q_ann_recall idea applied to dedup). Scale shape: both
    * pipelines are the existing bounded-bucket shapes; the pair-grain
    * joins carry `hint("merge")` (corpus-grown sides); the report is
    * four 1-row aggs cross-joined. */
  def qMinhashRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // both pair tables clustered+sorted by the full join key: the hit
    // join and the missed anti-join (2 consumers × 2 sides) then plan
    // as pure co-partitioned merges — zero exchanges, zero sorts — on
    // tables shuffled exactly once at build (was 6 UnknownPartitioning
    // checkpoint scans, each re-shuffling pair volume)
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val truth = graft.functions.Cp.localClusteredSorted(
      nearDupEdges(s, d),
      nPart, Seq("doc_a", "doc_b"))
    val cand = graft.functions.Cp.localClusteredSorted(
      minhashCandidates(Tables.documents(s, d))
        .select($"doc_a", $"doc_b"),
      nPart, Seq("doc_a", "doc_b"))
    val hit = truth.join(cand.hint("merge"), Seq("doc_a", "doc_b"))
    val missed = truth.join(cand.hint("merge"), Seq("doc_a", "doc_b"),
      "left_anti")
    val t = truth.agg(count(lit(1)).as("n_truth"))
    val c = cand.agg(count(lit(1)).as("n_cand"))
    val h = hit.agg(count(lit(1)).as("n_hit"))
    val m = missed.agg(coalesce(bit_xor(expr("doc_a * 1000003 ^ doc_b")),
      lit(0L)).as("missed_checksum"))
    t.crossJoin(c).crossJoin(h).crossJoin(m)
      .select($"n_truth", $"n_cand", $"n_hit",
        expr("CASE WHEN n_truth = 0 THEN 1000000000" +
          " ELSE n_hit * 1000000000 DIV n_truth END").as("recall_e9"),
        expr("CASE WHEN n_cand = 0 THEN 1000000000" +
          " ELSE n_hit * 1000000000 DIV n_cand END").as("precision_e9"),
        $"missed_checksum")
  }

  /** PHONETIC BLOCKING record linkage — the fourth member of the
    * fuzzy family ([[qFuzzyMatch]] composite key blocking,
    * [[qFuzzyExact]] deletion neighborhoods, [[qJaroLinkage]]
    * prefix-weighted): candidates block on the SOUNDEX code of the
    * head noun ([[graft.functions.StringSimilarity.soundexCode]], a
    * fixed documented kernel mirrored character-identically in the
    * oracle), then verify with the usual length-pruned Levenshtein.
    * Phonetic codes are COARSER than any equality key — the block
    * survives spelling drift in the key itself and ignores brand —
    * so this finds pairs STRUCTURALLY invisible to [[qFuzzyMatch]]'s
    * (noun, brand) composite join: `n_cross_brand` counts verified
    * pairs whose brands differ (the composite join requires brand
    * equality — FuzzyExactSpec asserts these are nonempty),
    * `n_cross_noun` pairs whose nouns differ but collide phonetically
    * (zero on vocabularies with no phonetically-equal nouns, like the
    * test corpus — the kernel-level red/rod collision is spec-gated
    * instead). Scale shape: the quadratic work runs over the
    * (name, brand) DICTIONARY (vocabulary-bounded), blocks carry the
    * [[FuzzyBlockCap]] star fallback, and the report is one bounded
    * agg per code. */
  def qFuzzyPhonetic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dict = Tables.part(s, d)
      .groupBy($"p_name", $"p_brand")
      .agg(min($"p_partkey").as("rep"), count(lit(1)).as("n_parts"))
      .withColumn("noun", split($"p_name", " ").getItem(1))
      .withColumn("len", length($"p_name"))
      .withColumn("sdx",
        graft.functions.StringSimilarity.soundexCode($"noun"))
    val bw = Window.partitionBy($"sdx")
    // spread the levenshtein verify across cores (the qFuzzyMatch
    // expansion-stage rule): coalescing-exempt block-keyed repartition
    val pc = dict
      .withColumn("bf", count(lit(1)).over(bw))
      .withColumn("bmin", min($"rep").over(bw))
      .repartition(s.sparkContext.defaultParallelism, $"sdx")
    pc.as("a").join(pc.as("b"),
        $"a.sdx" === $"b.sdx" && $"a.p_name" < $"b.p_name" &&
          ($"a.bf" <= FuzzyBlockCap || $"a.rep" === $"a.bmin") &&
          abs($"a.len" - $"b.len") <= FuzzyMaxDist)
      .withColumn("dist", levenshtein($"a.p_name", $"b.p_name"))
      .filter($"dist" <= FuzzyMaxDist)
      .groupBy($"a.sdx".as("sdx"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(($"a.p_brand" =!= $"b.p_brand").cast("long"))
          .as("n_cross_brand"),
        sum(($"a.noun" =!= $"b.noun").cast("long")).as("n_cross_noun"),
        min($"dist").as("min_dist"),
        sum($"dist").as("sum_dist"),
        sum($"a.n_parts" * $"b.n_parts").as("n_part_pairs"),
        bit_xor($"a.rep" * lit(1073741824L) + $"b.rep")
          .as("pair_checksum"))
      .orderBy($"sdx".asc)
  }

  /** JARO–WINKLER RECORD LINKAGE — the edit-distance-free third member
    * of the fuzzy family ([[qFuzzyMatch]] blocked Levenshtein,
    * [[qFuzzyExact]] FastSS exact-recall): prefix-weighted similarity
    * over the part-NAME dictionary using the
    * [[graft.functions.StringSimilarity.JaroWinkler]] codegen
    * expression, pinned bit-for-bit to DuckDB's
    * `jaro_winkler_similarity` (the oracle calls the real thing — the
    * strongest possible cross-check for a custom expression).
    * Blocking: equal 4-byte prefix (principled for a prefix-boosted
    * metric) + length band ≤ 2, so candidate pairs are generated
    * inside vocabulary-bounded blocks, never all-pairs; the dictionary
    * itself is Heaps-bounded and broadcast. Output: every name pair at
    * jw ≥ 0.85 with its exact double similarity and the part-level
    * pair multiplicity. */
  def qJaroLinkage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dict = Tables.part(s, d)
      .groupBy($"p_name".as("w")).agg(count(lit(1)).as("n"))
      .transform(graft.functions.Cp.local)
    val b = dict.select($"w".as("w2"), $"n".as("n2"))
    dict.join(broadcast(b), $"w" < $"w2" &&
        substring($"w", 1, 4) === substring($"w2", 1, 4) &&
        abs(length($"w") - length($"w2")) <= 2)
      .withColumn("jw",
        graft.functions.StringSimilarity.jaroWinkler($"w", $"w2"))
      .where($"jw" >= 0.85)
      .select($"w".as("name_a"), $"w2".as("name_b"), $"jw",
        ($"n" * $"n2").as("part_pairs"))
      .orderBy($"name_a".asc, $"name_b".asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jaro_linkage" -> (qJaroLinkage _),
    "q_minhash_recall" -> (qMinhashRecall _),
    "q_reachability" -> (qReachability _),
    "q_threshold_sweep" -> (qThresholdSweep _),
    "q_label_prop" -> (qLabelProp _),
    "q_kcore" -> (qKcore _),
    "q_degree_dist" -> (qDegreeDist _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_fuzzy_exact" -> (qFuzzyExact _),
    "q_fuzzy_phonetic" -> (qFuzzyPhonetic _),
    "q_pagerank" -> (qPagerank _),
    "q_dup_depth" -> (qDupDepth _),
    "q_triangles" -> (qTriangles _),
    "q_dup_clusters" -> (qDupClusters _),
    "q_dedup_keep" -> (qDedupKeep _),
    "q_chunk_dedup" -> (qChunkDedup _),
    "q_exact_dedup" -> (qExactDedup _),
    "q_fingerprint" -> (qFingerprint _),
    "q_incremental_dedup" -> (qIncrementalDedup _),
    "q_incremental_store" -> (qIncrementalDedupStore _),
    "q_neardup_admit_store" -> (qNeardupAdmitStore _),
    "q_minhash_sig" -> (qMinhashSig _),
    "q_minhash_pairs" -> (qMinhashPairs _),
    "q_jaccard_est" -> (qJaccardEst _),
    "q_simhash" -> (qSimhash _),
    "q_simhash_pairs" -> (qSimhashPairs _),
    "q_lsh_bucket_stats" -> (qLshBucketStats _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_cross_source_dups" -> (qCrossSourceDups _),
    "q_containment" -> (qContainment _),
    "q_split_leakage" -> (qSplitLeakage _),
    "q_triplets" -> (qTriplets _),
    "q_winnow" -> (qWinnow _),
    "q_simhash_recall" -> (qSimhashRecall _),
    "q_prefix_join" -> (qPrefixJoin _)
  )

  private val tokCte =
    "tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents)"
  /** DuckDB n-gram list over token list `t` — shared with the other
    * oracle builders (Curate) so the idiom can't drift. */
  private[graft] def shingleExpr(n: Int) =
    s"list_transform(generate_series(1, greatest(len(t)-${n - 1}, 1)), " +
      s"i -> array_to_string(t[i:i+${n - 1}], ' '))"

  /** md5 60-bit prefix of a VARCHAR expression (md5Prefix60 mirror). */
  private[graft] def sqlH60(e: String): String =
    s"CAST(('0x'||substr(md5($e),1,15)) AS BIGINT)"

  /** CTE prelude mirroring [[minhashCandidates]]: yields CTEs up to
    * `cand(doc_a, doc_b, agree_k)` — shared by the q_minhash_pairs and
    * q_jaccard_est oracles. */
  private lazy val minhashCandCtes: String = {
    val rows = K / Bands
    val sigList = (0 until K).map(j => MinHash.sqlSig("sh", j)).mkString(", ")
    s"""WITH $tokCte,
       |shl AS (SELECT doc_id, ${shingleExpr(ShingleN)} AS sh FROM tok),
       |sig AS (SELECT doc_id, [$sigList] AS sig FROM shl),
       |banded AS (SELECT doc_id, sig, pb AS band,
       |  md5(array_to_string(sig[pb*$rows+1 : pb*$rows+$rows], '|')) AS bucket
       |  FROM sig CROSS JOIN
       |    (SELECT unnest([${(0 until Bands).mkString(", ")}]) AS pb)),
       |stb AS (SELECT doc_id, sig, band, bucket,
       |  COUNT(*) OVER (PARTITION BY band, bucket) AS f,
       |  MIN(doc_id) OVER (PARTITION BY band, bucket) AS bmin FROM banded),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(list_sum(list_transform(generate_series(1, $K),
       |    i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS BIGINT)
       |    AS agree_k
       |  FROM stb a JOIN stb b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  AND (a.f <= ${LshParams.BucketCap} OR a.doc_id = a.bmin))""".stripMargin
  }

  /** Recursive-CTE prelude computing near-dup components: yields CTEs
    * up to `lab(id, label)` with label = component-min doc_id — shared
    * by the q_dup_clusters and q_dedup_keep oracles. */
  /** Near-dup edge list (jaccard > 0.5 under the df cap) as a
    * standalone SELECT — the shared graph substrate of the
    * q_dup_clusters / q_dedup_keep / q_pagerank oracles, mirroring
    * [[jaccardPairsOf]] + the cluster threshold. */
  private lazy val jaccardEdgesSql: String =
    s"""WITH $tokCte,
       |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s FROM tok),
       |ds AS (SELECT DISTINCT doc_id, s FROM sh),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
       |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $DfCap),
       |dsr AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare USING (s)),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM dsr a JOIN dsr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
       |SELECT doc_a, doc_b FROM pr
       |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE 3 * inter > sa.n + sb.n""".stripMargin

  private lazy val ccLabelsCtes: String = {
    val ngram = jaccardEdgesSql // same pair pipeline as q_ngram_jaccard
    s"""WITH RECURSIVE pj AS ($ngram),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM pj
       |  UNION SELECT doc_b, doc_a FROM pj),
       |reach(s, d) AS (
       |  SELECT s, s FROM e
       |  UNION SELECT s, d FROM e
       |  UNION SELECT reach.s, e.d FROM reach JOIN e ON reach.d = e.s),
       |lab AS (SELECT s AS id, MIN(d) AS label FROM reach GROUP BY s)""".stripMargin
  }

  private lazy val simhashSql =
    s"""WITH nn AS (SELECT COUNT(*) AS cnt FROM documents),
      |pp AS (SELECT ${LshParams.ladderSql("cnt", LshParams.MaxPrefix)} AS pb FROM nn),
      |tw AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      |h AS (SELECT doc_id, CAST(('0x' || substr(md5(w),1,8)) AS BIGINT) AS hv FROM tw),
      |bits AS (SELECT doc_id, b,
      |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM h CROSS JOIN (SELECT unnest(generate_series(0,31)) AS b) GROUP BY 1,2),
      |s0 AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT doc_id, simhash, simhash >> (32 - pb) AS bucket
      |FROM s0 CROSS JOIN pp""".stripMargin

  /** [[qLabelProp]] oracle: [[LpRounds]] unrolled synchronous
    * min-label rounds (MATERIALIZED — the k-core inlining rule). */
  private lazy val labelPropSql: String = {
    val rounds = (1 to LpRounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT e.v AS node, MIN(p.label) AS nl
         |  FROM ed e JOIN l${i - 1} p ON p.node = e.u GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT p.node,
         |  LEAST(p.label, COALESCE(m.nl, p.label)) AS label
         |  FROM l${i - 1} p LEFT JOIN n$i m ON m.node = p.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pj AS MATERIALIZED ($jaccardEdgesSql),
       |ed AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pj
       |  UNION ALL SELECT doc_b, doc_a FROM pj),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label
       |  FROM ed),
       |$rounds,
       |c AS (SELECT label, COUNT(*) AS csize,
       |  bit_xor(xor(node, label * 1000003)) AS ax
       |  FROM l$LpRounds GROUP BY 1),
       |ch AS (SELECT CAST(COUNT(*) AS BIGINT) AS changed
       |  FROM l$LpRounds a JOIN l${LpRounds - 1} b
       |  ON a.node = b.node AND a.label < b.label)
       |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_communities,
       |bit_xor(label) AS label_checksum, bit_xor(ax) AS assign_checksum,
       |(SELECT changed FROM ch) AS changed_last_round
       |FROM c GROUP BY 1 ORDER BY 1 ASC""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_threshold_sweep" ->
      s"""WITH $tokCte,
         |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s
         |  FROM tok),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
         |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $DfCap),
         |dsr AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare USING (s)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS inter
         |  FROM dsr a JOIN dsr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pp AS MATERIALIZED (SELECT doc_a, doc_b, inter,
         |  sa.n + sb.n AS sz
         |  FROM pr JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT 'j_1_3' AS threshold, COUNT(*) AS n_pairs,
         |  COALESCE(bit_xor(xor(doc_a * 1000003, doc_b)), 0)
         |    AS pair_checksum FROM pp WHERE 4 * inter >= sz
         |UNION ALL
         |SELECT 'j_1_2', COUNT(*),
         |  COALESCE(bit_xor(xor(doc_a * 1000003, doc_b)), 0)
         |  FROM pp WHERE 3 * inter >= sz
         |UNION ALL
         |SELECT 'j_2_3', COUNT(*),
         |  COALESCE(bit_xor(xor(doc_a * 1000003, doc_b)), 0)
         |  FROM pp WHERE 5 * inter >= 2 * sz
         |ORDER BY 1 ASC""".stripMargin,
    "q_reachability" ->
      s"""WITH RECURSIVE pj AS MATERIALIZED ($jaccardEdgesSql),
         |ed AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pj
         |  UNION ALL SELECT doc_b, doc_a FROM pj),
         |reach(node, depth) AS (
         |  SELECT DISTINCT u AS node, 0 AS depth FROM ed
         |  WHERE u % 10 = 0
         |  UNION ALL
         |  SELECT DISTINCT e.v, r.depth + 1 FROM reach r
         |  JOIN ed e ON e.u = r.node
         |  WHERE r.depth < $ReachDepth),
         |md AS (SELECT node, MIN(depth) AS depth FROM reach GROUP BY 1)
         |SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_reached,
         |bit_xor(node) AS layer_checksum
         |FROM md GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_minhash_recall" ->
      s"""WITH tr AS MATERIALIZED ($jaccardEdgesSql),
         |cd AS MATERIALIZED (SELECT doc_a, doc_b FROM (
         |  $minhashCandCtes
         |  SELECT doc_a, doc_b FROM cand) mq),
         |t AS (SELECT COUNT(*) AS n_truth FROM tr),
         |c AS (SELECT COUNT(*) AS n_cand FROM cd),
         |h AS (SELECT COUNT(*) AS n_hit FROM tr JOIN cd
         |  USING (doc_a, doc_b)),
         |m AS (SELECT COALESCE(bit_xor(xor(doc_a * 1000003, doc_b)), 0)
         |    AS missed_checksum
         |  FROM tr ANTI JOIN cd USING (doc_a, doc_b))
         |SELECT n_truth, n_cand, n_hit,
         |CASE WHEN n_truth = 0 THEN 1000000000
         |  ELSE n_hit * 1000000000 // n_truth END AS recall_e9,
         |CASE WHEN n_cand = 0 THEN 1000000000
         |  ELSE n_hit * 1000000000 // n_cand END AS precision_e9,
         |missed_checksum
         |FROM t CROSS JOIN c CROSS JOIN h CROSS JOIN m""".stripMargin,
    "q_label_prop" -> labelPropSql,
    "q_jaro_linkage" ->
      """WITH w AS (SELECT p_name AS w, COUNT(*) AS n FROM part
        |  GROUP BY 1),
        |p AS (SELECT a.w AS name_a, b.w AS name_b,
        |    jaro_winkler_similarity(a.w, b.w) AS jw,
        |    a.n * b.n AS part_pairs
        |  FROM w a JOIN w b ON a.w < b.w
        |    AND substr(a.w, 1, 4) = substr(b.w, 1, 4)
        |    AND abs(len(a.w) - len(b.w)) <= 2)
        |SELECT name_a, name_b, jw,
        |CAST(part_pairs AS BIGINT) AS part_pairs
        |FROM p WHERE jw >= 0.85 ORDER BY 1 ASC, 2 ASC""".stripMargin,
    "q_degree_dist" ->
      s"""WITH pj AS ($jaccardEdgesSql),
         |e AS (SELECT doc_a AS v FROM pj UNION ALL SELECT doc_b FROM pj),
         |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM e GROUP BY 1)
         |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_vertices,
         |  bit_xor(v) AS vertex_checksum
         |FROM deg GROUP BY 1 ORDER BY deg ASC""".stripMargin,
    "q_kcore" -> {
      // KcorePeels simultaneous peel rounds unrolled; each round keeps
      // vertices with degree >= KcoreK and restricts edges to kept
      // endpoints on both sides — identical set semantics to the
      // engine's semi-join rounds under any execution order.
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so
      // eight self-referencing rounds would expand the shingle
      // pipeline exponentially (observed: "Too many open files").
      def peel(prev: String, out: String) =
        s"""k$out AS MATERIALIZED (SELECT u FROM
           |  (SELECT u, COUNT(*) AS dg FROM e$prev GROUP BY 1)
           |  WHERE dg >= $KcoreK),
           |e$out AS MATERIALIZED (SELECT e.u, e.v FROM e$prev e
           |  JOIN k$out a ON e.u = a.u JOIN k$out b ON e.v = b.u)""".stripMargin
      val rounds = (1 to KcorePeels)
        .map(i => peel((i - 1).toString, i.toString)).mkString(",\n")
      s"""WITH pj AS MATERIALIZED ($jaccardEdgesSql),
         |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pj
         |  UNION ALL SELECT doc_b, doc_a FROM pj),
         |$rounds,
         |core AS (SELECT DISTINCT u AS doc_id FROM e$KcorePeels)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_core_docs,
         |  bit_xor(d.doc_id) AS core_checksum
         |FROM core c JOIN documents d ON c.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin
    },
    "q_fuzzy_match" ->
      s"""WITH pc AS (SELECT p_partkey, p_name, p_brand,
         |  string_split(p_name, ' ')[2] AS w,
         |  length(p_name) AS len,
         |  COUNT(*) OVER (PARTITION BY string_split(p_name, ' ')[2],
         |    p_brand) AS bf,
         |  MIN(p_partkey) OVER (PARTITION BY string_split(p_name, ' ')[2],
         |    p_brand) AS bmin
         |  FROM part),
         |m AS (SELECT a.w AS block, a.p_partkey AS ka, b.p_partkey AS kb,
         |  levenshtein(a.p_name, b.p_name) AS dist
         |  FROM pc a JOIN pc b
         |  ON a.w = b.w AND a.p_brand = b.p_brand
         |    AND a.p_partkey < b.p_partkey
         |    AND (a.bf <= $FuzzyBlockCap OR a.p_partkey = a.bmin)
         |    AND abs(a.len - b.len) <= $FuzzyMaxDist)
         |SELECT block, COUNT(*) AS n_pairs,
         |CAST(MIN(dist) AS INTEGER) AS min_dist,
         |CAST(SUM(dist) AS BIGINT) AS sum_dist,
         |bit_xor(ka * 1073741824 + kb) AS pair_checksum
         |FROM m WHERE dist <= $FuzzyMaxDist GROUP BY block""".stripMargin,
    "q_fuzzy_phonetic" -> {
      val sdx = graft.functions.StringSimilarity.soundexSql("noun")
      s"""WITH dict AS (SELECT p_name, p_brand,
         |  CAST(MIN(p_partkey) AS BIGINT) AS rep,
         |  CAST(COUNT(*) AS BIGINT) AS n_parts
         |  FROM part GROUP BY 1, 2),
         |d1 AS (SELECT *, string_split(p_name, ' ')[2] AS noun,
         |  length(p_name) AS len FROM dict),
         |d2 AS MATERIALIZED (SELECT *, $sdx AS sdx FROM d1),
         |bl AS (SELECT *, COUNT(*) OVER (PARTITION BY sdx) AS bf,
         |  MIN(rep) OVER (PARTITION BY sdx) AS bmin FROM d2),
         |pr AS (SELECT a.sdx, a.p_brand AS ba, b.p_brand AS bb,
         |  a.noun AS na, b.noun AS nb, a.rep AS ra, b.rep AS rb,
         |  a.n_parts * b.n_parts AS mult,
         |  levenshtein(a.p_name, b.p_name) AS dist
         |  FROM bl a JOIN bl b ON a.sdx = b.sdx
         |    AND a.p_name < b.p_name
         |    AND (a.bf <= $FuzzyBlockCap OR a.rep = a.bmin)
         |    AND abs(a.len - b.len) <= $FuzzyMaxDist)
         |SELECT sdx, COUNT(*) AS n_pairs,
         |CAST(SUM(CASE WHEN ba <> bb THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_cross_brand,
         |CAST(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_cross_noun,
         |CAST(MIN(dist) AS INTEGER) AS min_dist,
         |CAST(SUM(dist) AS BIGINT) AS sum_dist,
         |CAST(SUM(mult) AS BIGINT) AS n_part_pairs,
         |bit_xor(ra * 1073741824 + rb) AS pair_checksum
         |FROM pr WHERE dist <= $FuzzyMaxDist
         |GROUP BY 1 ORDER BY 1 ASC""".stripMargin
    },
    "q_fuzzy_exact" ->
      s"""WITH dict AS (SELECT p_name AS name, MIN(p_partkey) AS rep,
         |  COUNT(*) AS n_parts, string_split(p_name, ' ')[1] AS head,
         |  length(p_name) AS len FROM part GROUP BY p_name),
         |v AS (SELECT name, rep, n_parts, head, len, unnest(list_distinct(
         |  [name]
         |  || list_transform(generate_series(1, len),
         |       i -> name[1:i-1] || name[i+1:len])
         |  || CASE WHEN len >= 2 THEN
         |       flatten(list_transform(generate_series(1, len-1),
         |         i -> list_transform(generate_series(i+1, len),
         |           j -> name[1:i-1] || name[i+1:j-1] || name[j+1:len])))
         |     ELSE [] END)) AS variant FROM dict),
         |cand AS (SELECT DISTINCT a.name AS na, b.name AS nb,
         |  a.rep AS ra, b.rep AS rb, a.n_parts * b.n_parts AS mult,
         |  (a.head = b.head) AS same_head
         |  FROM v a JOIN v b ON a.variant = b.variant AND a.name < b.name
         |  AND abs(a.len - b.len) <= $FuzzyExactMaxDist),
         |m AS (SELECT *, levenshtein(na, nb) AS dist FROM cand
         |  WHERE levenshtein(na, nb) <= $FuzzyExactMaxDist)
         |SELECT CAST(dist AS INTEGER) AS dist, COUNT(*) AS n_name_pairs,
         |CAST(SUM(mult) AS BIGINT) AS n_part_pairs,
         |CAST(SUM(CASE WHEN NOT same_head THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_cross_head,
         |bit_xor(ra * 1073741824 + rb) AS pair_checksum
         |FROM m GROUP BY dist""".stripMargin,
    "q_dup_depth" ->
      s"""WITH RECURSIVE pj AS ($jaccardEdgesSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pj
         |      UNION ALL SELECT doc_b, doc_a FROM pj),
         |roots AS (SELECT DISTINCT doc_a AS id FROM pj
         |          WHERE doc_a NOT IN (SELECT doc_b FROM pj)),
         |r(id, d) AS (
         |  SELECT id, 0 FROM roots
         |  UNION ALL
         |  SELECT DISTINCT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
         |  WHERE r.d < 6),
         |m AS (SELECT id, MIN(d) AS hops FROM r GROUP BY id)
         |SELECT hops, COUNT(*) AS n_docs FROM m GROUP BY hops""".stripMargin,
    "q_triangles" ->
      s"""WITH pj AS ($jaccardEdgesSql),
         |tri AS (SELECT e1.doc_a AS t1, e1.doc_b AS t2, e2.doc_b AS t3
         |  FROM pj e1
         |  JOIN pj e2 ON e2.doc_a = e1.doc_b
         |  JOIN pj e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS dg FROM
         |  (SELECT doc_a AS v FROM pj
         |   UNION ALL SELECT doc_b FROM pj) GROUP BY 1)
         |SELECT (SELECT COUNT(*) FROM tri) AS n_triangles,
         |(SELECT bit_xor(t1 * 1000003 + t2 * 1009 + t3) FROM tri)
         |  AS tri_checksum,
         |(SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
         |  AS n_wedges""".stripMargin,
    "q_pagerank" -> {
      // the three fixed-point rounds unrolled; every division is //
      // on non-negative BIGINTs (≡ Spark div), every SUM cast back to
      // BIGINT before arithmetic (windowed/plain SUM widens to
      // HUGEINT in DuckDB)
      def round(prev: String, out: String) =
        s"""i$out AS (SELECT e.dst,
           |  CAST(SUM(r$prev.rank_e9 // deg.deg) AS BIGINT) AS inflow
           |  FROM e JOIN deg USING (src) JOIN r$prev ON r$prev.doc_id = e.src
           |  GROUP BY 1),
           |r$out AS (SELECT n.doc_id,
           |  150000000 + (85 * COALESCE(i$out.inflow, 0)) // 100 AS rank_e9
           |  FROM n LEFT JOIN i$out ON n.doc_id = i$out.dst)""".stripMargin
      s"""WITH pj AS ($jaccardEdgesSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pj
         |  UNION ALL SELECT doc_b, doc_a FROM pj),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT doc_id FROM documents),
         |r0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS rank_e9 FROM n),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")}
         |SELECT n.doc_id, r3.rank_e9, COALESCE(deg.deg, 0) AS n_neighbors
         |FROM n JOIN r3 ON n.doc_id = r3.doc_id
         |LEFT JOIN deg ON n.doc_id = deg.src
         |ORDER BY r3.rank_e9 DESC, n.doc_id ASC LIMIT 20""".stripMargin
    },
    "q_dup_clusters" ->
      s"""$ccLabelsCtes
         |SELECT label, COUNT(*) AS n_docs, CAST(MAX(id) AS BIGINT) AS max_doc
         |FROM lab GROUP BY label""".stripMargin,
    "q_dedup_keep" ->
      s"""$ccLabelsCtes
         |SELECT d.source, COUNT(*) AS n_docs,
         |CAST(SUM(CASE WHEN lab.label IS NULL OR lab.label = d.doc_id
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |CAST(SUM(CASE WHEN lab.label IS NULL OR lab.label = d.doc_id
         |  THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
         |FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
         |GROUP BY d.source""".stripMargin,
    "q_exact_dedup" ->
      """SELECT source, COUNT(*) AS n_docs,
        |COUNT(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY source""".stripMargin,
    "q_fingerprint" ->
      """SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp,
        |COUNT(*) AS n_copies, MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,
    // identical census to q_incremental_dedup — the store variant
    // changes WHERE the corpus fingerprints come from (the standing
    // bucketed table), never what they are
    "q_incremental_store" ->
      s"""WITH f AS (SELECT doc_id, source,
         |  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
         |  FROM documents),
         |corpus AS (SELECT DISTINCT fp FROM f
         |  WHERE doc_id % $BatchMod <> $BatchRem),
         |batch AS (SELECT doc_id, source, fp FROM f
         |  WHERE doc_id % $BatchMod = $BatchRem),
         |dup AS (SELECT doc_id FROM batch WHERE fp IN (SELECT fp FROM corpus))
         |SELECT b.source, COUNT(*) AS n_batch,
         |CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dup_vs_corpus,
         |CAST(COUNT(*) - SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_novel
         |FROM batch b LEFT JOIN dup ON b.doc_id = dup.doc_id
         |GROUP BY b.source""".stripMargin,
    "q_incremental_dedup" ->
      s"""WITH f AS (SELECT doc_id, source,
         |  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
         |  FROM documents),
         |corpus AS (SELECT DISTINCT fp FROM f
         |  WHERE doc_id % $BatchMod <> $BatchRem),
         |batch AS (SELECT doc_id, source, fp FROM f
         |  WHERE doc_id % $BatchMod = $BatchRem),
         |dup AS (SELECT doc_id FROM batch WHERE fp IN (SELECT fp FROM corpus))
         |SELECT b.source, COUNT(*) AS n_batch,
         |CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dup_vs_corpus,
         |CAST(COUNT(*) - SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_novel
         |FROM batch b LEFT JOIN dup ON b.doc_id = dup.doc_id
         |GROUP BY b.source""".stripMargin,
    // identical decisions to an in-session banded probe — the store
    // variant changes WHERE the corpus band rows come from, never
    // what they are; DISTINCT (band, bucket, sig) mirrors the store's
    // replica-collapsing write exactly (agreement is a function of
    // the signature, so collapsing identical signatures per bucket
    // cannot change any doc's best_agree)
    "q_neardup_admit_store" -> {
      val rows = K / Bands
      val sigList = (0 until K).map(j => MinHash.sqlSig("sh", j)).mkString(", ")
      s"""WITH $tokCte,
         |shl AS (SELECT doc_id, ${shingleExpr(ShingleN)} AS sh FROM tok),
         |sig AS (SELECT doc_id, [$sigList] AS sig FROM shl),
         |banded AS (SELECT doc_id, sig, pb AS band,
         |  md5(array_to_string(sig[pb*$rows+1 : pb*$rows+$rows], '|')) AS bucket
         |  FROM sig CROSS JOIN
         |    (SELECT unnest([${(0 until Bands).mkString(", ")}]) AS pb)),
         |corpus AS (SELECT DISTINCT band, bucket, sig FROM banded
         |  WHERE doc_id % $BatchMod <> $BatchRem),
         |batch AS (SELECT * FROM banded WHERE doc_id % $BatchMod = $BatchRem),
         |hits AS (SELECT b.doc_id,
         |  MAX(CAST(list_sum(list_transform(generate_series(1, $K),
         |    i -> CASE WHEN b.sig[i] = c.sig[i] THEN 1 ELSE 0 END)) AS BIGINT))
         |    AS best_agree
         |  FROM batch b JOIN corpus c
         |  ON b.band = c.band AND b.bucket = c.bucket GROUP BY 1),
         |docs AS (SELECT doc_id, source FROM documents
         |  WHERE doc_id % $BatchMod = $BatchRem),
         |fl AS (SELECT d.doc_id, d.source,
         |  2 * COALESCE(hits.best_agree, 0) >= $K AS flagged
         |  FROM docs d LEFT JOIN hits ON d.doc_id = hits.doc_id)
         |SELECT source, COUNT(*) AS n_batch,
         |CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |COALESCE(bit_xor(CASE WHEN NOT flagged
         |  THEN doc_id * 1000003 END), 0) AS admit_checksum
         |FROM fl GROUP BY 1 ORDER BY 1 ASC""".stripMargin
    },
    "q_minhash_sig" -> {
      val sigs = (0 until K).map(j =>
        s"${MinHash.sqlSig("sh", j)} AS sig_${"%02d".format(j)}")
      s"""WITH $tokCte,
         |shl AS (SELECT doc_id, ${shingleExpr(ShingleN)} AS sh FROM tok)
         |SELECT doc_id, ${sigs.mkString(",\n")}
         |FROM shl""".stripMargin
    },
    "q_minhash_pairs" ->
      s"""$minhashCandCtes
         |SELECT doc_a, doc_b,
         |ROUND(CAST(agree_k AS DOUBLE) / $K, 6) AS est_jaccard
         |FROM cand""".stripMargin,
    "q_jaccard_est" ->
      s"""$minhashCandCtes,
         |ds AS (SELECT DISTINCT doc_id, s FROM
         |  (SELECT doc_id, unnest(${shingleExpr(ShingleN)}) AS s FROM tok)),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
         |iv AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter FROM cand c
         |  JOIN ds a ON a.doc_id = c.doc_a
         |  JOIN ds b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b, c.agree_k,
         |CAST(COALESCE(iv.inter, 0) AS BIGINT) AS inter,
         |CAST(sa.n + sb.n - COALESCE(iv.inter, 0) AS BIGINT) AS un
         |FROM cand c
         |LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
         |JOIN sz sa ON sa.doc_id = c.doc_a
         |JOIN sz sb ON sb.doc_id = c.doc_b""".stripMargin,
    "q_simhash" -> simhashSql,
    "q_simhash_pairs" ->
      s"""WITH sh AS ($simhashSql),
         |st AS (SELECT doc_id, simhash, bucket,
         |  COUNT(*) OVER (PARTITION BY bucket) AS f,
         |  MIN(doc_id) OVER (PARTITION BY bucket) AS bmin FROM sh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM st a JOIN st b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         |AND (a.f <= ${LshParams.BucketCap} OR a.doc_id = a.bmin)
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""".stripMargin,
    "q_lsh_bucket_stats" -> {
      val cap = LshParams.BucketCap
      val rows = K / Bands
      val sigList = (0 until K).map(j => MinHash.sqlSig("sh", j)).mkString(", ")
      val simStats =
        s"""WITH sh AS ($simhashSql),
           |fs AS (SELECT bucket, COUNT(*) AS f FROM sh GROUP BY 1)
           |SELECT 'simhash' AS family, (SELECT COUNT(*) FROM documents) AS n,
           |CAST((SELECT ${LshParams.ladderSql("cnt", LshParams.MaxPrefix)}
           |  FROM (SELECT COUNT(*) AS cnt FROM documents)) AS BIGINT) AS width,
           |COUNT(*) AS n_buckets, MAX(f) AS max_f,
           |CAST(SUM(CASE WHEN f > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
           |FROM fs""".stripMargin
      val mhStats =
        s"""WITH $tokCte,
           |shl AS (SELECT doc_id, ${shingleExpr(ShingleN)} AS sh FROM tok),
           |sig AS (SELECT doc_id, [$sigList] AS sig FROM shl),
           |banded AS (SELECT doc_id, pb AS band,
           |  md5(array_to_string(sig[pb*$rows+1 : pb*$rows+$rows], '|')) AS bucket
           |  FROM sig CROSS JOIN
           |    (SELECT unnest([${(0 until Bands).mkString(", ")}]) AS pb)),
           |fs AS (SELECT band, bucket, COUNT(*) AS f FROM banded GROUP BY 1, 2)
           |SELECT 'minhash' AS family, (SELECT COUNT(*) FROM documents) AS n,
           |CAST($rows AS BIGINT) AS width,
           |COUNT(*) AS n_buckets, MAX(f) AS max_f,
           |CAST(SUM(CASE WHEN f > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
           |FROM fs""".stripMargin
      s"""SELECT * FROM (${Similarity.ndStatsSql(cap)})
         |UNION ALL SELECT * FROM ($simStats)
         |UNION ALL SELECT * FROM ($mhStats)""".stripMargin
    },
    "q_cross_source_dups" ->
      s"""WITH $tokCte,
         |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s FROM tok),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
         |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $DfCap),
         |dsr AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare USING (s)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS inter FROM dsr a JOIN dsr b
         |  ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |ed AS (SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb
         |  FROM pr JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE 3 * inter > sa.n + sb.n),
         |sr AS (SELECT doc_id, source FROM documents)
         |SELECT LEAST(s1.source, s2.source) AS src_lo,
         |  GREATEST(s1.source, s2.source) AS src_hi,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(inter * 1000000000 // (na + nb - inter)) AS BIGINT)
         |    AS sum_jac_e9,
         |  bit_xor(xor(doc_a * 1000003, doc_b)) AS pair_checksum
         |FROM ed JOIN sr s1 ON s1.doc_id = ed.doc_a
         |JOIN sr s2 ON s2.doc_id = ed.doc_b
         |GROUP BY 1, 2""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH $tokCte,
         |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s FROM tok),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
         |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $DfCap),
         |dsr AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare USING (s)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM dsr a JOIN dsr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
         |SELECT doc_a, doc_b, inter,
         |ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         |FROM pr JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b""".stripMargin,
    "q_simhash_recall" ->
      s"""WITH sh AS ($simhashSql),
         |sl AS (SELECT doc_id, simhash FROM sh
         |  WHERE doc_id < $SimRecallSlice),
         |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sl a JOIN sl b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHammingMax),
         |st AS (SELECT doc_id, simhash, bucket,
         |  COUNT(*) OVER (PARTITION BY bucket) AS f,
         |  MIN(doc_id) OVER (PARTITION BY bucket) AS bmin FROM sh),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM st a JOIN st b ON a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id
         |    AND (a.f <= ${LshParams.BucketCap} OR a.doc_id = a.bmin)
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHammingMax
         |    AND a.doc_id < $SimRecallSlice
         |    AND b.doc_id < $SimRecallSlice),
         |hit AS (SELECT t.doc_a, t.doc_b FROM truth t
         |  JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |mis AS (SELECT t.doc_a, t.doc_b FROM truth t
         |  LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         |  WHERE c.doc_a IS NULL)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
         |  (SELECT CASE WHEN (SELECT COUNT(*) FROM truth) = 0
         |    THEN 1000000000
         |    ELSE (SELECT COUNT(*) FROM hit) * 1000000000 //
         |      (SELECT COUNT(*) FROM truth) END) AS recall_e9,
         |  (SELECT CASE WHEN (SELECT COUNT(*) FROM cand) = 0
         |    THEN 1000000000
         |    ELSE (SELECT COUNT(*) FROM hit) * 1000000000 //
         |      (SELECT COUNT(*) FROM cand) END) AS precision_e9,
         |  (SELECT COALESCE(bit_xor(xor(doc_a * 1000003, doc_b)), 0)
         |    FROM mis) AS missed_checksum""".stripMargin,
    "q_winnow" ->
      s"""WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS t
         |  FROM documents),
         |gr AS (SELECT doc_id, source,
         |  CAST(greatest(len(t)-${WinnowK - 1}, 1) AS BIGINT) AS npos,
         |  unnest(generate_series(1, greatest(len(t)-${WinnowK - 1}, 1)))
         |    AS pos,
         |  unnest(${shingleExpr(WinnowK)}) AS g
         |  FROM tok),
         |an AS (SELECT doc_id, source, npos, CAST(pos AS BIGINT) AS pos,
         |  CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS h FROM gr),
         |sel AS (SELECT doc_id, source, pos AS e,
         |  min(row(h, -pos)) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS m
         |  FROM an QUALIFY pos >= $WinnowW),
         |fpr AS (SELECT DISTINCT doc_id, -(m[2]) AS selpos, m[1] AS selh
         |  FROM sel),
         |fp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsel,
         |  bit_xor(xor(xor(doc_id * 1000003, selpos * 131), selh)) AS x
         |  FROM fpr GROUP BY 1),
         |dc AS (SELECT doc_id, source, max(npos) AS npos FROM an
         |  GROUP BY 1, 2)
         |SELECT source, CAST(SUM(dc.npos) AS BIGINT) AS n_grams,
         |  CAST(SUM(GREATEST(dc.npos - ${WinnowW - 1}, 0)) AS BIGINT)
         |    AS n_windows,
         |  CAST(SUM(COALESCE(fp.nsel, 0)) AS BIGINT) AS n_selected,
         |  CAST(SUM(COALESCE(fp.nsel, 0)) AS BIGINT) * 1000000000 //
         |    CAST(SUM(GREATEST(dc.npos - ${WinnowW - 1}, 0)) AS BIGINT)
         |    AS density_e9,
         |  bit_xor(COALESCE(fp.x, 0)) AS fp_xor
         |FROM dc LEFT JOIN fp USING (doc_id)
         |GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_triplets" ->
      s"""WITH $tokCte,
         |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s FROM tok),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
         |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $DfCap),
         |dsr AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare USING (s)),
         |pr0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM dsr a JOIN dsr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT doc_a, doc_b,
         |  inter * 1000000000 // (sa.n + sb.n - inter) AS jac_e9,
         |  3 * inter > sa.n + sb.n AS is_dup
         |  FROM pr0 JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b),
         |sym AS (SELECT doc_a AS anchor, doc_b AS nbr, jac_e9, is_dup
         |  FROM pr
         |  UNION ALL SELECT doc_b, doc_a, jac_e9, is_dup FROM pr),
         |tp AS (SELECT anchor, nbr AS positive, jac_e9 AS j_pos_e9 FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |    ORDER BY jac_e9 DESC, nbr ASC) AS rk FROM sym WHERE is_dup) t
         |  WHERE rk = 1),
         |tn AS (SELECT anchor, nbr AS negative, jac_e9 AS j_neg_e9 FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |    ORDER BY jac_e9 DESC, nbr ASC) AS rk FROM sym
         |   WHERE NOT is_dup) t
         |  WHERE rk = 1)
         |SELECT tp.anchor, positive, negative, j_pos_e9, j_neg_e9,
         |  j_pos_e9 - j_neg_e9 AS margin_e9
         |FROM tp LEFT JOIN tn ON tp.anchor = tn.anchor
         |ORDER BY tp.anchor ASC""".stripMargin,
    "q_split_leakage" ->
      s"""$ccLabelsCtes,
         |spl AS (SELECT d.doc_id,
         |  COALESCE(l.label, d.doc_id) AS label,
         |  CASE WHEN CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),
         |      1,15)) AS BIGINT) % 100 < 80 THEN 'train'
         |    WHEN CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),
         |      1,15)) AS BIGINT) % 100 < 90 THEN 'val'
         |    ELSE 'test' END AS s_old,
         |  CASE WHEN CAST(('0x'||substr(md5(CAST(COALESCE(l.label,
         |      d.doc_id) AS VARCHAR)),1,15)) AS BIGINT) % 100 < 80
         |      THEN 'train'
         |    WHEN CAST(('0x'||substr(md5(CAST(COALESCE(l.label,
         |      d.doc_id) AS VARCHAR)),1,15)) AS BIGINT) % 100 < 90
         |      THEN 'val'
         |    ELSE 'test' END AS s_new
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
         |bef AS (SELECT 'before' AS stage,
         |  LEAST(a.s_old, b.s_old) AS split_a,
         |  GREATEST(a.s_old, b.s_old) AS split_b,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  bit_xor(xor(e.doc_a * 1000003, e.doc_b)) AS xor_proof
         |  FROM pj e JOIN spl a ON a.doc_id = e.doc_a
         |  JOIN spl b ON b.doc_id = e.doc_b GROUP BY 2, 3),
         |aft AS (SELECT 'after' AS stage,
         |  LEAST(a.s_new, b.s_new) AS split_a,
         |  GREATEST(a.s_new, b.s_new) AS split_b,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  bit_xor(xor(e.doc_a * 1000003, e.doc_b)) AS xor_proof
         |  FROM pj e JOIN spl a ON a.doc_id = e.doc_a
         |  JOIN spl b ON b.doc_id = e.doc_b GROUP BY 2, 3),
         |mov AS (SELECT 'moved' AS stage, s_old AS split_a,
         |  s_new AS split_b, CAST(COUNT(*) AS BIGINT) AS n,
         |  bit_xor(doc_id * 1000003) AS xor_proof
         |  FROM spl WHERE s_old <> s_new GROUP BY 2, 3)
         |SELECT stage, split_a, split_b, n, xor_proof FROM
         |(SELECT * FROM bef UNION ALL SELECT * FROM aft
         | UNION ALL SELECT * FROM mov) u
         |ORDER BY stage ASC, split_a ASC, split_b ASC""".stripMargin,
    "q_containment" ->
      s"""WITH $tokCte,
         |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s FROM tok),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $DfCap),
         |dsr AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare USING (s)),
         |szr AS (SELECT doc_id, COUNT(*) AS n FROM dsr GROUP BY 1),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM dsr a JOIN dsr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b, inter,
         |  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb
         |  FROM pr JOIN szr sa ON sa.doc_id = doc_a
         |  JOIN szr sb ON sb.doc_id = doc_b
         |  WHERE inter = LEAST(sa.n, sb.n))
         |SELECT
         |CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
         |  THEN doc_a ELSE doc_b END AS doc_small,
         |CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
         |  THEN doc_b ELSE doc_a END AS doc_big,
         |LEAST(na, nb) AS n_small, GREATEST(na, nb) AS n_big,
         |inter * 1000000000 // GREATEST(na, nb) AS cont_big_e9,
         |inter * 1000000000 // (na + nb - inter) AS jac_e9,
         |CAST(CASE WHEN na <> nb THEN 1 ELSE 0 END AS BIGINT) AS proper
         |FROM c ORDER BY doc_small ASC, doc_big ASC""".stripMargin,
    // NOTE: deliberately UNCAPPED (no `rare` CTE) — the oracle is the
    // exact naive pair set, so the hash match proves the prefix
    // filter's candidate generation is lossless.
    "q_prefix_join" ->
      s"""WITH $tokCte,
         |sh AS (SELECT doc_id, unnest(${shingleExpr(JaccardN)}) AS s FROM tok),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    COUNT(*) AS inter
         |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter,
         |ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         |FROM pr JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE 3 * inter > sa.n + sb.n""".stripMargin
  )
}
