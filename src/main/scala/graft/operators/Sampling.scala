package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions

/** Deterministic sampling / splitting for training-data curation.
  *
  * Everything keys off `md5(doc_id)` rather than `rand()`: the same
  * document lands in the same split on every run, on any cluster, and
  * after any repartition — reproducibility that `rand()`-based
  * sampling cannot give (Spark re-draws per task retry). All ops are
  * narrow maps or single windows: linear at 100 TB.
  */
object Sampling {

  /** Deterministic bucket in [0, 100) from the id's md5. */
  private def pctBucket(id: org.apache.spark.sql.Column) =
    pmod(TextFunctions.md5Prefix60(id.cast("string")), lit(100L))

  /** Hash-based train/val/test split (80/10/10): stable under reruns,
    * retries, and repartitioning. */
  def qSplitAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("bucket", pctBucket($"doc_id"))
      .withColumn("split",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
  }

  /** Per-source quota sampling: keep at most `quota` documents per
    * source, chosen by hash order (deterministic, uniform) — the
    * "cap each domain's contribution" curation step. */
  def quotaSample(docs: DataFrame, quota: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.withColumn("_qr", row_number().over(w))
      .filter(col("_qr") <= quota)
      .drop("_qr")
  }

  def qQuotaSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    quotaSample(Tables.documents(s, d), 15)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("sum_chars"),
        min($"doc_id").as("min_doc"))
  }

  /** Mixture rebalancing: downsample every source to the size of the
    * smallest one (equal-share training mix), deterministically.
    * Keep-thresholds are `floor(10000·min/total)` against a 10000-ary
    * hash bucket: integer operands are exact in double and the
    * division is correctly rounded, so both engines floor the same
    * value and the boundary is deterministic. One agg + one
    * broadcast-joined narrow filter: linear at 100 TB. The hash uses
    * md5 chars 17-31 so mixture keeps are independent of the
    * split-assignment buckets (chars 1-15). */
  def qMixtureSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val totals = docs.groupBy($"source").agg(count(lit(1)).as("total"))
    val minTotal = totals.agg(min($"total").as("min_total"))
    val thresholds = totals.crossJoin(minTotal)
      .select($"source", $"total",
        floor(lit(10000L) * $"min_total" / $"total").as("keep_bps"))
    val bucket10k = pmod(
      TextFunctions.md5Prefix60($"doc_id".cast("string"), startHex = 17),
      lit(10000L))
    docs
      .join(broadcast(thresholds), "source")
      .filter(bucket10k < $"keep_bps")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), max($"total").as("n_available"))
  }

  /** Temperature-weighted mixture sampling — the LLM data-mixing knob:
    * each source's share of the sample is ∝ n^α with α = 0.5, so small
    * sources are upweighted relative to proportional sampling without
    * ever dominating (α=1 → proportional, α=0 → equal share). Weights
    * are 9dp-rounded sqrts summed through DECIMAL(38,12), so the
    * floor'd per-source targets are engine-exact; selection within a
    * source is md5-ordered (deterministic, retry-stable). One agg +
    * one window + one broadcast join: linear at 100 TB. */
  def qTemperatureSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Det.dsum12
    val SampleN = 50
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val wsum = counts.agg(dsum12(round(sqrt($"n"), 9)).as("wsum"))
    val targets = counts.crossJoin(broadcast(wsum))
      .select($"source",
        greatest(floor(round(sqrt($"n"), 9) / $"wsum" * SampleN), lit(1L))
          .as("target"))
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")).asc, $"doc_id".asc)
    docs.withColumn("rn", row_number().over(w))
      .join(broadcast(targets), "source")
      .filter($"rn" <= $"target")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_sampled"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
  }

  private val CurrQmMod = 1001L // hashed-scorer modulus (TextAnalysis twin)

  /** CURRICULUM PHASE ASSIGNMENT — order the corpus by a model-scored
    * quality signal and cut it into four per-language quartile phases
    * (train easy→hard, or low→high quality): the curriculum-learning
    * data-layout step. The score is the deterministic hashed linear
    * scorer (same formula as q_quality_model, so the oracle reproduces
    * it); the quartile cut is EXACT and never buffers values — a
    * (lang, score)-grain histogram, cumulative count F(score) via the
    * medianOfHist-style histogram window, and phase = ceil(4·F/N) in pure
    * integer arithmetic. Ties (equal scores) land in one phase by
    * construction, on any partitioning. The per-row assignment is
    * proven by a bit_xor checksum of doc_id ⊕ phase·1000003 — an
    * oracle hash match certifies EVERY document's phase, not just the
    * counts. Scale shape: one narrow scoring pass, one histogram
    * shuffle, a per-lang window over score-grain rows, one join back
    * on (lang, score) — no global window, no driver state. */
  def qCurriculum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val half = (CurrQmMod - 1) / 2
    val score = aggregate(
      transform(TextFunctions.tokens($"text"),
        t => TextFunctions.md5Prefix60(t) % CurrQmMod - half),
      lit(0L), (acc, x) => acc + x)
    val scored = Tables.documents(s, d)
      .select($"doc_id", $"lang", score.as("score"))
      .transform(graft.functions.Cp.local)
    val hist = scored.groupBy($"lang", $"score")
      .agg(count(lit(1)).as("cnt"))
    val phased = Relational.cumTot(hist, "lang", "score", "cnt", cum = "f")
      .withColumn("phase", expr("(4 * f + tot - 1) DIV tot"))
      .select($"lang", $"score", $"phase")
    scored.join(phased, Seq("lang", "score"))
      .groupBy($"lang", $"phase")
      .agg(count(lit(1)).as("n_docs"),
        min($"score").as("min_score"),
        max($"score").as("max_score"),
        expr("bit_xor(doc_id ^ (phase * 1000003))").as("placement_xor"))
      .orderBy($"lang".asc, $"phase".asc)
  }

  /** Global sample budget for [[qAllocation]]. */
  private val AllocBudget = 10000L

  /** LARGEST-REMAINDER QUOTA ALLOCATION (Hamilton apportionment) — the
    * exact integer answer to "split a fixed sample budget across
    * languages proportionally": base = n·S div N seats, then the
    * S − Σbase leftover seats go to the largest remainders
    * (remainder desc, lang asc — deterministic ties). Guarantees
    * Σalloc = S exactly and every share within 1 of proportional —
    * the property float-rounded quotas can't give (they over- or
    * under-shoot the budget). All arithmetic is BIGINT products and
    * truncating division, identical in both engines. Scale shape: one
    * corpus agg to the language grain, then every window runs on the
    * lang-domain frame (≤ tens of rows) — corpus size only touches the
    * first agg, so the plan is one shuffle at any SF. */
  def qAllocation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val S = AllocBudget
    val all = Window.partitionBy(lit(1))
    val counts = Tables.documents(s, d)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
    counts
      .withColumn("tot", sum($"n").over(all))
      .withColumn("base", expr(s"n * $S DIV tot"))
      .withColumn("rem", expr(s"n * $S - base * tot"))
      .withColumn("leftover", lit(S) - sum($"base").over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy($"rem".desc, $"lang".asc))
        .cast("long"))
      .select($"lang", $"n".as("n_docs"), $"base",
        when($"rk" <= $"leftover", 1L).otherwise(0L).as("extra"),
        ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
          .as("alloc"))
      .orderBy($"lang".asc)
  }

  /** TOKEN-BUDGET MIXTURE PLAN — the greedy data-mixing decision
    * every pretraining run makes: rank sources by exact quality
    * density (Σscore·10⁹ div Σtokens — the [[graft.operators
    * .TextAnalysis.qQualityModel]] hashed-feature score, integer
    * end-to-end), then fill a 30%-of-corpus token budget top-down —
    * full sources while they fit, one boundary source partially, zero
    * after (the prefix-sum closed form of the greedy knapsack; no
    * iteration). Every column is exact BIGINT arithmetic; the ranking
    * window runs over the SOURCE domain (bounded, q_open_interval
    * rule) and the budget is a 1-row broadcast scalar. */
  def qBudgetMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.{md5Prefix60, tokens}
    val QmMod = 1001L
    val half = (QmMod - 1) / 2
    val score = aggregate(
      transform(tokens($"text"), t => md5Prefix60(t) % QmMod - half),
      lit(0L), (acc, x) => acc + x)
    val cells = Tables.documents(s, d)
      .select($"source", score.as("sc"),
        size(tokens($"text")).cast("long").as("ntok"))
      .groupBy($"source")
      .agg(sum($"ntok").as("toks"), sum($"sc").as("ss"))
      // ss can be negative and Spark DIV (trunc-to-zero) ≠ DuckDB //
      // on negatives: shift the numerator positive by toks·10¹²
      // (score ≥ −500/token → always positive), divide, subtract the
      // constant back — identical trunc in both engines; the shifted
      // product overflows BIGINT at sf10 volumes, so DECIMAL(38,0)
      // (HUGEINT in the oracle)
      .withColumn("density_e9", expr(
        "CAST((CAST(ss AS DECIMAL(38,0)) * 1000000000 + " +
          "CAST(toks AS DECIMAL(38,0)) * 1000000000000) DIV toks" +
          " AS BIGINT) - 1000000000000"))
    val budget = cells.agg((sum($"toks") * 30).as("b100"))
    val w = Window.orderBy($"density_e9".desc, $"source".asc)
    cells.crossJoin(broadcast(budget))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum($"toks" * 100).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"source", $"toks", $"density_e9", $"rank",
        when($"cum" <= $"b100", $"toks")
          .when($"cum" - $"toks" * 100 >= $"b100", lit(0L))
          .otherwise(expr("(b100 - (cum - toks * 100)) DIV 100"))
          .as("alloc_tokens"))
      .orderBy($"rank".asc)
  }

  /** Feature-hash buckets for [[qDsir]]. */
  private[graft] val DsirBuckets = 256L
  /** Fixed-point scale for the per-bucket likelihood ratio (2²⁰). */
  private[graft] val DsirScale = 1L << 20
  /** Coarse histogram step for the exact top-budget threshold. */
  private[graft] val DsirStep = 16384L
  /** Shift that keeps the bucketed score non-negative (trunc ≡ floor).
    * 2⁶² — NOT 2³⁰: per-token weights reach ≈ −t_tgt·2²⁰/t_raw, so a
    * doc with thousands of tokens concentrated in zero-target buckets
    * can score below −2³⁰, where Spark DIV (trunc) and DuckDB //
    * (floor) disagree and the bucket shifts (the q_hilbert INT32
    * class). |score| ≤ n_tokens·2²⁰ stays ≪ 2⁶² for any real corpus
    * (2⁴² tokens/doc), and 2⁶² + 2⁶¹ < 2⁶³ leaves addition overflow-
    * free; the histogram SPINE is sized by score RANGE / step, not by
    * the shift, so the bounded-spine argument is unchanged. */
  private[graft] val DsirShift = 1L << 62
  private[graft] val DsirTargetLang = "en"

  /** DSIR-SHAPE IMPORTANCE RESAMPLING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-unigram profile looks like a
    * TARGET distribution (here: the `en` slice) relative to the raw
    * corpus, then keep the top budget = N/10. The per-bucket importance
    * weight is the CENTERED rational surrogate of the log-likelihood
    * ratio — (c_tgt+1)·2²⁰ div (c_raw+1) minus the corpus-wide ratio
    * t_tgt·2²⁰ div t_raw — exact BIGINT in both engines (log itself is
    * libm-dependent; for ratios near 1 the centered ratio is
    * order-equivalent to its log, which is all selection needs). Doc
    * score = Σ over token instances of the token's bucket weight.
    *
    * The budget selection is the 100 TB part: no global row_number over
    * N docs. Scores histogram into coarse 2¹⁴-wide buckets (shifted
    * +2³⁰ so trunc-division ≡ floor in both engines); a cumulative
    * count over the BUCKET histogram (bounded spine: score range /
    * 2¹⁴ rows) finds the boundary bucket; buckets strictly above it
    * are taken whole and only the boundary bucket ranks its own rows
    * (a PARTITIONED window) by (score desc, doc_id) for the remaining
    * seats — an exact global top-k with one bounded global window and
    * one partitioned window. Budget knob mirrored via a scalar
    * subquery (COUNT(*)//10), the q_semdedup idiom. Output: per-lang
    * selection census with a bit_xor placement proof over the exact
    * selected set. */
  /** Hashed-unigram feature bucket of a token — shared by [[qDsir]]
    * and the streaming scorer so both paths bucket identically. */
  def dsirBucket(term: Column): Column =
    pmod(graft.functions.TextFunctions.md5Prefix60(term),
      lit(DsirBuckets))

  /** The [[qDsir]] importance-weight table: (b, wt) for every hashed
    * feature bucket, wt = centered rational log-likelihood-ratio
    * surrogate of target (`lang = targetLang`) vs raw counts. ≤
    * [[DsirBuckets]] rows by construction — the broadcastable model a
    * streaming scorer probes ([[graft.streaming.StreamingOps
    * .dsirScore]]). */
  def dsirWeights(docs: DataFrame,
                  targetLang: String = DsirTargetLang): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.TextFunctions.tokens
    val bs = docs
      .select($"lang", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .select($"lang", dsirBucket($"term").as("b"))
      .groupBy($"b").agg(
        count(lit(1)).as("c_raw"),
        sum(when($"lang" === targetLang, 1L).otherwise(0L)).as("c_tgt"))
    val tot = bs.agg(sum($"c_raw").as("t_raw"),
      greatest(sum($"c_tgt"), lit(1L)).as("t_tgt"))
    bs.crossJoin(broadcast(tot))
      .select($"b", expr(
        s"(c_tgt + 1) * $DsirScale DIV (c_raw + 1) - " +
          s"t_tgt * $DsirScale DIV t_raw").as("wt"))
  }

  /** Per-doc DSIR scores over `docs` (doc_id, lang, text) with the
    * coarse histogram bucket attached — the [[qDsir]] scoring stage
    * refactored for composition ([[Curate.qCurateFull]] scores its
    * curated survivor set). Checkpointed: the histogram and both
    * selection branches of [[dsirSelectFrom]] consume it. */
  private[graft] def dsirScored(docs: DataFrame,
      targetLang: String = DsirTargetLang): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.TextFunctions.tokens
    val tk = docs
      .select($"doc_id", $"lang", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .select($"doc_id", $"lang", dsirBucket($"term").as("b"))
    // ≤256 rows by construction — always broadcast-safe
    tk.join(broadcast(dsirWeights(docs, targetLang)), Seq("b"))
      .groupBy($"doc_id")
      .agg(max($"lang").as("lang"), sum($"wt").as("score"))
      .withColumn("bkt", expr(s"(score + $DsirShift) DIV $DsirStep"))
      .transform(graft.functions.Cp.local)
  }

  /** Exact global top-`budget` of a [[dsirScored]] frame with NO
    * data-sized global window: cumulative over the bounded
    * score-bucket histogram finds the boundary bucket; buckets above
    * it are taken whole, only the boundary bucket ranks its own rows
    * (partitioned window, (score desc, doc_id) tie-break). */
  private[graft] def dsirSelectFrom(ds: DataFrame,
      budget: Long): DataFrame = {
    import ds.sparkSession.implicits._
    val bh = ds.groupBy($"bkt").agg(count(lit(1)).as("cnt"))
    val wDesc = Window.orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket-histogram cumulative: tiny frame, but both selection
    // branches consume it — materialize so the ds agg runs ONCE
    val bc = bh.withColumn("above", coalesce(sum($"cnt").over(wDesc), lit(0L)))
      .transform(graft.functions.Cp.local)
    val full = ds
      .join(broadcast(bc.filter($"above" + $"cnt" <= budget)), Seq("bkt"))
      .select($"doc_id", $"lang", $"score")
    val wb = Window.partitionBy($"bkt").orderBy($"score".desc, $"doc_id".asc)
    val boundary = ds
      .join(broadcast(bc.filter($"above" < budget &&
        $"above" + $"cnt" > budget)), Seq("bkt"))
      .withColumn("rnk", row_number().over(wb))
      .filter($"rnk" <= lit(budget) - $"above")
      .select($"doc_id", $"lang", $"score")
    full.unionByName(boundary)
  }

  def qDsir(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    val docs = Tables.documents(s, d)
    val budget = docs.count() / 10
    // the scorer explodes + md5-buckets every token map-side — fan the
    // scan out; the budget count above stays on the plain scan
    val ds = dsirScored(Tables.fanOut(docs, "doc_id"))
    val selc = dsirSelectFrom(ds, budget)
      .groupBy($"lang").agg(
        count(lit(1)).as("n_sel"),
        sum($"score").as("sum_sel_score"),
        bit_xor(md5Prefix60($"doc_id".cast("string"))
          .bitwiseXOR($"score" * 1000003L)).as("sel_xor"))
    ds.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .join(selc, Seq("lang"), "left")
      .select($"lang", $"n_docs",
        coalesce($"n_sel", lit(0L)).as("n_sel"),
        expr("COALESCE(n_sel, 0) * 1000000000 DIV n_docs").as("sel_e9"),
        coalesce($"sum_sel_score", lit(0L)).as("sum_sel_score"),
        coalesce($"sel_xor", lit(0L)).as("sel_xor"))
      .orderBy($"lang".asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsir" -> (qDsir _),
    "q_budget_mix" -> (qBudgetMix _),
    "q_allocation" -> (qAllocation _),
    "q_curriculum" -> (qCurriculum _),
    "q_split_assign" -> (qSplitAssign _),
    "q_quota_sample" -> (qQuotaSample _),
    "q_mixture_sample" -> (qMixtureSample _),
    "q_temperature_sample" -> (qTemperatureSample _)
  )

  val oracle: Map[String, String] = Map(
    "q_dsir" ->
      s"""WITH tok AS (SELECT doc_id, lang,
         |  unnest(string_split(text,' ')) AS term FROM documents),
         |tk AS (SELECT doc_id, lang,
         |  CAST(('0x'||substr(md5(term),1,15)) AS BIGINT) % $DsirBuckets
         |    AS b
         |  FROM tok WHERE term <> ''),
         |bs AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_raw,
         |  CAST(SUM(CASE WHEN lang='$DsirTargetLang' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS c_tgt
         |  FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
         |  CAST(GREATEST(SUM(c_tgt),1) AS BIGINT) AS t_tgt FROM bs),
         |w AS (SELECT b,
         |  (c_tgt+1) * $DsirScale // (c_raw+1)
         |    - t_tgt * $DsirScale // t_raw AS wt
         |  FROM bs, tot),
         |ds AS (SELECT tk.doc_id, max(tk.lang) AS lang,
         |  CAST(SUM(w.wt) AS BIGINT) AS score
         |  FROM tk JOIN w USING (b) GROUP BY tk.doc_id),
         |bud AS (SELECT CAST(COUNT(*) // 10 AS BIGINT) AS k
         |  FROM documents),
         |db AS (SELECT doc_id, lang, score,
         |  (score + $DsirShift) // $DsirStep AS bkt FROM ds),
         |bh AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM db GROUP BY 1),
         |bc AS (SELECT bkt, cnt,
         |  CAST(COALESCE(SUM(cnt) OVER (ORDER BY bkt DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0)
         |    AS BIGINT) AS above
         |  FROM bh),
         |sel AS (
         |  SELECT d.doc_id, d.lang, d.score
         |  FROM db d JOIN bc ON d.bkt = bc.bkt, bud
         |  WHERE bc.above + bc.cnt <= bud.k
         |  UNION ALL
         |  SELECT doc_id, lang, score FROM (
         |    SELECT d.doc_id, d.lang, d.score,
         |      ROW_NUMBER() OVER (PARTITION BY d.bkt
         |        ORDER BY d.score DESC, d.doc_id ASC) AS rnk,
         |      bc.above, bud.k AS k
         |    FROM db d JOIN bc ON d.bkt = bc.bkt, bud
         |    WHERE bc.above < bud.k AND bc.above + bc.cnt > bud.k) t
         |  WHERE rnk <= k - above),
         |alldocs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM ds GROUP BY 1),
         |selc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sel,
         |  CAST(SUM(score) AS BIGINT) AS sum_sel_score,
         |  bit_xor(xor(CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),
         |    1,15)) AS BIGINT), score * 1000003)) AS sel_xor
         |  FROM sel GROUP BY 1)
         |SELECT a.lang, a.n_docs, COALESCE(s.n_sel,0) AS n_sel,
         |  COALESCE(s.n_sel,0) * 1000000000 // a.n_docs AS sel_e9,
         |  COALESCE(s.sum_sel_score,0) AS sum_sel_score,
         |  COALESCE(s.sel_xor,0) AS sel_xor
         |FROM alldocs a LEFT JOIN selc s USING (lang)
         |ORDER BY lang ASC""".stripMargin,
    "q_budget_mix" ->
      """WITH cells AS (SELECT source,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
        |  CAST(SUM(CAST(list_sum(list_transform(string_split(text, ' '),
        |    x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % 1001
        |         - 500)) AS BIGINT)) AS BIGINT) AS ss
        |  FROM documents GROUP BY 1),
        |dd AS (SELECT source, toks, ss,
        |  CAST((ss::HUGEINT * 1000000000 + toks::HUGEINT *
        |    1000000000000) // toks AS BIGINT) - 1000000000000
        |    AS density_e9
        |  FROM cells),
        |b AS (SELECT CAST(SUM(toks) * 30 AS BIGINT) AS b100 FROM dd),
        |r AS (SELECT *,
        |  ROW_NUMBER() OVER (ORDER BY density_e9 DESC, source ASC)
        |    AS rank,
        |  CAST(SUM(toks * 100) OVER (ORDER BY density_e9 DESC,
        |    source ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |    ROW) AS BIGINT) AS cum
        |  FROM dd)
        |SELECT source, toks, density_e9, CAST(rank AS BIGINT) AS rank,
        |CASE WHEN cum <= b100 THEN toks
        |     WHEN cum - toks * 100 >= b100 THEN 0
        |     ELSE (b100 - (cum - toks * 100)) // 100
        |     END AS alloc_tokens
        |FROM r CROSS JOIN b ORDER BY rank ASC""".stripMargin,
    "q_allocation" ->
      s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |t AS (SELECT lang, n, CAST(SUM(n) OVER () AS BIGINT) AS tot
         |  FROM c),
         |b AS (SELECT lang, n, tot, n * $AllocBudget // tot AS base,
         |  n * $AllocBudget - (n * $AllocBudget // tot) * tot AS rem
         |  FROM t),
         |r AS (SELECT lang, n, base, rem,
         |  $AllocBudget - CAST(SUM(base) OVER () AS BIGINT) AS leftover,
         |  CAST(row_number() OVER (ORDER BY rem DESC, lang ASC) AS BIGINT)
         |    AS rk
         |  FROM b)
         |SELECT lang, n AS n_docs, base,
         |CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
         |FROM r ORDER BY lang ASC""".stripMargin,
    "q_curriculum" ->
      s"""WITH sc AS (SELECT doc_id, lang,
         |  CAST(list_sum(list_transform(string_split(text,' '),
         |    x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % $CurrQmMod
         |         - ${(CurrQmMod - 1) / 2})) AS BIGINT) AS score
         |  FROM documents),
         |hist AS (SELECT lang, score, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM sc GROUP BY 1, 2),
         |ph AS (SELECT lang, score,
         |  (4 * CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY score ASC
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   + CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) - 1)
         |  // CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS phase
         |  FROM hist)
         |SELECT sc.lang, phase, COUNT(*) AS n_docs,
         |  MIN(sc.score) AS min_score, MAX(sc.score) AS max_score,
         |  bit_xor(xor(doc_id, phase * 1000003)) AS placement_xor
         |FROM sc JOIN ph ON sc.lang = ph.lang AND sc.score = ph.score
         |GROUP BY 1, 2""".stripMargin,
    "q_split_assign" ->
      """WITH b AS (SELECT source, n_chars,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100
        |    AS bucket
        |  FROM documents)
        |SELECT source,
        |CASE WHEN bucket < 80 THEN 'train'
        |     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q_mixture_sample" ->
      """WITH t AS (SELECT source, COUNT(*) AS total FROM documents GROUP BY 1),
        |th AS (SELECT source, total,
        |  CAST(FLOOR(10000 * (SELECT MIN(total) FROM t) * 1.0 / total) AS BIGINT)
        |    AS keep_bps FROM t)
        |SELECT d.source, COUNT(*) AS n_kept,
        |CAST(MAX(th.total) AS BIGINT) AS n_available
        |FROM documents d JOIN th ON d.source = th.source
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),17,15)) AS BIGINT)
        |  % 10000 < th.keep_bps
        |GROUP BY d.source""".stripMargin,
    "q_temperature_sample" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |ws AS (SELECT CAST(SUM(CAST(ROUND(sqrt(n), 9) AS DECIMAL(38,12)))
        |  AS DOUBLE) AS wsum FROM c),
        |t AS (SELECT source,
        |  GREATEST(CAST(FLOOR(ROUND(sqrt(n), 9) / wsum * 50) AS BIGINT), 1)
        |    AS target
        |  FROM c CROSS JOIN ws),
        |r AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT r.source, COUNT(*) AS n_sampled,
        |MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM r JOIN t ON r.source = t.source
        |WHERE rn <= t.target GROUP BY r.source""".stripMargin,
    "q_quota_sample" ->
      """WITH r AS (SELECT source, n_chars, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS qr
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_kept,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |MIN(doc_id) AS min_doc
        |FROM r WHERE qr <= 15 GROUP BY source""".stripMargin
  )
}
