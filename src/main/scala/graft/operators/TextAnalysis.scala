package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` corpus: token counting,
  * quality scoring, marker-ngram language ID. All narrow maps +
  * a single group-agg — linear at 100 TB.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a")

  // Marker vocabularies for the language-ID heuristic. With synthetic
  // shared-vocabulary documents the discriminative power is limited —
  // the point is the operator shape: per-language marker scoring +
  // deterministic arg-max, expressible identically in the oracle.
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "fast", "query"),
    "de" -> Seq("group", "window", "order"),
    "fr" -> Seq("table", "part", "line"))

  def qTokenCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("ntok", size(tokens($"text")).cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"ntok").as("sum_tokens"),
        (sum($"ntok").cast("double") / count(lit(1))).as("avg_tokens"))
  }

  def qTextQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    Tables.documents(s, d)
      .withColumn("ntok", size(toks).cast("long"))
      .select(
        $"doc_id", $"ntok",
        // chars-per-word over single-space text: (len - (ntok-1)) / ntok
        round((length($"text") - $"ntok" + 1).cast("double") / $"ntok", 6)
          .as("avg_word_len"),
        round(markerCount(toks, stopwords).cast("double") / $"ntok", 6)
          .as("stopword_ratio"),
        // non-alphanumeric, non-space share of all characters
        round((length($"text") -
          length(regexp_replace($"text", "[^a-zA-Z0-9 ]", ""))).cast("double") /
          greatest(length($"text"), lit(1)), 6).as("punct_ratio"))
  }

  def qLangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val scored = Tables.documents(s, d)
      .withColumn("s_en", markerCount(toks, markers(0)._2))
      .withColumn("s_de", markerCount(toks, markers(1)._2))
      .withColumn("s_fr", markerCount(toks, markers(2)._2))
    scored
      .withColumn("predicted",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr", "en")
          .when($"s_de" >= $"s_fr", "de")
          .otherwise("fr"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
  }

  // Character-trigram profiles per language for the n-gram language-ID
  // variant: the operator scores each document by how many of its char
  // trigrams appear in each profile (classic Cavnar-Trenkle shape).
  // Profiles here are fixed literals derived from the marker
  // vocabulary; production profiles come from training frequencies.
  private val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", "fas", "ast", "que", "uer", "ery"),
    "de" -> Seq("gro", "rou", "oup", "win", "ind", "ord", "rde"),
    "fr" -> Seq("tab", "abl", "ble", "par", "art", "lin", "ine"))

  /** Char-trigram language ID: score = |{trigrams(text)} ∩ profile| =
    * number of profile trigrams contained in the text (profiles are
    * duplicate-free), deterministic arg-max. Expressed as a handful of
    * codegen'd `contains` probes — no array materialization at all,
    * so the scan stays in whole-stage codegen. */
  def qLangNgram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def score(profile: Seq[String]): Column =
      profile.map(p => when($"text".contains(p), 1).otherwise(0))
        .reduce[Column](_ + _)
    val scored = Tables.documents(s, d)
      .withColumn("s_en", score(trigramProfiles(0)._2))
      .withColumn("s_de", score(trigramProfiles(1)._2))
      .withColumn("s_fr", score(trigramProfiles(2)._2))
    scored
      .withColumn("predicted",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr", "en")
          .when($"s_de" >= $"s_fr", "de")
          .otherwise("fr"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
  }

  private val BpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** BPE-ish subword-friendly token counting: letter runs, digit runs
    * and single punctuation marks count separately (the shape BPE
    * pre-tokenizers split on), vs bare whitespace tokens. The regex
    * is kept to a syntax subset Java regex and RE2 (DuckDB) evaluate
    * identically. */
  def qTokenRegex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("ntok",
        size(regexp_extract_all($"text", lit(BpeIshPattern), lit(0))).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("sum_bpe_tokens"))
  }

  /** Lexical diversity (type-token ratio) per source — the vocabulary
    * richness quality signal: templated/spammy docs repeat tokens and
    * score low. Ratios are exact rationals rounded to 9 dp, then summed
    * through DECIMAL(38,12) for an order-independent average. */
  def qLexicalDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Det.dsum12
    val toks = tokens($"text")
    Tables.documents(s, d)
      .select($"source",
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_types"))
      .withColumn("ttr", round($"n_types".cast("double") / $"n_tok", 9))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_types").as("sum_types"),
        round(dsum12($"ttr") / count(lit(1)), 9).as("avg_ttr"))
  }

  private val TopNgrams = 20

  /** Corpus-level bigram frequency table: the top-[[TopNgrams]] most
    * frequent word 2-grams — the shape of a contamination / benchmark-
    * overlap check (look up a benchmark's n-grams in the corpus table).
    * One explode + one count per gram (map-side partial agg) + a
    * bounded global top-k with a unique tie-break. */
  private[graft] val SpanK = 8     // duplicate-span width (tokens)
  private val SpanTopK = 50 // reported duplicated spans

  /** EXACT SUBSTRING-SPAN DEDUP — the train-set memorization primitive
    * (find verbatim k-token spans repeated across documents, the
    * suffix-array-dedup query shape at fixed width): every sliding
    * 8-token window is hashed (md5-family, oracle-reproducible) and
    * aggregated; spans occurring in >1 document are ranked. Scale
    * shape: explode is a narrow ~n_tokens/doc flatMap, the only
    * shuffle is the groupBy on the uniform 60-bit span hash (no hot
    * keys by construction), and the report is top-k via
    * TakeOrderedAndProject — never a global sort. At 100 TB the
    * span→count table is the standard "dup span index" a subsequent
    * pass joins against to cut repeated text. */
  def qSubstringDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fused shingle build (one codegen pass) — the interpreted
    // transform/slice/concat_ws chain was the scan's hot path (r16)
    val spans = graft.functions.MinHash.shingles(tokens($"text"), SpanK)
    // two-level agg instead of count+countDistinct in one: the mixed
    // form plans an Expand that doubles the exploded span volume; the
    // (h, doc_id)-grain partial agg combines map-side and feeds the
    // second level already collapsed.
    Tables.documents(s, d)
      .select($"doc_id", explode(spans).as("span"))
      .groupBy(md5Prefix60($"span").as("h"), $"doc_id")
      .agg(min($"span").as("span"), count(lit(1)).as("n"))
      .groupBy($"h")
      .agg(min($"span").as("span"),
        sum($"n").as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .filter($"n_occurrences" > 1 && $"n_docs" > 1)
      .orderBy($"n_occurrences".desc, $"h".asc)
      .limit(SpanTopK)
      .select($"h", $"span", $"n_occurrences", $"n_docs")
  }

  private val CoverTopK = 20 // most-duplicated documents reported

  /** PER-DOCUMENT DUPLICATION COVERAGE — the actionable second pass
    * over the [[qSubstringDedup]] span index: for every document, what
    * share of its 8-token windows is verbatim-shared with ANOTHER
    * document (the "trim or drop this doc" signal). The span index is
    * re-derived (same hash family) and left-joined back on the uniform
    * 60-bit hash — a sort-merge join between two span-grain tables,
    * both shuffled once on the same key, no broadcast of anything
    * data-sized. The ratio is the engine's integer-exact n·10⁹ div d
    * idiom; report is bounded top-k. */
  def qDupSpanCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // materialized once (house idiom, see Dedup.jaccardPairsOf): the
    // span posting table feeds both the dup-index agg and the join
    // probe side; without the checkpoint each side re-runs the
    // explode + per-span md5 pass. Hash-only consumers never build
    // span strings: ShingleHash60 emits the identical 60-bit value
    // (md5 of the space-joined window) in one fused pass (r16).
    val spanOcc = graft.functions.Cp.localClustered(
      Tables.documents(s, d)
        .select($"doc_id", explode(graft.functions.MinHash
          .shingleHash60(tokens($"text"), SpanK)).as("h")),
      graft.Tables.clusterParts(Tables.documents(s, d)), Seq("h"))
    val dupIndex = spanOcc.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" > 1)
      .select($"h", lit(1L).as("is_dup"))
    // span-grain index GROWS WITH THE CORPUS — never broadcastable
    // (the q_bigram_lm sf10 lesson: compressed shuffle stats slide
    // under the AQE threshold while the hash relation inflates 10×+)
    spanOcc.join(dupIndex.hint("merge"), Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dup"))
      .withColumn("ratio_e9", expr("n_dup * 1000000000 div n_spans"))
      .orderBy($"ratio_e9".desc, $"doc_id".asc)
      .limit(CoverTopK)
  }

  private[graft] val SpanDfCap = 64     // anchor-hash df cap for the pair join
  private[graft] val SpanOccCap = 256   // total-position cap (within-doc repeats)
  private[graft] val MinSpanAnchors = 5 // chained anchors ⇒ spans ≥ 12 tokens
  private val SpanReportK = 20   // bounded report size for span queries

  /** VARIABLE-LENGTH shared spans — the suffix-array-dedup verb at its
    * real grain (vs [[qSubstringDedup]]'s fixed 8-token windows): for
    * every document PAIR, the maximal verbatim token spans they share,
    * found by chaining adjacent matching 8-gram anchors. Dot-plot
    * construction: duplicated anchors self-join on the 60-bit hash,
    * each match is a point (pa, pb); within a pair, matches on one
    * DIAGONAL (pa − pb) with consecutive pa chain into one maximal
    * span (gaps-and-islands: pa − row_number is constant on a run).
    * A run of k anchors certifies a shared span of k+7 tokens; runs
    * shorter than [[MinSpanAnchors]] are dropped (spans < 12 tokens
    * are n-gram noise, not memorization signal). Scale contract: the
    * anchor posting table is built ONCE (checkpoint — df agg + both
    * join sides read it), anchors with df > [[SpanDfCap]] docs or
    * more than [[SpanOccCap]] total positions are dropped BEFORE the
    * self-join (boilerplate 8-grams shared by f docs make f² join
    * buckets — the [[Dedup.jaccardPairsOf]] DfCap rule at span grain;
    * the occ cap additionally bounds within-doc repetition, where one
    * doc repeating an anchor p times contributes p² to its pair
    * buckets at any df), so every join bucket is ≤ OccCap². The diagonal
    * windows partition by (pair, diag) — bounded by the shorter doc,
    * never corpus-sized. Both self-join sides are corpus-grown →
    * merge hints (the q_bigram_lm AQE lesson). */
  private def pairSpans(s: SparkSession, d: String): DataFrame =
    pairSpansOf(Tables.documents(s, d))

  /** [[pairSpans]] over an arbitrary (doc_id, text) frame — the
    * composition entry point ([[Curate.qCurateFull]] runs it over the
    * length-gated survivor slice, not the raw table). */
  private[operators] def pairSpansOf(docs: DataFrame,
                                     nPartHint: Int = -1): DataFrame = {
    import docs.sparkSession.implicits._
    // clustered by the anchor hash (the Dedup.jaccardPairsOf layout
    // discipline): the df/occ agg, the semi-join and both self-join
    // sides all key on h — one build shuffle serves every consumer.
    // Anchors hash in ONE fused pass (ShingleHash60 — bit-identical
    // to md5Prefix60 over the space-joined window); no intermediate
    // span strings are ever built (r16).
    val nPart =
      if (nPartHint > 0) nPartHint else graft.Tables.clusterParts(docs)
    val anchors = graft.functions.Cp.localClustered(docs
      .select($"doc_id", posexplode(graft.functions.MinHash
        .shingleHash60(tokens($"text"), SpanK)))
      .select($"doc_id", ($"pos" + 1).cast("long").as("pos"),
        $"col".as("h")),
      nPart, Seq("h"))
    // df bounds DOCS per anchor; occ bounds total POSITIONS — a doc
    // repeating one 8-gram p times contributes p rows at df=2, so the
    // join bucket is occ², not df² ("a a a …" pathology). Both caps
    // mirrored in the oracle, so the gate runs with them ACTIVE.
    val dup = anchors.groupBy($"h")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("occ"))
      .filter($"df" > 1 && $"df" <= SpanDfCap && $"occ" <= SpanOccCap)
      .select($"h")
    // dup index + both join sides are span-grain (corpus-grown):
    // never broadcastable, merge-join on the uniform hash
    // layout inherited from the clustered anchors through the merge
    // semi-join (partition-preserving, streamed side ascending on h):
    // re-declared so the self-join below is a pure co-partitioned
    // merge — no exchange, no sort
    val ha = graft.functions.Cp.localClusteredAs(
      anchors.join(dup.hint("merge"), Seq("h"), "left_semi"),
      nPart, Seq("h"), sorted = true)
    val pr = ha.as("a")
      .join(ha.as("b").hint("merge"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.pos".as("pa"), $"b.pos".as("pb"))
    val w = Window.partitionBy($"doc_a", $"doc_b", $"diag")
      .orderBy($"pa".asc)
    pr.withColumn("diag", $"pa" - $"pb")
      .withColumn("g", $"pa" - row_number().over(w))
      .groupBy($"doc_a", $"doc_b", $"diag", $"g")
      .agg(min($"pa").as("start_a"), min($"pb").as("start_b"),
        (count(lit(1)) + (SpanK - 1)).as("len"))
      .filter($"len" >= MinSpanAnchors + SpanK - 1)
      .select($"doc_a", $"doc_b", $"start_a", $"start_b", $"len")
  }

  /** Census of ALL maximal shared spans by length — one row per span
    * length with a placement-proof checksum (doc_a, doc_b, start_a,
    * start_b all folded in, collision-spread multipliers), so the
    * oracle hash match proves every span's exact extent and position
    * on both sides of every pair, not just counts. Output is bounded
    * by max span length — safe at any corpus size. */
  def qSubstringSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pairSpans(s, d)
      .groupBy($"len")
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(expr("doc_a * 16777216 + doc_b")).as("n_pairs"),
        bit_xor(expr(
          "doc_a * 1000003 ^ doc_b * 8191 ^ start_a * 127 ^ start_b"))
          .as("span_checksum"))
      .orderBy($"len".asc)
  }

  /** The human-readable face of [[pairSpans]]: the [[SpanReportK]]
    * longest shared spans with their text reconstructed by slicing
    * doc_a's token array — the "show me the memorized passage" query.
    * The top-k is TakeOrdered-bounded BEFORE the text join, and the
    * k-row side is broadcast, so the documents table is scanned once
    * and nothing data-sized shuffles for the report. */
  def qLongestDupSpan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val top = pairSpans(s, d)
      .orderBy($"len".desc, $"doc_a".asc, $"doc_b".asc,
        $"start_a".asc, $"start_b".asc)
      .limit(SpanReportK)
    Tables.documents(s, d)
      .join(broadcast(top), $"doc_id" === $"doc_a")
      .select($"doc_a", $"doc_b", $"start_a", $"start_b", $"len",
        concat_ws(" ", slice(tokens($"text"),
          $"start_a".cast("int"), $"len".cast("int"))).as("span_text"))
      .orderBy($"len".desc, $"doc_a".asc, $"doc_b".asc,
        $"start_a".asc, $"start_b".asc)
  }

  /** VARIABLE-SPAN duplication coverage — [[qDupSpanCoverage]]'s
    * fixed-window ratio upgraded to the real trim signal: per
    * document, how many of its tokens sit inside a ≥ 12-token maximal
    * shared span (either side of any pair). Interval-union sweep per
    * doc: intervals sorted by (start, end), an interval starts a new
    * island iff its start clears the running max end + 1 (prefix-max
    * window over PRECEDING rows — all integers, tie-order invariant
    * because equal starts can never clear a max that already includes
    * a same-start end), islands sum to exact covered-token counts.
    * Windows partition by doc_id — bounded by per-doc span count. */
  def qSpanCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sp = pairSpans(s, d).transform(graft.functions.Cp.local)
    val iv = sp.select($"doc_a".as("doc_id"), $"start_a".as("st"),
        ($"start_a" + $"len" - 1).as("en"))
      .unionAll(sp.select($"doc_b".as("doc_id"), $"start_b".as("st"),
        ($"start_b" + $"len" - 1).as("en")))
      .distinct()
    val w = Window.partitionBy($"doc_id").orderBy($"st".asc, $"en".asc)
    val cov = iv
      .withColumn("pm",
        max($"en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag",
        when($"pm".isNull || $"st" > $"pm" + 1, 1L).otherwise(0L))
      .withColumn("isl", sum($"flag")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"isl")
      .agg((max($"en") - min($"st") + 1).as("cv"), count(lit(1)).as("niv"))
      .groupBy($"doc_id")
      .agg(sum($"cv").as("covered"), sum($"niv").as("n_intervals"))
    Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("ntok"))
      .join(cov.hint("merge"), Seq("doc_id"))
      .select($"doc_id", $"ntok", $"n_intervals", $"covered",
        expr("covered * 1000000000 div ntok").as("ratio_e9"))
      .orderBy($"ratio_e9".desc, $"doc_id".asc)
      .limit(SpanReportK)
  }

  private val AdmitMod = 10  // doc_id % 10 == 3 → the incoming batch
  private val AdmitRem = 3   // (the q_incremental_dedup convention)
  private val AdmitMaxCovE9 = 500000000L // admit below 50% span overlap

  /** SPAN-GRAIN ADMISSION CONTROL — q_incremental_dedup upgraded from
    * whole-document fingerprints to PARTIAL duplication: an incoming
    * document is admitted iff fewer than 50% of its 8-token windows
    * already exist verbatim in the standing corpus (catches the
    * paste-half-an-existing-doc case a fingerprint probe misses
    * entirely). Batch = the deterministic doc_id % [[AdmitMod]] ==
    * [[AdmitRem]] slice. Scale shape: the corpus side reduces to a
    * DISTINCT anchor-hash set probed with one LEFT SEMI merge join
    * (corpus-grown — never broadcast); coverage is the integer
    * n·10⁹ div d idiom; the census is per-source with a bit_xor over
    * ADMITTED doc ids, so the oracle proves each admit decision. */
  def qSpanAdmit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val anchors = Tables.documents(s, d)
      .select($"doc_id", $"source", explode(graft.functions.MinHash
        .shingleHash60(tokens($"text"), SpanK)).as("h"))
      .transform(graft.functions.Cp.local)
    val isBatch = pmod($"doc_id", lit(AdmitMod)) === AdmitRem
    val corpus = anchors.filter(!isBatch).select($"h").distinct()
    val batch = anchors.filter(isBatch)
    val hits = batch.join(corpus.hint("merge"), Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    val cov = batch.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_spans"))
      .join(hits.hint("merge"), Seq("doc_id"), "left")
      .withColumn("cov_e9",
        expr("coalesce(n_hit, 0L) * 1000000000 div n_spans"))
      .withColumn("admit", $"cov_e9" < AdmitMaxCovE9)
    cov.groupBy($"source")
      .agg(count(lit(1)).as("n_batch"),
        sum($"admit".cast("long")).as("n_admitted"),
        sum($"cov_e9").as("sum_cov_e9"),
        coalesce(bit_xor(when($"admit", expr("doc_id * 1000003"))),
          lit(0L)).as("admit_checksum"))
      .orderBy($"source".asc)
  }

  /** The anchor store's table for corpus dir `d`. */
  private[graft] def anchorStoreTable(d: String): String =
    graft.sources.Stores.tableName("anchor", d)

  /** Build (if absent) the STANDING ANCHOR STORE for corpus dir `d`:
    * the DISTINCT [[SpanK]]-token window hashes of the standing corpus
    * (the corpus side of [[qSpanAdmit]]), persisted as a parquet table
    * bucketed+sorted by h. On a 100 TB corpus the tokenize + explode +
    * distinct over corpus text — the dominant cost of every admission
    * cycle — runs once at ingest/compaction; each batch then probes a
    * pre-partitioned narrow (h)-only table. */
  private[graft] def ensureAnchorStore(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.sources.Stores.ensureBucketed(s, anchorStoreTable(d), "h",
        Tables.documents(s, d)) {
      Tables.documents(s, d)
        .filter(pmod($"doc_id", lit(AdmitMod)) =!= AdmitRem)
        .select(explode(graft.functions.MinHash
          .shingleHash60(tokens($"text"), SpanK)).as("h"))
        .distinct()
    }
  }

  /** Close the ingest loop on the standing anchor store: append an
    * admitted batch's distinct [[SpanK]]-token window hashes so the
    * next cycle's span probe counts them as standing coverage. The
    * batch rows ANTI-JOIN the standing table first (a probe-shaped
    * merge join on the bucket key — the store side never broadcasts),
    * so repeated ingest cycles can't erode the store's write-time
    * DISTINCT invariant: without it, every re-appended hash grows
    * bucket occupancy and probe fan-out unboundedly. Same lifecycle as
    * [[graft.operators.Dedup.appendFpStore]]: bucketed append keeps
    * the hash spec, multi-file buckets re-sort until
    * [[graft.sources.Sources.compactBucketed]]. */
  private[graft] def appendAnchorStore(s: SparkSession, d: String,
                                       docs: DataFrame): Unit = {
    import s.implicits._
    val tbl = anchorStoreTable(d)
    graft.sources.Stores.appendBucketed(s, tbl, "h") {
      docs.select(explode(graft.functions.MinHash
          .shingleHash60(tokens($"text"), SpanK)).as("h")).distinct()
        .join(s.table(tbl).hint("merge"), Seq("h"), "left_anti")
    }
  }

  /** SPAN-GRAIN ADMISSION against the PERSISTED anchor store — the
    * production shape of [[qSpanAdmit]]: same census, same oracle,
    * but the corpus anchor set is the standing bucketed table from
    * [[ensureAnchorStore]] instead of a per-cycle tokenize + distinct
    * over corpus text. The batch side explodes its own spans fresh
    * (days-of-ingest small) and shuffles once to the store's bucket
    * granularity; the store streams straight off its bucketed+sorted
    * files into the merge semi-join (merge-hinted — corpus-grown
    * sides never broadcast). FpStoreSpec asserts the zero-exchange
    * store scan; the DuckDB oracle proves every admit decision. */
  def qSpanAdmitStore(s: SparkSession, d: String): DataFrame =
    spanAdmitStoreOver(s, d, Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(AdmitMod)) === AdmitRem))

  /** [[qSpanAdmitStore]] over an ARBITRARY incoming batch (the
    * [[graft.operators.Dedup.incrementalDedupStoreOver]] convention —
    * the ingest-session entry point). */
  private[graft] def spanAdmitStoreOver(s: SparkSession, d: String,
                                        docs: DataFrame): DataFrame = {
    import s.implicits._
    val corpus = s.table(ensureAnchorStore(s, d))
    val batch = docs
      .select($"doc_id", $"source", explode(graft.functions.MinHash
        .shingleHash60(tokens($"text"), SpanK)).as("h"))
      .transform(graft.functions.Cp.local) // read twice: spans + hits
    val hits = batch.join(corpus.hint("merge"), Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    val cov = batch.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_spans"))
      .join(hits.hint("merge"), Seq("doc_id"), "left")
      .withColumn("cov_e9",
        expr("coalesce(n_hit, 0L) * 1000000000 div n_spans"))
      .withColumn("admit", $"cov_e9" < AdmitMaxCovE9)
    cov.groupBy($"source")
      .agg(count(lit(1)).as("n_batch"),
        sum($"admit".cast("long")).as("n_admitted"),
        sum($"cov_e9").as("sum_cov_e9"),
        coalesce(bit_xor(when($"admit", expr("doc_id * 1000003"))),
          lit(0L)).as("admit_checksum"))
      .orderBy($"source".asc)
  }

  /** SPAN TRIM — the ACTIONABLE end of the span family: rewrite every
    * document with its ≥12-token shared spans REMOVED (the
    * "deduplicate training text verbatim" pass real curation
    * pipelines run after exactly the [[pairSpans]] index). Intervals
    * from both sides of every maximal span aggregate per doc (bounded
    * list), and one narrow map drops covered token positions — a
    * lambda filter with index against the per-doc interval list, no
    * join at token grain on the Spark side. The census carries a
    * bit_xor over the md5 of every TRIMMED TEXT, so the oracle match
    * proves each document's rewritten string byte-for-byte, not just
    * counts. Fully-covered docs trim to the empty string (counted,
    * checksummed). Scale shape: pair pipeline + one merge join at doc
    * grain + a narrow per-row rewrite; the oracle mirrors the rewrite
    * with a token-position anti-join + ordered string_agg. */
  def qSpanTrim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trimmedDocsOf(Tables.documents(s, d))
      .select($"source", $"was_trimmed",
        $"ntok_before".as("nb"),
        size($"kept").cast("long").as("na"),
        md5Prefix60(concat_ws(" ", $"kept")).as("h"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"was_trimmed".cast("long")).as("n_docs_trimmed"),
        sum($"nb").as("tokens_before"),
        sum($"na").as("tokens_after"),
        bit_xor($"h").as("trim_checksum"))
      .orderBy($"source".asc)
  }

  /** The [[qSpanTrim]] rewrite as a reusable stage: every doc of
    * `docs` with its ≥12-token shared spans (computed WITHIN `docs` by
    * [[pairSpansOf]]) removed. Returns the input columns plus
    * `kept` (the surviving token array — the trimmed text is
    * `concat_ws(" ", kept)`, token-rebuilt on BOTH engines so the
    * oracle mirrors byte-for-byte), `was_trimmed`, and `ntok_before`.
    * Scale shape: the pair-span pipeline + ONE doc-grain merge join +
    * a narrow per-row lambda filter — no token-grain join. */
  private[graft] def trimmedDocsOf(docs: DataFrame,
                                   nPartHint: Int = -1): DataFrame = {
    import docs.sparkSession.implicits._
    val sp = pairSpansOf(docs, nPartHint)
    val iv = sp.select($"doc_a".as("doc_id"), $"start_a".as("st"),
        ($"start_a" + $"len" - 1).as("en"))
      .unionAll(sp.select($"doc_b".as("doc_id"), $"start_b".as("st"),
        ($"start_b" + $"len" - 1).as("en")))
      .distinct()
      .groupBy($"doc_id")
      .agg(collect_list(struct($"st", $"en")).as("ivs"))
    val toks = tokens($"text")
    // untrimmed docs (ivs IS NULL — the common case) take the
    // kept = toks fast path: the per-token interpreted filter+exists
    // lambda only runs on rows that actually carry intervals (r16)
    docs.join(iv.hint("merge"), Seq("doc_id"), "left")
      .withColumn("kept", when($"ivs".isNull, toks).otherwise(
        filter(toks, (t, i) =>
          !exists($"ivs",
            v => v.getField("st") <= i + 1 && i + 1 <= v.getField("en")))))
      .withColumn("was_trimmed", $"ivs".isNotNull)
      .withColumn("ntok_before", size(toks).cast("long"))
      .drop("ivs")
  }

  private val QmMod = 1001L // hashed-feature weight modulus (odd, ~±500)

  /** HASHED LINEAR QUALITY SCORER — the fasttext-classifier query
    * shape: score(doc) = Σ w[h(token) mod D] over a hashed feature
    * table. Weights here are derived deterministically from the hash
    * itself (md5 mod 1001 − 500 ∈ [−500, 500]) so the oracle can
    * reproduce them; a production model broadcasts a learned w[] and
    * the plan is IDENTICAL (the weight lookup is a map-side array
    * index either way). Everything is integer arithmetic — no float
    * drift — and the per-doc score is computed with
    * `aggregate(transform(...))` INSIDE the row: a pure narrow map,
    * zero shuffle until the final per-language rollup. */
  def qQualityModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val half = (QmMod - 1) / 2
    val score = aggregate(
      transform(tokens($"text"), t => md5Prefix60(t) % QmMod - half),
      lit(0L), (acc, x) => acc + x)
    Tables.documents(s, d)
      .withColumn("score", score)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"score" >= 0, 1L).otherwise(0L)).as("n_keep"),
        sum($"score").as("sum_score"),
        min($"score").as("min_score"),
        max($"score").as("max_score"))
  }

  /** DISTINCT-N DIVERSITY CENSUS — the dataset-card repetitiveness
    * numbers: per source, unique vs total unigrams and bigrams with
    * the integer ratio_e9 idiom (distinct·10⁹ div total) — type-token
    * ratio at n=1, distinct-2 at n=2 (low distinct-2 flags templated /
    * boilerplate-heavy sources a quality gate should downweight).
    * Two map-combined aggs at gram grain (Spark plans partial
    * distinct aggregation) joined on the source key — output bounded
    * by the source census. The 1-token-doc bigram edge follows the
    * [[qTopNgrams]] greatest(·,1) idiom, mirrored by the oracle's
    * shared shingleExpr. */
  def qDistinctNgrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val grams2 = graft.functions.MinHash.shingles(toks, 2)
    val docs = Tables.documents(s, d)
    val uni = docs.select($"source", explode(toks).as("g"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_uni"), countDistinct($"g").as("d_uni"))
    val bi = docs.select($"source", explode(grams2).as("g"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_bi"), countDistinct($"g").as("d_bi"))
    uni.join(bi, Seq("source"))
      .select($"source", $"n_uni", $"d_uni",
        expr("d_uni * 1000000000 div n_uni").as("ttr_e9"),
        $"n_bi", $"d_bi",
        expr("d_bi * 1000000000 div n_bi").as("distinct2_e9"))
      .orderBy($"source".asc)
  }

  def qTopNgrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = graft.functions.MinHash.shingles(tokens($"text"), 2)
    Tables.documents(s, d)
      .select(explode(grams).as("gram"))
      .groupBy($"gram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"gram".asc)
      .limit(TopNgrams)
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV drift statistic between the
    * English and non-English length distributions — the
    * dataset-monitoring primitive (did this ingest batch's length
    * profile drift from the reference corpus?), computed EXACTLY: the
    * KS statistic max|F1(v) − F2(v)| is kept as the integer numerator
    * max|c1·n2 − c2·n1| over the distinct-value spine and only divided
    * (two exact ints < 2⁵³ → identical IEEE quotient) at the very end.
    * No floats anywhere in the comparison, so the oracle matches
    * bit-for-bit. Scale shape: one shuffle agg to the DISTINCT VALUE
    * domain (n_chars — bounded by the value domain, not corpus size),
    * then one cumulative window over that bounded spine and a global
    * max. The same plan at 100 TB runs the window over ≤ |domain|
    * rows. */
  def qKsDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"n_chars".as("v"),
      when($"lang" === "en", 1L).otherwise(0L).as("ia"))
    val g = docs.groupBy($"v")
      .agg(sum($"ia").as("ca"), sum(lit(1L) - $"ia").as("cb"))
    val w = Window.orderBy($"v".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.select($"v",
      sum($"ca").over(w).as("cca"), sum($"cb").over(w).as("ccb"))
    val t = docs.agg(sum($"ia").as("n1"),
      (count(lit(1)) - sum($"ia")).as("n2"))
    c.crossJoin(broadcast(t))
      .groupBy($"n1", $"n2")
      .agg(max(abs($"cca" * $"n2" - $"ccb" * $"n1")).as("d_num"))
      .select($"n1", $"n2", $"d_num",
        ($"d_num".cast("double") / ($"n1" * $"n2").cast("double")).as("ks"))
  }

  /** Posting-list report width for [[qPostingIndex]]. */
  private val IndexTopTerms = 50

  /** INVERTED-INDEX BUILD — the search-engine side of the corpus: for
    * each term, its document frequency, total term frequency, and a
    * positional-postings checksum (bit_xor over doc_id ⊕ position ×
    * 1000003 — an oracle match proves every (doc, position) posting,
    * not just the counts). This is the batch index-construction shape:
    * one posexplode (term, position) + one shuffle agg on term —
    * map-side combinable, skew-bounded because even the hottest term's
    * postings reduce to three longs per partition before the shuffle.
    * Reported for the [[IndexTopTerms]] highest-df terms (unique term
    * tie-break); production writes the full agg bucketed by term. */
  def qPostingIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "term")))
      .groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"),
        count(lit(1)).as("tf"),
        expr("bit_xor(doc_id ^ (CAST(pos AS BIGINT) * 1000003))")
          .as("postings_checksum"))
      .orderBy($"df".desc, $"term".asc)
      .limit(IndexTopTerms)
  }

  /** Word n-gram strings of width n (clipped at the end, min one).
    * Fused one-pass codegen expression — semantics identical to the
    * previous transform(sequence…, slice, concat_ws) chain, which ran
    * interpreted (HigherOrderFunctions are CodegenFallback). */
  private[operators] def wordGrams(toks: Column, n: Int): Column =
    graft.functions.MinHash.shingles(toks, n)

  /** ROUGE-N OVERLAP SCORING (Lin 2004) — the n-gram eval metric every
    * summarization/eval harness computes, run at corpus scale over
    * (candidate, reference) pairs: here the deterministic adjacent-id
    * pairing (cand = even doc_id, ref = odd doc_id of the same
    * doc_id div 2 pair — the stand-in for a real eval table keyed by
    * example id). Per pair and n ∈ {1,2}: CLIPPED multiset overlap
    * Σ_g min(count_cand(g), count_ref(g)) — the clipping is what makes
    * it ROUGE rather than raw intersection — then integer-exact
    * precision/recall/F1 as ov·10⁹ div totals. Census per (n, cand
    * lang): micro scores from summed numerators/denominators, macro
    * avg-F1, and a bit_xor placement proof over every pair's exact
    * F1 — so the hash match proves each PAIR's score, not just the
    * census. Scale shape per n: one explode → (pair, side, gram) agg
    * (map-combinable), one merge join on (pair, gram) — both sides
    * corpus-grown, never broadcast — and a bounded census agg; no
    * windows, no all-pairs. */
  def qRouge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the DOC-grain token table is tokenized once, shuffled ONCE by
    // pair and checkpointed with its layout declared: every downstream
    // key — the (pair, side, lang, g) count agg, both overlap-join
    // sides on (pair, g), the pair totals and the totals⋈overlap
    // join — is pair-prefixed, so BOTH n-gram passes plan with zero
    // further exchanges (HashPartitioning(pair) satisfies clustering
    // on any pair-prefixed key set). Gram volume never shuffles at
    // all — only token arrays move, once. Was: two tokenize scans +
    // gram-volume agg shuffles + agg'd-volume joins per n (48.5 s at
    // sf10 → the doc-grain shuffle shape).
    val base = graft.functions.Cp.localClustered(
      Tables.documents(s, d)
        .select(expr("doc_id DIV 2").as("pair"),
          pmod($"doc_id", lit(2L)).as("side"), $"lang",
          tokens($"text").as("t")),
      graft.Tables.clusterParts(Tables.documents(s, d)), Seq("pair"))
    val perN = Seq(1, 2).map { n =>
      val c = base
        .select($"pair", $"side", $"lang",
          explode(wordGrams($"t", n)).as("g"))
        .groupBy($"pair", $"side", $"lang", $"g")
        .agg(count(lit(1)).as("c"))
      val cand = c.filter($"side" === 0)
        .select($"pair", $"lang", $"g", $"c".as("cc"))
      val ref = c.filter($"side" === 1)
        .select($"pair", $"g", $"c".as("cr"))
      val tots = c.groupBy($"pair").agg(
        sum(when($"side" === 0, $"c").otherwise(0L)).as("tc"),
        sum(when($"side" === 1, $"c").otherwise(0L)).as("tr"),
        max(when($"side" === 0, $"lang")).as("lang"))
        .filter($"tc" > 0 && $"tr" > 0)
      val ov = cand.join(ref.hint("merge"), Seq("pair", "g"))
        .groupBy($"pair").agg(sum(least($"cc", $"cr")).as("ov"))
      tots.join(ov.hint("merge"), Seq("pair"), "left")
        .select($"pair", $"lang", $"tc", $"tr",
          coalesce($"ov", lit(0L)).as("ov"))
        .withColumn("f1_e9", expr("2 * ov * 1000000000 DIV (tc + tr)"))
        .withColumn("gram_n", lit(n.toLong))
    }
    perN.reduce(_ unionByName _)
      .groupBy($"gram_n", $"lang")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum($"ov").as("ov"), sum($"tc").as("tc"), sum($"tr").as("tr"),
        expr("SUM(f1_e9) DIV COUNT(1)").as("macro_f1_e9"),
        bit_xor(md5Prefix60($"pair".cast("string"))
          .bitwiseXOR($"f1_e9" * 1000003L)).as("f1_xor"))
      .select($"gram_n", $"lang", $"n_pairs", $"ov", $"tc", $"tr",
        expr("ov * 1000000000 DIV tc").as("micro_p_e9"),
        expr("ov * 1000000000 DIV tr").as("micro_r_e9"),
        expr("2 * ov * 1000000000 DIV (tc + tr)").as("micro_f1_e9"),
        $"macro_f1_e9", $"f1_xor")
      .orderBy($"gram_n".asc, $"lang".asc)
  }

  private val BenchMod = 97 // doc_id % 97 == 0 → the stand-in eval set
  private val DecontamN = 5 // decontamination overlap width (words)

  /** Benchmark DECONTAMINATION — the pretraining hygiene step (GPT-3 /
    * PaLM style): a training document is contaminated if it shares any
    * [[DecontamN]]-word n-gram with the benchmark/eval set. The
    * benchmark here is the deterministic doc_id % [[BenchMod]] slice;
    * in production it is the actual eval suites. Shape: the benchmark's
    * distinct shingles are SMALL (eval sets are thousands of docs, not
    * billions) and broadcast, so the corpus side is one narrow explode
    * + a broadcast semi-join — no corpus shuffle at 100 TB. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // 60-bit md5-prefix shingle hashes instead of ~30-char strings
    // (same trick as the Jaccard join): 8-byte explode/broadcast/join
    // keys, codegen'd in one pass; collision odds ~n²/2⁶¹, immaterial
    val sh = array_distinct(
      graft.functions.MinHash.shingleHash60(tokens($"text"), DecontamN))
    // materialized once: the shingle-array scan feeds the bench set,
    // the probe explode AND the final per-source rollup — three full
    // scan+md5 passes without it. (A clustered+sorted-on-doc_id claim
    // — the 1-keyed-consumer class — measured a 5% LOSS at sf10
    // isolated: the upfront shs-payload shuffle outweighs the one
    // merge-join exchange it saves. Rejected, BASELINE.md wave 4.)
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"source", sh.as("shs"))
      .transform(graft.functions.Cp.local)
    val isBench = pmod($"doc_id", lit(BenchMod)) === 0
    val benchShingles = docs.filter(isBench)
      .select(explode($"shs").as("sh")).distinct()
    val flagged = docs.filter(!isBench)
      .select($"doc_id", explode($"shs").as("sh"))
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("hit", lit(1L))
    docs.filter(!isBench)
      // contaminated-doc set is doc-grain (grows with the corpus) —
      // sort-merge only, never an AQE broadcast flip
      .join(flagged.hint("merge"), Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
  }

  /** Bloom-prefiltered decontamination — same contract as
    * [[qDecontaminate]] (and the same oracle: the bloom is an
    * execution detail that must be result-invariant), but the corpus
    * side is pre-filtered by a CONSTANT-SIZE Bloom filter of the eval
    * 5-gram set before the exact semi-join. At 100 TB that is the
    * difference between broadcasting the eval set's full string table
    * and shipping a 128 KiB bit array to every executor: the bloom
    * kills ~all clean shingles at scan time (codegen'd might_contain,
    * no shuffle), and only the surviving sliver reaches the exact
    * verify join that removes false positives. The driver materializes
    * ONLY the fixed-size filter (a bounded model parameter, like IVF
    * centroids) — never data rows. */
  def qBloomDecontam(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.Bridge
    val sh = array_distinct(
      graft.functions.MinHash.shingleHash60(tokens($"text"), DecontamN))
    // materialized once — same three-consumer shape as qDecontaminate,
    // plus the driver-side bloom build is a fourth consumer
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"source", sh.as("shs"))
      .transform(graft.functions.Cp.local)
    val isBench = pmod($"doc_id", lit(BenchMod)) === 0
    val benchShingles = docs.filter(isBench)
      .select(explode($"shs").as("sh")).distinct()
    val bfBytes = benchShingles
      .agg(Bridge.bloomAggregate(xxhash64($"sh"), 100000L, 1L << 20)
        .as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val mightHit = Bridge.bloomMightContain(bfBytes, xxhash64(col("sh")))
    val flagged = docs.filter(!isBench)
      .select($"doc_id", explode($"shs").as("sh"))
      .filter(mightHit) // bloom prunes clean shingles pre-join
      .join(broadcast(benchShingles), Seq("sh"), "left_semi") // exact: FPs die here
      .select($"doc_id").distinct()
      .withColumn("hit", lit(1L))
    docs.filter(!isBench)
      // contaminated-doc set is doc-grain (grows with the corpus) —
      // sort-merge only, never an AQE broadcast flip
      .join(flagged.hint("merge"), Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
  }

  private val PmiMinCount = 5 // bigram support floor
  private val PmiTopK = 40

  /** COLLOCATION mining (PMI-ranked bigrams): bigrams whose observed
    * frequency most exceeds what their words' independent frequencies
    * predict — the phrase-discovery primitive behind tokenizer vocab
    * building. The score is the PMI ratio c_ab/(c_a·c_b) at a fixed
    * 1e9 integer scale (log is monotone, so integer DIV ranking ≡ PMI
    * ranking, and it stays engine-exact). Unique tie-break on the
    * bigram string. Scale shape: two narrow explode+agg passes plus
    * two joins against the unigram table — vocabulary-sized, shuffles
    * on words, never on documents. */
  def qPmiBigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(tokens($"text").as("t")).filter(size($"t") >= 2)
    val uni = toks.select(explode($"t").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(wordGrams($"t", 2)).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= PmiMinCount)
      .withColumn("w1", split($"bigram", " ").getItem(0))
      .withColumn("w2", split($"bigram", " ").getItem(1))
    // the unigram table is vocabulary-grain (unbounded at 100 TB —
    // typos/URLs): explicit sort-merge, never an AQE broadcast flip
    bi
      .join(uni.toDF("w1", "c_a").hint("merge"), "w1")
      .join(uni.toDF("w2", "c_b").hint("merge"), "w2")
      .select($"bigram", $"c_ab", $"c_a", $"c_b",
        expr("c_ab * 1000000000 DIV (c_a * c_b)").as("score_e9"))
      .orderBy($"score_e9".desc, $"bigram".asc)
      .limit(PmiTopK)
  }

  /** Intra-document REPETITION (Gopher-style quality signal): the
    * fraction of duplicate word 3-grams inside each document —
    * templated/spammy text repeats itself. Per source: mean repetition
    * (decimal-exact average of 9-dp ratios) and the count of docs over
    * the 20% threshold, compared in exact integer form
    * (5·(n−unique) > n ⟺ ratio > 0.2) so the boundary is engine-exact. */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Det.dsum12
    // counting distinct 3-grams only needs their 60-bit hashes — the
    // distinct runs over longs, not 3-word strings
    val grams = graft.functions.MinHash.shingleHash60(tokens($"text"), 3)
    Tables.documents(s, d)
      .select($"source",
        size(grams).cast("long").as("n_grams"),
        size(array_distinct(grams)).cast("long").as("n_unique"))
      .withColumn("rep_ratio",
        round(lit(1.0) - $"n_unique".cast("double") / $"n_grams", 9))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(dsum12($"rep_ratio") / count(lit(1)), 9).as("avg_rep_ratio"),
        sum(when(lit(5) * ($"n_grams" - $"n_unique") > $"n_grams", 1L)
          .otherwise(0L)).as("n_repetitive"))
  }

  /** PII scrubbing as a GATE-PROVEN operator, not just a lib function:
    * scrubs every document ([[TextFunctions.scrubPii]] — email, bare
    * IPv4, long digit runs → placeholder tokens) and aggregates per
    * source. The `scrub_checksum` column is a bit_xor over a 60-bit
    * md5 prefix of every SCRUBBED text, so the oracle match proves the
    * redacted output is bit-exact per document, not merely counted
    * (xor is order-independent and overflow-free — safe at any
    * cardinality). Scale shape: pure narrow map (codegen'd
    * regexp_replace chain, no UDF) + one grouped agg on a
    * handful-of-sources key — linear at 100 TB, no skew exposure. */
  def qPiiScrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scr = Tables.fanOut(Tables.documents(s, d), "doc_id").select($"source",
      graft.functions.TextFunctions.scrubPii($"text").as("stext"),
      graft.functions.TextFunctions.piiCount($"text").as("n_pii"))
    scr.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_pii" > 0, 1L).otherwise(0L)).as("n_docs_with_pii"),
        sum($"n_pii".cast("long")).as("n_spans"),
        bit_xor(graft.functions.TextFunctions.md5Prefix60($"stext"))
          .as("scrub_checksum"))
  }

  private val TfidfK = 3

  /** Per-document DISTINCTIVE TERMS — the tf-idf family primitive
    * behind keyword extraction and topic labeling, made engine-exact:
    * terms are ranked by the integer ratio tf·10⁹ div df (rarity-
    * weighted term frequency; log-idf would need float log, and BIGINT
    * division preserves a deterministic total order the oracle can
    * reproduce bit-for-bit), unique tie-break on the term string. Top
    * [[TfidfK]] per document. Scale shape: explode → (doc, term) agg
    * (map-side combined), a vocabulary-sized df agg joined back on
    * term, and a per-doc top-k window — shuffles on term and doc_id
    * only, both well-distributed keys. */
  def qTfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term".asc)
    tf
      // document frequency as a partition window over the tf frame —
      // a groupBy(term)+join would recompute the documents explode+agg
      // subtree once per join side; this is one shuffle on term instead
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .withColumn("score", expr("tf * 1000000000 div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= TfidfK)
      .select($"doc_id", $"term", $"tf", $"df", $"score", $"rank")
  }

  /** EXTRACT-ALL census: every ≥5-letter lowercase token pulled out of
    * each document with regexp_extract_all (the multi-match extraction
    * verb — one row per MATCH after the explode, vs [[qTokenRegex]]'s
    * per-document match COUNT), then a per-source profile: matches,
    * distinct vocabulary, docs hit, total matched characters. ASCII
    * class only, so char-vs-byte length semantics can't diverge across
    * engines. Scale shape: explode then shuffle-agg on source —
    * map-side combinable, no window, no join. */
  def qRegexExtractAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source", $"doc_id",
        explode(regexp_extract_all($"text", lit("[a-z]{5,}"), lit(0))).as("w"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_hits"),
        countDistinct($"w").as("n_distinct"),
        countDistinct($"doc_id").as("n_docs_with_hit"),
        sum(length($"w")).as("sum_len"))
  }

  private val Bm25Terms = Seq("spark", "query", "join")

  /** BM25 RANKING — the retrieval scorer behind corpus search and
    * RAG-style evidence selection, made engine-exact: with k1 = 1.2,
    * b = 0.75 the per-term score idf · tf(k1+1) / (tf + k1(1−b) +
    * k1·b·dl/avgdl) multiplies through by 10·L (avgdl = L/N) into the
    * all-BIGINT form idf_e3 · 22·tf·L div (10·tf·L + 3·L + 9·dl·N),
    * with the rational idf surrogate idf_e3 = (N−df)·1000 div df
    * standing in for the (monotone-equivalent) log idf — no float
    * anywhere, so ranks and scores are bit-exact on any engine and
    * partitioning. Scale shape: explode → (doc, term) agg with
    * map-side combine, df as a partition window on term, doc length
    * via one grouped agg joined on doc_id, corpus totals as a 1-row
    * broadcast scalar, and a global top-k (TakeOrdered, no global
    * window). */
  def qBm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("nn"), sum($"dl").as("ll"))
    val tf = toks.filter($"term".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
    // doc-length table is doc-grain (corpus-sized) — sort-merge only
    tf.join(dl.hint("merge"), "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("score_term",
        expr("((nn - df) * 1000 div df) * (22 * tf * ll)" +
          " div (10 * tf * ll + 3 * ll + 9 * dl * nn)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), sum($"score_term").as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(20)
  }

  private val VocabThresholds = Seq(5, 10, 20, 30)

  /** VOCABULARY COVERAGE CURVE — the tokenizer-design census: what
    * fraction of all token occurrences the top-V vocabulary covers,
    * at V = 5/10/20/30 (thresholds sized to the synthetic corpus; the
    * operator is parametric). Scale shape: term frequencies are one
    * explode + shuffle agg; the curve itself runs on the TOP-V slice
    * only — a TakeOrdered of constant size, then a running sum over
    * that ≤ max(V)-row frame (bounded by the PARAMETER, not the
    * data — the q_open_interval rule), with the corpus total as a
    * 1-row broadcast scalar. Coverage is the exact integer ratio
    * cum·10⁹ div total; (freq desc, term asc) makes rank and cum
    * deterministic under ties. */
  def qVocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val freq = Tables.documents(s, d)
      .select(explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("n"))
    val total = freq.agg(sum($"n").as("total_tokens"))
    val top = freq.orderBy($"n".desc, $"term".asc)
      .limit(VocabThresholds.max)
    val w = Window.orderBy($"n".desc, $"term".asc)
    top
      .withColumn("v_size", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum($"n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"v_size".isin(VocabThresholds.map(_.toLong): _*))
      .crossJoin(broadcast(total))
      .select($"v_size", $"cum_tokens", $"total_tokens",
        expr("cum_tokens * 1000000000 div total_tokens").as("coverage_e9"))
  }

  private val LmBottomK = 20 // least-probable docs reported

  /** BIGRAM LANGUAGE-MODEL SCORING — the CCNet/KenLM perplexity-filter
    * query shape: train bigram + prefix counts from the corpus itself,
    * score every document by its average bigram probability, report
    * the least-probable documents (the "surprising text" filter
    * candidates a quality pipeline drops or down-weights). The
    * probability p(w2|w1) = c(w1 w2)/c(w1·) stays integer-exact as the
    * engine's n·10⁹ div d surrogate — log-free, order-preserving, no
    * float drift. Scale shape: the (doc, bigram)-grain posting table
    * is materialized once and feeds BOTH the count training pass and
    * the scoring join; all joins key on the bigram/prefix string
    * (uniform, no hot keys beyond natural Zipf — the count tables are
    * bigram-grain, far smaller than the corpus); the report is a
    * bounded top-k. A production run swaps the self-trained counts
    * for a broadcast reference-LM table and the plan is identical.
    *
    * The count tables carry explicit sort-merge hints: they GROW WITH
    * THE CORPUS (bigram/prefix grain), so AQE must never flip them to
    * a broadcast on an optimistic runtime size estimate — at 100× SF
    * the post-agg bigram table slides under the 64 MB threshold on
    * paper and the driver dies building the hash relation (observed:
    * sf10 broadcast OOM at 8 g driver heap). Vocabulary-bounded or
    * top-k-bounded sides elsewhere in this file stay broadcastable;
    * corpus-grown sides never are. */
  def qBigramLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // A bigram-clustered build (repartition the raw occurrence stream
    // by bigram, claim the layout for the two downstream bigram
    // re-keys — the q_source_overlap idiom) measured a 9% LOSS here
    // (21.5 → 23.3 s sf10 isolated): unlike the distinct-stream case,
    // the (doc_id, bigram) partial agg compresses the occurrence
    // stream BEFORE its exchange, and the raw-stream repartition
    // forfeits that map-side combine. Rejected (BASELINE.md wave 4).
    val occ = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("t")).filter(size($"t") >= 2)
      .select($"doc_id", explode(wordGrams($"t", 2)).as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("n"))
      .transform(graft.functions.Cp.local)
    val bi = occ.groupBy($"bigram").agg(sum($"n").as("c_ab"))
    val pc = bi.groupBy(split($"bigram", " ").getItem(0).as("w1"))
      .agg(sum($"c_ab").as("c_w"))
    val sc = bi.withColumn("w1", split($"bigram", " ").getItem(0))
      .join(pc.hint("merge"), "w1")
      .select($"bigram", expr("c_ab * 1000000000 DIV c_w").as("s_e9"))
    occ.join(sc.hint("merge"), "bigram")
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_bigrams"), sum($"n" * $"s_e9").as("ssum"))
      .select($"doc_id", $"n_bigrams",
        expr("ssum DIV n_bigrams").as("avg_p_e9"))
      .orderBy($"avg_p_e9".asc, $"doc_id".asc)
      .limit(LmBottomK)
  }

  private val OverlapN = 5 // source-overlap shingle width (words)

  /** CROSS-SOURCE OVERLAP MATRIX — the corpus-composition audit (how
    * much of source A is verbatim-shared with source B — double-counted
    * crawls, mirrored sites, pipeline leaks): distinct [[OverlapN]]-word
    * shingles per source, pairwise intersection sizes, containment as
    * shared/min(|A|,|B|) in the integer n·10⁹ div d form. Scale shape:
    * shingles are 60-bit hashes, deduped at (shingle, source) grain in
    * one shuffle; pairs are generated AT THE SHINGLE GRAIN from each
    * shingle's sorted source set (bounded by n_sources², never a
    * corpus self-join); the matrix is n_sources² rows. The oracle
    * proves the same matrix via the naive self-join, which is fine at
    * oracle SF. */
  def qSourceOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one h-clustered shuffle of the raw gram stream; the distinct,
    // the collect_set-by-h and the checkpoint all ride that layout
    // (HashPartitioning(h) satisfies clustering on (source, h) too) —
    // the gram volume moves once instead of distinct-then-regroup
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val sh = graft.functions.Cp.localClusteredAs(
      Tables.documents(s, d)
        .select($"source", explode(graft.functions.MinHash
          .shingleHash60(tokens($"text"), OverlapN)).as("h"))
        .repartition(nPart, $"h")
        .distinct(),
      nPart, Seq("h"))
    val sizes = sh.groupBy($"source").agg(count(lit(1)).as("sz"))
    val pairs = sh.groupBy($"h")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .filter(size($"ss") >= 2)
      .select(explode(flatten(transform($"ss", (a, i) =>
        transform(slice($"ss", i + 2, size($"ss")),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .select($"p.src_a", $"p.src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select($"source".as("src_a"), $"sz".as("sz_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select($"source".as("src_b"), $"sz".as("sz_b"))),
        Seq("src_b"))
      .select($"src_a", $"src_b", $"n_shared", $"sz_a", $"sz_b",
        expr("n_shared * 1000000000 DIV least(sz_a, sz_b)").as("containment_e9"))
      .orderBy($"containment_e9".desc, $"src_a".asc, $"src_b".asc)
  }

  /** N-GRAM NOVELTY curve — "how much of each document is NEW to the
    * corpus?", the ingest-monitoring verb behind dedup budgeting and
    * repetition audits: every distinct 5-gram gets a first-seeing
    * document (min doc_id at the shingle grain), a document's novel
    * mass is the shingles IT introduced, and the per-source report
    * carries exact integer novelty ratios plus a per-doc
    * (doc ⊕ novel-count) checksum proving every document's novelty,
    * not just the totals. Scale shape: one distinct posting shuffle +
    * one shingle-grain agg; the posting-side join carries
    * `hint("merge")` (corpus-grown side — the round-9 AQE-broadcast
    * rule). */
  def qNgramNovelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // h-clustered build (the qSourceOverlap discipline): distinct,
    // first-seer agg and the posting join all ride one gram shuffle
    val nPart = graft.Tables.clusterParts(Tables.documents(s, d))
    val post = graft.functions.Cp.localClusteredAs(
      Tables.documents(s, d)
        .select($"doc_id", $"source", explode(graft.functions.MinHash
          .shingleHash60(tokens($"text"), OverlapN)).as("h"))
        .repartition(nPart, $"h")
        .distinct(),
      nPart, Seq("h"))
    val first = post.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    post.join(first.hint("merge"), Seq("h"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_sh"),
        sum(($"first_doc" === $"doc_id").cast("long")).as("n_novel"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_sh").as("n_shingles"),
        sum($"n_novel").as("n_novel"),
        expr("sum(n_novel) * 1000000000 DIV sum(n_sh)").as("novelty_e9"),
        bit_xor($"doc_id".bitwiseXOR($"n_novel" * lit(1000003L)))
          .as("novelty_checksum"))
      .orderBy($"source".asc)
  }

  /** Misra–Gries counter budget per partition for [[qHeavyHitters]].
    * Guarantee: any item with partition frequency > n_p/(k+1) survives
    * the partition's summary, so any GLOBAL heavy hitter (count >
    * N/(k+1)) survives in at least one partition (pigeonhole), and at
    * most k items can clear the global threshold. */
  private[graft] val HhBudget = 64

  /** Misra–Gries streaming summary kernel: one pass, ≤ k counters.
    * Returns the surviving candidate keys (counts are partition-local
    * underestimates and deliberately not returned — the exact pass
    * recounts). Property-tested for the no-false-negative guarantee
    * in KernelProps. */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      m.get(t) match {
        case Some(v) => m.update(t, v + 1)
        case None if m.size < k => m.update(t, 1L)
        case None =>
          m.mapValuesInPlace((_, v) => v - 1)
          m.filterInPlace((_, v) => v > 0)
      }
    }
    m.keysIterator
  }

  /** HEAVY-HITTER TOKENS via per-partition Misra–Gries + exact verify —
    * the frequent-items census (stopword discovery, tokenizer-vocab
    * head, abuse-pattern hot keys) at the shuffle cost of a SKETCH,
    * not a vocabulary: each partition's token stream collapses to ≤
    * [[HhBudget]] candidate keys (mapPartitions — the one imperative
    * kernel, O(k) state), candidates broadcast back, and ONE exact
    * counting pass over candidate tokens only (broadcast semi-filter —
    * the full-vocabulary groupBy of q_top_ngrams never happens).
    * The Misra–Gries no-false-negative guarantee (count > N/(k+1) ⇒
    * present in some partition summary) makes candidate generation
    * LOSSLESS above the threshold, so the exact filter returns exactly
    * the true heavy-hitter set — deterministic under ANY partitioning,
    * which is what lets a DuckDB oracle that never saw the sketch
    * hash-match it (the q_prefix_join discipline). ≤ k result rows by
    * the counting argument. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(tokens($"text")).as("term"))
    val cand = toks.as[String]
      .mapPartitions(it => misraGries(it, HhBudget))
      .toDF("term").distinct()
    val tot = toks.groupBy().agg(count(lit(1)).as("total"))
    toks.join(broadcast(cand), Seq("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .filter($"n" * (HhBudget + 1) > $"total")
      .select($"term", $"n", expr("n * 1000000000 div total").as("share_e9"))
      .orderBy($"n".desc, $"term".asc)
  }

  /** MANN–WHITNEY U TEST — the nonparametric two-sample location test
    * (is English doc length stochastically larger than non-English?):
    * the outlier-robust companion to the Welch z of q_abtest and the
    * distribution-level KS of q_ks_drift. Never ranks rows: the
    * (value → count, count_A) HISTOGRAM is built in one shuffle agg,
    * tie-averaged ranks stay INTEGER as 2·avgrank = 2·cum_before +
    * t + 1 on the distinct-VALUE spine (bounded by the n_chars domain,
    * not the corpus — the medianOfHist rule), and the rank sum, U and the
    * tie-corrected variance Σ(t³−t) all accumulate in DECIMAL(38,0)
    * (the q_spearman overflow lesson — t³ passes 2⁶³ once one value
    * bucket holds ~2M rows; oracle mirrors in HUGEINT). The z score is
    * one IEEE pass over exact scalars at the very end. */
  def qMannWhitney(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.documents(s, d)
      .select($"n_chars".cast("long").as("v"),
        when($"lang" === "en", 1L).otherwise(0L).as("is_a"))
      .groupBy($"v")
      .agg(count(lit(1)).as("t"), sum($"is_a").as("ta"))
    val r = hist.withColumn("cumb", coalesce(
      sum($"t").over(Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val m = r.agg(
      sum($"t").as("nl"),
      sum($"ta").as("na"),
      sum($"ta".cast("decimal(38,0)") * (lit(2) * $"cumb" + $"t" + 1))
        .as("s2a"),
      sum($"t".cast("decimal(38,0)") * $"t" * $"t" - $"t").as("tie3"))
    m.select(
      $"na", ($"nl" - $"na").as("nb"),
      ($"s2a" - $"na".cast("decimal(38,0)") * ($"na" + 1)).cast("long")
        .as("u2"),
      round(($"s2a".cast("double") - $"na".cast("double") * ($"na" + 1) -
        $"na".cast("double") * ($"nl" - $"na")) /
        (lit(2) * sqrt($"na".cast("double") * ($"nl" - $"na") / 12 *
          ($"nl" + 1 - $"tie3".cast("double") /
            ($"nl".cast("double") * ($"nl" - 1))))), 6).as("z"))
  }

  /** Merge rounds for [[qBpeMerge]], oracle-mirrored as unrolled CTEs. */
  private val BpeRounds = 3

  /** BPE TRAINER MERGE ROUNDS — the tokenizer-training primitive: the
    * corpus collapses to a word-frequency table ONCE (the only
    * corpus-scale agg — this is exactly how production BPE trainers
    * scale: all merge learning happens on the vocabulary, not the
    * corpus), each word becomes a space-separated character-symbol
    * sequence, and [[BpeRounds]] rounds each (a) count adjacent symbol
    * pairs weighted by word frequency, (b) pick the global best pair
    * (count desc, pair asc — a deterministic tie-break), (c) apply the
    * merge via greedy left-to-right non-overlapping `replace` of
    * " x  y " with " xy " on the padded DOUBLE-SPACE-separated
    * sequence. The double separator is load-bearing: each match
    * consumes only the OUTER halves of the surrounding separators, so
    * adjacent occurrences ("a a a a" → "aa aa", "x y x y" → "xy xy")
    * chain exactly like reference BPE's left-to-right merge order —
    * a single-space encoding would swallow the shared boundary space
    * and silently skip every second adjacent merge. Both engines'
    * `replace` performs the same greedy non-overlapping scan, and the
    * boundary spaces make a match align to whole symbols only (symbols
    * are space-free, double spaces occur only between symbols).
    *
    * Scale shape: one explode+agg over the corpus, then every round is
    * vocabulary-bounded (pairs ≤ vocab × max word length) with the
    * 1-row best pair applied as a broadcast nested-loop join. Rounds
    * are checkpointed serialized and the superseded generation dropped
    * ([[graft.functions.Cp.Rounds]]) — at most two generations live.
    * Output: one row per round with the chosen pair, its weighted
    * count, and a bit_xor-of-md5 checksum over every word's post-merge
    * symbol sequence, so the oracle match proves EVERY word's
    * segmentation after every round, not just the argmax. */
  def qBpeMerge(s: SparkSession, d: String): DataFrame =
    bpeTrain(s, d)._1

  /** The shared trainer loop behind [[qBpeMerge]] (per-round reports)
    * and [[qBpeApply]] (final word → symbol-sequence vocabulary). */
  private def bpeTrain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val round = graft.functions.Cp.rounds(s)
    var seqs = round {
      Tables.documents(s, d)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as("word"))
        .groupBy($"word").agg(count(lit(1)).as("n"))
        .select($"word", $"n",
          expr("trim(regexp_replace(word, '(.)', '$1  '))").as("seq"))
        .transform(graft.functions.Cp.local)
    }
    val rounds = (1 to BpeRounds).map { r =>
      val pairs = seqs
        .withColumn("toks", split($"seq", "  "))
        .select($"n", explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), " +
            "(t, i) -> concat(t, ' ', element_at(toks, i + 2)))")).as("pair"))
        .groupBy($"pair").agg(sum($"n").as("cnt"))
      val (best, next) = round {
        val best = pairs.orderBy($"cnt".desc, $"pair".asc).limit(1)
          .transform(graft.functions.Cp.local) // 1 row; pins the round's argmax
        (best, seqs.crossJoin(broadcast(best.select($"pair".as("__p"))))
          .select($"word", $"n",
            expr("trim(replace(' ' || seq || ' ', " +
              "' ' || replace(__p, ' ', '  ') || ' ', " +
              "' ' || replace(__p, ' ', '') || ' '))").as("seq"))
          .transform(graft.functions.Cp.local))
      }
      seqs = next
      val chk = seqs.agg(
        bit_xor(md5Prefix60(concat($"word", lit(">"), $"seq")))
          .as("vocab_checksum"))
      // the round's 1-row report is checkpointed EAGERLY, outside the
      // round, so dropping this round's generation can never cut it
      best.crossJoin(chk)
        .select(lit(r).as("round"), $"pair".as("best_pair"),
          $"cnt".as("pair_count"), $"vocab_checksum")
        .transform(graft.functions.Cp.local)
    }
    (rounds.reduce(_ union _).orderBy($"round".asc), seqs)
  }

  /** BPE APPLY — the corpus-scale other half of [[qBpeMerge]]'s
    * vocabulary-scale training: segment every document with the
    * learned merges and report per-source subword mass. The learned
    * vocabulary (word → final symbol sequence) is joined to the
    * corpus at the (doc, word, count) grain — pre-aggregated so
    * repeated words join once per doc — with hint("merge"): the
    * vocabulary GROWS WITH THE CORPUS (Heaps' law), so it is never
    * left to the AQE broadcast heuristic (the q_bigram_lm OOM rule).
    * The bit_xor over doc_id ⊕ n_subwords·1000003 proves every
    * document's segmented length. Scale: explode+agg to doc-word
    * grain, one sort-merge join on word, two bounded aggs. */
  def qBpeApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = bpeTrain(s, d)._2
      .select($"word", size(split($"seq", "  ")).cast("long").as("n_sym"))
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as("word"))
      .groupBy($"doc_id", $"source", $"word")
      .agg(count(lit(1)).as("cnt"))
      .join(vocab.hint("merge"), Seq("word"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"cnt" * $"n_sym").as("n_sub"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_sub").as("total_subwords"),
        expr("bit_xor(doc_id ^ (n_sub * 1000003))").as("seg_checksum"))
      .orderBy($"source".asc)
  }

  /** Suppression threshold for [[qKanon]]. */
  private val KanonK = 5L

  /** K-ANONYMITY SUPPRESSION CENSUS — the release-gate a governed
    * data pipeline runs before publishing grouped statistics: cells
    * of the quasi-identifier grid (lang × source × length bucket)
    * with fewer than [[KanonK]] documents are suppressed (count
    * withheld, flagged), because small cells re-identify. Output is
    * cell-grain (bounded by the attribute-domain product, not corpus
    * size) with the published count NULL on suppressed cells plus a
    * per-lang suppression rollup via a domain-bounded window. One
    * shuffle agg at any SF. */
  def qKanon(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.documents(s, d)
      .groupBy($"lang", $"source",
        expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
    val langW = Window.partitionBy($"lang")
    cells
      .withColumn("suppressed", ($"n" < KanonK).cast("int"))
      .withColumn("n_published", when($"n" >= KanonK, $"n"))
      .withColumn("lang_cells", count(lit(1)).over(langW))
      .withColumn("lang_suppressed",
        sum($"suppressed".cast("long")).over(langW))
      .select($"lang", $"source", $"len_bucket", $"n_published",
        $"suppressed".cast("long").as("suppressed"),
        $"lang_cells", $"lang_suppressed")
      .orderBy($"lang".asc, $"source".asc, $"len_bucket".asc)
  }

  /** WordPiece vocab size (multi-char pieces) and max greedy steps
    * (= max word length; asserted at runtime, mirrored in the
    * oracle's unroll depth). */
  private val WpTopPieces = 200
  private[graft] val WpMaxSteps = 8

  /** WORDPIECE GREEDY SEGMENTATION (BERT-tokenizer shape) — the
    * longest-match-first counterpart of [[qBpeMerge]]'s merge
    * training: the piece vocabulary is the [[WpTopPieces]]
    * highest-frequency 2–4-char substrings (occurrence-weighted by
    * word count, tie piece asc — deterministic) plus every single
    * character, and each DISTINCT WORD is segmented by repeatedly
    * taking the longest vocab piece at the cursor (4→3→2→1; singles
    * always match, so the cursor always advances and
    * [[WpMaxSteps]] = max word length bounds the fold — asserted).
    * Per-length report with corpus-weighted fertility (pieces per
    * letter, exact integer ratio) and a bit_xor-of-md5 checksum over
    * every word's piece count — the oracle (same vocab CTE + 8
    * unrolled greedy rounds) proves every segmentation. Scale shape:
    * one corpus agg to the word grain; vocabulary selection is a
    * bounded top-k; the segmentation fold runs at vocabulary grain
    * with the piece set as a ~226-entry broadcast literal (a MODEL
    * collect, the IVF-centroid discipline). */
  def qWordpiece(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .transform(graft.functions.Cp.local)
    val occ = words.select($"n", explode(expr(
      """flatten(transform(array(2, 3, 4), l ->
        |  filter(transform(sequence(1, length(word)), i ->
        |    CASE WHEN i + l - 1 <= length(word)
        |    THEN substring(word, i, l) END), x -> x IS NOT NULL)))"""
        .stripMargin)).as("piece"))
      .groupBy($"piece").agg(sum($"n").as("f"))
      .orderBy($"f".desc, $"piece".asc).limit(WpTopPieces)
    // bounded MODEL collect: ≤ WpTopPieces pieces (chars need no list —
    // the fold's l=1 fallback is unconditional)
    val pieces = occ.select($"piece").as[String].collect().toSet
    def arr(l: Int) = typedLit(pieces.filter(_.length == l).toSeq.sorted)
    val (p4, p3, p2) = (arr(4), arr(3), arr(2))
    val seg = words
      .withColumn("len", length($"word").cast("int"))
      .withColumn("st", aggregate(
        sequence(lit(1), lit(WpMaxSteps)),
        struct(lit(1).as("pos"), lit(0L).as("np")),
        (acc, _) => {
          val pos = acc.getField("pos")
          val l = when(pos + 3 <= $"len" &&
              array_contains(p4, $"word".substr(pos, lit(4))), 4)
            .when(pos + 2 <= $"len" &&
              array_contains(p3, $"word".substr(pos, lit(3))), 3)
            .when(pos + 1 <= $"len" &&
              array_contains(p2, $"word".substr(pos, lit(2))), 2)
            .otherwise(1)
          val active = pos <= $"len"
          struct(
            (pos + when(active, l).otherwise(0)).as("pos"),
            (acc.getField("np") + when(active, 1L).otherwise(0L)).as("np"))
        }))
      .select($"word", $"n", $"len", $"st.np".as("np"), $"st.pos".as("pos"))
    seg.groupBy(length($"word").cast("long").as("wlen"))
      .agg(count(lit(1)).as("n_distinct_words"),
        sum($"n").as("corpus_words"),
        sum($"n" * $"np").as("sum_pieces"),
        // honesty gauge: words the 8-step fold did not fully consume
        // (impossible while max word length ≤ WpMaxSteps; mirrored in
        // the oracle's unroll depth so even a violation stays exact)
        sum(when($"pos" <= $"len", 1L).otherwise(0L)).as("n_unfinished"),
        expr("sum(n * np) * 1000000000 DIV sum(n * len)").as("fertility_e9"),
        bit_xor(md5Prefix60(concat($"word", lit(">"), $"np".cast("string"))))
          .as("seg_checksum"))
      .orderBy($"wlen".asc)
  }

  /** Two-sided-geometric CDF thresholds for ε=0.5 (α=e^−ε), z=−8..7,
    * scaled to 2⁶⁰ — MODEL CONSTANTS precomputed offline (the
    * q_bootstrap fixed-cumulative-table discipline; no libm in either
    * engine). Noise beyond ±8 collapses into the end buckets —
    * P ≈ 2·α⁹/(1+α) < 1.4%, documented truncation. */
  private val DpThresholds = Seq(
    13144158698603538L, 21671054031845768L, 35729527740795888L,
    58908032378320480L, 97122925997228832L, 160128633964265600L,
    264007484865039712L, 435274755921033152L, 717646748685813760L,
    888914019741807232L, 992792870642581376L, 1055798578609618176L,
    1094013472228526464L, 1117191976866051072L, 1131250450575001216L,
    1139777345908243456L)

  /** DIFFERENTIALLY-PRIVATE COUNT RELEASE (geometric mechanism) — the
    * noisy counterpart of [[qKanon]]'s suppression: each (lang,
    * source) cell count gets two-sided-geometric noise for ε=0.5,
    * drawn DETERMINISTICALLY from md5(lang:source) against the
    * [[DpThresholds]] CDF table — hash-not-rand, so the release is
    * reproducible across reruns/retries/repartitions and the oracle
    * recomputes it exactly (the distributed-bootstrap property; a
    * rand() release could never be audited). Noise = −8 + #{t ≤ u},
    * pure integer compares; released count clamps at 0. ε and the
    * raw count ride along so the spec/consumer can audit utility.
    * Scale shape: one cell agg + a 16-term narrow map. */
  def qDpCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = pmod(md5Prefix60(concat($"lang", lit(":"), $"source")),
      lit(1152921504606846976L))
    val noise = DpThresholds
      .map(t => ($"u" >= t).cast("long"))
      .reduce(_ + _) - lit(8L)
    Tables.documents(s, d)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
      .withColumn("u", u)
      .withColumn("z", noise)
      .select($"lang", $"source", $"n", $"z",
        greatest(lit(0L), $"n" + $"z").as("n_released"))
      .orderBy($"lang".asc, $"source".asc)
  }

  private val CalBinW = 8
  private val CalClamp = 512L // fixed ±domain → ≤ 128 bins at any SF

  /** MODEL-SCORE CALIBRATION curve — the verb that turns a raw
    * quality score into a probability: bin the [[qQualityModel]]
    * per-doc score (floor-div bins, negative-safe via pmod), label
    * each doc with ground truth it carries anyway (fingerprint
    * duplicated ≥2×), and fit the WEIGHTED isotonic regression of
    * dup-rate over score bins — the same distributable minimax closed
    * form as [[graft.operators.Events.qIsotonic]], with window means
    * as exact dup/count prefix-sum ratios (one IEEE division each, so
    * the calibrated curve is bit-equal in both engines). The global
    * windows run over the BIN spine — bounded by the score domain,
    * never by corpus size (the q_open_interval rule). Scale shape:
    * one fp-partitioned window for labels, one bin agg, then
    * spine-bounded joins. */
  def qCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val half = (QmMod - 1) / 2
    val score = aggregate(
      transform(tokens($"text"), t => md5Prefix60(t) % QmMod - half),
      lit(0L), (acc, x) => acc + x)
    // clamp to a FIXED score domain before binning: raw score tails
    // widen with corpus size (sf0.01→sf0.1 grew the bin spine 425→
    // 1480), and the isotonic spine³ join must be bounded by
    // CONSTRUCTION, not by luck — calibration curves saturate at the
    // clamp exactly like production score clipping
    val base = Tables.documents(s, d)
      .select(greatest(lit(-CalClamp), least(lit(CalClamp - 1), score))
        .as("score"), md5Prefix60($"text").as("fp"))
    val lab = base
      .withColumn("dup",
        (count(lit(1)).over(Window.partitionBy($"fp")) > 1).cast("long"))
      .select(expr(s"(score - pmod(score, $CalBinW)) DIV $CalBinW")
        .as("bin"), $"dup")
    val wIdx = Window.orderBy($"bin".asc)
    val cum = wIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sp = lab.groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"dup").as("nd"))
      .withColumn("t", row_number().over(wIdx))
      .withColumn("cn", sum($"n").over(cum))
      .withColumn("cd", sum($"nd").over(cum))
      .transform(graft.functions.Cp.local)
    val j = sp.select($"t".as("j"), ($"cn" - $"n").as("cnj"),
      ($"cd" - $"nd").as("cdj"))
    val k = sp.select($"t".as("k"), $"cn".as("cnk"), $"cd".as("cdk"))
    val m = j.join(broadcast(k), $"k" >= $"j")
      .select($"j", $"k",
        (($"cdk" - $"cdj").cast("double") / ($"cnk" - $"cnj")).as("m"))
    sp.join(broadcast(m), $"j" <= $"t" && $"k" >= $"t")
      .groupBy($"bin", $"t", $"n", $"nd", $"j")
      .agg(min($"m").as("mn"))
      .groupBy($"bin", $"t", $"n", $"nd")
      .agg(max($"mn").as("iso_rate"))
      .select($"bin", $"n", $"nd".as("n_dup"),
        expr("nd * 1000000000 DIV n").as("rate_e9"), $"iso_rate")
      .orderBy($"bin".asc)
  }

  /** WORST-SLICE MINING (SliceFinder shape) — which (lang × source ×
    * length-bucket) slice drags the corpus quality down most? The
    * effect size is kept EXACT by cross-multiplication: for slice s,
    * e(s) = S_s·N − n_s·S_total (positive ⇔ the slice scores above
    * the corpus mean, magnitude = n_s·N·(mean_s − mean)), computed in
    * DECIMAL(38,0)/HUGEINT — different exact types, identical values
    * out as BIGINT (corpus sums stay < 2⁶³ after the ±512 clamp but
    * the cross-product does not). Top-20 slices by most-negative
    * effect under a unique tie-break. Scale shape: one slice-grain
    * agg, a 1-row broadcast total, TakeOrderedAndProject. */
  def qWorstSlice(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val half = (QmMod - 1) / 2
    val score = aggregate(
      transform(tokens($"text"), t => md5Prefix60(t) % QmMod - half),
      lit(0L), (acc, x) => acc + x)
    val sliced = Tables.documents(s, d)
      .select($"lang", $"source", expr("n_chars DIV 200").as("len_bucket"),
        greatest(lit(-CalClamp), least(lit(CalClamp - 1), score))
          .as("score"))
      .groupBy($"lang", $"source", $"len_bucket")
      .agg(count(lit(1)).as("n"), sum($"score").as("ss"))
    val tot = sliced.agg(sum($"n").as("nn"), sum($"ss").as("st"))
    sliced.crossJoin(broadcast(tot))
      .select($"lang", $"source", $"len_bucket", $"n", $"ss",
        expr("CAST(CAST(ss AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0))" +
          " - CAST(n AS DECIMAL(38,0)) * CAST(st AS DECIMAL(38,0))" +
          " AS BIGINT)").as("effect"))
      .orderBy($"effect".asc, $"lang".asc, $"source".asc,
        $"len_bucket".asc)
      .limit(20)
  }

  /** NORMALIZATION-LADDER DEDUP GAIN — the question every dedup
    * pipeline answers before choosing its canonical form: how many
    * extra collisions does each normalization level buy? Four
    * fingerprints per doc (raw, lowercase, +digit-fold, +punct-strip
    * & whitespace-collapse — the standard ladder), distinct counts
    * per source at every level, the raw→full gain, and a bit_xor
    * checksum over the FULLY-normalized fingerprints — the oracle
    * match proves every document's normalized form byte-for-byte,
    * not just the counts (both engines' regexp_replace replace ALL:
    * Spark by default, DuckDB via the 'g' flag). Scale shape: narrow
    * per-doc maps + one source-grain multi-distinct agg. */
  def qNormalizeDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l1 = lower($"text")
    val l2 = regexp_replace(l1, "[0-9]+", "0")
    val l3 = trim(regexp_replace(regexp_replace(l2, "[^a-z0-9 ]", ""),
      " +", " "))
    Tables.documents(s, d)
      .select($"source",
        md5Prefix60($"text").as("f0"), md5Prefix60(l1).as("f1"),
        md5Prefix60(l2).as("f2"), md5Prefix60(l3).as("f3"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"f0").as("d_raw"),
        countDistinct($"f1").as("d_lower"),
        countDistinct($"f2").as("d_digitfold"),
        countDistinct($"f3").as("d_full"),
        bit_xor($"f3").as("norm_checksum"))
      .withColumn("gain", $"d_raw" - $"d_full")
      .orderBy($"source".asc)
  }

  /** LENGTH-BUCKET PADDING CENSUS — the dynamic-batching efficiency
    * report: every document lands in the smallest power-of-two token
    * bucket that holds it (computed with shift/bin integer ops — no
    * float log2), and per bucket the report carries doc count, real
    * tokens, padded slots (bucket × docs), exact integer waste ratio,
    * and a per-doc placement checksum (xor with doc_id·1000003) that
    * proves every document's bucket, not just the counts. The answer
    * to "what does pad-to-pow2 batching cost on this corpus, and
    * which bucket should be split?". Scale shape: narrow per-doc map
    * + one bounded agg (≤ log2(max_len) buckets). */
  def qLengthBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("ntok"))
      .withColumn("bucket",
        when($"ntok" <= 1, lit(1L))
          .otherwise(expr(
            "shiftleft(CAST(1 AS BIGINT), length(bin(ntok - 1)))")))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ntok").as("sum_tokens"),
        (max($"bucket") * count(lit(1))).as("padded_slots"),
        expr("(max(bucket) * count(1) - sum(ntok)) * 1000000000" +
          " DIV (max(bucket) * count(1))").as("waste_e9"),
        bit_xor(md5Prefix60($"doc_id".cast("string"))
          .bitwiseXOR($"ntok" * lit(1000003L))).as("place_checksum"))
      .orderBy($"bucket".asc)
  }

  /** Unigram-LM vocab size (multi-char pieces) and the Viterbi unroll
    * depth (= max word length; words are filtered to it in BOTH
    * engines, so the bound is explicit, not silent). */
  private val UniTopPieces = 200
  private[graft] val UniMaxLen = 8

  /** UNIGRAM-LM VITERBI SEGMENTATION (SentencePiece-shape) — the
    * probabilistic counterpart of [[qWordpiece]]'s greedy matcher:
    * every vocab piece (each single character seen in the corpus +
    * the [[UniTopPieces]] highest-frequency 2–4-char substrings,
    * occurrence-weighted, tie piece asc) carries the integer cost
    * `64 - length(bin(f))` — a quantized -log2(p) surrogate both
    * engines compute bit-exactly (no libm log) — and each DISTINCT
    * WORD takes the segmentation minimizing (total cost, piece
    * count), found by exact Viterbi DP over positions. dp values pack
    * as `cost*16 + np` (np ≤ [[UniMaxLen]] < 16), so the
    * lexicographic minimum is a plain integer MIN and the transition
    * is `dp(i-l) + 16*cost(piece) + 1`. A word's cost/np pair is
    * therefore unique even when the argmin segmentation is not —
    * the per-word checksum stays deterministic. Per-length report
    * with corpus totals + a bit_xor checksum over every word's
    * (cost, np); oracle = same vocab CTE + [[UniMaxLen]] unrolled
    * MATERIALIZED DP rounds (dall accumulates positions, each round
    * joins the ≤4 reachable predecessors against the vocab). Scale
    * shape: one corpus agg to the word grain (Heaps-bounded); the
    * vocab is a ≤ 226-entry broadcast literal (a MODEL collect, the
    * IVF-centroid discipline); DP runs at word grain. */
  /** Word grain of the unigram family: distinct ≤[[UniMaxLen]]-char
    * lowercase words with corpus counts (Heaps-bounded, checkpointed —
    * read by the vocab build AND every DP pass). */
  private def uniWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .as("word"))
      .where(length($"word") <= UniMaxLen)
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .transform(graft.functions.Cp.local)
  }

  /** Initial unigram vocab: every corpus character + the
    * [[UniTopPieces]] most frequent 2–4-char substrings, cost
    * 64 − len(bin(f)). Bounded MODEL collect (≤ 226 entries). */
  private def uniVocab0(words: DataFrame): Map[String, Long] = {
    import words.sparkSession.implicits._
    val occ = words.select($"n", explode(expr(
      """flatten(transform(array(1, 2, 3, 4), l ->
        |  filter(transform(sequence(1, length(word)), i ->
        |    CASE WHEN i + l - 1 <= length(word)
        |    THEN substring(word, i, l) END), x -> x IS NOT NULL)))"""
        .stripMargin)).as("piece"))
      .groupBy($"piece").agg(sum($"n").as("f"))
    val multi = occ.where(length($"piece") > 1)
      .orderBy($"f".desc, $"piece".asc).limit(UniTopPieces)
    val singles = occ.where(length($"piece") === 1)
    multi.unionAll(singles)
      .select($"piece", expr("64 - length(bin(f))").cast("long").as("cost"))
      .as[(String, Long)].collect().toMap
  }

  /** Viterbi DP under a given cost table: per word the full dp array
    * (packed `cost*16 + np` per position) and the final (np, cost). */
  private def uniDp(words: DataFrame, vocab: Map[String, Long]): DataFrame = {
    import words.sparkSession.implicits._
    val vlit = typedLit(vocab)
    words
      .withColumn("len", length($"word").cast("int"))
      .withColumn("dparr", aggregate(
        sequence(lit(1), lit(UniMaxLen)),
        array(lit(0L)), // dp(0): cost 0, np 0
        (acc, i) => {
          // candidates: end a piece of length l at position i
          val cands = (1 to 4).map { l =>
            val piece = $"word".substr(i - lit(l) + 1, lit(l))
            when(i - lit(l) >= 0 && i <= $"len",
              element_at(acc, i - lit(l) + 1) +
                lit(16L) * try_element_at(vlit, piece) + lit(1L))
          }
          concat(acc, array(least(cands: _*)))
        }))
      .withColumn("packed", element_at($"dparr", $"len" + 1))
      .withColumn("np", $"packed" % 16)
      .withColumn("cost", expr("packed DIV 16"))
  }

  def qUnigramLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = uniWords(s, d)
    val seg = uniDp(words, uniVocab0(words))
    seg.groupBy($"len".cast("long").as("wlen"))
      .agg(count(lit(1)).as("n_distinct_words"),
        sum($"n").as("corpus_words"),
        sum($"n" * $"np").as("sum_pieces"),
        sum($"n" * $"cost").as("corpus_cost"),
        expr("sum(n * np) * 1000000000 DIV sum(n * len)").as("fertility_e9"),
        bit_xor(md5Prefix60(concat($"word", lit(">"),
          $"np".cast("string"), lit("#"), $"cost".cast("string"))))
          .as("seg_checksum"))
      .orderBy($"wlen".asc)
  }

  /** ONE HARD-EM ROUND on the unigram LM (SentencePiece's train loop,
    * one iteration, fully engine-exact): (E) each word's round-1
    * Viterbi DP is BACKTRACED deterministically — at every position
    * take the SHORTEST piece length whose predecessor dp explains the
    * packed minimum (ties in the DP value can't diverge: the rule
    * reads only dp values, which are deterministic integers) — giving
    * a canonical segmentation string; (M) piece counts from that
    * segmentation re-feed the cost table (cost' = 64 − len(bin(f')),
    * zero-count pieces pruned — every surviving word is still
    * segmentable since its own round-1 pieces survive); then a second
    * Viterbi pass runs under the new costs. The census also rescores
    * the ROUND-1 segmentation under the NEW costs
    * (`rescored_r1_cost`): Viterbi optimality guarantees
    * corpus_cost ≤ rescored_r1_cost per length — the EM
    * non-increase, asserted in EngineSpec and proven per-row by the
    * oracle hash. Scale shape: everything runs at the Heaps-bounded
    * word grain; both vocabs are bounded literals (MODEL collects);
    * the backtrace is a ≤[[UniMaxLen]]-step in-row fold, no joins. */
  def qUnigramEm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = uniWords(s, d)
    val vocab0 = uniVocab0(words)
    val vlit0 = typedLit(vocab0)
    val dp1 = uniDp(words, vocab0)
    // deterministic backtrace: state (pos, seg); smallest l first
    val seg1 = dp1.withColumn("bt", aggregate(
      sequence(lit(1), lit(UniMaxLen)),
      struct($"len".cast("long").as("pos"), lit("").as("seg")),
      (acc, _) => {
        val pos = acc.getField("pos")
        def okL(l: Int): Column =
          pos >= l &&
            element_at($"dparr", (pos - l + 1).cast("int")) +
              lit(16L) * try_element_at(vlit0,
                $"word".substr((pos - l + 1).cast("int"), lit(l))) +
              lit(1L) === element_at($"dparr", (pos + 1).cast("int"))
        val chosen = when(pos === 0, 0)
          .when(okL(1), 1).when(okL(2), 2).when(okL(3), 3).otherwise(4)
        val newPos = pos - chosen
        val piece = $"word".substr((newPos + 1).cast("int"),
          chosen.cast("int"))
        val newSeg = when(chosen === 0, acc.getField("seg"))
          .otherwise(concat(piece,
            when(acc.getField("seg") === "", lit(""))
              .otherwise(lit("|")),
            acc.getField("seg")))
        struct(newPos.as("pos"), newSeg.as("seg"))
      }).getField("seg"))
      .select($"word", $"n", $"len", $"bt".as("seg"))
      .transform(graft.functions.Cp.local)
    // M-step: counts from the canonical segmentation → new cost table
    // (bounded MODEL collect again: subset of vocab0)
    val vocab1: Map[String, Long] = seg1
      .select($"n", explode(split($"seg", "\\|")).as("piece"))
      .groupBy($"piece").agg(sum($"n").as("f"))
      .select($"piece", expr("64 - length(bin(f))").cast("long").as("cost"))
      .as[(String, Long)].collect().toMap
    val vlit1 = typedLit(vocab1)
    val dp2 = uniDp(words, vocab1)
    val rescored = seg1.select($"word",
      aggregate(split($"seg", "\\|"), lit(0L),
        (a, p) => a + try_element_at(vlit1, p)).as("r1cost"))
    // word-grain join sides grow with the corpus (Heaps): merge, not
    // AQE-broadcast (the q_bigram_lm rule)
    dp2.join(rescored.hint("merge"), Seq("word"))
      .groupBy($"len".cast("long").as("wlen"))
      .agg(count(lit(1)).as("n_distinct_words"),
        sum($"n").as("corpus_words"),
        sum($"n" * $"np").as("sum_pieces"),
        sum($"n" * $"cost").as("corpus_cost"),
        sum($"n" * $"r1cost").as("rescored_r1_cost"),
        expr("sum(n * np) * 1000000000 DIV sum(n * len)").as("fertility_e9"),
        bit_xor(md5Prefix60(concat($"word", lit(">"),
          $"np".cast("string"), lit("#"), $"cost".cast("string"))))
          .as("seg_checksum"))
      .orderBy($"wlen".asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unigram_lm" -> (qUnigramLm _),
    "q_unigram_em" -> (qUnigramEm _),
    "q_length_buckets" -> (qLengthBuckets _),
    "q_wordpiece" -> (qWordpiece _),
    "q_kanon" -> (qKanon _),
    "q_bpe_merge" -> (qBpeMerge _),
    "q_bpe_apply" -> (qBpeApply _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_bigram_lm" -> (qBigramLm _),
    "q_source_overlap" -> (qSourceOverlap _),
    "q_bm25" -> (qBm25 _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_regex_extract_all" -> (qRegexExtractAll _),
    "q_posting_index" -> (qPostingIndex _),
    "q_ks_drift" -> (qKsDrift _),
    "q_tfidf" -> (qTfidf _),
    "q_pii_scrub" -> (qPiiScrub _),
    "q_lang_ngram" -> (qLangNgram _),
    "q_token_regex" -> (qTokenRegex _),
    "q_token_count" -> (qTokenCount _),
    "q_text_quality" -> (qTextQuality _),
    "q_lang_id" -> (qLangId _),
    "q_lexical_diversity" -> (qLexicalDiversity _),
    "q_top_ngrams" -> (qTopNgrams _),
    "q_distinct_ngrams" -> (qDistinctNgrams _),
    "q_substring_dedup" -> (qSubstringDedup _),
    "q_dup_span_coverage" -> (qDupSpanCoverage _),
    "q_substring_spans" -> (qSubstringSpans _),
    "q_longest_dup_span" -> (qLongestDupSpan _),
    "q_span_coverage" -> (qSpanCoverage _),
    "q_span_trim" -> (qSpanTrim _),
    "q_span_admit" -> (qSpanAdmit _),
    "q_span_admit_store" -> (qSpanAdmitStore _),
    "q_quality_model" -> (qQualityModel _),
    "q_calibration" -> (qCalibration _),
    "q_dp_counts" -> (qDpCounts _),
    "q_rouge" -> (qRouge _),
    "q_normalize_dedup" -> (qNormalizeDedup _),
    "q_ngram_novelty" -> (qNgramNovelty _),
    "q_worst_slice" -> (qWorstSlice _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_bloom_decontam" -> (qBloomDecontam _),
    "q_pmi_bigrams" -> (qPmiBigrams _),
    "q_repetition" -> (qRepetition _)
  )

  private def sqlMarkers(ms: Seq[String]): String =
    ms.map(m => s"'$m'").mkString(", ")

  /** Per-n ROUGE census block for the [[qRouge]] oracle. */
  private def rougeSqlFor(n: Int): String =
    s"""SELECT CAST($n AS BIGINT) AS gram_n, lang, n_pairs, ov, tc, tr,
       |  ov * 1000000000 // tc AS micro_p_e9,
       |  ov * 1000000000 // tr AS micro_r_e9,
       |  2 * ov * 1000000000 // (tc + tr) AS micro_f1_e9,
       |  macro_f1_e9, f1_xor FROM (
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(ov) AS BIGINT) AS ov, CAST(SUM(tc) AS BIGINT) AS tc,
       |  CAST(SUM(tr) AS BIGINT) AS tr,
       |  CAST(SUM(f1_e9) AS BIGINT) // COUNT(*) AS macro_f1_e9,
       |  bit_xor(xor(CAST(('0x'||substr(md5(CAST(pair AS VARCHAR)),1,15))
       |    AS BIGINT), f1_e9 * 1000003)) AS f1_xor
       |FROM (
       |  WITH tok AS (SELECT doc_id, lang, string_split(text,' ') AS t
       |    FROM documents),
       |  gr AS (SELECT doc_id // 2 AS pair, doc_id % 2 AS side, lang,
       |    unnest(${sqlGrams(n)}) AS g FROM tok),
       |  c AS (SELECT pair, side, lang, g, CAST(COUNT(*) AS BIGINT) AS cnt
       |    FROM gr GROUP BY 1,2,3,4),
       |  tots AS (SELECT pair,
       |    CAST(SUM(CASE WHEN side=0 THEN cnt ELSE 0 END) AS BIGINT) AS tc,
       |    CAST(SUM(CASE WHEN side=1 THEN cnt ELSE 0 END) AS BIGINT) AS tr,
       |    MAX(CASE WHEN side=0 THEN lang END) AS lang
       |    FROM c GROUP BY 1
       |    HAVING SUM(CASE WHEN side=0 THEN cnt ELSE 0 END) > 0
       |       AND SUM(CASE WHEN side=1 THEN cnt ELSE 0 END) > 0),
       |  ovl AS (SELECT a.pair, CAST(SUM(LEAST(a.cnt, b.cnt)) AS BIGINT)
       |      AS ov
       |    FROM c a JOIN c b ON a.pair = b.pair AND a.g = b.g
       |      AND a.side = 0 AND b.side = 1 GROUP BY 1)
       |  SELECT t.pair, t.lang, t.tc, t.tr, COALESCE(o.ov, 0) AS ov,
       |    2 * COALESCE(o.ov, 0) * 1000000000 // (t.tc + t.tr) AS f1_e9
       |  FROM tots t LEFT JOIN ovl o USING (pair)) perpair
       |GROUP BY lang) census""".stripMargin

  private def sqlGrams(n: Int): String =
    s"list_transform(generate_series(1, greatest(len(t)-${n - 1}, 1)), " +
      s"i -> array_to_string(t[i:i+${n - 1}], ' '))"

  /** Shared maximal-span pipeline for the q_substring_spans family —
    * the oracle mirror of [[pairSpans]] (anchor hashes → df-capped
    * self-join → diagonal gaps-and-islands). Ends with CTE `sp`
    * (doc_a, doc_b, start_a, start_b, len). */
  private lazy val pairSpansSql: String =
    s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t
       |  FROM documents),
       |an AS (SELECT doc_id,
       |  unnest(generate_series(1, greatest(len(t)-${SpanK - 1}, 1)))
       |    AS pos,
       |  unnest(${sqlGrams(SpanK)}) AS span FROM tok),
       |ah AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |  CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h FROM an),
       |dup AS (SELECT h FROM ah GROUP BY h
       |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $SpanDfCap
       |    AND COUNT(*) <= $SpanOccCap),
       |pr AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.pos AS pa, b.pos AS pb
       |  FROM ah a JOIN ah b ON a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.h IN (SELECT h FROM dup)),
       |isl AS (SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
       |  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |    ORDER BY pa ASC) AS grp FROM pr),
       |sp AS MATERIALIZED (SELECT doc_a, doc_b, MIN(pa) AS start_a,
       |  MIN(pb) AS start_b, COUNT(*) + ${SpanK - 1} AS len
       |  FROM isl GROUP BY doc_a, doc_b, diag, grp
       |  HAVING COUNT(*) >= $MinSpanAnchors)""".stripMargin

  /** Shared by q_decontaminate and q_bloom_decontam: the bloom is a
    * result-invariant prefilter, so both must match this exact SQL. */
  private lazy val decontamSql: String =
    s"""WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS t
       |  FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(${sqlGrams(DecontamN)})) AS s
       |  FROM tok),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % $BenchMod = 0),
       |flagged AS (SELECT DISTINCT doc_id FROM sh
       |  WHERE doc_id % $BenchMod <> 0 AND s IN (SELECT s FROM bench))
       |SELECT d.source, COUNT(*) AS n_docs,
       |CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_contaminated
       |FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
       |WHERE d.doc_id % $BenchMod <> 0
       |GROUP BY d.source""".stripMargin

  /** Unrolled-rounds BPE oracle: AS MATERIALIZED is load-bearing
    * (plain CTEs inline and the self-referencing rounds explode the
    * upstream pipeline exponentially — the q_kcore/q_pagerank rule). */
  private lazy val bpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, toks[i] || ' ' || toks[i+1] AS pair FROM (
         |      SELECT n, toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |      FROM (SELECT n, string_split(seq, '  ') AS toks FROM s${r - 1})))
         |  GROUP BY pair),
         |b$r AS MATERIALIZED (SELECT pair, cnt FROM p$r
         |  ORDER BY cnt DESC, pair ASC LIMIT 1),
         |s$r AS MATERIALIZED (SELECT word, n,
         |  trim(replace(' ' || seq || ' ',
         |    ' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ',
         |    ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ')) AS seq
         |  FROM s${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents) GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, n,
       |  trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS seq FROM words),
       |$rounds""".stripMargin
  }

  private lazy val bpeMergeSql: String = {
    val sel = (1 to BpeRounds).map { r =>
      s"""SELECT $r AS round, pair AS best_pair, cnt AS pair_count,
         |  (SELECT bit_xor(CAST(('0x' || substr(md5(word || '>' || seq), 1, 15))
         |     AS BIGINT)) FROM s$r) AS vocab_checksum
         |FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$bpeCtes\n$sel\nORDER BY round"
  }

  private lazy val bpeApplySql: String =
    s"""$bpeCtes,
       |tok AS (SELECT doc_id, source,
       |  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |dw AS (SELECT doc_id, source, word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2, 3),
       |v AS (SELECT word,
       |  CAST(len(string_split(seq, '  ')) AS BIGINT) AS n_sym
       |  FROM s$BpeRounds),
       |dsub AS (SELECT doc_id, source,
       |  CAST(SUM(cnt * n_sym) AS BIGINT) AS n_sub
       |  FROM dw JOIN v USING (word) GROUP BY 1, 2)
       |SELECT source, COUNT(*) AS n_docs,
       |CAST(SUM(n_sub) AS BIGINT) AS total_subwords,
       |bit_xor(xor(doc_id, n_sub * 1000003)) AS seg_checksum
       |FROM dsub GROUP BY source ORDER BY source ASC""".stripMargin

  /** [[qWordpiece]] oracle: same vocab ranking, greedy rounds unrolled
    * to [[WpMaxSteps]] MATERIALIZED CTEs. */
  private lazy val wordpieceSql: String = {
    val rounds = (1 to WpMaxSteps).map { r =>
      s"""g$r AS MATERIALIZED (SELECT word, n, len,
         |  CASE WHEN pos > len THEN pos ELSE pos +
         |    CASE WHEN pos + 3 <= len
         |           AND word[pos:pos+3] IN (SELECT piece FROM v4) THEN 4
         |         WHEN pos + 2 <= len
         |           AND word[pos:pos+2] IN (SELECT piece FROM v3) THEN 3
         |         WHEN pos + 1 <= len
         |           AND word[pos:pos+1] IN (SELECT piece FROM v2) THEN 2
         |         ELSE 1 END END AS pos,
         |  np + CASE WHEN pos > len THEN 0 ELSE 1 END AS np
         |  FROM g${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents) GROUP BY 1),
       |occ AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS f FROM (
       |  SELECT n, unnest(list_filter(list_transform(
       |    range(1, len(word) + 1), i ->
       |      CASE WHEN i + l - 1 <= len(word) THEN word[i:i+l-1] END),
       |    x -> x IS NOT NULL)) AS piece
       |  FROM words, (SELECT unnest([2, 3, 4]) AS l) ls) GROUP BY 1),
       |vp AS MATERIALIZED (SELECT piece FROM occ
       |  ORDER BY f DESC, piece ASC LIMIT $WpTopPieces),
       |v4 AS (SELECT piece FROM vp WHERE len(piece) = 4),
       |v3 AS (SELECT piece FROM vp WHERE len(piece) = 3),
       |v2 AS (SELECT piece FROM vp WHERE len(piece) = 2),
       |g0 AS MATERIALIZED (SELECT word, n, len(word) AS len,
       |  1 AS pos, CAST(0 AS BIGINT) AS np FROM words),
       |$rounds
       |SELECT CAST(len AS BIGINT) AS wlen,
       |COUNT(*) AS n_distinct_words,
       |CAST(SUM(n) AS BIGINT) AS corpus_words,
       |CAST(SUM(n * np) AS BIGINT) AS sum_pieces,
       |CAST(SUM(CASE WHEN pos <= len THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_unfinished,
       |CAST(SUM(n * np) AS BIGINT) * 1000000000
       |  // CAST(SUM(n * len) AS BIGINT) AS fertility_e9,
       |bit_xor(CAST(('0x' || substr(md5(word || '>' || np), 1, 15))
       |  AS BIGINT)) AS seg_checksum
       |FROM g$WpMaxSteps GROUP BY 1 ORDER BY 1 ASC""".stripMargin
  }

  /** [[qUnigramLm]] oracle: same vocab + cost CTE, Viterbi DP unrolled
    * to [[UniMaxLen]] MATERIALIZED rounds over an accumulating
    * position table (each round joins its ≤4 reachable predecessor
    * positions against the vocab and takes the packed-integer MIN). */
  /** Viterbi DP rounds under cost table `vocab`, tables prefixed `t`
    * (so the EM oracle can run a second pass side by side). */
  private def uniRoundsSql(t: String, vocab: String): String =
    (1 to UniMaxLen).map { i =>
      s"""${t}d$i AS MATERIALIZED (
         |  SELECT p.word, p.len, p.n, $i AS pos,
         |    MIN(p.dp + 16 * v.cost + 1) AS dp
         |  FROM ${t}dall${i - 1} p JOIN $vocab v
         |    ON v.piece = p.word[p.pos + 1:$i]
         |  WHERE p.pos >= $i - 4 AND p.pos < $i AND $i <= p.len
         |  GROUP BY 1, 2, 3),
         |${t}dall$i AS MATERIALIZED (
         |  SELECT * FROM ${t}dall${i - 1} UNION ALL SELECT * FROM ${t}d$i)"""
        .stripMargin
    }.mkString(",\n")

  /** Shared CTE prefix: words, substring occurrences, initial vocab,
    * and the round-1 DP position table dall0..dall[[UniMaxLen]]. */
  private lazy val uniBaseCtes: String =
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents) WHERE len(word) <= $UniMaxLen GROUP BY 1),
       |occ AS MATERIALIZED (SELECT piece, CAST(SUM(n) AS BIGINT) AS f FROM (
       |  SELECT n, unnest(list_filter(list_transform(
       |    range(1, len(word) + 1), i ->
       |      CASE WHEN i + l - 1 <= len(word) THEN word[i:i+l-1] END),
       |    x -> x IS NOT NULL)) AS piece
       |  FROM words, (SELECT unnest([1, 2, 3, 4]) AS l) ls) GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT piece, 64 - len(bin(f)) AS cost FROM (
       |    SELECT piece, f FROM (SELECT piece, f FROM occ
       |      WHERE len(piece) > 1
       |      ORDER BY f DESC, piece ASC LIMIT $UniTopPieces)
       |    UNION ALL
       |    SELECT piece, f FROM occ WHERE len(piece) = 1)),
       |dall0 AS MATERIALIZED (SELECT word, len(word) AS len, n,
       |  0 AS pos, CAST(0 AS BIGINT) AS dp FROM words),
       |${uniRoundsSql("", "vocab")}""".stripMargin

  private lazy val unigramLmSql: String =
    s"""$uniBaseCtes
       |SELECT CAST(len AS BIGINT) AS wlen,
       |COUNT(*) AS n_distinct_words,
       |CAST(SUM(n) AS BIGINT) AS corpus_words,
       |CAST(SUM(n * (dp % 16)) AS BIGINT) AS sum_pieces,
       |CAST(SUM(n * (dp // 16)) AS BIGINT) AS corpus_cost,
       |CAST(SUM(n * (dp % 16)) AS BIGINT) * 1000000000
       |  // CAST(SUM(n * len) AS BIGINT) AS fertility_e9,
       |bit_xor(CAST(('0x' || substr(md5(word || '>' || (dp % 16) ||
       |  '#' || (dp // 16)), 1, 15)) AS BIGINT)) AS seg_checksum
       |FROM dall$UniMaxLen WHERE pos = len GROUP BY 1 ORDER BY 1 ASC"""
      .stripMargin

  /** [[qUnigramEm]] oracle: round-1 CTEs + an unrolled deterministic
    * backtrace (per step, the SMALLEST piece length whose predecessor
    * dp explains the current packed minimum — ROW_NUMBER over l),
    * segmentation piece counts → vocab1, a second unrolled DP pass
    * under vocab1 (e_-prefixed tables), and the round-1 segmentation
    * rescored under vocab1. */
  private lazy val unigramEmSql: String = {
    val btRounds = (1 to UniMaxLen).map { k =>
      s"""bt$k AS MATERIALIZED (
         |  SELECT word, len, n, pos, seg FROM bt${k - 1} WHERE pos = 0
         |  UNION ALL
         |  SELECT word, len, n, pos - l AS pos,
         |    piece || CASE WHEN seg = '' THEN '' ELSE '|' END || seg
         |      AS seg
         |  FROM (
         |    SELECT b.word, b.len, b.n, b.pos, b.seg, ll.l,
         |      b.word[b.pos - ll.l + 1:b.pos] AS piece,
         |      ROW_NUMBER() OVER (PARTITION BY b.word
         |        ORDER BY ll.l ASC) AS r
         |    FROM bt${k - 1} b
         |    JOIN ls ll ON b.pos - ll.l >= 0 AND b.pos > 0
         |    JOIN dall$UniMaxLen dprev
         |      ON dprev.word = b.word AND dprev.pos = b.pos - ll.l
         |    JOIN dall$UniMaxLen dcur
         |      ON dcur.word = b.word AND dcur.pos = b.pos
         |    JOIN vocab v ON v.piece = b.word[b.pos - ll.l + 1:b.pos]
         |    WHERE dprev.dp + 16 * v.cost + 1 = dcur.dp) q
         |  WHERE q.r = 1)""".stripMargin
    }.mkString(",\n")
    s"""$uniBaseCtes,
       |ls AS (SELECT unnest([1, 2, 3, 4]) AS l),
       |bt0 AS MATERIALIZED (SELECT word, len(word) AS len, n,
       |  CAST(len(word) AS BIGINT) AS pos, '' AS seg FROM words),
       |$btRounds,
       |cnt1 AS MATERIALIZED (SELECT piece, CAST(SUM(n) AS BIGINT) AS f
       |  FROM (SELECT n, unnest(string_split(seg, '|')) AS piece
       |    FROM bt$UniMaxLen) GROUP BY 1),
       |vocab1 AS MATERIALIZED (
       |  SELECT piece, 64 - len(bin(f)) AS cost FROM cnt1),
       |e_dall0 AS MATERIALIZED (SELECT word, len(word) AS len, n,
       |  0 AS pos, CAST(0 AS BIGINT) AS dp FROM words),
       |${uniRoundsSql("e_", "vocab1")},
       |rsc AS MATERIALIZED (SELECT word,
       |  CAST(SUM(v.cost) AS BIGINT) AS r1cost
       |  FROM (SELECT word, unnest(string_split(seg, '|')) AS piece
       |    FROM bt$UniMaxLen) j JOIN vocab1 v USING (piece)
       |  GROUP BY 1)
       |SELECT CAST(len AS BIGINT) AS wlen,
       |COUNT(*) AS n_distinct_words,
       |CAST(SUM(n) AS BIGINT) AS corpus_words,
       |CAST(SUM(n * (dp % 16)) AS BIGINT) AS sum_pieces,
       |CAST(SUM(n * (dp // 16)) AS BIGINT) AS corpus_cost,
       |CAST(SUM(n * r1cost) AS BIGINT) AS rescored_r1_cost,
       |CAST(SUM(n * (dp % 16)) AS BIGINT) * 1000000000
       |  // CAST(SUM(n * len) AS BIGINT) AS fertility_e9,
       |bit_xor(CAST(('0x' || substr(md5(word || '>' || (dp % 16) ||
       |  '#' || (dp // 16)), 1, 15)) AS BIGINT)) AS seg_checksum
       |FROM e_dall$UniMaxLen ed JOIN rsc USING (word)
       |WHERE ed.pos = ed.len GROUP BY 1 ORDER BY 1 ASC""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_rouge" ->
      s"""${rougeSqlFor(1)}
         |UNION ALL
         |${rougeSqlFor(2)}
         |ORDER BY gram_n ASC, lang ASC""".stripMargin,
    "q_length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |b AS (SELECT doc_id, ntok,
        |  CASE WHEN ntok <= 1 THEN 1
        |    ELSE 1::BIGINT << len(bin(ntok - 1)) END AS bucket FROM t)
        |SELECT bucket, COUNT(*) AS n_docs,
        |CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
        |CAST(MAX(bucket) * COUNT(*) AS BIGINT) AS padded_slots,
        |(CAST(MAX(bucket) * COUNT(*) AS BIGINT) -
        |  CAST(SUM(ntok) AS BIGINT)) * 1000000000 //
        |  CAST(MAX(bucket) * COUNT(*) AS BIGINT) AS waste_e9,
        |bit_xor(xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |  1, 15)) AS BIGINT), ntok * 1000003)) AS place_checksum
        |FROM b GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_unigram_lm" -> unigramLmSql,
    "q_unigram_em" -> unigramEmSql,
    "q_wordpiece" -> wordpieceSql,
    "q_kanon" ->
      s"""WITH cells AS (SELECT lang, source, n_chars // 100 AS len_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2, 3)
         |SELECT lang, source, len_bucket,
         |CASE WHEN n >= $KanonK THEN n END AS n_published,
         |CAST(CASE WHEN n < $KanonK THEN 1 ELSE 0 END AS BIGINT)
         |  AS suppressed,
         |CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS lang_cells,
         |CAST(SUM(CASE WHEN n < $KanonK THEN 1 ELSE 0 END)
         |  OVER (PARTITION BY lang) AS BIGINT) AS lang_suppressed
         |FROM cells ORDER BY lang ASC, source ASC, len_bucket ASC""".stripMargin,
    "q_bpe_merge" -> bpeMergeSql,
    "q_bpe_apply" -> bpeApplySql,
    "q_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
         |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tok GROUP BY 1)
         |SELECT term, n, n * 1000000000 // total AS share_e9
         |FROM cnt, tot WHERE n * ${HhBudget + 1} > total
         |ORDER BY n DESC, term ASC""".stripMargin,
    "q_mann_whitney" ->
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |  CAST(COUNT(*) AS BIGINT) AS t,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ta
        |  FROM documents GROUP BY 1),
        |r AS (SELECT *, CAST(COALESCE(SUM(t) OVER (ORDER BY v ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cumb FROM h),
        |m AS (SELECT CAST(SUM(t) AS BIGINT) AS nl,
        |  CAST(SUM(ta) AS BIGINT) AS na,
        |  SUM(CAST(ta AS HUGEINT) * (2 * cumb + t + 1)) AS s2a,
        |  SUM(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM r)
        |SELECT na, nl - na AS nb,
        |  CAST(s2a - CAST(na AS HUGEINT) * (na + 1) AS BIGINT) AS u2,
        |  ROUND((CAST(s2a AS DOUBLE) - CAST(na AS DOUBLE) * (na + 1) -
        |    CAST(na AS DOUBLE) * (nl - na)) /
        |    (2 * sqrt(CAST(na AS DOUBLE) * (nl - na) / 12 *
        |      (nl + 1 - CAST(tie3 AS DOUBLE) /
        |        (CAST(nl AS DOUBLE) * (nl - 1))))), 6) AS z
        |FROM m""".stripMargin,
    "q_bigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t
         |  FROM documents WHERE len(string_split(text,' ')) >= 2),
         |occ AS (SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM
         |  (SELECT doc_id, unnest(${sqlGrams(2)}) AS bigram FROM tok)
         |  GROUP BY 1, 2),
         |bi AS (SELECT bigram, CAST(SUM(n) AS BIGINT) AS c_ab
         |  FROM occ GROUP BY 1),
         |pc AS (SELECT string_split(bigram,' ')[1] AS w1,
         |  CAST(SUM(c_ab) AS BIGINT) AS c_w FROM bi GROUP BY 1),
         |sc AS (SELECT bigram, c_ab * 1000000000 // c_w AS s_e9
         |  FROM bi JOIN pc ON string_split(bigram,' ')[1] = pc.w1),
         |ds AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(n * s_e9) AS BIGINT) AS ssum
         |  FROM occ JOIN sc USING (bigram) GROUP BY 1)
         |SELECT doc_id, n_bigrams, ssum // n_bigrams AS avg_p_e9
         |FROM ds ORDER BY avg_p_e9 ASC, doc_id ASC LIMIT $LmBottomK""".stripMargin,
    "q_source_overlap" ->
      s"""WITH tok AS (SELECT source, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT DISTINCT source,
         |  CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS h FROM
         |  (SELECT source, unnest(${sqlGrams(OverlapN)}) AS g FROM tok)),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM sh GROUP BY 1),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared, sa.sz AS sz_a, sb.sz AS sz_b,
         |  n_shared * 1000000000 // least(sa.sz, sb.sz) AS containment_e9
         |FROM pr
         |JOIN sz sa ON src_a = sa.source
         |JOIN sz sb ON src_b = sb.source
         |ORDER BY containment_e9 DESC, src_a, src_b""".stripMargin,
    "q_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
        |totals AS (SELECT COUNT(*) AS nn, CAST(SUM(dl) AS BIGINT) AS ll
        |  FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2
        |  WHERE term IN ('spark', 'query', 'join') GROUP BY 1, 2),
        |tfd AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY term)
        |  AS BIGINT) AS df FROM tf),
        |sc AS (SELECT tfd.doc_id,
        |  ((nn - df) * 1000 // df) * (22 * tf * ll)
        |    // (10 * tf * ll + 3 * ll + 9 * dl.dl * nn) AS score_term
        |FROM tfd JOIN dl ON tfd.doc_id = dl.doc_id, totals)
        |SELECT doc_id, COUNT(*) AS n_terms_hit,
        |  CAST(SUM(score_term) AS BIGINT) AS score
        |FROM sc GROUP BY 1
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS n FROM tok
        |  WHERE term <> '' GROUP BY 1),
        |total AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM freq),
        |top AS (SELECT term, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT)
        |    AS v_size,
        |  CAST(SUM(n) OVER (ORDER BY n DESC, term ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |FROM freq)
        |SELECT v_size, cum_tokens, total_tokens,
        |  cum_tokens * 1000000000 // total_tokens AS coverage_e9
        |FROM top, total WHERE v_size IN (5, 10, 20, 30)""".stripMargin,
    "q_ks_drift" ->
      """WITH d AS (SELECT n_chars AS v,
        |  CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS ia FROM documents),
        |g AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
        |  CAST(SUM(1 - ia) AS BIGINT) AS cb FROM d GROUP BY v),
        |c AS (SELECT v,
        |  CAST(SUM(ca) OVER (ORDER BY v ASC) AS BIGINT) AS cca,
        |  CAST(SUM(cb) OVER (ORDER BY v ASC) AS BIGINT) AS ccb FROM g),
        |t AS (SELECT CAST(SUM(ia) AS BIGINT) AS n1,
        |  CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n2 FROM d)
        |SELECT n1, n2, MAX(ABS(cca * n2 - ccb * n1)) AS d_num,
        |CAST(MAX(ABS(cca * n2 - ccb * n1)) AS DOUBLE) /
        |  CAST(n1 * n2 AS DOUBLE) AS ks
        |FROM c, t GROUP BY n1, n2""".stripMargin,
    "q_posting_index" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |p AS (SELECT doc_id, t,
         |  unnest(generate_series(1, len(t))) AS i FROM tok),
         |terms AS (SELECT doc_id, t[i] AS term,
         |  CAST(i - 1 AS BIGINT) AS pos FROM p)
         |SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         |COUNT(*) AS tf,
         |bit_xor(xor(doc_id, pos * 1000003)) AS postings_checksum
         |FROM terms GROUP BY term
         |ORDER BY df DESC, term ASC LIMIT $IndexTopTerms""".stripMargin,
    "q_regex_extract_all" ->
      """WITH h AS (SELECT source, doc_id,
        |  unnest(regexp_extract_all(text, '[a-z]{5,}')) AS w
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_hits,
        |COUNT(DISTINCT w) AS n_distinct,
        |COUNT(DISTINCT doc_id) AS n_docs_with_hit,
        |CAST(SUM(length(w)) AS BIGINT) AS sum_len
        |FROM h GROUP BY 1""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * 1000000000 // df.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * 1000000000 // df.df DESC, tf.term ASC) AS rank
        |  FROM tf JOIN df ON tf.term = df.term)
        |SELECT doc_id, term, tf, df, score, rank FROM r
        |WHERE rank <= 3""".stripMargin,
    "q_pii_scrub" ->
      """WITH s AS (SELECT source,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '[0-9][0-9 ()+.-]{7,}[0-9]', '<NUMBER>', 'g') AS stext,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' ||
        |    '|\b([0-9]{1,3}\.){3}[0-9]{1,3}\b' ||
        |    '|[0-9][0-9 ()+.-]{7,}[0-9]')) AS n_pii
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_pii,
        |  CAST(SUM(n_pii) AS BIGINT) AS n_spans,
        |  bit_xor(CAST(('0x' || substr(md5(stext),1,15)) AS BIGINT))
        |    AS scrub_checksum
        |FROM s GROUP BY source""".stripMargin,
    "q_decontaminate" -> decontamSql,
    "q_bloom_decontam" -> decontamSql,
    "q_pmi_bigrams" ->
      s"""WITH tok AS (SELECT string_split(text,' ') AS t FROM documents),
         |t2 AS (SELECT t FROM tok WHERE len(t) >= 2),
         |uni AS (SELECT w, COUNT(*) AS c FROM
         |  (SELECT unnest(t) AS w FROM t2) GROUP BY 1),
         |bi AS (SELECT bigram, COUNT(*) AS c_ab FROM
         |  (SELECT unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> array_to_string(t[i:i+1], ' '))) AS bigram FROM t2)
         |  GROUP BY 1 HAVING COUNT(*) >= $PmiMinCount)
         |SELECT bigram, c_ab, a.c AS c_a, b.c AS c_b,
         |c_ab * 1000000000 // (a.c * b.c) AS score_e9
         |FROM bi
         |JOIN uni a ON string_split(bigram, ' ')[1] = a.w
         |JOIN uni b ON string_split(bigram, ' ')[2] = b.w
         |ORDER BY score_e9 DESC, bigram ASC LIMIT $PmiTopK""".stripMargin,
    "q_repetition" -> {
      import graft.functions.Det.sqlSum12
      s"""WITH tok AS (SELECT source, string_split(text,' ') AS t FROM documents),
         |r AS (SELECT source,
         |  CAST(len(${sqlGrams(3)}) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(${sqlGrams(3)})) AS BIGINT) AS n_unique
         |  FROM tok),
         |rr AS (SELECT source, n_grams, n_unique,
         |  ROUND(CAST(1 AS DOUBLE) - CAST(n_unique AS DOUBLE) / n_grams, 9)
         |    AS rep_ratio FROM r)
         |SELECT source, COUNT(*) AS n_docs,
         |ROUND(${sqlSum12("rep_ratio")} / COUNT(*), 9) AS avg_rep_ratio,
         |CAST(SUM(CASE WHEN 5 * (n_grams - n_unique) > n_grams
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
         |FROM rr GROUP BY source""".stripMargin
    },
    "q_lexical_diversity" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_types
        |  FROM documents),
        |r AS (SELECT source, n_types,
        |  ROUND(CAST(n_types AS DOUBLE) / n_tok, 9) AS ttr FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(n_types) AS BIGINT) AS sum_types,
        |ROUND(CAST(SUM(CAST(ttr AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 9)
        |  AS avg_ttr
        |FROM r GROUP BY source""".stripMargin,
    "q_distinct_ngrams" ->
      s"""WITH tok AS (SELECT source, string_split(text,' ') AS t
         |  FROM documents),
         |u AS (SELECT source, COUNT(*) AS n_uni,
         |  COUNT(DISTINCT g) AS d_uni
         |  FROM (SELECT source, unnest(t) AS g FROM tok) GROUP BY source),
         |b AS (SELECT source, COUNT(*) AS n_bi, COUNT(DISTINCT g) AS d_bi
         |  FROM (SELECT source, unnest(${sqlGrams(2)}) AS g FROM tok)
         |  GROUP BY source)
         |SELECT u.source AS source, n_uni, d_uni,
         |  d_uni * 1000000000 // n_uni AS ttr_e9,
         |  n_bi, d_bi, d_bi * 1000000000 // n_bi AS distinct2_e9
         |FROM u JOIN b ON u.source = b.source""".stripMargin,
    "q_top_ngrams" ->
      """WITH tok AS (SELECT string_split(text,' ') AS t FROM documents),
        |g AS (SELECT unnest(list_transform(
        |  generate_series(1, greatest(len(t)-1, 1)),
        |  i -> array_to_string(t[i:i+1], ' '))) AS gram FROM tok)
        |SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
        |ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin,
    "q_substring_dedup" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sp AS (SELECT doc_id, unnest(${sqlGrams(SpanK)}) AS span FROM tok),
         |g AS (SELECT CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h,
         |  MIN(span) AS span, COUNT(*) AS n_occurrences,
         |  COUNT(DISTINCT doc_id) AS n_docs
         |  FROM sp GROUP BY 1)
         |SELECT h, span, n_occurrences, n_docs FROM g
         |WHERE n_occurrences > 1 AND n_docs > 1
         |ORDER BY n_occurrences DESC, h ASC LIMIT $SpanTopK""".stripMargin,
    "q_substring_spans" ->
      s"""$pairSpansSql
         |SELECT len, COUNT(*) AS n_spans,
         |COUNT(DISTINCT doc_a * 16777216 + doc_b) AS n_pairs,
         |bit_xor(xor(xor(xor(doc_a * 1000003, doc_b * 8191),
         |  start_a * 127), start_b)) AS span_checksum
         |FROM sp GROUP BY len ORDER BY len ASC""".stripMargin,
    "q_longest_dup_span" ->
      s"""$pairSpansSql,
         |top AS (SELECT * FROM sp ORDER BY len DESC, doc_a ASC,
         |  doc_b ASC, start_a ASC, start_b ASC LIMIT $SpanReportK)
         |SELECT doc_a, doc_b, start_a, start_b, len,
         |array_to_string(t[start_a:start_a+len-1], ' ') AS span_text
         |FROM top JOIN tok ON tok.doc_id = top.doc_a
         |ORDER BY len DESC, doc_a ASC, doc_b ASC, start_a ASC,
         |  start_b ASC""".stripMargin,
    "q_span_coverage" ->
      s"""$pairSpansSql,
         |iv AS (SELECT DISTINCT doc_id, st, en FROM (
         |  SELECT doc_a AS doc_id, start_a AS st,
         |    start_a + len - 1 AS en FROM sp
         |  UNION ALL
         |  SELECT doc_b, start_b, start_b + len - 1 FROM sp)),
         |fl AS (SELECT doc_id, st, en,
         |  MAX(en) OVER (PARTITION BY doc_id ORDER BY st ASC, en ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM iv),
         |il AS (SELECT doc_id, st, en,
         |  CAST(SUM(CASE WHEN pm IS NULL OR st > pm + 1 THEN 1 ELSE 0
         |    END) OVER (PARTITION BY doc_id ORDER BY st ASC, en ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS isl FROM fl),
         |pi AS (SELECT doc_id, isl, MAX(en) - MIN(st) + 1 AS cv,
         |  COUNT(*) AS niv FROM il GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(SUM(cv) AS BIGINT) AS covered,
         |  CAST(SUM(niv) AS BIGINT) AS n_intervals FROM pi GROUP BY 1),
         |nt AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS ntok
         |  FROM documents)
         |SELECT doc_id, ntok, n_intervals, covered,
         |covered * 1000000000 // ntok AS ratio_e9
         |FROM nt JOIN pd USING (doc_id)
         |ORDER BY ratio_e9 DESC, doc_id ASC LIMIT $SpanReportK""".stripMargin,
    // identical census to q_span_admit — the store variant changes
    // WHERE the corpus anchors come from, never what they are
    "q_span_admit_store" ->
      s"""WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS t
         |  FROM documents),
         |an AS MATERIALIZED (SELECT doc_id, source,
         |  CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h FROM (
         |  SELECT doc_id, source, unnest(${sqlGrams(SpanK)}) AS span
         |  FROM tok)),
         |corpus AS (SELECT DISTINCT h FROM an
         |  WHERE doc_id % $AdmitMod <> $AdmitRem),
         |batch AS (SELECT * FROM an
         |  WHERE doc_id % $AdmitMod = $AdmitRem),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM batch WHERE h IN (SELECT h FROM corpus) GROUP BY 1),
         |cov AS (SELECT b.doc_id, b.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  COALESCE(MAX(hits.n_hit), 0) AS n_hit
         |  FROM batch b LEFT JOIN hits ON b.doc_id = hits.doc_id
         |  GROUP BY 1, 2),
         |fl AS (SELECT doc_id, source,
         |  n_hit * 1000000000 // n_spans AS cov_e9,
         |  n_hit * 1000000000 // n_spans < $AdmitMaxCovE9 AS admit
         |  FROM cov)
         |SELECT source, COUNT(*) AS n_batch,
         |CAST(SUM(CASE WHEN admit THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_admitted,
         |CAST(SUM(cov_e9) AS BIGINT) AS sum_cov_e9,
         |COALESCE(bit_xor(CASE WHEN admit
         |  THEN doc_id * 1000003 END), 0) AS admit_checksum
         |FROM fl GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_span_admit" ->
      s"""WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS t
         |  FROM documents),
         |an AS MATERIALIZED (SELECT doc_id, source,
         |  CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h FROM (
         |  SELECT doc_id, source, unnest(${sqlGrams(SpanK)}) AS span
         |  FROM tok)),
         |corpus AS (SELECT DISTINCT h FROM an
         |  WHERE doc_id % $AdmitMod <> $AdmitRem),
         |batch AS (SELECT * FROM an
         |  WHERE doc_id % $AdmitMod = $AdmitRem),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM batch WHERE h IN (SELECT h FROM corpus) GROUP BY 1),
         |cov AS (SELECT b.doc_id, b.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  COALESCE(MAX(hits.n_hit), 0) AS n_hit
         |  FROM batch b LEFT JOIN hits ON b.doc_id = hits.doc_id
         |  GROUP BY 1, 2),
         |fl AS (SELECT doc_id, source,
         |  n_hit * 1000000000 // n_spans AS cov_e9,
         |  n_hit * 1000000000 // n_spans < $AdmitMaxCovE9 AS admit
         |  FROM cov)
         |SELECT source, COUNT(*) AS n_batch,
         |CAST(SUM(CASE WHEN admit THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_admitted,
         |CAST(SUM(cov_e9) AS BIGINT) AS sum_cov_e9,
         |COALESCE(bit_xor(CASE WHEN admit
         |  THEN doc_id * 1000003 END), 0) AS admit_checksum
         |FROM fl GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_span_trim" ->
      s"""$pairSpansSql,
         |iv AS (SELECT DISTINCT doc_id, st, en FROM (
         |  SELECT doc_a AS doc_id, start_a AS st,
         |    start_a + len - 1 AS en FROM sp
         |  UNION ALL
         |  SELECT doc_b, start_b, start_b + len - 1 FROM sp)),
         |cov AS (SELECT DISTINCT doc_id,
         |  unnest(generate_series(st, en)) AS pos FROM iv),
         |tp AS (SELECT doc_id,
         |  unnest(generate_series(1, len(t))) AS pos,
         |  unnest(t) AS tok FROM tok),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tp t
         |  ANTI JOIN cov USING (doc_id, pos)),
         |tr AS (SELECT doc_id, COUNT(*) AS na,
         |  string_agg(tok, ' ' ORDER BY pos) AS txt
         |  FROM kept GROUP BY 1),
         |pd AS (SELECT d.doc_id, d.source,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nb,
         |  CAST(COALESCE(tr.na, 0) AS BIGINT) AS na,
         |  COALESCE(tr.txt, '') AS txt,
         |  CASE WHEN d.doc_id IN (SELECT doc_id FROM iv)
         |    THEN 1 ELSE 0 END AS trimmed
         |  FROM documents d LEFT JOIN tr ON d.doc_id = tr.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |CAST(SUM(trimmed) AS BIGINT) AS n_docs_trimmed,
         |CAST(SUM(nb) AS BIGINT) AS tokens_before,
         |CAST(SUM(na) AS BIGINT) AS tokens_after,
         |bit_xor(CAST(('0x' || substr(md5(txt), 1, 15)) AS BIGINT))
         |  AS trim_checksum
         |FROM pd GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_dup_span_coverage" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sp AS (SELECT doc_id, unnest(${sqlGrams(SpanK)}) AS span FROM tok),
         |h AS (SELECT doc_id,
         |  CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h FROM sp),
         |dup AS (SELECT h FROM h GROUP BY h
         |  HAVING COUNT(DISTINCT doc_id) > 1),
         |pd AS (SELECT doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, n_spans, n_dup,
         |  n_dup * 1000000000 // n_spans AS ratio_e9
         |FROM pd ORDER BY ratio_e9 DESC, doc_id ASC LIMIT $CoverTopK""".stripMargin,
    "q_worst_slice" ->
      s"""WITH sc AS (SELECT lang, source, n_chars // 200 AS len_bucket,
         |  GREATEST(-$CalClamp, LEAST(${CalClamp - 1},
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |    x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % $QmMod
         |         - ${(QmMod - 1) / 2})) AS BIGINT))) AS score
         |  FROM documents),
         |sl AS (SELECT lang, source, len_bucket, COUNT(*) AS n,
         |  CAST(SUM(score) AS BIGINT) AS ss FROM sc GROUP BY 1, 2, 3),
         |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |  CAST(SUM(ss) AS BIGINT) AS st FROM sl)
         |SELECT lang, source, len_bucket, n, ss,
         |CAST(ss::HUGEINT * nn - n::HUGEINT * st AS BIGINT) AS effect
         |FROM sl CROSS JOIN tt
         |ORDER BY effect ASC, lang ASC, source ASC, len_bucket ASC
         |LIMIT 20""".stripMargin,
    "q_ngram_novelty" ->
      s"""WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS t
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source,
         |  CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) AS h FROM
         |  (SELECT doc_id, source, unnest(${sqlGrams(OverlapN)}) AS g
         |   FROM tok)),
         |fi AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
         |pd AS (SELECT sh.doc_id, sh.source, COUNT(*) AS n_sh,
         |  CAST(SUM(CASE WHEN fi.first_doc = sh.doc_id THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_novel
         |  FROM sh JOIN fi USING (h) GROUP BY 1, 2)
         |SELECT source, COUNT(*) AS n_docs,
         |CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
         |CAST(SUM(n_novel) AS BIGINT) AS n_novel,
         |CAST(SUM(n_novel) AS BIGINT) * 1000000000
         |  // CAST(SUM(n_sh) AS BIGINT) AS novelty_e9,
         |bit_xor(xor(doc_id, n_novel * 1000003)) AS novelty_checksum
         |FROM pd GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_normalize_dedup" ->
      """WITH f AS (SELECT source,
        |  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS f0,
        |  CAST(('0x'||substr(md5(lower(text)),1,15)) AS BIGINT) AS f1,
        |  CAST(('0x'||substr(md5(
        |    regexp_replace(lower(text), '[0-9]+', '0', 'g')
        |  ),1,15)) AS BIGINT) AS f2,
        |  CAST(('0x'||substr(md5(
        |    trim(regexp_replace(regexp_replace(
        |      regexp_replace(lower(text), '[0-9]+', '0', 'g'),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))
        |  ),1,15)) AS BIGINT) AS f3
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(COUNT(DISTINCT f0) AS BIGINT) AS d_raw,
        |CAST(COUNT(DISTINCT f1) AS BIGINT) AS d_lower,
        |CAST(COUNT(DISTINCT f2) AS BIGINT) AS d_digitfold,
        |CAST(COUNT(DISTINCT f3) AS BIGINT) AS d_full,
        |bit_xor(f3) AS norm_checksum,
        |CAST(COUNT(DISTINCT f0) - COUNT(DISTINCT f3) AS BIGINT) AS gain
        |FROM f GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_dp_counts" -> {
      val terms = DpThresholds
        .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH g AS (SELECT lang, source, COUNT(*) AS n FROM documents
         |  GROUP BY 1, 2),
         |h AS (SELECT lang, source, n,
         |  CAST(('0x' || substr(md5(lang || ':' || source), 1, 15))
         |    AS BIGINT) % 1152921504606846976 AS u
         |  FROM g),
         |z AS (SELECT lang, source, n,
         |  u, CAST($terms - 8 AS BIGINT) AS z FROM h)
         |SELECT lang, source, n, z,
         |GREATEST(0, n + z) AS n_released
         |FROM z ORDER BY 1 ASC, 2 ASC""".stripMargin
    },
    "q_calibration" ->
      s"""WITH tok AS (SELECT text, string_split(text, ' ') AS t
         |  FROM documents),
         |sc AS (SELECT GREATEST(-$CalClamp, LEAST(${CalClamp - 1},
         |    CAST(list_sum(list_transform(t,
         |    x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % $QmMod
         |         - ${(QmMod - 1) / 2})) AS BIGINT))) AS score,
         |  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS fp
         |  FROM tok),
         |lab AS (SELECT
         |  (score - ((score % $CalBinW) + $CalBinW) % $CalBinW)
         |    // $CalBinW AS bin,
         |  CASE WHEN COUNT(*) OVER (PARTITION BY fp) > 1
         |    THEN 1 ELSE 0 END AS dup
         |  FROM sc),
         |bins AS (SELECT bin, COUNT(*) AS n,
         |  CAST(SUM(dup) AS BIGINT) AS nd FROM lab GROUP BY 1),
         |sp AS (SELECT bin, n, nd,
         |  ROW_NUMBER() OVER (ORDER BY bin ASC) AS t,
         |  CAST(SUM(n) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
         |  CAST(SUM(nd) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cd
         |  FROM bins),
         |m AS (SELECT a.t AS j, b.t AS k,
         |  CAST(b.cd - (a.cd - a.nd) AS DOUBLE)
         |    / (b.cn - (a.cn - a.n)) AS m
         |  FROM sp a JOIN sp b ON b.t >= a.t),
         |inner_ AS (SELECT i.bin, i.t AS ti, i.n, i.nd, m.j,
         |  MIN(m.m) AS mn
         |  FROM sp i JOIN m ON m.j <= i.t AND m.k >= i.t
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT bin, n, nd AS n_dup, nd * 1000000000 // n AS rate_e9,
         |MAX(mn) AS iso_rate
         |FROM inner_ GROUP BY bin, ti, n, nd ORDER BY 1 ASC""".stripMargin,
    "q_quality_model" ->
      s"""WITH tok AS (SELECT lang, string_split(text,' ') AS t FROM documents),
         |sc AS (SELECT lang, CAST(list_sum(list_transform(t,
         |  x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % $QmMod
         |       - ${(QmMod - 1) / 2})) AS BIGINT) AS score FROM tok)
         |SELECT lang, COUNT(*) AS n_docs,
         |CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |CAST(SUM(score) AS BIGINT) AS sum_score,
         |MIN(score) AS min_score, MAX(score) AS max_score
         |FROM sc GROUP BY lang""".stripMargin,
    "q_lang_ngram" -> {
      def sqlScore(profile: Seq[String]): String =
        profile.map(p => s"(CASE WHEN contains(text, '$p') THEN 1 ELSE 0 END)")
          .mkString(" + ")
      s"""WITH sc AS (SELECT lang,
         |  ${sqlScore(trigramProfiles(0)._2)} AS s_en,
         |  ${sqlScore(trigramProfiles(1)._2)} AS s_de,
         |  ${sqlScore(trigramProfiles(2)._2)} AS s_fr
         |  FROM documents)
         |SELECT lang,
         |CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |     WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted,
         |COUNT(*) AS n
         |FROM sc GROUP BY 1, 2""".stripMargin
    },
    "q_token_regex" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |CAST(SUM(len(regexp_extract_all(text, '$BpeIshPattern'))) AS BIGINT)
         |  AS sum_bpe_tokens
         |FROM documents GROUP BY lang""".stripMargin,
    "q_token_count" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS sum_tokens,
        |CAST(SUM(len(string_split(text,' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS ntok,
         |  string_split(text,' ') AS toks FROM documents)
         |SELECT doc_id, ntok,
         |ROUND(CAST(length(text) - ntok + 1 AS DOUBLE) / ntok, 6) AS avg_word_len,
         |ROUND(CAST(len(list_filter(toks,
         |  x -> x IN (${sqlMarkers(stopwords)}))) AS DOUBLE) / ntok, 6)
         |  AS stopword_ratio,
         |ROUND(CAST(length(text) -
         |  length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) /
         |  GREATEST(length(text), 1), 6) AS punct_ratio
         |FROM t""".stripMargin,
    "q_lang_id" ->
      s"""WITH t AS (SELECT lang, string_split(text,' ') AS toks FROM documents),
         |sc AS (SELECT lang,
         |  len(list_filter(toks, x -> x IN (${sqlMarkers(markers(0)._2)}))) AS s_en,
         |  len(list_filter(toks, x -> x IN (${sqlMarkers(markers(1)._2)}))) AS s_de,
         |  len(list_filter(toks, x -> x IN (${sqlMarkers(markers(2)._2)}))) AS s_fr
         |  FROM t)
         |SELECT lang,
         |CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |     WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted,
         |COUNT(*) AS n
         |FROM sc GROUP BY 1, 2""".stripMargin
  )
}
