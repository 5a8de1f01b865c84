package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One event on the stream (mirrors the batch `events` table). */
case class Ev(eventId: Long, ts: Timestamp, userId: Long,
              eventType: String, value: Double)

/** Closed session emitted by streaming sessionization. */
case class SessionOut(userId: Long, startUs: Long, endUs: Long, nEvents: Long)

private case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)

/** First signup→purchase conversion emitted by the streaming funnel. */
case class Conversion(userId: Long, signupUs: Long, purchaseUs: Long, lagUs: Long)

/** One document entering the incremental packer (pre-hashed: `h` is
  * the engine's md5-prefix60 of the doc id, `nTok` its token count). */
case class PackDoc(docId: Long, h: Long, nTok: Long)

/** A document's context-window placement from the incremental packer
  * (same semantics as batch `q_seq_pack`'s per-doc assignment). */
case class PackOut(docId: Long, shard: Long, firstBin: Long, lastBin: Long)

private case class FunnelState(firstSignupUs: Long,
                               pendingPurchaseUs: Long, converted: Boolean)

/** A CLOSED validity interval emitted by streaming SCD2 (the open
  * current interval lives in state until the next change closes it). */
case class ScdOut(userId: Long, state: String, validFromUs: Long,
                  validToUs: Long, version: Long)

private case class ScdState(state: String, validFromUs: Long,
                            version: Long)

/** Cumulative per-arm experiment moments emitted by the streaming A/B
  * monitor (cents are exact integers; means/z derive downstream). */
case class AbOut(arm: Long, n: Long, sumCents: Long, sumSqCents: Long)

private case class AbState(n: Long, sumCents: Long, sumSqCents: Long)

/** Tagged input row for the stream–stream AS-OF join (side 0 = left /
  * reference stream, side 1 = right / probe stream). */
case class AsofIn(side: Int, eventId: Long, ts: Timestamp,
                  userId: Long, value: Double)

/** A probe event enriched with the latest in-horizon reference event
  * at or before it (−1 sentinels when none exists). */
case class AsofOut(userId: Long, probeUs: Long, probeEvent: Long,
                   refUs: Long, refEvent: Long, lagUs: Long)

private case class AsofState(leftUs: Seq[Long], leftIds: Seq[Long],
                             rightUs: Seq[Long], rightIds: Seq[Long],
                             rightVals: Seq[Double])

/** One token observation on the stream (for windowed heavy hitters). */
case class TokenEv(ts: Timestamp, term: String)

/** A timestamped raw-text document (streaming corpus element). */
case class DocEv(ts: Timestamp, text: String)

case class AdmitDoc(doc_id: Long, ts: Timestamp, text: String)

/** Per-window KMV sketch state/output (k smallest distinct hashes). */
case class KmvState(hashes: Seq[Long])
case class KmvOut(windowStartUs: Long, nReg: Int, kth: Long,
                  regChecksum: Long)

/** A window's current heavy-hitter candidate set (Misra–Gries summary
  * keys; counts are deliberately absent — they are underestimates, the
  * exact recount is a batch probe, the q_heavy_hitters discipline).
  * `nSeen` counts tokens processed so far for the window — monotone,
  * so the row with max nSeen is the window's latest summary. */
case class HhOut(windowStartUs: Long, nSeen: Long, candidates: Seq[String])

private case class HhState(nSeen: Long, terms: Seq[String], counts: Seq[Long])

/** Structured Streaming twins of the batch event operators in
  * [[graft.operators.Events]]. Each takes a (possibly streaming)
  * events frame — e.g. a MemoryStream in tests, Kafka/file sources in
  * production — and returns an unstarted streaming DataFrame/Dataset.
  *
  * Scale notes: all state is keyed (window × type, or user) and
  * bounded by watermarks/timeouts, so state store size is O(active
  * keys), never O(history). The shuffle key matches the batch twin,
  * so the same partitioning holds on a 1000-executor cluster.
  */
object StreamingOps {

  /** Watermarked tumbling-window counts per event type — the streaming
    * twin of `q_tumbling_hourly`. Late rows beyond the watermark are
    * dropped; closed windows are emitted once (Append mode works). */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("eventType"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("eventType"),
        col("n"), col("sum_value"))

  /** Gap-based sessionization with per-user state + event-time timeout —
    * the streaming twin of `q_sessionize`. Emits a session once the gap
    * passes (via a later event or watermark timeout). */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000

    def onUser(userId: Long, evs: Iterator[Ev],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(SessionOut(userId, s.startUs, s.lastUs, s.nEvents))
      }
      // flatMapGroupsWithState does NOT drop rows older than the
      // watermark; without this filter an arbitrarily late event could
      // rewind startUs after the session was already emitted, diverging
      // from the batch twin.
      val wmMs = state.getCurrentWatermarkMs()
      val sorted = evs.filter(_.ts.getTime >= wmMs)
        .toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      var closed = List.empty[SessionOut]
      var cur = state.getOption
      for (e <- sorted) {
        val us = e.ts.getTime * 1000
        cur match {
          // a late (out-of-order but in-watermark) event extends the
          // session boundaries, never regresses them
          case Some(s) if us - s.lastUs <= gapUs =>
            cur = Some(SessionState(math.min(s.startUs, us),
              math.max(s.lastUs, us), s.nEvents + 1))
          case Some(s) =>
            closed ::= SessionOut(userId, s.startUs, s.lastUs, s.nEvents)
            cur = Some(SessionState(us, us, 1))
          case None =>
            cur = Some(SessionState(us, us, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastUs / 1000 + gapMinutes.toLong * 60 * 1000)
      }
      closed.reverseIterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onUser)
  }

  /** Streaming SCD TYPE-2 — the live twin of batch `q_scd2`: per-user
    * `eventType` is a mutable attribute; each change CLOSES the
    * previous validity interval (emitted downstream, Append mode) and
    * opens the next in ValueState. The emitted closed-interval log +
    * the state store's open intervals together form the full SCD2
    * dimension; landing the closed rows in a ManifestTable gives the
    * batch-queryable dimension with exactly-once state
    * ([[manifestUpsert]]). Same-state repeats collapse (no emission,
    * no state write). Within a micro-batch rows process in (ts,
    * eventId) order; below-watermark rows are dropped so a late event
    * can't close an interval backwards — the same bounded-disorder
    * contract as [[sessionize]]/[[funnel]], parity-tested against the
    * batch lag/lead build in StreamingSpec. State is one small row
    * per user — O(active users), volume-independent. */
  class Scd2Processor extends StatefulProcessor[Long, Ev, ScdOut] {
    @transient private var st: ValueState[ScdState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ScdState](
        "scd2", Encoders.product[ScdState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[ScdOut] = {
      val wmMs = tv.getCurrentWatermarkInMs()
      val sorted = rows.filter(_.ts.getTime >= wmMs)
        .toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      var cur = if (st.exists()) Some(st.get()) else None
      var closed = List.empty[ScdOut]
      for (e <- sorted) {
        val us = e.ts.getTime * 1000
        cur match {
          case None =>
            cur = Some(ScdState(e.eventType, us, 1L))
          case Some(s) if s.state != e.eventType =>
            closed ::= ScdOut(userId, s.state, s.validFromUs, us, s.version)
            cur = Some(ScdState(e.eventType, us, s.version + 1))
          case _ => () // same-state repeat: interval unchanged
        }
      }
      cur.foreach(st.update)
      closed.reverseIterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[ScdOut] =
      Iterator.empty
  }

  /** [[scd2]] composed with the atomic [[graft.sources.ManifestTable]]
    * upsert sink — the closed-interval log landed as a batch-queryable
    * dimension table with exactly-once ROW state: emission is
    * deterministic (watermark-gated, (ts, eventId)-ordered per user),
    * and the upsert merges on the unique (userId, version) pair —
    * encoded as one long row key, versions being small per-user
    * counters — so at-least-once redelivery of a closed interval
    * overwrites itself byte-identically instead of duplicating.
    * Same composition contract as [[packToManifest]]; restart +
    * replay-merge idempotence asserted in StreamingSpec. */
  def scd2ToManifest(events: Dataset[Ev], path: String,
                     watermark: String = "30 minutes") =
    scd2(events, watermark).toDF()
      .withColumn("rowKey", col("userId") * 1000000L + col("version"))
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // empty recovery/idle batches must not commit empty snapshots
        if (!batch.isEmpty)
          graft.sources.ManifestTable.upsert(
            batch.sparkSession, batch, path, "rowKey")
      }

  /** [[Scd2Processor]] wired as a streaming Dataset. */
  def scd2(events: Dataset[Ev], watermark: String = "30 minutes"): Dataset[ScdOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .transformWithState(new Scd2Processor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming funnel — the twin of batch `q_funnel`: per-user state
    * tracks the earliest signup AND the earliest pending purchase, so
    * cross-batch arrival order doesn't matter (a purchase arriving
    * before its user's late signup still converts once the signup
    * lands; a late earlier signup lowers firstSignupUs before
    * conversion). Residual divergence from batch: a purchase
    * timestamped before the final firstSignupUs never converts, as in
    * batch; only its replacement purchase must arrive after the
    * signup. State for users who never convert is dropped by
    * event-time timeout (`horizonMinutes` past first activity). */
  def funnel(events: Dataset[Ev], horizonMinutes: Int = 60 * 24): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    val none = -1L

    def onUser(userId: Long, evs: Iterator[Ev],
               state: GroupState[FunnelState]): Iterator[Conversion] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      // drop below-watermark rows: a late signup must not rewind
      // firstSignupUs after a conversion was already emitted
      val wmMs = state.getCurrentWatermarkMs()
      val sorted = evs.filter(_.ts.getTime >= wmMs)
        .toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      var st = state.getOption.getOrElse(FunnelState(none, none, converted = false))
      var out = List.empty[Conversion]
      // Conversion is decided PER EVENT in time order, not once per
      // micro-batch: with a batch-level check, a pre-signup purchase in
      // the same batch would occupy the single pending slot and a valid
      // later purchase in that batch would be missed (diverging from
      // the batch twin — caught by the parity test).
      for (e <- sorted) {
        val us = e.ts.getTime * 1000
        e.eventType match {
          case "signup" if !st.converted =>
            st = st.copy(firstSignupUs =
              if (st.firstSignupUs == none) us else math.min(st.firstSignupUs, us))
          case "purchase" if !st.converted =>
            if (st.firstSignupUs != none && us >= st.firstSignupUs) {
              out ::= Conversion(userId, st.firstSignupUs, us,
                us - st.firstSignupUs)
              st = st.copy(converted = true, pendingPurchaseUs = none)
            } else {
              st = st.copy(pendingPurchaseUs =
                if (st.pendingPurchaseUs == none) us
                else math.min(st.pendingPurchaseUs, us))
            }
          case _ =>
        }
      }
      // cross-batch case: a purchase buffered before its user's LATE
      // signup converts once the signup lands at or below it
      if (!st.converted && st.firstSignupUs != none && st.pendingPurchaseUs != none) {
        if (st.pendingPurchaseUs >= st.firstSignupUs) {
          out ::= Conversion(userId, st.firstSignupUs, st.pendingPurchaseUs,
            st.pendingPurchaseUs - st.firstSignupUs)
          st = st.copy(converted = true, pendingPurchaseUs = none)
        } else {
          // a purchase before the signup can never convert; drop it so
          // a later purchase can
          st = st.copy(pendingPurchaseUs = none)
        }
      }
      // Only persist state that actually carries funnel content: an
      // empty state (click-only user, or every row below the watermark)
      // must not be written — its anchor would be the epoch, and
      // setTimeoutTimestamp(epoch + horizon) throws once the watermark
      // passes the horizon ("cannot be earlier than watermark").
      if (st.converted || st.firstSignupUs != none || st.pendingPurchaseUs != none) {
        state.update(st)
        val anchorUs =
          if (st.firstSignupUs != none) st.firstSignupUs else st.pendingPurchaseUs
        // clamp: an old anchor (kept alive by unrelated activity) can
        // put anchor+horizon behind the current watermark, which the
        // state API rejects — expiring at wm+1 is the same cleanup
        state.setTimeoutTimestamp(math.max(wmMs + 1,
          anchorUs / 1000 + horizonMinutes.toLong * 60 * 1000))
      }
      out.reverseIterator
    }

    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onUser)
  }

  /** INCREMENTAL SEQUENCE PACKING — the streaming twin of batch
    * `q_seq_pack`: documents arriving on a stream are appended to
    * their shard's token tail and assigned context-window bins
    * immediately, without repacking what was already emitted — the
    * shape an online ingest pipeline needs (new crawl data lands, the
    * trainer's next shard files keep growing deterministically).
    *
    * Per-shard state is ONE long (the running token count): bounded by
    * construction, no watermark needed, survives restarts via the
    * state store. Within a micro-batch documents are packed in
    * (h, docId) order, so a replayed batch assigns identical bins;
    * across batches the order is arrival order, exactly like the
    * files-appended-in-order batch equivalent (StreamingSpec feeds
    * both the same order and asserts per-doc equality with a plain
    * batch cumulative pack). */
  def packDocs(docs: Dataset[PackDoc], budget: Long = 512L,
               shards: Int = 8): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    def onShard(shard: Long, ds: Iterator[PackDoc],
                state: GroupState[Long]): Iterator[PackOut] = {
      var cum = state.getOption.getOrElse(0L)
      val out = ds.toSeq.sortBy(d => (d.h, d.docId)).map { d =>
        cum += d.nTok
        PackOut(d.docId, shard, (cum - d.nTok) / budget, (cum - 1) / budget)
      }
      state.update(cum)
      out.iterator
    }
    docs
      .groupByKey(d => ((d.h % shards) + shards) % shards.toLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(onShard)
  }

  /** [[packDocs]] composed with the ManifestTable sink: packed bin
    * assignments land in an ATOMIC snapshot table keyed by docId
    * instead of an append-only file sink. The packer's emission is
    * deterministic given its (checkpointed) shard state, so a
    * crash-replayed micro-batch re-merges byte-identical rows — a
    * content no-op under the manifest's row-level merge — and
    * at-least-once batch delivery yields exactly-once TABLE state:
    * the packed-layout manifest a 100 TB training-data writer hands
    * to the shuffle/loader stage. Caller sets checkpointLocation and
    * calls .start(). */
  def packToManifest(docs: Dataset[PackDoc], path: String,
                     budget: Long = 512L, shards: Int = 8) =
    packDocs(docs, budget, shards).toDF()
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // empty recovery/idle batches must not commit empty snapshots
        if (!batch.isEmpty)
          graft.sources.ManifestTable.upsert(
            batch.sparkSession, batch, path, "docId")
      }

  /** Streaming exact dedup on event id, with state bounded by the
    * watermark — the streaming twin of exact dedup. */
  def dedup(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("eventId")

  /** Sliding (overlapping) windows: each event lands in
    * windowLen/slide windows. State per (window × type) key, bounded
    * by the watermark. */
  def slidingCounts(events: DataFrame,
                    windowLen: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("eventType"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("eventType"), col("n"))

  /** Stream–static enrichment join: the static side is planned per
    * micro-batch (broadcast when small), so dimension updates are
    * picked up without restarting the stream. No state is kept — a
    * stream×static inner join is stateless. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key))

  /** Windowed COUNT-MIN sketch — the streaming twin of the batch
    * q_countmin: per window, a depth×width counter matrix keyed by
    * the same md5 row hashes, as an ordinary watermarked groupBy.
    * State is O(active windows × depth × width) — volume- and
    * cardinality-independent — and rows merge by ADDITION, so
    * per-shard / per-window sketches combine losslessly (the CMS
    * merge law; the batch oracle pins the hash family bit-exactly).
    * Query side: min over depth of the (d, hash_d(key)) counters of
    * a window, same as batch. */
  def windowedCountMin(events: DataFrame, keyCol: String = "userId",
                       depth: Int = 4, width: Long = 64L,
                       windowLen: String = "1 hour",
                       watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix60
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"),
        col(keyCol).cast("string").as("k"))
      .select(col("ts"), col("d"),
        pmod(md5Prefix60(concat(col("d").cast("string"), lit(":"),
          col("k"))), lit(width)).as("bucket"))
      .groupBy(window(col("ts"), windowLen), col("d"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("d"), col("bucket"), col("n"))
  }

  /** Windowed HYPERLOGLOG registers — the streaming twin of
    * q_hll_registers: per window, 64 integer registers via the same
    * md5/bin construction, state O(active windows × 64) for ANY
    * distinct-key cardinality. Registers merge by element-wise MAX
    * (proven in SketchSpec), so window sketches union across shards
    * and re-aggregate to coarser windows without rescanning; feed a
    * window's rows to [[graft.functions.Hll.estimate]] for the
    * distinct count. */
  def windowedHll(events: DataFrame, keyCol: String = "userId",
                  buckets: Long = 64L,
                  windowLen: String = "1 hour",
                  watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix60
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        md5Prefix60(col(keyCol).cast("string")).as("h"))
      .select(col("ts"), pmod(col("h"), lit(buckets)).as("bucket"),
        expr(s"h div $buckets").as("rem"))
      .select(col("ts"), col("bucket"),
        when(col("rem") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("rem"))).cast("long"))
          .as("rho"))
      .groupBy(window(col("ts"), windowLen), col("bucket"))
      .agg(max(col("rho")).as("max_rho"))
      .select(col("window.start").as("window_start"),
        col("bucket"), col("max_rho"))
  }

  /** Windowed BPE PAIR COUNTS — the streaming half of the
    * q_bpe_merge trainer: per window, corpus-weighted counts of
    * adjacent symbol pairs at the character round (exactly the
    * statistics the trainer's argmax+merge loop consumes). State is
    * O(active windows × alphabet²) — bounded by the symbol VOCABULARY,
    * never by text volume — and the counts are plain sums, so window
    * frames merge across shards and re-aggregate to coarser windows;
    * feeding closed windows' counts into the batch merge loop trains
    * BPE incrementally without re-scanning old text. Pair extraction
    * guards the 1-char case with the filter/CASE idiom (never
    * `sequence(1, len-1)`, which yields [1,0] on empty ranges). */
  def windowedBpePairs(docs: DataFrame,
                       windowLen: String = "1 hour",
                       watermark: String = "30 minutes"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .select(col("ts"), explode(expr(
        """filter(transform(sequence(1, length(word)), i ->
          |  CASE WHEN i < length(word)
          |  THEN concat(substring(word, i, 1), ' ',
          |              substring(word, i + 1, 1)) END),
          |  x -> x IS NOT NULL)""".stripMargin)).as("pair"))
      .groupBy(window(col("ts"), windowLen), col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("pair"),
        col("cnt"))

  /** The 8-token sliding anchor spans of `text` — ONE definition for
    * every streaming member of the span family ([[spanAdmit]],
    * [[spanCoverageMonitor]], [[admitAndScore]]): the window width
    * and the ≥1-span floor on short docs must match the batch
    * q_span_admit anchors exactly, or batch/stream parity silently
    * degrades to "similar". */
  private val anchorSpans8 = expr(
    """transform(
      |  sequence(1, greatest(size(split(text, ' ')) - 7, 1)),
      |  i -> concat_ws(' ', slice(split(text, ' '), i, 8)))"""
      .stripMargin)

  /** STREAMING SPAN-ADMISSION — [[graft.operators.TextAnalysis]]'s
    * q_span_admit decision applied at INGEST time: each arriving
    * document's 8-token anchor hashes probe the standing corpus
    * anchor set (a stream-static LEFT join against the DISTINCT
    * corpus hash table — caller must pre-distinct it, or hit counts
    * inflate), per-(doc, ts) coverage aggregates under the watermark
    * (doc state expires once the watermark passes its event time),
    * and the emitted row carries the integer coverage ratio + the
    * admit decision at `maxCovE9`. Same arithmetic as the batch
    * query, so batch/stream parity is assertable row-for-row. */
  def spanAdmit(docs: DataFrame, corpusAnchors: DataFrame,
                maxCovE9: Long = 500000000L,
                watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix60
    val spans = anchorSpans8
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), explode(spans).as("span"))
      .select(col("doc_id"), col("ts"), md5Prefix60(col("span")).as("h"))
      .join(corpusAnchors.select(col("h"), lit(1L).as("in_c")),
        Seq("h"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("in_c"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("ts"), col("n_spans"), col("n_hit"),
        expr("n_hit * 1000000000 div n_spans").as("cov_e9"))
      .withColumn("admit", col("cov_e9") < maxCovE9)
  }

  /** WINDOWED SPAN-COVERAGE MONITOR — the dashboard readout over
    * [[spanAdmit]]'s per-document signal: per event-time window, the
    * distribution of arriving documents across duplicate-coverage
    * ratio buckets (cov_e9 div bucketE9, 10%-wide by default) plus
    * admit counts at the same `maxCovE9` gate — "is incoming data
    * getting more duplicated, and how much is the gate rejecting".
    * Two chained stateful aggregations, both keyed by the SAME
    * event-time window (the multi-stateful-operator shape Structured
    * Streaming supports in Append mode): (doc, ts) grain first —
    * keyed (window, doc_id, ts) to mirror [[spanAdmit]]'s (doc_id,
    * ts) state key exactly, so a doc_id re-delivered at two
    * timestamps inside one window stays two admission decisions
    * rather than one pooled coverage row (state = open windows ×
    * in-flight docs, expired by the watermark) — then bucket grain
    * (state = open windows × ≤ 1e9/bucketE9 + 1 buckets,
    * volume-independent — the [[windowedHistogram]] discipline).
    * Identical integer coverage arithmetic to the batch span family,
    * so batch/stream parity is assertable row-for-row: withWatermark
    * is a no-op on a batch frame, and the coverage histogram is the
    * exact rollup of the [[spanAdmit]] per-(doc, ts) decisions
    * (StreamingSpec asserts both on real corpus data). */
  def spanCoverageMonitor(docs: DataFrame, corpusAnchors: DataFrame,
                          bucketE9: Long = 100000000L,
                          maxCovE9: Long = 500000000L,
                          windowLen: String = "1 hour",
                          watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix60
    val spans = anchorSpans8
    val perDoc = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), explode(spans).as("span"))
      .select(col("doc_id"), col("ts"), md5Prefix60(col("span")).as("h"))
      .join(corpusAnchors.select(col("h"), lit(1L).as("in_c")),
        Seq("h"), "left")
      // the (doc, ts) grain mirrors spanAdmit's state key; ts enters
      // the key as a METADATA-FREE long copy — keeping the watermarked
      // column itself in the grouping output would hand the downstream
      // stateful agg two event-time columns (window + ts), which
      // Structured Streaming rejects. unix_micros, NOT cast("long"):
      // the cast truncates to whole seconds and would pool two
      // same-second deliveries of one doc_id into a single coverage
      // row, breaking the exact spanAdmit key mirror
      .groupBy(window(col("ts"), windowLen), col("doc_id"),
        expr("unix_micros(ts)").as("ts_key"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("in_c"), lit(0L))).as("n_hit"))
      .select(col("window"),
        expr("n_hit * 1000000000 div n_spans").as("cov_e9"))
    perDoc
      .groupBy(col("window"),
        expr(s"cov_e9 div ${bucketE9}L").as("cov_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cov_e9") < maxCovE9, 1L).otherwise(0L))
          .as("n_admitted"),
        sum(col("cov_e9")).as("sum_cov_e9"))
      .select(col("window.start").as("window_start"), col("cov_bucket"),
        col("n_docs"), col("n_admitted"), col("sum_cov_e9"))
  }

  /** STREAMING DSIR SCORER — importance-score arriving documents
    * against the STANDING [[graft.operators.Sampling.dsirWeights]]
    * table (the model built in batch from the reference corpus —
    * ≤256 rows by construction, broadcast to every task). Each doc's
    * hashed-unigram buckets ([[graft.operators.Sampling.dsirBucket]],
    * the SAME bucketing as the batch query) probe the weight table;
    * per-(doc, ts) aggregation under the watermark sums the weights
    * with the identical integer arithmetic as q_dsir's scoring stage,
    * so batch/stream parity is assertable row-for-row (run the same
    * function on a batch frame — withWatermark is a no-op there).
    * Emits (doc_id, ts, n_tokens, score, keep) with keep = score ≥
    * minScore: the ingest-time "does this look like the target
    * distribution" gate, the streaming half of the DSIR selection
    * whose exact top-budget batch form is q_dsir. State: one group
    * per open (doc, ts), expired by the watermark. */
  def dsirScore(docs: DataFrame, weights: DataFrame,
                minScore: Long = 0L,
                watermark: String = "30 minutes"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), col("ts"),
        graft.operators.Sampling.dsirBucket(col("term")).as("b"))
      .join(broadcast(weights), Seq("b"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("wt"), lit(0L))).as("score"))
      .withColumn("keep", col("score") >= minScore)

  /** UNIFIED INGEST GATE — [[spanAdmit]]'s duplicate-coverage
    * admission AND [[dsirScore]]'s importance scoring computed in ONE
    * stateful aggregation (one state entry per in-flight (doc, ts)
    * instead of two parallel queries): span-anchor probes against the
    * standing corpus hash set and hashed-unigram probes against the
    * broadcast ≤256-row weight table are unioned into a single
    * per-(doc, ts) frame tagged by probe kind, each row joined
    * against ITS lookup side before the union (the corpus-grown
    * anchor set stays off the broadcast path; the bounded weight
    * table rides one), then aggregated once under the watermark.
    * Emits (doc_id, ts, n_spans, n_hit, cov_e9, admit, n_tokens,
    * score, keep) with bit-identical integer arithmetic to both
    * parents — StreamingSpec asserts row-for-row equality against
    * spanAdmit ⋈ dsirScore on the same data, in batch AND stream
    * mode.
    *
    * Edge contract (deliberate divergence from the two-query parent):
    * a doc whose text yields ZERO valid tokens (or zero spans) still
    * emits ONE row here — n_tokens=0, score=0 (resp. n_spans=0 with
    * NULL cov_e9/admit) — because an ingest gate must render a
    * decision for every arriving doc. The INNER-join parent silently
    * DROPS such docs (the token explode leaves no dsirScore row), so
    * the parity assertion holds on docs with ≥1 span AND ≥1 token;
    * StreamingSpec filters both sides accordingly. */
  def admitAndScore(docs: DataFrame, corpusAnchors: DataFrame,
                    weights: DataFrame,
                    maxCovE9: Long = 500000000L,
                    minScore: Long = 0L,
                    watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.TextFunctions.md5Prefix60
    val spans = anchorSpans8
    val wm = docs.withWatermark("ts", watermark)
    val sp = wm
      .select(col("doc_id"), col("ts"), explode(spans).as("span"))
      .select(col("doc_id"), col("ts"), md5Prefix60(col("span")).as("h"))
      .join(corpusAnchors.select(col("h"), lit(1L).as("v")),
        Seq("h"), "left")
      .select(col("doc_id"), col("ts"), lit(0L).as("kind"),
        coalesce(col("v"), lit(0L)).as("v"))
    val tk = wm
      .select(col("doc_id"), col("ts"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), col("ts"),
        graft.operators.Sampling.dsirBucket(col("term")).as("b"))
      .join(broadcast(weights), Seq("b"), "left")
      .select(col("doc_id"), col("ts"), lit(1L).as("kind"),
        coalesce(col("wt"), lit(0L)).as("v"))
    sp.union(tk)
      .groupBy(col("doc_id"), col("ts"))
      .agg(
        sum(when(col("kind") === 0L, 1L).otherwise(0L)).as("n_spans"),
        sum(when(col("kind") === 0L, col("v")).otherwise(0L)).as("n_hit"),
        sum(when(col("kind") === 1L, 1L).otherwise(0L)).as("n_tokens"),
        sum(when(col("kind") === 1L, col("v")).otherwise(0L)).as("score"))
      .select(col("doc_id"), col("ts"), col("n_spans"), col("n_hit"),
        expr("n_hit * 1000000000 div n_spans").as("cov_e9"),
        col("n_tokens"), col("score"))
      .withColumn("admit", col("cov_e9") < maxCovE9)
      .withColumn("keep", col("score") >= minScore)
  }

  /** STREAMING CURATION END-TO-END — the ingest-to-packed-table
    * pipeline a production trainer runs continuously, composed from
    * the library's own parity-asserted pieces:
    *
    *   arriving docs → [[admitAndScore]] (duplicate-coverage
    *   admission at `maxCovE9` + DSIR importance at `minScore`, one
    *   stateful agg) → survivors land in a parquet STAGING area (the
    *   in-repo stand-in for the Kafka topic between pipeline stages)
    *   → [[packDocs]] assigns context-window bins incrementally
    *   (per-shard running token count in the state store) →
    *   [[graft.sources.ManifestTable]] upsert: an ATOMIC snapshot
    *   table of packed placements, exactly-once under crash/replay.
    *
    * Two chained streaming queries, not one: a
    * flatMapGroupsWithState packer cannot legally follow a streaming
    * aggregation in the same query plan, and the staged handoff is
    * the shape that scales anyway (each stage restarts/rescales
    * independently; the staging dir is replayable history). Returns
    * (gateQuery, packQuery) — caller awaits/stops both.
    * StreamingSpec runs the chain on corpus data and asserts the
    * manifest equals the batch composition (same gate in batch mode
    * + cumulative pack) with exactly-once manifest state under
    * replay. */
  def curateIngest(docs: DataFrame, corpusAnchors: DataFrame,
                   weights: DataFrame, stagingDir: String,
                   manifestPath: String, checkpointRoot: String,
                   maxCovE9: Long = 500000000L, minScore: Long = 0L,
                   budget: Long = 512L, shards: Int = 8,
                   watermark: String = "30 minutes") = {
    import graft.functions.TextFunctions.md5Prefix60
    val s = docs.sparkSession
    val gate = admitAndScore(docs, corpusAnchors, weights,
      maxCovE9, minScore, watermark)
      .filter(col("admit") && col("keep"))
      .select(col("doc_id").as("docId"),
        md5Prefix60(col("doc_id").cast("string")).as("h"),
        col("n_tokens").as("nTok"))
      .writeStream.format("parquet")
      .option("path", stagingDir)
      .option("checkpointLocation", s"$checkpointRoot/gate")
      .outputMode(OutputMode.Append).start()
    val staged = s.readStream
      .schema("docId BIGINT, h BIGINT, nTok BIGINT")
      .parquet(stagingDir)
      .as[PackDoc](Encoders.product[PackDoc])
    val pack = packToManifest(staged, manifestPath, budget, shards)
      .option("checkpointLocation", s"$checkpointRoot/pack")
      .start()
    (gate, pack)
  }

  /** Windowed value HISTOGRAM over fixed integer buckets — the
    * bounded-state streaming quantile primitive. State is one count
    * per (window × bucket): O(active windows × value-range/width),
    * independent of event volume, and the aggregation is an ordinary
    * watermarked groupBy (map-side combined, Append-capable once the
    * window closes). Any percentile is then a ≤-nBuckets scan of the
    * emitted frame ([[histogramPercentile]]) with error ≤ one bucket
    * width — the classic fixed-histogram sketch, which unlike a
    * t-digest is deterministic under any merge order. */
  def windowedHistogram(events: DataFrame, bucketWidth: Double,
                        windowLen: String = "1 hour",
                        watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen),
        floor(col("value") / lit(bucketWidth)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("bucket"), col("n"))

  /** Per-window percentile estimates from a [[windowedHistogram]]
    * frame (a batch post-processing step — e.g. in foreachBatch or on
    * the sink table): the smallest bucket whose cumulative count
    * reaches p·total. Returns (window_start, lo, hi) — the true
    * p-quantile lies in [lo, hi) by construction. */
  def histogramPercentile(hist: DataFrame, p: Double,
                          bucketWidth: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start")).orderBy(col("bucket").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
    hist
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wAll))
      .filter(col("cum") >= lit(p) * col("total"))
      .groupBy(col("window_start")).agg(min(col("bucket")).as("bucket"))
      .select(col("window_start"),
        (col("bucket") * bucketWidth).as("lo"),
        ((col("bucket") + 1) * bucketWidth).as("hi"))
  }

  /** STREAMING HEAVY HITTERS — the live twin of batch q_heavy_hitters:
    * per event-time window, a Misra–Gries summary (≤ `k` counters)
    * maintained in transformWithState ValueState. MG is a sequential
    * one-pass algorithm, so running it over concatenated micro-batches
    * IS running it over the window's whole stream — the
    * no-false-negative guarantee (any term with window count >
    * n/(k+1) is in the summary) holds at every emission, asserted in
    * StreamingSpec against exact batch counts. Update mode emits each
    * window's current candidate set whenever it changes; the exact
    * recount of candidates happens downstream exactly as in the batch
    * query. State = O(active windows × k) strings — volume- and
    * vocabulary-independent, the reason this runs where a windowed
    * groupBy(term) (state O(vocabulary)) cannot. */
  def windowedHeavyHitters(toks: Dataset[TokenEv], k: Int = 64,
                           windowLenUs: Long = 3600L * 1000000)
      : Dataset[HhOut] = {
    import toks.sparkSession.implicits._
    toks.groupByKey(t =>
      Math.floorDiv(t.ts.getTime * 1000, windowLenUs) * windowLenUs)
      .transformWithState(new HhProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  class HhProcessor(k: Int) extends StatefulProcessor[Long, TokenEv, HhOut] {
    @transient private var st: ValueState[HhState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HhState](
        "mg", Encoders.product[HhState], TTLConfig.NONE)

    override def handleInputRows(windowStartUs: Long, rows: Iterator[TokenEv],
                                 tv: TimerValues): Iterator[HhOut] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var seen = 0L
      if (st.exists()) {
        val s = st.get()
        seen = s.nSeen
        s.terms.iterator.zip(s.counts.iterator).foreach { case (t, c) =>
          m.update(t, c)
        }
      }
      rows.foreach { ev =>
        seen += 1
        m.get(ev.term) match {
          case Some(v) => m.update(ev.term, v + 1)
          case None if m.size < k => m.update(ev.term, 1L)
          case None =>
            m.mapValuesInPlace((_, v) => v - 1)
            m.filterInPlace((_, v) => v > 0)
        }
      }
      val pairs = m.toSeq.sortBy(_._1)
      st.update(HhState(seen, pairs.map(_._1), pairs.map(_._2)))
      Iterator.single(HhOut(windowStartUs, seen, pairs.map(_._1)))
    }

    override def handleExpiredTimer(w: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[HhOut] =
      Iterator.empty
  }

  /** md5-60 of a key's decimal string — the house hash family
    * computed JVM-side, byte-identical to the engine's
    * `md5Prefix60(cast(k as string))` (asserted in StreamingSpec
    * against a batch plan). */
  def md5Prefix60Jvm(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
  }

  /** Windowed KMV DISTINCT sketch — the streaming twin of q_kmv:
    * per window, the k smallest distinct user hashes via
    * transformWithState. State is EXACTLY k longs per active window —
    * volume- and cardinality-independent (a windowed groupBy(user)
    * would hold O(distinct users)); the register set is
    * order-insensitive (min-k of a set), so the sketch is
    * deterministic under any arrival order and merges across shards
    * by union+re-top-k — the same property q_kmv proves in-query.
    * Update mode emits the window's current (n, kth, checksum)
    * whenever a batch touches it; per-window equality with the batch
    * construction is asserted in StreamingSpec. */
  def windowedKmv(events: Dataset[Ev], k: Int = 64,
                  windowLenUs: Long = 3600L * 1000000): Dataset[KmvOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(e =>
      Math.floorDiv(e.ts.getTime * 1000, windowLenUs) * windowLenUs)
      .transformWithState(new KmvProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  class KmvProcessor(k: Int) extends StatefulProcessor[Long, Ev, KmvOut] {
    @transient private var st: ValueState[KmvState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KmvState](
        "kmv", Encoders.product[KmvState], TTLConfig.NONE)

    override def handleInputRows(windowStartUs: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[KmvOut] = {
      val set = scala.collection.mutable.SortedSet.empty[Long]
      if (st.exists()) set ++= st.get().hashes
      rows.foreach { ev =>
        val h = md5Prefix60Jvm(ev.userId.toString)
        if (set.size < k) set += h
        else if (h < set.max && !set.contains(h)) { set += h; set -= set.max }
      }
      val regs = set.toSeq
      st.update(KmvState(regs))
      val checksum = regs.zipWithIndex
        .map { case (h, i) => h ^ ((i + 1).toLong * 1000003L) }
        .reduceOption(_ ^ _).getOrElse(0L)
      Iterator.single(
        KmvOut(windowStartUs, regs.size, regs.lastOption.getOrElse(0L),
          checksum))
    }

    override def handleExpiredTimer(w: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[KmvOut] =
      Iterator.empty
  }

  /** STREAMING DRIFT MONITOR readout — per-window two-sample KS of a
    * [[windowedHistogram]] frame against a STATIC reference histogram
    * (bucket, n): the live twin of batch q_ks_drift at histogram
    * resolution (error ≤ one bucket width, the price of bounded
    * state). The statistic is integer-exact to the final division —
    * max |cumS·nR − cumR·nS| over the per-window bucket spine, then
    * ONE IEEE division — the q_ks_drift discipline, so the readout is
    * deterministic under any merge/arrival order. The spine per
    * window is buckets present in EITHER side (reference cross-joined
    * per window + full outer with the stream counts): windows over it
    * are bounded by the VALUE domain, never by event volume. Runs as
    * a batch post-processor over the emitted histogram (foreachBatch
    * or the sink table — the histogramPercentile pattern). */
  def ksDrift(hist: DataFrame, reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val refB = reference.select(col("bucket"), col("n").as("rn"))
    // re-alias through ws0: wins derives from hist, and a raw
    // full-outer back onto hist would carry conflicting attribute ids
    val wins = hist.select(col("window_start").as("ws0")).distinct()
    val spine = wins.crossJoin(broadcast(refB))
      .select(col("ws0").as("window_start"), col("bucket"), col("rn"))
      .join(hist.select(col("window_start"), col("bucket"),
        col("n").as("sn")), Seq("window_start", "bucket"), "full_outer")
      .select(col("window_start"), col("bucket"),
        coalesce(col("sn"), lit(0L)).as("sn"),
        coalesce(col("rn"), lit(0L)).as("rn"))
    val wCum = Window.partitionBy(col("window_start"))
      .orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("window_start"))
    spine
      .withColumn("cs", sum(col("sn")).over(wCum))
      .withColumn("cr", sum(col("rn")).over(wCum))
      .withColumn("ns", sum(col("sn")).over(wAll))
      .withColumn("nr", sum(col("rn")).over(wAll))
      .groupBy(col("window_start"))
      .agg(max(col("ns")).as("n_stream"),
        max(abs(col("cs") * col("nr") - col("cr") * col("ns")))
          .as("ks_num"))
      .crossJoin(broadcast(refB.agg(sum(col("rn")).as("n_ref"))))
      .select(col("window_start"), col("n_stream"), col("n_ref"),
        round(col("ks_num").cast("double") /
          (col("n_stream").cast("double") * col("n_ref").cast("double")),
          9).as("ks"))
  }

  /** md5-prefix60(userId) mod 2 — byte-identical to batch q_abtest's
    * `pmod(md5Prefix60(cast(user_id as string)), 2)` arm assignment
    * (first 15 hex chars of md5 of the decimal string). */
  def armOf(userId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(userId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2
  }

  /** STREAMING A/B MONITOR — the live twin of batch `q_abtest`: users
    * hash-assigned to arms with the exact batch formula ([[armOf]]),
    * purchase-value moments accumulated per arm as EXACT integer
    * cents (value → DECIMAL(18,2) → cents, the same HALF_UP
    * shortest-repr rounding Spark's double→decimal cast performs, so
    * the running moments equal the batch decimal moments to the last
    * bit — parity asserted in StreamingSpec). Each micro-batch emits
    * the updated cumulative (n, Σcents, Σcents²) per arm (Update
    * mode); the Welch z derives downstream from two 3-number rows.
    * Counters are monotone, so late events need no watermark gate —
    * a monitor wants every purchase counted. State is TWO tiny rows
    * (one per arm); the shuffle is two keys wide — the experiment
    * readout never touches anything data-sized. Σcents² stays in
    * BIGINT range up to ~4·10⁹ purchases/arm at the table's price
    * scale; past that the state type widens to BigDecimal the same
    * way q_spearman's moments did. */
  def abMonitor(events: Dataset[Ev]): Dataset[AbOut] = {
    import events.sparkSession.implicits._
    events.filter(_.eventType == "purchase")
      .groupByKey(e => armOf(e.userId))
      .transformWithState(new AbProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  class AbProcessor extends StatefulProcessor[Long, Ev, AbOut] {
    @transient private var st: ValueState[AbState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AbState](
        "ab", Encoders.product[AbState], TTLConfig.NONE)

    override def handleInputRows(arm: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[AbOut] = {
      var s = if (st.exists()) st.get() else AbState(0L, 0L, 0L)
      rows.foreach { e =>
        val cents = (BigDecimal(e.value)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
        s = AbState(s.n + 1, s.sumCents + cents,
          s.sumSqCents + cents * cents)
      }
      st.update(s)
      Iterator.single(AbOut(arm, s.n, s.sumCents, s.sumSqCents))
    }

    override def handleExpiredTimer(arm: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[AbOut] =
      Iterator.empty
  }

  /** Streaming ANN enrichment — the similarity primitive for a live
    * ingest pipeline: each query embedding on the stream is enriched
    * with its top-`k` cosine neighbors from a STATIC corpus, via the
    * same deterministic signed-projection LSH family as the batch ANN
    * ([[graft.operators.Similarity]] — identical buckets, so stream
    * and batch agree bit-for-bit on the same data).
    *
    * Plan shape, scale-first: bucket both sides (narrow, codegen'd),
    * stream–static equi-join on the bucket id (static side re-planned
    * per micro-batch, broadcast when small; at 100 TB the corpus scan
    * is bucket-pruned by the join key), then a watermarked
    * (window × query) aggregation collects the per-bucket candidates
    * and a projection sorts/slices the top-k. Aggregation state per
    * query is bounded by bucket occupancy (the LSH width knob), and
    * the window key lets the watermark evict it — O(active queries),
    * never O(history). `nProbes` > 0 additionally probes the buckets
    * at Hamming distance 1 on the low planes (explode on the STREAM
    * side only — the corpus is never duplicated); a corpus vector
    * lives in exactly one bucket, so probing never duplicates a
    * neighbor.
    *
    * `queries`: streaming frame `(query_id, ts, embedding)`; returns
    * `(window_start, query_id, neighbors: array<struct<neighbor_id,
    * cos>>)` in Append mode once the window closes. Works identically
    * on a batch frame (watermark is a no-op there) — the property the
    * spec suite asserts. */
  def annEnrich(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                nProbes: Int = 0, windowLen: String = "1 hour",
                watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.VectorExpressions.cosineFast
    import graft.operators.Similarity.bucketOf
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      bucketOf(col("embedding")).as("bucket"))
    val qb = queries
      .select(col("query_id"), col("ts"), col("embedding").as("qv"))
      .withWatermark("ts", watermark)
      .withColumn("qbucket", bucketOf(col("qv")))
    val probed =
      if (nProbes <= 0) qb.withColumn("bucket", col("qbucket"))
      else qb.withColumn("bucket", explode(array(
        col("qbucket") +: (0 until nProbes).map(p =>
          col("qbucket").bitwiseXOR(lit(1L << p))): _*)))
    probed.join(bucketed, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("ts"), col("query_id"),
        struct((-cosineFast(col("qv"), col("embedding"))).as("neg_cos"),
          col("vec_id").as("neighbor_id")).as("cand"))
      .groupBy(window(col("ts"), windowLen), col("query_id"))
      .agg(collect_list(col("cand")).as("cands"))
      .select(col("window.start").as("window_start"), col("query_id"),
        transform(slice(array_sort(col("cands")), 1, k), c =>
          struct(c.getField("neighbor_id").as("neighbor_id"),
            round(-c.getField("neg_cos"), 6).as("cos"))).as("neighbors"))
  }

  /** Stream–stream interval join: each purchase matched to the same
    * user's signups in the `withinMinutes` before it. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark derives a finite state-retention window per side — join
    * state is O(events within the interval), never O(history). This is
    * the stateful two-stream surface that [[enrich]] (stream×static)
    * cannot cover: both inputs arrive out of order and late. */
  def intervalJoin(signups: Dataset[Ev], purchases: Dataset[Ev],
                   withinMinutes: Int = 60,
                   joinType: String = "inner"): DataFrame = {
    val s = signups
      .select(col("userId").as("s_user"), col("ts").as("s_ts"),
        col("eventId").as("signup_event"))
      .withWatermark("s_ts", s"$withinMinutes minutes")
    val p = purchases
      .select(col("userId").as("p_user"), col("ts").as("p_ts"),
        col("eventId").as("purchase_event"), col("value"))
      .withWatermark("p_ts", s"$withinMinutes minutes")
    p.join(s, expr(
      s"""s_user = p_user AND
         |s_ts <= p_ts AND
         |s_ts >= p_ts - INTERVAL $withinMinutes MINUTES""".stripMargin),
      joinType)
      .select(col("p_user").as("userId"), col("signup_event"),
        col("purchase_event"), col("s_ts"), col("p_ts"), col("value"))
  }

  /** LEFT OUTER variant of [[intervalJoin]]: a purchase with no
    * in-window signup is still emitted (null signup columns) — but
    * only once the watermark proves no matching signup can arrive,
    * which is what makes streaming outer joins correct rather than
    * racy. */
  def intervalJoinOuter(signups: Dataset[Ev], purchases: Dataset[Ev],
                        withinMinutes: Int = 60): DataFrame =
    intervalJoin(signups, purchases, withinMinutes, "left_outer")

  /** STREAM–STREAM AS-OF JOIN — the streaming twin of the batch
    * AsofJoinExec family, a shape Spark's interval join cannot give
    * (it emits EVERY in-window match; as-of needs exactly the LATEST
    * reference ≤ each probe). transformWithState per user: reference
    * events accumulate in state (pruned below watermark − horizon —
    * nothing older can be the latest for any future probe), probe
    * events BUFFER until the watermark passes their timestamp — only
    * then is "no earlier reference can still arrive" proven and the
    * match deterministic under any arrival order. Matured probes emit
    * with the max-(ts, eventId) reference within the horizon, or −1
    * sentinels. State is O(horizon) references + O(watermark lag)
    * probes per user — volume-independent. Parity with the batch
    * max-per-probe build asserted in StreamingSpec. */
  def asofEnrich(refs: Dataset[Ev], probes: Dataset[Ev],
                 horizonMinutes: Int = 60,
                 watermark: String = "30 minutes"): Dataset[AsofOut] = {
    val s = refs.sparkSession
    import s.implicits._
    def tag(d: Dataset[Ev], side: Int) = d
      .withWatermark("ts", watermark)
      .select(lit(side).as("side"), col("eventId"), col("ts"),
        col("userId"), col("value")).as[AsofIn]
    tag(refs, 0).union(tag(probes, 1))
      .groupByKey(_.userId)
      .transformWithState(new AsofProcessor(horizonMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  class AsofProcessor(horizonMinutes: Int)
      extends StatefulProcessor[Long, AsofIn, AsofOut] {
    private val horizonMs = horizonMinutes.toLong * 60 * 1000
    @transient private var st: ValueState[AsofState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AsofState](
        "asof", Encoders.product[AsofState], TTLConfig.NONE)

    private def stateOr(): AsofState =
      if (st.exists()) st.get()
      else AsofState(Nil, Nil, Nil, Nil, Nil)

    /** Emit every probe the watermark has matured, prune dead
      * references, persist the rest, and keep a timer armed for the
      * oldest still-pending probe. */
    private def flush(userId: Long, s0: AsofState, wmMs: Long)
        : Iterator[AsofOut] = {
      val probes = s0.rightUs.lazyZip(s0.rightIds).lazyZip(s0.rightVals).toSeq
      val (matured, pending) = probes.partition(_._1 / 1000 < wmMs)
      val lefts = s0.leftUs.zip(s0.leftIds)
      val out = matured.sortBy(p => (p._1, p._2)).map { case (pUs, pId, _) =>
        val cands = lefts.filter(l =>
          l._1 <= pUs && l._1 >= pUs - horizonMs * 1000)
        if (cands.isEmpty) AsofOut(userId, pUs, pId, -1L, -1L, -1L)
        else {
          val (lUs, lId) = cands.max
          AsofOut(userId, pUs, pId, lUs, lId, pUs - lUs)
        }
      }
      // references older than wm − horizon can't be the latest-≤ for
      // any probe still to mature (those all have ts ≥ wm)
      val keep = lefts.filter(_._1 / 1000 >= wmMs - horizonMs)
      if (pending.isEmpty && keep.isEmpty) st.clear()
      else {
        st.update(AsofState(keep.map(_._1), keep.map(_._2),
          pending.map(_._1), pending.map(_._2), pending.map(_._3)))
        if (pending.nonEmpty)
          getHandle.registerTimer(pending.map(_._1 / 1000).min + 1)
      }
      out.iterator
    }

    override def handleInputRows(userId: Long, rows: Iterator[AsofIn],
                                 tv: TimerValues): Iterator[AsofOut] = {
      val wmMs = tv.getCurrentWatermarkInMs()
      val s0 = stateOr()
      var lU = s0.leftUs; var lI = s0.leftIds
      var rU = s0.rightUs; var rI = s0.rightIds; var rV = s0.rightVals
      rows.filter(_.ts.getTime >= wmMs).foreach { e =>
        val us = e.ts.getTime * 1000
        if (e.side == 0) { lU :+= us; lI :+= e.eventId }
        else { rU :+= us; rI :+= e.eventId; rV :+= e.value }
      }
      flush(userId, AsofState(lU, lI, rU, rI, rV), wmMs)
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[AsofOut] =
      if (st.exists()) flush(userId, st.get(), tv.getCurrentWatermarkInMs())
      else Iterator.empty
  }

  /** Ingest-time dedup against an EXISTING corpus — the streaming twin
    * of batch q_incremental_dedup's probe: drop events whose content
    * fingerprint is already in the static fingerprint table
    * (stream–static LEFT ANTI — stateless, re-planned every
    * micro-batch so corpus updates are picked up live, broadcast when
    * the fingerprint table is small), then drop in-stream duplicates
    * (dropDuplicatesWithinWatermark — state bounded by the watermark).
    * At 100 TB the static side stays a parquet scan + runtime bloom
    * prefilter, never a full materialization. */
  def dedupVsCorpus(events: DataFrame, corpusFp: DataFrame,
                    fpCol: String = "fp",
                    watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(corpusFp.select(col(fpCol)), Seq(fpCol), "left_anti")
      .dropDuplicatesWithinWatermark(fpCol)

  /** foreachBatch sink that upserts each micro-batch into a
    * [[graft.sources.ManifestTable]] snapshot table (created on the
    * first batch). Streaming aggregation in Update mode emits only
    * the keys a batch changed; each emission row-level-merges onto
    * the table under an ATOMIC manifest commit. A crash-replayed
    * micro-batch re-merges the same deterministic rows — a content
    * no-op — so at-least-once batch delivery still yields
    * exactly-once TABLE STATE, the property external side-effect
    * sinks ([[upsertTotals]]) cannot give. */
  def manifestUpsert(agg: DataFrame, path: String, key: String) =
    agg.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // An empty micro-batch (recovery replay, idle source) must not
        // create a zero-file snapshot v1 that read()/merge() choke on.
        if (!batch.isEmpty)
          graft.sources.ManifestTable.upsert(
            batch.sparkSession, batch, path, key)
      }

  /** Minimal upsert client; production = a JDBC/KV connector opened
    * per partition. Must be serializable: it ships to executors. */
  trait UpsertClient extends Serializable {
    def upsert(key: String, value: Double): Unit
  }

  /** foreachBatch upsert sink: running per-type totals pushed into an
    * external keyed store — the standard pattern for stores without a
    * native streaming connector. Update mode emits only changed keys
    * per micro-batch, and writes run per-partition on executors (the
    * driver never sees the rows). */
  def upsertTotals(events: DataFrame, client: UpsertClient) =
    events
      .groupBy(col("eventType"))
      .agg(sum(col("value")).as("total"))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach(r => client.upsert(r.getString(0), r.getDouble(1)))
        }
      }

  /** CONTINUOUS STORE INGEST — the standing-store lifecycle (append +
    * periodic compact) as a streaming sink over a DOCUMENT stream:
    * each micro-batch of full-schema document rows is appended to all
    * three document-grain standing stores (fingerprint / LSH band /
    * span anchor; built on first batch if absent), and every
    * `compactEvery`-th micro-batch triggers the stores' periodic
    * compaction (0 = never — leave maintenance to an external
    * scheduler, e.g. the `compact_store` SQL TVF on a cron).
    *
    * EXACTLY-ONCE STORE CONTENTS from at-least-once batch delivery:
    * the append verbs anti-join the standing rows (the bounded-hits
    * novelty pattern — probe on the bucket key alone, verify, then
    * anti-join batch × batch-sized hits), so a crash-replayed
    * micro-batch re-appends NOTHING. The idempotency that makes
    * re-running an ingest day a no-op in batch is precisely the
    * property that upgrades this sink from at-least-once to
    * exactly-once without any sink-side transaction log
    * (StoreIngestStreamSpec replays a batch verbatim and asserts the
    * stores are unchanged, then asserts final store contents equal
    * the batch-API twin's).
    *
    * The micro-batch is checkpointed ONCE and re-read by the three
    * appends (each derives its own grain — fp, minhash bands, anchor
    * windows — but the text scan and any upstream source work are
    * shared), with the whole generation scoped-dropped per batch (the
    * ingest-loop checkpoint-retention lesson). */
  def storeIngest(docs: DataFrame, corpusDir: String,
                  compactEvery: Int = 0) =
    ingestSink(docs, graft.sources.Stores.Documents, corpusDir,
      compactEvery)(graft.functions.Cp.local)

  /** [[storeIngest]] at the EMBEDDING grain: each micro-batch of
    * (vec_id, embedding) rows inserts into the standing graph-ANN
    * adjacency (insertion IS a beam search over the standing graph)
    * and the IVF store (frozen cell space), with the same periodic-
    * compaction rule (graph: degree-cap re-prune; ivf: per-cell file
    * collapse). Novelty is the xxhash64 node-table / cell anti-join
    * with exact-vector verify, so replayed micro-batches are no-ops —
    * the exactly-once property carries to the vector stores
    * unchanged. */
  def vectorStoreIngest(vecs: DataFrame, corpusDir: String,
                        compactEvery: Int = 0) =
    ingestSink(vecs, graft.sources.Stores.Embeddings, corpusDir,
      compactEvery)(identity)

  /** The lifecycle sink both grains share: per non-empty micro-batch,
    * ensure then append every store of `grain` (the batch passed
    * through `share` once, inside one checkpoint scope), and every
    * `compactEvery`-th batch compact them. */
  private def ingestSink(rows: DataFrame, grain: graft.sources.Stores.Grain,
                         corpusDir: String, compactEvery: Int)(
      share: DataFrame => DataFrame) = {
    val stores = graft.sources.Stores.all.filter(_.grain == grain)
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          graft.functions.Cp.scoped(s) {
            val b = share(batch.toDF())
            stores.foreach(_.ensure(s, corpusDir))
            stores.foreach(_.append(s, corpusDir, b))
          }
          if (compactEvery > 0 && (id + 1) % compactEvery == 0)
            stores.foreach(_.compact(s, corpusDir))
        }
      }
  }
}
