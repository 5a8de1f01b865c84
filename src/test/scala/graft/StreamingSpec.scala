package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Ev, SessionOut, StreamingOps}

/** JVM-singleton store: in local mode executors share the JVM, so the
  * per-partition upserts land here (production: a JDBC/KV client). */
object TestStore extends StreamingOps.UpsertClient {
  val m = new scala.collection.concurrent.TrieMap[String, Double]()
  override def upsert(key: String, value: Double): Unit = m.put(key, value)
}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000)

  private def ev(id: Long, min: Long, user: Long = 1,
                 typ: String = "click", v: Double = 1.0): Ev =
    Ev(id, ts(min), user, typ, v)


  test("streaming ANN enrichment matches the batch LSH top-k on the same data") {
    import spark.implicits._
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val qData = corpus.filter($"vec_id" < 3).collect().map { r =>
      (r.getLong(0), ts(10 + r.getLong(0)),
        r.getSeq[Float](1).toArray)
    }.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbors").collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(n => (n.getLong(0), n.getDouble(1)))
      }.toMap
    // batch run of the SAME function is the expected value
    val expected = canon(StreamingOps.annEnrich(
      qData.toDF("query_id", "ts", "embedding"), corpus, k = 3, nProbes = 1))
    assert(expected.size === 3 && expected.values.forall(_.nonEmpty))
    assert(expected.values.forall(ns =>
      ns == ns.sortBy(n => (-n._2, n._1))), "neighbors sorted by cos desc")
    val in = MemoryStream[(Long, Timestamp, Array[Float])](spark)
    val q = StreamingOps.annEnrich(
      in.toDF().toDF("query_id", "ts", "embedding"), corpus,
      k = 3, nProbes = 1)
      .writeStream.format("memory").queryName("ann")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(qData: _*)
      q.processAllAvailable()
      // windows close once the watermark passes: push it with a late row
      in.addData((999L, ts(10 + 24 * 60), Array.fill(64)(0.0f)))
      q.processAllAvailable()
      assert(canon(spark.table("ann").filter($"query_id" < 3)) === expected)
    } finally q.stop()
  }

  test("streaming histogram brackets the exact quantile with bounded state") {
    import spark.implicits._
    val data = (1 to 400).map(i =>
      ev(i, min = 5 + (i % 50), v = (i % 97) * 0.5)) // values 0..48
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.windowedHistogram(in.toDF(), bucketWidth = 4.0)
      .writeStream.format("memory").queryName("hist")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData(ev(9999, min = 24 * 60)) // push watermark, close the window
      q.processAllAvailable()
      val hist = spark.table("hist").filter($"window_start" === ts(0))
      // bounded state: at most ceil(48.5/4)+1 buckets regardless of rows
      assert(hist.count() <= 14)
      assert(hist.agg(org.apache.spark.sql.functions.sum($"n"))
        .head.getLong(0) === 400L)
      val Array(r) = StreamingOps.histogramPercentile(hist, 0.5, 4.0)
        .collect()
      val exact = data.map(_.value).sorted.apply((400 * 0.5).toInt)
      assert(r.getDouble(1) <= exact && exact < r.getDouble(2),
        s"p50=$exact not in [${r.getDouble(1)}, ${r.getDouble(2)})")
    } finally q.stop()
  }

  test("streaming A/B monitor matches batch decimal moments per arm") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, pmod, struct, sum}
    import graft.functions.TextFunctions.md5Prefix60
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = (1 to 200).map(i => ev(i, min = i % 30, user = i % 17,
      typ = if (i % 3 == 0) "click" else "purchase", v = (i % 50) * 1.37))
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.abMonitor(in.toDS()).toDF()
      .writeStream.format("memory").queryName("abmon")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(data.take(120): _*); q.processAllAvailable()
      in.addData(data.drop(120): _*); q.processAllAvailable()
      // cumulative counters are monotone per arm: the final state is
      // the row with the largest n
      val got = spark.table("abmon").groupBy($"arm")
        .agg(max(struct($"n", $"sumCents", $"sumSqCents")).as("s"))
        .select($"arm", $"s.n", $"s.sumCents", $"s.sumSqCents")
        .as[(Long, Long, Long, Long)].collect().toSet
      // batch moments with q_abtest's exact formulas (Spark's own
      // double->decimal cast), proving the Scala-side cents conversion
      // in the processor matches the engine's
      val want = data.filter(_.eventType == "purchase").toDF()
        .select(pmod(md5Prefix60($"userId".cast("string")), lit(2L)).as("arm"),
          ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .groupBy($"arm")
        .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
          sum($"cents" * $"cents").as("ss"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === want)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming sketches agree with their batch twins per window") {
    import spark.implicits._
    // 300 events, 40 distinct users, one hour window
    val data = (1 to 300).map(i => ev(i, min = i % 50, user = i % 40))
    val in = MemoryStream[Ev](spark)
    val qCm = StreamingOps.windowedCountMin(in.toDF())
      .writeStream.format("memory").queryName("scm")
      .outputMode(OutputMode.Append).start()
    val qHll = StreamingOps.windowedHll(in.toDF())
      .writeStream.format("memory").queryName("shll")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      qCm.processAllAvailable(); qHll.processAllAvailable()
      in.addData(ev(9999, min = 24 * 60)) // push watermark, close window
      qCm.processAllAvailable(); qHll.processAllAvailable()
      val batch = data.toDF()
      // CMS counters: identical to a batch groupBy over the same rows
      import graft.functions.TextFunctions.md5Prefix60
      import org.apache.spark.sql.functions.{explode, sequence, lit, pmod, concat, count}
      val wantCm = batch
        .select(explode(sequence(lit(0), lit(3))).as("d"),
          $"userId".cast("string").as("k"))
        .select($"d", pmod(md5Prefix60(concat($"d".cast("string"),
          lit(":"), $"k")), lit(64L)).as("bucket"))
        .groupBy($"d", $"bucket").agg(count(lit(1)).as("n"))
        .as[(Int, Long, Long)].collect().toSet
      val gotCm = spark.table("scm").filter($"window_start" === ts(0))
        .select($"d", $"bucket", $"n").as[(Int, Long, Long)]
        .collect().toSet
      assert(gotCm === wantCm)
      // HLL registers: identical to the batch construction, and the
      // estimate lands near the true 40 distinct users
      val gotHll = spark.table("shll").filter($"window_start" === ts(0))
        .select($"bucket", $"max_rho").as[(Long, Long)].collect().toMap
      val est = graft.functions.Hll.estimate(gotHll)
      assert(math.abs(est - 40.0) / 40.0 <= 0.3, s"estimate $est vs 40")
    } finally { qCm.stop(); qHll.stop() }
  }

  test("windowed BPE pair counts agree with an independent list-based count") {
    import spark.implicits._
    import graft.streaming.DocEv
    val texts = Seq("the quick Fox", "a theme, the queue", "x oo the")
    val docs = texts.zipWithIndex.map { case (t, i) => DocEv(ts(i + 1), t) }
    val in = MemoryStream[DocEv](spark)
    val q = StreamingOps.windowedBpePairs(in.toDF())
      .writeStream.format("memory").queryName("bpepairs")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs: _*); q.processAllAvailable()
      in.addData(DocEv(ts(24 * 60), "z")) // push watermark, close window
      q.processAllAvailable()
      val got = spark.table("bpepairs").filter($"window_start" === ts(0))
        .select($"pair", $"cnt").as[(String, Long)].collect().toMap
      // independent reference: plain Scala sliding(2) over the words
      val want: Map[String, Long] = texts
        .flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
        .flatMap(w => w.toSeq.sliding(2).filter(_.length == 2).toSeq)
        .groupBy(p => s"${p(0)} ${p(1)}")
        .map { case (k, v) => k -> v.size.toLong }
      assert(got === want)
      // single-char words ("a", "x", "z") contribute no pairs and must
      // not blow up the extraction (the sequence(1, 0) trap)
      assert(!got.keys.exists(_.length != 3))
    } finally q.stop()
  }

  test("windowed KMV sketch equals the batch k-minimum construction") {
    import spark.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    // JVM-side md5 must be byte-identical to the engine's hash family
    val engineHashes = Seq(1L, 7L, 12345L).toDF("u")
      .select(md5Prefix60($"u".cast("string"))).as[Long].collect().toSeq
    assert(engineHashes ===
      Seq(1L, 7L, 12345L).map(u => StreamingOps.md5Prefix60Jvm(u.toString)))

    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = (1 to 300).map(i => ev(i, min = i % 50, user = i % 40))
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.windowedKmv(in.toDS(), k = 16)
      .writeStream.format("memory").queryName("skmv")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(data: _*); q.processAllAvailable()
      val got = spark.table("skmv")
        .filter($"windowStartUs" === 0L)
        .select($"nReg", $"kth", $"regChecksum")
        .as[(Int, Long, Long)].head()
      // batch twin: k smallest distinct hashes of the same rows
      val regs = data.map(_.userId).distinct
        .map(u => StreamingOps.md5Prefix60Jvm(u.toString))
        .distinct.sorted.take(16)
      val want = (regs.size,
        regs.last,
        regs.zipWithIndex.map { case (h, i) =>
          h ^ ((i + 1).toLong * 1000003L) }.reduce(_ ^ _))
      assert((got._1, got._2, got._3) === want)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join matches purchases to in-window signups") {
    import spark.implicits._
    val signups = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val q = StreamingOps.intervalJoin(signups.toDS(), purchases.toDS(), 60)
      .writeStream.format("memory").queryName("sj").outputMode(OutputMode.Append).start()
    try {
      // signup at min 10; purchases at min 40 (in window) and min 200
      // (outside the 60-min interval); user 2 purchase with no signup
      signups.addData(ev(1, 10, typ = "signup"))
      purchases.addData(ev(2, 40, typ = "purchase", v = 9.0),
        ev(3, 200, typ = "purchase"), ev(4, 50, user = 2, typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("sj")
        .select($"userId", $"signup_event", $"purchase_event").as[(Long, Long, Long)]
        .collect().toSet
      assert(rows === Set((1L, 1L, 2L)))
      // a late-but-in-interval signup joins a buffered earlier purchase:
      // purchase at 220 arrives first, its signup at 170 arrives later
      signups.addData(ev(5, 170, typ = "signup"))
      purchases.addData(ev(6, 220, typ = "purchase"))
      q.processAllAvailable()
      val rows2 = spark.table("sj")
        .select($"signup_event", $"purchase_event").as[(Long, Long)].collect().toSet
      assert(rows2.contains((5L, 6L)))
    } finally q.stop()
  }


  test("stream-stream as-of join picks the LATEST in-horizon reference per probe") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val refs = MemoryStream[Ev](spark)
    val probes = MemoryStream[Ev](spark)
    val q = StreamingOps.asofEnrich(refs.toDS(), probes.toDS(),
        horizonMinutes = 60, watermark = "10 minutes")
      .writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: refs at 10 and 35; probes at 40 (→ ref 35, NOT 10),
      // 20 (→ ref 10), and 200 (horizon-expired → no match);
      // user 2: probe with no ref at all. Probe 20 ARRIVES AFTER
      // probe 40 (out of order); ref 35 arrives after probe 40 too.
      probes.addData(ev(100, 40))
      refs.addData(ev(1, 10, typ = "ref"))
      probes.addData(ev(101, 20), ev(102, 200), ev(103, 45, user = 2))
      refs.addData(ev(2, 35, typ = "ref"))
      q.processAllAvailable()
      // mature everything: advance both watermarks far past 200 + 10
      refs.addData(ev(8, 1000, user = 99, typ = "ref"))
      probes.addData(ev(9, 1000, user = 99))
      q.processAllAvailable()
      refs.addData(ev(10, 1010, user = 99, typ = "ref"))
      probes.addData(ev(11, 1010, user = 99))
      q.processAllAvailable()
      val got = spark.table("asof")
        .select($"userId", $"probeEvent", $"refEvent", $"lagUs")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.contains((1L, 100L, 2L, 5L * 60000000L)), got.toString)
      assert(got.contains((1L, 101L, 1L, 10L * 60000000L)), got.toString)
      assert(got.contains((1L, 102L, -1L, -1L)), got.toString) // horizon passed
      assert(got.contains((2L, 103L, -1L, -1L)), got.toString) // no ref ever
      // exactly one emission per probe (append-mode determinism)
      val perProbe = spark.table("asof").groupBy($"probeEvent").count()
        .as[(Long, Long)].collect().toMap
      assert(perProbe.values.forall(_ === 1L), perProbe.toString)

      // batch parity on the same event set: max-(ts,id) ref per probe
      val refB = Seq((1L, 10L), (2L, 35L), (8L, 1000L), (10L, 1010L))
        .toDF("refEvent", "rmin")
      val prbB = Seq((100L, 40L, 1L), (101L, 20L, 1L), (102L, 200L, 1L),
        (103L, 45L, 2L), (9L, 1000L, 99L), (11L, 1010L, 99L))
        .toDF("probeEvent", "pmin", "puser")
      val refU = Seq((1L, 10L, 1L), (2L, 35L, 1L), (8L, 1000L, 99L),
        (10L, 1010L, 99L)).toDF("refEvent", "rmin", "ruser")
      val expect = prbB.join(refU,
          $"ruser" === $"puser" && $"rmin" <= $"pmin" &&
            $"rmin" >= $"pmin" - 60, "left")
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"probeEvent")
            .orderBy($"rmin".desc_nulls_last, $"refEvent".desc_nulls_last)))
        .filter($"rk" === 1)
        .select($"puser", $"probeEvent",
          org.apache.spark.sql.functions.coalesce($"refEvent",
            org.apache.spark.sql.functions.lit(-1L)).as("refEvent"))
        // the user-99 sentinels only exist to advance the watermark;
        // the stream never matures them (nothing passes their ts)
        .filter($"puser" =!= 99L)
        .as[(Long, Long, Long)].collect().toSet
      val gotPar = spark.table("asof")
        .select($"userId", $"probeEvent", $"refEvent")
        .as[(Long, Long, Long)].collect().toSet
      assert(gotPar === expect, s"stream $gotPar vs batch $expect")
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("outer interval join emits unmatched purchases once the watermark passes") {
    import spark.implicits._
    val signups = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val q = StreamingOps.intervalJoinOuter(signups.toDS(), purchases.toDS(), 60)
      .writeStream.format("memory").queryName("soj").outputMode(OutputMode.Append).start()
    try {
      // user 1 converts; user 2 purchases with no signup at all
      signups.addData(ev(1, 10, typ = "signup"))
      purchases.addData(ev(2, 40, typ = "purchase"),
        ev(3, 45, user = 2, typ = "purchase"))
      q.processAllAvailable()
      // push BOTH watermarks far past 45 + 60-min interval + 60-min
      // watermark delay, so the unmatched row's state can expire
      signups.addData(ev(8, 1000, user = 99, typ = "signup"))
      purchases.addData(ev(9, 1000, user = 99, typ = "purchase"))
      q.processAllAvailable()
      // outer results are emitted by a subsequent batch after the
      // watermark advances; nudge one more microbatch through
      signups.addData(ev(10, 1010, user = 99, typ = "signup"))
      purchases.addData(ev(11, 1010, user = 99, typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("soj")
        .select($"userId", $"purchase_event",
          $"signup_event".isNull.as("unmatched")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(rows.contains((1L, 2L, false)), rows.toString)   // matched
      assert(rows.contains((2L, 3L, true)), rows.toString)    // emitted with nulls
    } finally q.stop()
  }


  test("streaming sessionization matches the batch twin on real table data") {
    import spark.implicits._
    // every event from the sf0.001 events table, fed through a
    // MemoryStream in timestamp order (so nothing is watermark-late),
    // must produce exactly the batch operator's per-user session stats
    val evs = graft.operators.Events.events(spark, sf)
      .select($"event_id", $"ts_us", $"user_id", $"event_type", $"value")
      .collect()
      .map(r => Ev(r.getLong(0), new Timestamp(r.getLong(1) / 1000),
        r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.eventId))
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("parity").outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // flush: march a sentinel user's events far past every timeout
      val maxMin = evs.map(_.ts.getTime / 60000).max
      in.addData(ev(900001L, maxMin + 10000, user = 900001L))
      q.processAllAvailable()
      in.addData(ev(900002L, maxMin + 20000, user = 900001L))
      q.processAllAvailable()
      val streamed = spark.table("parity").as[SessionOut]
        .filter(_.userId != 900001L)
        .collect().groupBy(_.userId)
        .map { case (u, ss) => (u, ss.length.toLong, ss.map(_.nEvents).sum) }
        .toSet
      val batch = graft.operators.Events.qSessionize(spark, sf)
        .select($"user_id", $"n_sessions", $"n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }


  test("streaming funnel matches the batch twin's conversions on real table data") {
    import spark.implicits._
    val evs = graft.operators.Events.events(spark, sf)
      .select($"event_id", $"ts_us", $"user_id", $"event_type", $"value")
      .collect()
      .map(r => Ev(r.getLong(0), new Timestamp(r.getLong(1) / 1000),
        r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.eventId))
    val in = MemoryStream[Ev](spark)
    // horizon beyond the dataset's time span so no state times out early
    val q = StreamingOps.funnel(in.toDS(), horizonMinutes = 1000000)
      .writeStream.format("memory").queryName("fparity").outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // the Ev model carries millisecond Timestamps, so compare at ms
      val streamed = spark.table("fparity")
        .select($"userId", $"signupUs" / 1000, $"purchaseUs" / 1000)
        .as[(Long, Double, Double)].collect()
        .map(t => (t._1, t._2.toLong, t._3.toLong)).toSet
      val batch = graft.operators.Events.qFunnel(spark, sf)
        .filter($"first_purchase_after".isNotNull)
        .select($"user_id",
          org.apache.spark.sql.functions.unix_millis($"first_signup"),
          org.apache.spark.sql.functions.unix_millis($"first_purchase_after"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }


  test("watermarked tumbling window counts match the batch shape") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.windowedCounts(in.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Complete).start()
    try {
      in.addData(ev(1, 10), ev(2, 20), ev(3, 70), ev(4, 80, typ = "view"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select($"window_start", $"eventType", $"n").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2))).toSet
      assert(rows === Set((0L, "click", 2L), (60L, "click", 1L), (60L, "view", 1L)))
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap or timeout") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 9 min apart (one session), then a 60-min gap.
      // Start at minute 1: an event AT the initial watermark (epoch 0)
      // would be dropped as late.
      in.addData(ev(1, 1), ev(2, 10))
      q.processAllAvailable()
      in.addData(ev(3, 70))
      q.processAllAvailable()
      // push watermark far ahead so the open session times out
      in.addData(ev(9, 500, user = 99))
      q.processAllAvailable()
      in.addData(ev(10, 600, user = 99))
      q.processAllAvailable()
      val sessions = spark.table("sess").as[graft.streaming.SessionOut]
        .collect().filter(_.userId == 1).sortBy(_.startUs)
      assert(sessions.length === 2)
      assert(sessions(0).nEvents === 2 && sessions(0).startUs === 60000000L)
      assert(sessions(1).nEvents === 1 && sessions(1).startUs === 70L * 60000000L)
    } finally q.stop()
  }

  test("sliding windows emit one row per covering window") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.slidingCounts(in.toDF(), "1 hour", "30 minutes", "30 minutes")
      .writeStream.format("memory").queryName("sw").outputMode(OutputMode.Complete).start()
    try {
      in.addData(ev(1, 45)) // covers windows starting at 0 and 30
      q.processAllAvailable()
      val starts = spark.table("sw").collect()
        .map(_.getTimestamp(0).getTime / 60000).sorted
      assert(starts.toSeq === Seq(0L, 30L))
    } finally q.stop()
  }

  test("stream-static enrich joins each event to its dimension row") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("userId", "tier")
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.enrich(in.toDF(), dim, "userId")
      .writeStream.format("memory").queryName("en").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, user = 1), ev(2, 2, user = 2), ev(3, 3, user = 77))
      q.processAllAvailable()
      val rows = spark.table("en").select($"eventId", $"tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows === Set((1L, "gold"), (2L, "silver"))) // user 77 has no dim row
    } finally q.stop()
  }

  test("late in-watermark event never regresses session boundaries") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("late").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 100))
      q.processAllAvailable()
      in.addData(ev(2, 85)) // late but within the 30-min watermark
      q.processAllAvailable()
      // close the session by timeout
      in.addData(ev(8, 500, user = 99)); q.processAllAvailable()
      in.addData(ev(9, 600, user = 99)); q.processAllAvailable()
      val s = spark.table("late").as[graft.streaming.SessionOut]
        .collect().filter(_.userId == 1)
      assert(s.length === 1)
      assert(s.head.startUs === 85L * 60000000L) // extended backwards
      assert(s.head.endUs === 100L * 60000000L)  // not regressed
      assert(s.head.nEvents === 2)
    } finally q.stop()
  }

  test("funnel converts when the purchase arrives before a late signup") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.funnel(in.toDS())
      .writeStream.format("memory").queryName("fn2").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 100, typ = "purchase"))
      q.processAllAvailable()
      in.addData(ev(2, 90, typ = "signup")) // arrives later, timestamped earlier
      q.processAllAvailable()
      val conv = spark.table("fn2").as[graft.streaming.Conversion].collect()
      assert(conv.length === 1)
      assert(conv.head.lagUs === 10L * 60000000L)
    } finally q.stop()
  }

  test("streaming SCD2 closed intervals match the batch lag/lead build") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // three users, state changes + same-state repeats, multi-batch
    val types = Seq("view", "view", "click", "buy", "buy", "view")
    val batch1 = (0 until 12).map(i =>
      ev(i, min = 10 + i * 3, user = i % 3, typ = types(i % 6)))
    val batch2 = (12 until 24).map(i =>
      ev(i, min = 10 + i * 3, user = i % 3, typ = types((i / 2) % 6)))
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.scd2(in.toDS())
      .writeStream.format("memory").queryName("scd2s")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("scd2s").as[graft.streaming.ScdOut]
        .collect().toSet
      // batch twin: the q_scd2 lag/lead/row_number build on the same
      // rows; closed intervals only (valid_to non-null)
      val all = (batch1 ++ batch2).toDS()
      val w = Window.partitionBy($"userId").orderBy($"ts".asc, $"eventId".asc)
      val want = all
        .withColumn("prev", lag($"eventType", 1).over(w))
        .filter($"prev".isNull || $"prev" =!= $"eventType")
        .select($"userId", $"eventType".as("state"),
          (unix_timestamp($"ts") * 1000000L).as("validFromUs"),
          (unix_timestamp(lead($"ts", 1).over(w)) * 1000000L)
            .as("validToUs"),
          row_number().over(w).cast("long").as("version"))
        .filter($"validToUs".isNotNull)
        .as[graft.streaming.ScdOut].collect().toSet
      assert(want.nonEmpty && got === want)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("SCD2 → manifest sink: exactly-once dimension state under restart") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("scdmf")
      .toFile.getAbsolutePath
    val (dir, ck) = (s"$base/table", s"$base/ck")
    val types = Seq("view", "view", "click", "buy", "buy", "view")
    val batch1 = (0 until 12).map(i =>
      ev(i, min = 10 + i * 3, user = i % 3, typ = types(i % 6)))
    val batch2 = (12 until 24).map(i =>
      ev(i, min = 10 + i * 3, user = i % 3, typ = types((i / 2) % 6)))
    val in = MemoryStream[Ev](spark)
    def start() = StreamingOps.scd2ToManifest(in.toDS(), dir)
      .option("checkpointLocation", ck).start()
    def state() = graft.sources.ManifestTable.read(spark, dir)
      .select($"userId", $"state", $"validFromUs", $"validToUs", $"version")
      .as[graft.streaming.ScdOut].collect().toSet
    val q1 = start()
    in.addData(batch1: _*); q1.processAllAvailable()
    q1.stop()
    val q2 = start() // restart: ValueState must resume from checkpoint
    try {
      in.addData(batch2: _*); q2.processAllAvailable()
      val got = state()
      // batch twin over BOTH batches — restart must not re-open or
      // duplicate any interval
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val all = (batch1 ++ batch2).toDS()
      val w = Window.partitionBy($"userId").orderBy($"ts".asc, $"eventId".asc)
      val want = all
        .withColumn("prev", lag($"eventType", 1).over(w))
        .filter($"prev".isNull || $"prev" =!= $"eventType")
        .select($"userId", $"eventType".as("state"),
          (unix_timestamp($"ts") * 1000000L).as("validFromUs"),
          (unix_timestamp(lead($"ts", 1).over(w)) * 1000000L)
            .as("validToUs"),
          row_number().over(w).cast("long").as("version"))
        .filter($"validToUs".isNotNull)
        .as[graft.streaming.ScdOut].collect().toSet
      assert(want.nonEmpty && got === want)
      // at-least-once replay: re-merging deterministic rows on the
      // unique (userId, version) key is a content no-op
      val replay = got.take(2).toSeq.toDF()
        .withColumn("rowKey", $"userId" * 1000000L + $"version")
      graft.sources.ManifestTable.merge(spark, dir, replay, "rowKey")
      assert(state() === got)
    } finally {
      q2.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnel survives click-only users at realistic horizons") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    // 60-min horizon: with the old epoch-anchored timeout, batch 3
    // below threw "timeout timestamp cannot be earlier than watermark"
    val q = StreamingOps.funnel(in.toDS(), horizonMinutes = 60)
      .writeStream.format("memory").queryName("fclk").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 10, user = 7, typ = "click"))
      q.processAllAvailable()
      // event time jumps far ahead; the watermark passes epoch+horizon
      in.addData(ev(2, 5000, user = 8, typ = "signup"))
      q.processAllAvailable()
      // a click-only user above the watermark ends the batch with an
      // empty funnel state — it must simply not be persisted
      in.addData(ev(3, 5020, user = 7, typ = "click"))
      q.processAllAvailable()
      in.addData(ev(4, 5010, user = 8, typ = "purchase"))
      q.processAllAvailable()
      val conv = spark.table("fclk").as[graft.streaming.Conversion].collect()
      assert(conv.map(_.userId).toSet === Set(8L))
    } finally q.stop()
  }

  test("funnel: stale pending-purchase timer must not wipe a live signup") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.funnel(in.toDS(), horizonMinutes = 60)
      .writeStream.format("memory").queryName("ftstale").outputMode(OutputMode.Append).start()
    try {
      // pre-signup purchase anchors a 61-min timeout...
      in.addData(ev(1, 1, typ = "purchase"))
      q.processAllAvailable()
      // ...then the signup lands, the unconvertible pending purchase is
      // dropped, and the anchor moves LATER (horizon now 65 min) — the
      // 61-min expiry is stale
      in.addData(ev(2, 5, typ = "signup"))
      q.processAllAvailable()
      // advance the watermark past 61 min (not 65): a stale expiry
      // firing here would wipe the live signup state
      in.addData(ev(3, 92, user = 99, typ = "click"))
      q.processAllAvailable()
      in.addData(ev(4, 93, user = 99, typ = "click"))
      q.processAllAvailable()
      // a purchase inside the signup's horizon must still convert
      in.addData(ev(5, 64, typ = "purchase"))
      q.processAllAvailable()
      val conv = spark.table("ftstale").as[graft.streaming.Conversion]
        .collect().filter(_.userId == 1L)
      assert(conv.length === 1)
      assert(conv.head.signupUs === 5L * 60000000L)
      assert(conv.head.purchaseUs === 64L * 60000000L)
    } finally q.stop()
  }

  test("streaming funnel emits one conversion per user, across batches") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.funnel(in.toDS())
      .writeStream.format("memory").queryName("fn").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, typ = "signup"), ev(2, 5, typ = "view"))
      q.processAllAvailable()
      assert(spark.table("fn").count() === 0) // no purchase yet
      in.addData(ev(3, 20, typ = "purchase"), ev(4, 30, typ = "purchase"))
      q.processAllAvailable()
      val conv = spark.table("fn").as[graft.streaming.Conversion].collect()
      assert(conv.length === 1) // second purchase doesn't re-convert
      assert(conv.head.userId === 1L)
      assert(conv.head.lagUs === 19L * 60000000L)
    } finally q.stop()
  }

  test("foreachBatch upsert sink pushes running totals to a keyed store") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.upsertTotals(in.toDF(), TestStore).start()
    try {
      TestStore.m.clear()
      in.addData(ev(1, 1, v = 2.0), ev(2, 2, v = 3.0))
      q.processAllAvailable()
      assert(TestStore.m.get("click") === Some(5.0))
      in.addData(ev(3, 3, v = 10.0), ev(4, 4, typ = "view", v = 1.0))
      q.processAllAvailable()
      assert(TestStore.m.get("click") === Some(15.0))
      assert(TestStore.m.get("view") === Some(1.0))
    } finally q.stop()
  }

  test("stream-static dedup drops corpus-known and in-stream duplicate fingerprints") {
    import spark.implicits._
    import org.apache.spark.sql.functions.md5
    val in = MemoryStream[Ev](spark)
    val stream = in.toDF()
      .withColumn("fp", md5($"eventType".cast("binary")))
    val corpus = Seq("known").toDF("content")
      .select(md5($"content".cast("binary")).as("fp"))
    val q = StreamingOps.dedupVsCorpus(stream, corpus)
      .writeStream.format("memory").queryName("dvc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 10, typ = "known"), ev(2, 11, typ = "novel"),
        ev(3, 12, typ = "novel"), ev(4, 13, typ = "fresh"))
      q.processAllAvailable()
      val out = spark.table("dvc").select($"eventId").as[Long].collect().toSet
      assert(!out.contains(1L), "corpus-known fingerprint must be dropped")
      assert(out.intersect(Set(2L, 3L)).size === 1,
        "exactly one of the in-stream duplicates survives")
      assert(out.contains(4L), "novel fingerprint must pass")
    } finally q.stop()
  }

  test("manifest upsert sink: exactly-once table state, idempotent under replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mupsert")
      .toFile.getAbsolutePath + "/table"
    val in = MemoryStream[Ev](spark)
    val totals = in.toDF()
      .groupBy($"eventType")
      .agg(org.apache.spark.sql.functions.sum($"value").as("total"))
    val q = StreamingOps.manifestUpsert(totals, dir, "eventType").start()
    def state() = graft.sources.ManifestTable.read(spark, dir)
      .as[(String, Double)].collect().toMap
    try {
      in.addData(ev(1, 1, v = 2.0), ev(2, 2, v = 3.0))
      q.processAllAvailable()
      assert(state() === Map("click" -> 5.0))
      in.addData(ev(3, 3, v = 10.0), ev(4, 4, typ = "view", v = 1.0))
      q.processAllAvailable()
      assert(state() === Map("click" -> 15.0, "view" -> 1.0))
    } finally q.stop()
    // at-least-once replay: re-merging the last batch's emission is a
    // content no-op — table state identical, just a new snapshot
    graft.sources.ManifestTable.merge(spark, dir,
      Seq(("click", 15.0), ("view", 1.0)).toDF("eventType", "total"),
      "eventType")
    assert(state() === Map("click" -> 15.0, "view" -> 1.0))
  }

  test("streaming pipeline writes a queryable parquet sink with checkpoint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sink").toFile.getAbsolutePath
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.dedup(in.toDF(), "30 minutes")
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .start()
    try {
      in.addData(ev(1, 1), ev(1, 2), ev(2, 3))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/out")
      assert(back.select("eventId").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
      // exactly-once bookkeeping exists
      assert(new java.io.File(s"$dir/ckpt").exists())
    } finally q.stop()
  }

  test("incremental packer matches a plain cumulative pack, state spans batches") {
    import spark.implicits._
    import graft.streaming.{PackDoc, PackOut}
    val budget = 10L
    val shards = 4
    // deterministic "hashes" chosen to hit several shards and force
    // bin-boundary spans (nTok up to 7 against budget 10)
    val docs = (1L to 40L).map(i => PackDoc(i, i * 37 % 101, i % 7 + 1))
    val batches = docs.grouped(20).toSeq
    // expected: arrival-order append, (h, docId)-sorted within a batch
    val cums = scala.collection.mutable.Map.empty[Long, Long]
    val expected = batches.flatMap { b =>
      b.groupBy(d => ((d.h % shards) + shards) % shards).toSeq.flatMap {
        case (shard, ds) =>
          ds.sortBy(d => (d.h, d.docId)).map { d =>
            val cum = cums.getOrElse(shard, 0L) + d.nTok
            cums(shard) = cum
            PackOut(d.docId, shard, (cum - d.nTok) / budget, (cum - 1) / budget)
          }
      }
    }.toSet
    val in = MemoryStream[PackDoc](spark)
    val q = StreamingOps.packDocs(in.toDS(), budget, shards)
      .writeStream.format("memory").queryName("pk")
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("pk").as[PackOut].collect().toSet
      assert(got === expected)
      // the second batch MUST have continued shard tails, not restarted
      val secondBatchIds = batches(1).map(_.docId).toSet
      assert(got.exists(p => secondBatchIds(p.docId) && p.firstBin > 0),
        "batch-2 docs should land in later bins via carried state")
    } finally q.stop()
  }

  test("incremental packer resumes shard tails across a restart") {
    import spark.implicits._
    import graft.streaming.{PackDoc, PackOut}
    val dir = java.nio.file.Files.createTempDirectory("pkck").toFile.getAbsolutePath
    val in = MemoryStream[PackDoc](spark)
    def start() = StreamingOps.packDocs(in.toDS(), budget = 10L, shards = 2)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck")
      .outputMode(OutputMode.Append)
      .start()
    val q1 = start()
    // shard of h: h % 2 → docs 1..6 alternate shards; 9 tokens each
    in.addData((1L to 6L).map(i => PackDoc(i, i, 9L)): _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      in.addData((7L to 8L).map(i => PackDoc(i, i, 9L)): _*)
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out").as[PackOut]
        .collect().map(p => p.docId -> p).toMap
      // pre-restart: three 9-token docs per shard → cums 9,18,27
      // post-restart doc 7 (shard 1) and 8 (shard 0) are each their
      // shard's FOURTH doc: cum 36, bins (27/10, 35/10) = (2, 3)
      assert(got.size === 8)
      for (id <- Seq(7L, 8L)) {
        assert(got(id).firstBin === 2L, s"doc $id must resume, not restart")
        assert(got(id).lastBin === 3L)
      }
    } finally q2.stop()
  }

  test("packer → manifest sink: exactly-once packed table state under restart") {
    import spark.implicits._
    import graft.streaming.{PackDoc, PackOut}
    val base = java.nio.file.Files.createTempDirectory("pkmf")
      .toFile.getAbsolutePath
    val (dir, ck) = (s"$base/table", s"$base/ck")
    val in = MemoryStream[PackDoc](spark)
    def start() = StreamingOps.packToManifest(in.toDS(), dir,
        budget = 10L, shards = 2)
      .option("checkpointLocation", ck).start()
    def state() = graft.sources.ManifestTable.read(spark, dir)
      .as[PackOut].collect().map(p => p.docId -> p).toMap
    val q1 = start()
    in.addData((1L to 6L).map(i => PackDoc(i, i, 9L)): _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      in.addData((7L to 8L).map(i => PackDoc(i, i, 9L)): _*)
      q2.processAllAvailable()
      val got = state()
      // same arithmetic as the parquet-sink restart test: post-restart
      // docs are each their shard's fourth 9-token doc → bins (2, 3)
      assert(got.size === 8)
      for (id <- Seq(7L, 8L)) {
        assert(got(id).firstBin === 2L, s"doc $id must resume, not restart")
        assert(got(id).lastBin === 3L)
      }
      // at-least-once replay: re-merging a batch's deterministic rows
      // is a content no-op — table state identical, just a new snapshot
      graft.sources.ManifestTable.merge(spark, dir,
        Seq(got(7L), got(8L)).toDF(), "docId")
      assert(state() === got)
    } finally q2.stop()
  }

  test("restart from checkpoint neither loses nor duplicates output") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toFile.getAbsolutePath
    val in = MemoryStream[Ev](spark)
    def start() = StreamingOps.dedup(in.toDF(), "30 minutes")
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck")
      .outputMode(OutputMode.Append)
      .start()
    val q1 = start()
    in.addData(ev(1, 1), ev(2, 2))
    q1.processAllAvailable()
    q1.stop()
    // second incarnation resumes from the same checkpoint
    val q2 = start()
    try {
      in.addData(ev(2, 3), ev(3, 4)) // 2 is a duplicate from before the restart
      q2.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/out")
        .select("eventId").collect().map(_.getLong(0)).sorted
      assert(ids === Array(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("streaming dedup drops repeated event ids within the watermark") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.dedup(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 0), ev(1, 1), ev(2, 2), ev(2, 2), ev(3, 3))
      q.processAllAvailable()
      assert(spark.table("dd").select("eventId").collect().map(_.getLong(0)).sorted
        === Array(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming heavy hitters keep every true heavy hitter across batches") {
    import graft.streaming.{HhOut, TokenEv}
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val k = 8
    // Zipf-ish stream over two windows; enough tail to force evictions
    def tok(min: Long, term: String) = TokenEv(ts(min), term)
    val w0 = (1 to 300).map(i => tok(i % 50, // window [0h, 1h)
      if (i % 3 == 0) "hot" else if (i % 5 == 0) "warm" else s"t$i"))
    val w1 = (1 to 200).map(i => tok(70 + i % 40, // window [1h, 2h)
      if (i % 2 == 0) "big" else s"u$i"))
    val in = MemoryStream[TokenEv](spark)
    val q = StreamingOps.windowedHeavyHitters(in.toDS(), k = k)
      .writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Update).start()
    try {
      // split mid-stream: MG state must carry across micro-batches
      val all = w0 ++ w1
      val (a, b) = all.splitAt(all.size / 2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      val out = spark.table("hh").as[HhOut].collect()
        .groupBy(_.windowStartUs)
        .map { case (w, rows) =>
          w -> rows.maxBy(_.nSeen).candidates.toSet }
      def exactHh(xs: Seq[TokenEv]): Set[String] = {
        val counts = xs.groupBy(_.term).view.mapValues(_.size)
        counts.filter(_._2 * (k + 1) > xs.size).keys.toSet
      }
      val byWindow = all.groupBy(t =>
        Math.floorDiv(t.ts.getTime * 1000, 3600L * 1000000) * 3600L * 1000000)
      assert(byWindow.size === 2)
      byWindow.foreach { case (w, xs) =>
        val must = exactHh(xs)
        assert(must.nonEmpty, s"test stream for window $w has no HH")
        val got = out(w)
        assert((must -- got).isEmpty,
          s"window $w lost true heavy hitters ${must -- got}")
        assert(got.size <= k, s"window $w summary exceeds k: ${got.size}")
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ksDrift readout is the exact integer KS of histogram vs reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val data = (1 to 300).map(i => ev(i, min = i % 50, v = (i % 37) * 1.0))
    val in = MemoryStream[Ev](spark)
    val q = StreamingOps.windowedHistogram(in.toDF(), bucketWidth = 5.0)
      .writeStream.format("memory").queryName("drifthist")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData(ev(9999, min = 24 * 60))
      q.processAllAvailable()
      val hist = spark.table("drifthist").filter($"window_start" === ts(0))
      // shifted reference: buckets 2..11 with a flat profile
      val ref = (2 to 11).map(b => (b.toLong, 30L)).toDF("bucket", "n")
      val Array(r) = StreamingOps.ksDrift(hist, ref)
        .select($"n_stream", $"n_ref", $"ks").collect()
      // expected: exact integer cumulative compare over the union spine
      val sc = data.map(e => math.floor(e.value / 5.0).toLong)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val rc = (2 to 11).map(b => b.toLong -> 30L).toMap
      val spine = (sc.keySet ++ rc.keySet).toSeq.sorted
      val ns = sc.values.sum; val nr = rc.values.sum
      var cs = 0L; var cr = 0L
      val num = spine.map { b =>
        cs += sc.getOrElse(b, 0L); cr += rc.getOrElse(b, 0L)
        math.abs(cs * nr - cr * ns)
      }.max
      assert(r.getLong(0) === ns && r.getLong(1) === nr)
      assert(r.getDouble(2) ===
        BigDecimal(num.toDouble / (ns.toDouble * nr.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally q.stop()
  }

  test("streaming DSIR scorer matches the batch scoring row-for-row") {
    import spark.implicits._
    import graft.streaming.AdmitDoc
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"text").filter($"doc_id" < 80)
    // model from the standing corpus (held-out docs excluded)
    val weights = graft.operators.Sampling
      .dsirWeights(docs.filter(pmod($"doc_id", lit(10)) =!= 3))
    val incoming = docs.filter(pmod($"doc_id", lit(10)) === 3)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    assert(incoming.nonEmpty)
    val asDocs = incoming.zipWithIndex
      .map { case ((id, t), i) => AdmitDoc(id, ts(i + 1), t) }
    // batch expectation: SAME function, non-streaming frame
    val want = graft.streaming.StreamingOps
      .dsirScore(asDocs.toDF(), weights)
      .select($"doc_id", $"n_tokens", $"score", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet

    val in = MemoryStream[AdmitDoc](spark)
    val q = graft.streaming.StreamingOps.dsirScore(in.toDF(), weights)
      .writeStream.format("memory").queryName("dsirscore")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(asDocs: _*)
      q.processAllAvailable()
      // push the watermark past every doc so Append emits them
      in.addData(AdmitDoc(-1L, ts(24 * 60), "sentinel doc text"))
      q.processAllAvailable()
      val got = spark.table("dsirscore").filter($"doc_id" >= 0)
        .select($"doc_id", $"n_tokens", $"score", $"keep")
        .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(got === want)
      // scores must discriminate: not all docs on one side would make
      // the parity check vacuous as a scoring test
      assert(got.map(_._3).size > 1)
    } finally q.stop()
  }

  test("windowed span-coverage monitor matches batch rollup and spanAdmit") {
    import spark.implicits._
    import graft.streaming.AdmitDoc
    import graft.functions.TextFunctions.md5Prefix60
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val spanExpr = "transform(sequence(1, greatest(size(split(text,' '))" +
      " - 7, 1)), i -> concat_ws(' ', slice(split(text,' '), i, 8)))"
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 3)
      .select(explode(expr(spanExpr)).as("span"))
      .select(md5Prefix60($"span").as("h")).distinct()
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 3)
      .as[(Long, String)].collect().toSeq
    assert(batch.nonEmpty)
    // spread docs over two event-time windows so the window key is live
    val asDocs = batch.zipWithIndex.map { case ((id, t), i) =>
      AdmitDoc(id, ts(if (i % 2 == 0) 1 else 90), t) }
    // batch expectation 1: the SAME function on a non-streaming frame
    val want = graft.streaming.StreamingOps
      .spanCoverageMonitor(asDocs.toDF(), corpus)
      .as[(java.sql.Timestamp, Long, Long, Long, Long)].collect().toSet
    // batch expectation 2: the monitor is the exact rollup of the
    // spanAdmit per-doc decisions — same gate, same buckets
    val fromAdmit = graft.streaming.StreamingOps
      .spanAdmit(asDocs.toDF(), corpus)
      .groupBy(window($"ts", "1 hour"),
        expr("cov_e9 div 100000000L").as("cov_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"admit".cast("long")).as("n_admitted"),
        sum($"cov_e9").as("sum_cov_e9"))
      .select($"window.start", $"cov_bucket", $"n_docs", $"n_admitted",
        $"sum_cov_e9")
      .as[(java.sql.Timestamp, Long, Long, Long, Long)].collect().toSet
    assert(want === fromAdmit)

    val in = MemoryStream[AdmitDoc](spark)
    val q = graft.streaming.StreamingOps
      .spanCoverageMonitor(in.toDF(), corpus)
      .writeStream.format("memory").queryName("spancov")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(asDocs: _*)
      q.processAllAvailable()
      // push the watermark far past every window so Append emits all
      in.addData(AdmitDoc(-1L, ts(24 * 60), "sentinel doc text"))
      q.processAllAvailable()
      in.addData(AdmitDoc(-2L, ts(48 * 60), "sentinel doc text two"))
      q.processAllAvailable()
      val got = spark.table("spancov")
        .filter($"window_start" < ts(24 * 60))
        .as[(java.sql.Timestamp, Long, Long, Long, Long)].collect().toSet
      assert(got === want)
      // the histogram is non-vacuous: two windows, all docs accounted
      assert(got.map(_._1).size === 2)
      assert(got.toSeq.map(_._3).sum === batch.size.toLong)
    } finally q.stop()
  }

  test("streaming span admission matches the batch decision row-for-row") {
    import spark.implicits._
    import graft.streaming.AdmitDoc
    import graft.functions.TextFunctions.md5Prefix60
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 60)
    val spanExpr = "transform(sequence(1, greatest(size(split(text,' '))" +
      " - 7, 1)), i -> concat_ws(' ', slice(split(text,' '), i, 8)))"
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 3)
      .select(explode(expr(spanExpr)).as("span"))
      .select(md5Prefix60($"span").as("h")).distinct()
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 3)
      .as[(Long, String)].collect().toSeq
    assert(batch.nonEmpty)
    // batch expectation: the SAME operator on a non-streaming frame
    // (withWatermark is a no-op in batch) — one code path, two modes
    val batchDf = batch.zipWithIndex
      .map { case ((id, t), i) => AdmitDoc(id, ts(i + 1), t) }
      .toDF()
    val want = graft.streaming.StreamingOps.spanAdmit(batchDf, corpus)
      .select($"doc_id", $"n_spans", $"n_hit", $"cov_e9", $"admit")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet

    val in = MemoryStream[AdmitDoc](spark)
    val q = graft.streaming.StreamingOps.spanAdmit(in.toDF(), corpus)
      .writeStream.format("memory").queryName("spanadmit")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(batch.zipWithIndex
        .map { case ((id, t), i) => AdmitDoc(id, ts(i + 1), t) }: _*)
      q.processAllAvailable()
      // push the watermark far past every doc so Append emits them
      in.addData(AdmitDoc(-1L, ts(24 * 60), "sentinel doc text"))
      q.processAllAvailable()
      val got = spark.table("spanadmit").filter($"doc_id" >= 0)
        .select($"doc_id", $"n_spans", $"n_hit", $"cov_e9", $"admit")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
      assert(got === want)
      // at least one admit decision in each direction would be ideal;
      // require the set to be nonvacuous either way
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming curation end-to-end: gate → pack → manifest equals batch") {
    import spark.implicits._
    import graft.streaming.{AdmitDoc, PackOut}
    import graft.functions.TextFunctions.md5Prefix60
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"text").filter($"doc_id" < 80)
    val spanExpr = "transform(sequence(1, greatest(size(split(text,' '))" +
      " - 7, 1)), i -> concat_ws(' ', slice(split(text,' '), i, 8)))"
    val standing = docs.filter(pmod($"doc_id", lit(10)) =!= 3)
    val corpus = standing.select(explode(expr(spanExpr)).as("span"))
      .select(md5Prefix60($"span").as("h")).distinct()
    val weights = graft.operators.Sampling.dsirWeights(standing)
    val incoming = docs.filter(pmod($"doc_id", lit(10)) === 3)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    assert(incoming.nonEmpty)
    val asDocs = incoming.zipWithIndex
      .map { case ((id, t), i) => AdmitDoc(id, ts(i + 1), t) }
    // minScore at the batch median so `keep` discriminates
    val allScores = StreamingOps.dsirScore(asDocs.toDF(), weights)
      .select($"score").as[Long].collect().sorted
    val minScore = allScores(allScores.length / 2)
    val (budget, shards) = (50L, 2)

    // the unified gate IS spanAdmit ⋈ dsirScore (batch mode, one pass)
    val gateB = StreamingOps.admitAndScore(asDocs.toDF(), corpus, weights,
      minScore = minScore)
    val parent = StreamingOps.spanAdmit(asDocs.toDF(), corpus)
      .join(StreamingOps.dsirScore(asDocs.toDF(), weights,
        minScore = minScore), Seq("doc_id", "ts"))
      .select($"doc_id", $"n_spans", $"n_hit", $"cov_e9", $"admit",
        $"n_tokens", $"score", $"keep")
    // parity contract: docs with >=1 span AND >=1 token (the unified
    // gate additionally emits a decision row for span-only/token-only
    // docs that the INNER-join parent drops — see admitAndScore doc)
    assert(gateB.filter($"n_spans" > 0 && $"n_tokens" > 0)
      .select($"doc_id", $"n_spans", $"n_hit", $"cov_e9",
        $"admit", $"n_tokens", $"score", $"keep")
      .collect().map(_.toString).sorted.toSeq ===
      parent.collect().map(_.toString).sorted.toSeq)

    // batch twin of the FULL chain: survivors → (h, docId)-sorted
    // cumulative pack per shard, same arithmetic as packDocs
    val surv = gateB.filter($"admit" && $"keep")
      .select($"doc_id", md5Prefix60($"doc_id".cast("string")).as("h"),
        $"n_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(surv.nonEmpty && surv.size < incoming.size,
      "gate must discriminate for the parity to be non-vacuous")
    val want = surv.groupBy(t => ((t._2 % shards) + shards) % shards)
      .flatMap { case (shard, ds) =>
        var cum = 0L
        ds.sortBy(d => (d._2, d._1)).map { d =>
          cum += d._3
          d._1 -> PackOut(d._1, shard, (cum - d._3) / budget,
            (cum - 1) / budget)
        }
      }

    val base = java.nio.file.Files.createTempDirectory("cur8")
      .toFile.getAbsolutePath
    val in = MemoryStream[AdmitDoc](spark)
    val (gq, pq) = StreamingOps.curateIngest(in.toDF(), corpus, weights,
      s"$base/staging", s"$base/table", s"$base/ck",
      minScore = minScore, budget = budget, shards = shards)
    try {
      in.addData(asDocs: _*)
      gq.processAllAvailable()
      // watermark push: a STANDING doc's text is fully covered by the
      // corpus → admit=false, so the sentinel never reaches staging
      in.addData(AdmitDoc(-1L, ts(24 * 60),
        standing.select($"text").head.getString(0)))
      gq.processAllAvailable()
      pq.processAllAvailable()
      def state() = graft.sources.ManifestTable
        .read(spark, s"$base/table")
        .as[PackOut].collect().map(p => p.docId -> p).toMap
      val got = state()
      assert(got === want)
      // exactly-once under at-least-once replay: re-merging the same
      // deterministic rows is a content no-op
      graft.sources.ManifestTable.merge(spark, s"$base/table",
        got.values.toSeq.toDF(), "docId")
      assert(state() === got)
    } finally { gq.stop(); pq.stop() }
  }
}
