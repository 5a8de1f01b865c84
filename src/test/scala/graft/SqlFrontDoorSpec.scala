package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL FRONT DOOR: every custom capability a Scala user reaches
  * through the library API must be reachable from pure SQL TEXT on a
  * GraftExtensions session — scalar expressions via injectFunction,
  * the custom OPERATORS via injectTableFunction (asof_join /
  * range_join / topk_per_group TVFs). Each
  * test drives spark.sql(...) only, and asserts bit-equality against
  * the library path (which the DuckDB oracle gates) or a known-exact
  * expectation, plus the custom exec in the executed plan where one
  * is claimed.
  */
class SqlFrontDoorSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def executedContains(df: DataFrame, token: String): Boolean = {
    df.collect()
    df.queryExecution.executedPlan.toString.contains(token)
  }

  private lazy val views: Unit = {
    spark.read.parquet(s"$sf/documents.parquet")
      .createOrReplaceTempView("sql_docs")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .createOrReplaceTempView("sql_emb")
    spark.read.parquet(s"$sf/part.parquet")
      .createOrReplaceTempView("sql_part")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .createOrReplaceTempView("sql_lineitem")
    val ev = operators.Events.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"ts_us")
    ev.createOrReplaceTempView("sql_ev")
    ev.filter($"event_type" === "signup")
      .groupBy($"user_id".as("su"), $"ts_us".as("sts"))
      .agg(max($"event_id").as("signup_event"))
      .createOrReplaceTempView("sql_signups")
  }

  // 1. as-of join from SQL text: the TVF builds AsofJoinNode and the
  // result matches the oracle-gated union+running-max composition
  test("sql: asof_join TVF equals the composed as-of join, dedicated exec") {
    views
    val tvf = spark.sql(
      """SELECT event_id, ts_us, sts AS asof_time,
        |  signup_event AS asof_payload
        |FROM asof_join('sql_ev', 'sql_signups',
        |  'sql_ev.user_id', 'sql_signups.su',
        |  'sql_ev.ts_us', 'sql_signups.sts')""".stripMargin)
    assert(executedContains(tvf, "AsofJoin"))
    val composed = operators.AsofJoin.join(
      spark.table("sql_ev"),
      spark.table("sql_signups").withColumnRenamed("su", "user_id"),
      "user_id", "ts_us", "sts", "signup_event")
      .select($"event_id", $"ts_us", $"asof_time", $"asof_payload")
    assert(rows(tvf) === rows(composed))
  }

  // dedup pair pipeline from SQL text: the TVF returns the library's
  // pair plan over the view and must match jaccardPairs (the
  // oracle-gated substrate of the whole dup family) bit-for-bit,
  // including the df-cap
  test("sql: dedup_pairs TVF equals the library pair pipeline") {
    views
    val tvf = spark.sql(
      "SELECT doc_a, doc_b, na, nb, inter FROM dedup_pairs('sql_docs', 5, 256)")
    val lib = operators.Dedup.jaccardPairs(spark, sf)
      .select($"doc_a", $"doc_b", $"na", $"nb", $"inter")
    assert(rows(tvf) === rows(lib))
    assert(rows(tvf).nonEmpty)
    // the cap is live: an uncapped call yields at least as many pairs
    val uncapped = spark.sql(
      "SELECT count(*) FROM dedup_pairs('sql_docs', 5, 1000000)")
      .collect()(0).getLong(0)
    assert(uncapped >= rows(tvf).size)
  }

  // 2–3. range join from SQL text, inner + left_outer, vs the naive
  // overlap join it must agree with exactly
  test("sql: range_join TVF inner equals the naive overlap join") {
    views
    Seq((1L, 1L, 10L), (2L, 5L, 7L), (3L, 100L, 100L))
      .toDF("pid", "p_lo", "p_hi").createOrReplaceTempView("sql_pts")
    Seq((10L, 6L, 20L, "a"), (11L, 90L, 95L, "b"))
      .toDF("iid", "s", "e", "lbl").createOrReplaceTempView("sql_iv")
    val tvf = spark.sql(
      """SELECT pid, iid FROM range_join('sql_pts', 'sql_iv',
        |  'p_lo', 'p_hi', 's', 'e', 'inner')""".stripMargin)
    assert(executedContains(tvf, "RangeJoin"))
    val naive = spark.sql(
      """SELECT pid, iid FROM sql_pts JOIN sql_iv
        |ON p_lo <= e AND p_hi >= s""".stripMargin)
    assert(rows(tvf) === rows(naive))
  }

  test("sql: range_join TVF left_outer keeps unmatched probes") {
    views
    val tvf = spark.sql(
      """SELECT pid, iid FROM range_join('sql_pts', 'sql_iv',
        |  'p_lo', 'p_hi', 's', 'e', 'left_outer')""".stripMargin)
    val naive = spark.sql(
      """SELECT pid, iid FROM sql_pts LEFT JOIN sql_iv
        |ON p_lo <= e AND p_hi >= s""".stripMargin)
    assert(rows(tvf) === rows(naive))
  }

  // 4. explicit grouped top-k TVF
  test("sql: topk_per_group TVF equals the window formulation, custom exec") {
    views
    val tvf = spark.sql(
      """SELECT l_returnflag, l_orderkey, l_linenumber
        |FROM topk_per_group('sql_lineitem', 'l_returnflag',
        |  'l_orderkey', 'desc', 5)""".stripMargin)
    assert(executedContains(tvf, "TopKPerGroup"))
    val window = spark.sql(
      """SELECT l_returnflag, l_orderkey, l_linenumber FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_orderkey DESC) AS rn FROM sql_lineitem)
        |WHERE rn <= 5""".stripMargin)
    // the TVF has no tie-break column, so compare the deterministic
    // projection of the k extreme keys per group
    assert(rows(tvf.select($"l_returnflag", $"l_orderkey")) ===
      rows(window.select($"l_returnflag", $"l_orderkey")))
  }

  // 6. brute-force cosine ANN from SQL
  test("sql: cosine_sim top-k equals the library expression") {
    views
    val q = spark.sql(
      """SELECT b.vec_id,
        |  cosine_sim(a.embedding, b.embedding) AS cos
        |FROM sql_emb a JOIN sql_emb b ON a.vec_id = 0 AND b.vec_id > 0
        |ORDER BY cos DESC, b.vec_id ASC LIMIT 10""".stripMargin)
    val emb = spark.table("sql_emb")
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val lib = emb.filter($"vec_id" > 0).crossJoin(broadcast(qv))
      .select($"vec_id", graft.functions.VectorExpressions
        .cosineFast($"embedding", $"qe").as("cos"))
      .orderBy($"cos".desc, $"vec_id".asc).limit(10)
    assert(rows(q) === rows(lib))
  }

  // 7–8. minhash + shingle pipeline from SQL
  test("sql: shingle_hash60/minhash_sigs/sig_agree equal the library") {
    views
    val sqlSigs = spark.sql(
      """WITH s AS (SELECT doc_id,
        |  minhash_sigs(shingle_hash60(split(text, ' '), 3), 16) AS sig
        |  FROM sql_docs WHERE doc_id < 20)
        |SELECT a.doc_id, b.doc_id, sig_agree(a.sig, b.sig) AS ag
        |FROM s a JOIN s b ON a.doc_id < b.doc_id""".stripMargin)
    val lib = spark.table("sql_docs").filter($"doc_id" < 20)
      .select($"doc_id", graft.functions.MinHash.minhashSigs(
        graft.functions.MinHash.shingleHash60(
          split($"text", " "), 3), 16).as("sig"))
    val libPairs = lib.as("a").join(lib.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        graft.functions.MinHash.sigAgree($"a.sig", $"b.sig").as("ag"))
    assert(rows(sqlSigs) === rows(libPairs))
  }

  // 9. simhash from SQL
  test("sql: simhash32 equals the library expression") {
    views
    val q = spark.sql(
      """SELECT doc_id, simhash32(split(text, ' ')) AS sh
        |FROM sql_docs WHERE doc_id < 50""".stripMargin)
    val lib = spark.table("sql_docs").filter($"doc_id" < 50)
      .select($"doc_id",
        graft.functions.MinHash.simhash32(split($"text", " ")).as("sh"))
    assert(rows(q) === rows(lib))
  }

  // 10. Jaro–Winkler linkage scoring from SQL
  test("sql: jaro_winkler_sim equals the codegen expression") {
    views
    val q = spark.sql(
      """SELECT a.p_partkey, b.p_partkey,
        |  jaro_winkler_sim(a.p_name, b.p_name) AS jw
        |FROM sql_part a JOIN sql_part b
        |ON a.p_partkey < 20 AND b.p_partkey = a.p_partkey + 1""".stripMargin)
    val p = spark.table("sql_part")
    val lib = p.as("a").join(p.as("b"),
        $"a.p_partkey" < 20 && $"b.p_partkey" === $"a.p_partkey" + 1)
      .select($"a.p_partkey", $"b.p_partkey",
        graft.functions.StringSimilarity
          .jaroWinkler($"a.p_name", $"b.p_name").as("jw"))
    assert(rows(q) === rows(lib))
  }

  // 11. Hilbert space-filling index + decode from SQL
  test("sql: hilbert_d/hilbert_xy round-trip equals the kernel") {
    val q = spark.sql(
      """SELECT id, hilbert_d(x, y) AS h, hilbert_xy(hilbert_d(x, y)) AS xy
        |FROM VALUES (1, 3L, 5L), (2, 65535L, 0L), (3, 12345L, 54321L)
        |  AS t(id, x, y)""".stripMargin).collect()
    q.foreach { r =>
      val (x, y) = (r.getLong(2) / 65536L, r.getLong(2) % 65536L)
      assert(graft.functions.HilbertCurve.xy2d(x, y) === r.getLong(1))
    }
  }

  // span_trim TVF: the full trimmedDocsOf pipeline from SQL text —
  // byte-equal rewritten text for EVERY document vs the library path
  test("sql: span_trim TVF equals trimmedDocsOf byte-for-byte") {
    views
    val tvf = spark.sql(
      """SELECT doc_id, text, was_trimmed, ntok_before, ntok_after
        |FROM span_trim('sql_docs')""".stripMargin)
    val lib = operators.TextAnalysis
      .trimmedDocsOf(spark.table("sql_docs"))
      .select($"doc_id", concat_ws(" ", $"kept").as("text"),
        $"was_trimmed", $"ntok_before",
        size($"kept").cast("long").as("ntok_after"))
    assert(rows(tvf) === rows(lib))
    // the trim is live on this corpus (docs actually get rewritten)
    assert(tvf.filter($"was_trimmed").limit(1).count() === 1L)
    // the late-introduction hint regression class: SQL hint comments
    // never resolve in TVF plans, so the corpus-grown joins must be
    // merge-pinned STRUCTURALLY (the library plan's resolved hints) —
    // no broadcast anywhere in this plan (every join side is
    // corpus-grown)
    assert(!executedContains(tvf, "BroadcastHashJoin"),
      "span_trim TVF must never broadcast a corpus-grown side")
  }

  test("sql: dedup_pairs TVF keeps its self-join off the broadcast path") {
    views
    val tvf = spark.sql(
      "SELECT * FROM dedup_pairs('sql_docs', 5, 256)")
    assert(!executedContains(tvf, "BroadcastHashJoin"),
      "dedup_pairs TVF must never broadcast a corpus-grown side")
  }

  // semdedup TVF: the nearest-centroid assignment + ε-ball census
  // from SQL text equals the library path
  test("sql: semdedup TVF equals the library census") {
    views
    val tvf = spark.sql(
      "SELECT * FROM semdedup('sql_emb', '0.45')")
    val lib = operators.Similarity.qSemDedup(spark, sf)
    assert(rows(tvf) === rows(lib))
    assert(rows(tvf).nonEmpty)
    // tau is live: a lower threshold can only drop MORE vectors
    val loose = spark.sql(
      "SELECT sum(n_dropped) AS d FROM semdedup('sql_emb', '0.30')")
      .head().getLong(0)
    val strict = tvf.agg(sum($"n_dropped")).head().getLong(0)
    assert(loose >= strict)
  }

  // dsir_select TVF: hashed-unigram importance scoring + the bounded-
  // histogram exact top-k from SQL text equals the library selection
  test("sql: dsir_select TVF equals dsirScored + dsirSelectFrom") {
    views
    val docs = spark.table("sql_docs")
    val tvf = spark.sql(
      "SELECT doc_id, lang, score FROM dsir_select('sql_docs', 'en', 10)")
    val lib = operators.Sampling.dsirSelectFrom(
      operators.Sampling.dsirScored(
        docs.select($"doc_id", $"lang", $"text")),
      docs.count() / 10)
      .select($"doc_id", $"lang", $"score")
    assert(rows(tvf) === rows(lib))
    // the budget is live and exact
    assert(tvf.count() === docs.count() / 10)
  }

  // the curation-verb TVFs validate their outside input before any
  // work: arity, a bare-identifier table, the tau and language-tag
  // shapes, and a budget divisor of at least 1
  test("sql: dedup_pairs/span_trim/semdedup/dsir_select reject bad arguments") {
    views
    for ((call, msg) <- Seq(
      "dedup_pairs('sql_docs', 5)" -> "dedup_pairs(table, shingleN, dfCap)",
      "span_trim('sql_docs', 'x')" -> "span_trim(table)",
      "semdedup('sql_emb')" -> "semdedup(table, tau)",
      "dsir_select('sql_docs', 'en')" -> "dsir_select(table, targetLang, budgetDiv)",
      "dedup_pairs('sql docs', 5, 256)" -> "must be a plain identifier",
      "span_trim('1docs')" -> "must be a plain identifier",
      "semdedup('sql_emb;x', '0.45')" -> "must be a plain identifier",
      "dsir_select('sql-docs', 'en', 10)" -> "must be a plain identifier",
      "semdedup('sql_emb', '0.4x')" -> "semdedup tau must be a plain decimal",
      "dsir_select('sql_docs', 'en us', 10)" -> "must be a plain language tag",
      "dsir_select('sql_docs', 'en', 0)" -> "budgetDiv must be >= 1")) {
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT * FROM $call"))
      assert(e.getMessage.contains(msg), s"$call: ${e.getMessage}")
    }
  }

  // ann_graph TVF (EAGER: the beam walk runs at analysis time):
  // reproduces the oracle-gated q_ann_graph top-k over the same view
  test("sql: ann_graph TVF equals the library beam walk") {
    views
    val tvf = spark.sql("SELECT * FROM ann_graph('sql_emb')")
    val lib = operators.Similarity.qAnnGraph(spark, sf)
    assert(rows(tvf) === rows(lib))
    assert(rows(tvf).nonEmpty)
  }

  // dup_clusters TVF (EAGER: the CC loop runs at analysis time):
  // default params reproduce the oracle-gated q_dup_clusters census
  test("sql: dup_clusters TVF equals the library CC census") {
    views
    val tvf = spark.sql(
      "SELECT * FROM dup_clusters('sql_docs', 5, 256, 50)")
    val lib = operators.Dedup.qDupClusters(spark, sf)
    assert(rows(tvf) === rows(lib))
    assert(rows(tvf).nonEmpty)
    // the threshold is live: a looser tau admits more edges, so the
    // clustered-node universe can only grow
    val loose = spark.sql(
      "SELECT sum(n_docs) AS n FROM dup_clusters('sql_docs', 5, 256, 30)")
      .head().getLong(0)
    val strict = tvf.agg(sum($"n_docs")).head().getLong(0)
    assert(loose >= strict)
  }

  // standing-store admission TVFs (EAGER store ensure): the
  // production admission path — probe cost scales with the batch,
  // never the corpus — reachable from pure SQL text, equal to the
  // oracle-gated Scala entries, with the store side never broadcast
  // and still read as a bucketed scan (zero corpus-side exchange).
  // Plan-shape assertions need a corpus with PLANTED duplicates (the
  // FpStoreSpec fixture shape): on the shipped small SFs the probe
  // finds nothing and AQE's empty-relation propagation ERASES the
  // store branch from the final plan entirely.
  private lazy val storeDir: String = {
    val d = "/tmp/graft_sqlfd_store"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .filter(pmod($"doc_id", lit(10)) =!= 3)
    val donors = base.filter(size(split($"text", " ")) >= 60)
      .orderBy($"doc_id").limit(10).select($"text").as[String].collect()
    val batch = (0 until 20).map { i =>
      val id = 100000L + i * 10 + 3
      val text = if (i < 10) donors(i) + "!!" else s"novel text $i only here"
      (id, text, "en", if (i % 2 == 0) "web" else "books", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    base.unionByName(batch).write.mode("overwrite")
      .parquet(d + "/documents.parquet")
    d
  }

  test("sql: store-admit TVFs equal the library probes, store never broadcasts") {
    val sd = storeDir
    for ((sql, key, lib) <- Seq[(String, String, DataFrame)](
      (s"SELECT * FROM incremental_admit('$sd')", "fp",
        operators.Dedup.qIncrementalDedupStore(spark, sd)),
      (s"SELECT * FROM neardup_admit('$sd')", "bb",
        operators.Dedup.qNeardupAdmitStore(spark, sd)),
      (s"SELECT * FROM span_admit('$sd')", "h",
        operators.TextAnalysis.qSpanAdmitStore(spark, sd)))) {
      val tvf = spark.sql(sql)
      assert(rows(tvf) === rows(lib), sql)
      assert(rows(tvf).nonEmpty, sql)
      val p = tvf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SelectedBucketsCount"),
        s"$sql must read the store as a bucketed scan:\n$p")
      val probe = s"Exchange hashpartitioning($key"
      assert(p.sliding(probe.length).count(_ == probe) == 1,
        s"$sql: only the batch side may shuffle on $key:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"$sql: the store probe must be the merge join:\n$p")
    }
  }

  // THE FULL INGEST LIFECYCLE from SQL text only: 2 cycles of probe →
  // append_store → probe, then compact_store → probe, driven on one
  // corpus dir purely via spark.sql(...), must equal the Scala
  // maintenance path driven on a SECOND dir with identical content —
  // every probe bit-for-bit, every cycle. Covers every registered
  // store family: the bucketed document stores, the two-table graph
  // store with its insertion walk and the partitioned IVF store. A
  // SQL-only deployment can therefore run the whole loop — bootstrap,
  // admit, append, compact — with no Scala entry point.
  test("sql: 2-cycle append_store/compact_store loop equals the Scala path") {
    import graft.sources.Stores
    val sqlD = "/tmp/graft_sqlfd_ingest_sql"
    val scaD = "/tmp/graft_sqlfd_ingest_sca"
    for (d <- Seq(sqlD, scaD)) {
      spark.read.parquet(s"$sf/documents.parquet")
        .write.mode("overwrite").parquet(d + "/documents.parquet")
      spark.read.parquet(s"$sf/embeddings.parquet")
        .write.mode("overwrite").parquet(d + "/embeddings.parquet")
    }
    Stores.all.flatMap(st => st.tables(sqlD) ++ st.tables(scaD))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // per-cycle all-novel batches (the StoreSoak idiom), identical
    // content for both dirs
    def novel(grain: Stores.Grain, c: Int): DataFrame = grain match {
      case Stores.Documents => spark.read
        .parquet(s"$sqlD/documents.parquet")
        .filter(pmod($"doc_id", lit(10)) === 3)
        .withColumn("doc_id", $"doc_id" + lit(c * 1000000000L))
        .withColumn("text", concat(lit(s"soak$c "),
          regexp_replace($"text", " ", s" soak$c ")))
        .select($"doc_id", $"source", $"text")
      case Stores.Embeddings => spark.read
        .parquet(s"$sqlD/embeddings.parquet")
        .filter(pmod($"vec_id", lit(10)) === 3)
        .withColumn("vec_id", $"vec_id" + lit(c * 1000000000L))
        .withColumn("embedding",
          transform($"embedding", x => x + lit(c * 0.001f)))
        .select($"vec_id", $"embedding")
    }
    for (st <- Stores.all) {
      val f = st.family
      val probeSql = s"SELECT * FROM ${st.probeTvf}('$sqlD')"
      var lastRows = -1L
      for (c <- 1 to 2) {
        novel(st.grain, c).createOrReplaceTempView("ing_batch")
        val status = spark.sql(
          s"SELECT * FROM append_store('$f', '$sqlD', 'ing_batch')")
          .collect()
        assert(status.length == 1 && status(0).getString(0) == f)
        val sqlRows = status(0).getLong(2)
        assert(sqlRows > lastRows,
          s"$f cycle $c: append_store must grow the store " +
            s"($lastRows -> $sqlRows)")
        lastRows = sqlRows
        st.ensure(spark, scaD)
        st.append(spark, scaD, novel(st.grain, c))
        assert(rows(spark.sql(probeSql)) === rows(st.probe(spark, scaD)),
          s"$f cycle $c: SQL probe must equal the Scala path")
      }
      val cRows = spark.sql(
        s"SELECT * FROM compact_store('$f', '$sqlD')").collect()(0).getLong(2)
      // compaction never adds rows (graph compaction re-applies the
      // degree cap, so it may remove overflow edges); the SQL verb
      // leaves exactly the rows the Scala verb does
      assert(cRows <= lastRows, s"$f: compaction must not add rows")
      st.compact(spark, scaD)
      assert(cRows === spark.table(st.tables(scaD).head).count(),
        s"$f: compact_store must keep the rows the Scala compaction keeps")
      assert(rows(spark.sql(probeSql)) === rows(st.probe(spark, scaD)),
        s"$f: post-compaction SQL probe must equal the Scala path")
    }
    val e = intercept[IllegalArgumentException](spark.sql(
      s"SELECT * FROM append_store('nope', '$sqlD', 'ing_batch')").collect())
    assert(e.getMessage.contains("fp|band|anchor|graph|ivf"), e.getMessage)
  }

  // curate TVF (EAGER): the full six-stage composition from SQL text
  // equals the oracle-gated q_curate_full census bit-for-bit
  test("sql: curate TVF equals the full curation composition") {
    views
    val tvf = spark.sql("SELECT * FROM curate('sql_docs')")
    val lib = operators.Curate.qCurateFull(spark, sf)
    assert(rows(tvf) === rows(lib))
    assert(tvf.count() === 6)
  }

  // 12. an oracle-gated relational query, reproduced from SQL text only
  test("sql: q1 pricing summary from text equals the library query") {
    views
    val q = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS count_order
        |FROM sql_lineitem WHERE l_shipdate <= DATE '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    val lib = SparkEntry.queries("q1_pricing_summary")(spark, sf)
      .select($"l_returnflag", $"l_linestatus",
        $"sum_qty".cast("double").as("sum_qty"), $"count_order")
    assert(rows(q) === rows(lib))
  }
}
