package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, ExpressionInfo, Literal, SortOrder}
import org.apache.spark.sql.functions.{col, concat_ws, size}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.MinHash.{MinHashSigs, ShingleHash60, SigAgree, SimHash32}
import graft.functions.VectorExpressions.CosineSimFloat
import graft.plans.{AsofJoinNode, RangeJoinMode, RangeJoinNode, TopKPerGroupNode}

/** SparkSessionExtensions plugin exposing graft's custom Catalyst
  * expressions to SQL (`spark.sql("SELECT cosine_sim(a, b) ...")`).
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` — no library import needed
  * on the query side, so pure-SQL users (JDBC, notebooks) get the
  * same codegen'd hot-path functions as the Scala API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsofStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RangeStrategy)
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim"),
      (args: Seq[Expression]) => CosineSimFloat(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash60"),
      info("shingle_hash60"),
      (args: Seq[Expression]) =>
        ShingleHash60(args(0), intArg(args(1), "shingle width"))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs"),
      (args: Seq[Expression]) =>
        MinHashSigs(args(0), intArg(args(1), "signature length"))))
    ext.injectFunction((
      FunctionIdentifier("simhash32"),
      info("simhash32"),
      (args: Seq[Expression]) => SimHash32(args(0))))
    ext.injectFunction((
      FunctionIdentifier("sig_agree"),
      info("sig_agree"),
      (args: Seq[Expression]) => SigAgree(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler_sim"),
      info("jaro_winkler_sim"),
      (args: Seq[Expression]) =>
        graft.functions.StringSimilarity.JaroWinkler(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("hilbert_d"),
      info("hilbert_d"),
      (args: Seq[Expression]) =>
        graft.functions.HilbertCurve.HilbertIndex(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("hilbert_xy"),
      info("hilbert_xy"),
      (args: Seq[Expression]) =>
        graft.functions.HilbertCurve.HilbertDecode(args(0))))
    // The engine's standard oracle-reproducible hash
    // (TextFunctions.md5Prefix60) as a SQL function, so pure-SQL
    // pipelines hash bit-identically to the library paths:
    // CAST(conv(substring(md5(x),1,15),16,10) AS BIGINT). Built by
    // parse-and-splice — the parsed template is the same function
    // composition the Column API emits.
    ext.injectFunction((
      FunctionIdentifier("md5_prefix60"),
      info("md5_prefix60"),
      (args: Seq[Expression]) => spliceExpr(
        "CAST(conv(substring(md5(_g_arg0), 1, 15), 16, 10) AS BIGINT)",
        args(0))))
    // ---- SQL FRONT DOOR for the custom OPERATORS (table functions).
    // The DataFrame APIs (AsofJoin.join, RangeJoin.join, TopK.of)
    // resolve attributes eagerly from analyzed inputs; the TVF route
    // instead emits UnresolvedRelation children + UnresolvedAttribute
    // expressions and lets the ANALYZER resolve them — so a pure-SQL
    // user (JDBC, notebook) reaches the same custom LogicalPlans, and
    // the same planner strategies, from text alone:
    //   SELECT * FROM asof_join('trades','quotes',
    //     'trades.sym','quotes.sym','trades.ts','quotes.ts')
    // Table/column args are string literals; qualify column names with
    // the view name whenever both sides share a column. Self-joining
    // one view requires two differently-named views (attribute
    // dedup for custom binary nodes is the caller's job).
    ext.injectTableFunction((
      FunctionIdentifier("asof_join"),
      info("asof_join"),
      (args: Seq[Expression]) => {
        require(args.length == 6, "asof_join(left, right, leftKey, " +
          "rightKey, leftTime, rightTime) — 6 string-literal args")
        val a = args.map(strArg(_, "asof_join argument"))
        AsofJoinNode(
          leftKeys = Seq(attrRef(a(2))), rightKeys = Seq(attrRef(a(3))),
          leftTime = attrRef(a(4)), rightTime = attrRef(a(5)),
          left = rel(a(0)), right = rel(a(1)))
      }))
    ext.injectTableFunction((
      FunctionIdentifier("range_join"),
      info("range_join"),
      (args: Seq[Expression]) => {
        require(args.length == 7, "range_join(probe, intervals, lo, " +
          "hi, start, end, mode) — 7 string-literal args")
        val a = args.map(strArg(_, "range_join argument"))
        val mode = a(6) match {
          case "inner" => RangeJoinMode.Inner
          case "left_outer" => RangeJoinMode.LeftOuter
          case "full_outer" => RangeJoinMode.FullOuter
          case other => throw new IllegalArgumentException(
            s"range_join mode must be inner|left_outer|full_outer, got $other")
        }
        RangeJoinNode(attrRef(a(2)), attrRef(a(3)), attrRef(a(4)),
          attrRef(a(5)), mode, rel(a(0)), rel(a(1)))
      }))
    ext.injectTableFunction((
      FunctionIdentifier("topk_per_group"),
      info("topk_per_group"),
      (args: Seq[Expression]) => {
        require(args.length == 5, "topk_per_group(table, groupCol, " +
          "orderCol, 'asc'|'desc', k)")
        val tbl = strArg(args(0), "table")
        val dir = strArg(args(3), "direction") match {
          case "asc" => Ascending
          case "desc" => Descending
          case other => throw new IllegalArgumentException(
            s"topk_per_group direction must be asc|desc, got $other")
        }
        TopKPerGroupNode(
          groupExprs = Seq(attrRef(strArg(args(1), "groupCol"))),
          ordering = Seq(SortOrder(attrRef(strArg(args(2), "orderCol")), dir)),
          k = intArg(args(4), "k"),
          child = rel(tbl))
      }))
    // ---- CURATION VERBS over a view. Each TVF below resolves its
    // view with SparkSession.active.table and returns the library
    // frame's plan — never a SQL-text re-expression of the pipeline,
    // so there is one implementation per verb and the library's merge
    // hints arrive already resolved. These TVFs are EAGER: the
    // library verbs checkpoint (posting tables, CC rounds, beam hops,
    // scored docs) and count, so their Spark jobs run when the
    // statement is ANALYZED (the sql(...) call), not when the result
    // is fetched, and the result is pinned to the view's content at
    // that moment. A SQL caller that changes the view re-issues the
    // statement. dsir_select's budget is count(view) / budgetDiv;
    // dup_clusters' tauPct is jaccard·100 (50 ⇔ 3·inter > na+nb).
    viewTvf(ext, "dedup_pairs", 3, "dedup_pairs(table, shingleN, dfCap) " +
        "— table is a string literal naming a view with (doc_id, text)") {
      (view, a) =>
        graft.operators.Dedup.jaccardPairsOf(view,
          n = intArg(a(1), "shingleN"), dfCap = intArg(a(2), "dfCap").toLong)
    }
    viewTvf(ext, "span_trim", 1, "span_trim(table) — table is a string " +
        "literal naming a view with (doc_id, text)") { (view, _) =>
      graft.operators.TextAnalysis.trimmedDocsOf(view)
        .select(col("doc_id"), concat_ws(" ", col("kept")).as("text"),
          col("was_trimmed"), col("ntok_before"),
          size(col("kept")).cast("long").as("ntok_after"))
    }
    viewTvf(ext, "semdedup", 2, "semdedup(table, tau) — table names a " +
        "view with (vec_id, embedding); tau is the cosine threshold as a " +
        "string literal") { (view, a) =>
      val tau = strArg(a(1), "semdedup tau")
      require(tau.matches("""[0-9]+(\.[0-9]+)?([eE]-?[0-9]+)?"""),
        s"semdedup tau must be a plain decimal, got $tau")
      graft.operators.Similarity.semDedupOf(view, tau.toDouble)
    }
    viewTvf(ext, "dsir_select", 3, "dsir_select(table, targetLang, " +
        "budgetDiv) — table names a view with (doc_id, lang, text)") {
      (view, a) =>
        val lang = strArg(a(1), "dsir_select targetLang")
        require(lang.matches("[A-Za-z_-]+"),
          s"dsir_select targetLang must be a plain language tag, got $lang")
        val div = intArg(a(2), "budgetDiv")
        require(div >= 1, s"budgetDiv must be >= 1, got $div")
        import graft.operators.Sampling.{dsirScored, dsirSelectFrom}
        dsirSelectFrom(dsirScored(view, lang), view.count() / div)
    }
    viewTvf(ext, "dup_clusters", 4, "dup_clusters(table, shingleN, dfCap, " +
        "tauPct) — table names a view with (doc_id, text); tauPct is " +
        "jaccard·100") { (view, a) =>
      graft.operators.Dedup.dupClustersOf(view, n = intArg(a(1), "shingleN"),
        dfCap = intArg(a(2), "dfCap").toLong,
        tauPct = intArg(a(3), "tauPct"))
    }
    viewTvf(ext, "curate", 1,
        "curate(table) — table names a view with (doc_id, source, lang, text)") {
      (view, _) => graft.operators.Curate.curateFullOf(view)
    }
    viewTvf(ext, "ann_graph", 1, "ann_graph(table) — table names a view " +
        "with (vec_id, embedding); queries are the vec_id < 20 slice") {
      (view, _) => graft.operators.Similarity.annGraphOf(view)
    }
    // THE STANDING-STORE PROBES from SQL text: one TVF per
    // [[graft.sources.Stores]] family (its `probeTvf`). Each takes the
    // store's CORPUS DIRECTORY (stores are keyed by dir, not view —
    // they are cross-session standing state) and expands to the exact
    // library probe plan: batch side fingerprinted/shingled fresh and
    // shuffled once to the store's bucket granularity, store side
    // streaming off its bucketed files merge-hinted (never a broadcast).
    // EAGER like the view TVFs above: a missing store is built at
    // ANALYSIS time (the graph walk is a driver loop).
    graft.sources.Stores.all.foreach { st =>
      ext.injectTableFunction((
        FunctionIdentifier(st.probeTvf),
        info(st.probeTvf),
        (args: Seq[Expression]) => {
          require(args.length == 1,
            s"${st.probeTvf}(corpusDir) — the standing ${st.family} " +
              "store's corpus directory (string literal)")
          val d = strArg(args(0), s"${st.probeTvf} corpus dir")
          st.probe(SparkSession.active, d)
            .queryExecution.logical
        }))
    }
    // STORE MAINTENANCE from SQL text — the ingest lifecycle's other
    // two verbs (the admission TVFs above cover the probe): a SQL-only
    // deployment can now run the full loop — probe → admit → APPEND →
    // periodic COMPACT — without a Scala entry point. Unlike the
    // admission TVFs these are NOT eager builders: the maintenance
    // body is deferred into a [[graft.plans.StoreMaintenanceCommand]]
    // (a RunnableCommand executed after analysis) because an append to
    // an EXISTING catalog table inside a builder deadlocks on the
    // SessionCatalog monitor — see the command's scaladoc for the
    // observed two-thread cycle. `family` picks the standing store
    // (its grain decides the batch view's columns: full document rows,
    // or (vec_id, embedding)). append_store ensures the store first
    // (idempotent), so a cold deployment can bootstrap entirely from
    // SQL; appends anti-join standing rows (library semantics), so
    // re-running a statement is a no-op, not an erosion. Each returns
    // one (family, store_table, store_rows) status row — enough for a
    // SQL-only driver to assert growth across cycles.
    ext.injectTableFunction((
      FunctionIdentifier("append_store"),
      info("append_store"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"append_store(family, corpusDir, batchTable) — family in " +
            s"$storeFamilies; batchTable names a view with the " +
            "family's grain columns")
        val st = graft.sources.Stores(strArg(args(0), "append_store family"))
        val d = strArg(args(1), "append_store corpus dir")
        val v = ident(strArg(args(2), "append_store batch table"),
          "append_store batch table")
        graft.plans.StoreMaintenanceCommand("append", st.family, s => {
          val batch = s.table(v)
          val tbl = st.ensure(s, d)
          st.append(s, d, batch)
          storeStatus(s, st.family, tbl)
        })
      }))
    ext.injectTableFunction((
      FunctionIdentifier("compact_store"),
      info("compact_store"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"compact_store(family, corpusDir) — family in $storeFamilies")
        val st = graft.sources.Stores(strArg(args(0), "compact_store family"))
        val d = strArg(args(1), "compact_store corpus dir")
        graft.plans.StoreMaintenanceCommand("compact", st.family, s => {
          st.compact(s, d)
          storeStatus(s, st.family, st.tables(d).head)
        })
      }))
  }

  private def storeFamilies: String =
    graft.sources.Stores.all.map(_.family).mkString("|")

  /** The maintenance verbs' one-row status: the store's post-op row
    * count. */
  private def storeStatus(s: SparkSession,
                          fam: String,
                          tbl: String): Seq[Row] = {
    s.catalog.refreshTable(tbl)
    Seq(Row(fam, tbl, s.table(tbl).count()))
  }

  /** Register a curation-verb TVF over a view: check the arity and the
    * table identifier, resolve the view, and return the plan of the
    * frame `plan` builds from it and the remaining args. */
  private def viewTvf(ext: SparkSessionExtensions, name: String,
                      arity: Int, usage: String)(
      plan: (DataFrame, Seq[Expression]) => DataFrame): Unit =
    ext.injectTableFunction((
      FunctionIdentifier(name),
      info(name),
      (args: Seq[Expression]) => {
        require(args.length == arity, usage)
        val tbl = ident(strArg(args(0), s"$name table"), s"$name table")
        plan(SparkSession.active.table(tbl), args).queryExecution.logical
      }))

  /** View and table args must be bare identifiers. */
  private def ident(tbl: String, what: String): String = {
    require(tbl.matches("[A-Za-z_][A-Za-z0-9_.]*"),
      s"$what must be a plain identifier, got $tbl")
    tbl
  }

  /** Parse a SQL expression template and splice `arg` where the
    * placeholder attribute `_g_arg0` appears — the parsed tree is the
    * same function composition the Column API emits, so SQL callers
    * hash bit-identically to the library path.
    */
  private def spliceExpr(template: String, arg: Expression): Expression =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(template)
      .transformUp { case UnresolvedAttribute(Seq("_g_arg0")) => arg }

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def rel(name: String): UnresolvedRelation =
    UnresolvedRelation(name.split('.').toSeq)

  private def attrRef(name: String): UnresolvedAttribute =
    UnresolvedAttribute(name.split('.').toSeq)
}
