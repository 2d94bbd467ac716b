package graft

import graft.ops.{Dsl, Search}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, date_add, expr, lit, struct, to_date}

/** The ES query-DSL compiler's semantics the generated oracle can't
  * express alone: clause-context rules (filter gates without scoring,
  * should scores without gating beside a must, minimum_should_match
  * defaults), loud refusal of unsupported clauses, equivalence with
  * the hand-built bm25 path on a plain match, and the pure-filter
  * plan reaching the parquet scan as pushed filters. */
class DslSpec extends SparkSpec {

  import spark.implicits._

  private def run(json: String, docs: DataFrame = null): Seq[Seq[Any]] = {
    val d = if (docs == null) Tables.documentsPar(spark, sfDir) else docs
    Dsl.searchDslOf(d, json).collect().map(_.toSeq).toSeq
  }

  private def ids(rows: Seq[Seq[Any]]): Seq[Long] =
    rows.map(_(1).asInstanceOf[Long])

  /** Every physical node of an EXECUTED plan, descending through the
    * adaptive/stage/reuse wrappers whose payload is not in `children`. */
  private def physNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(physNodes)
  }

  /** The executed plan of the collected `df` materializes each of its
    * `shared` frames once: no parquet scan outside a cached relation,
    * no RDD scan, and `shared` distinct caches across its in-memory
    * scans. */
  private def assertOneMaterialization(df: DataFrame, shared: Int,
      what: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val nodes = physNodes(df.queryExecution.executedPlan)
    val fileScans = nodes.count(_.isInstanceOf[FileSourceScanExec])
    val rddScans = nodes.count(_.isInstanceOf[RDDScanExec])
    val caches = nodes.collect { case s: InMemoryTableScanExec =>
      s.relation.cacheBuilder.cachedColumnBuffers.id
    }.distinct
    assert(fileScans == 0 && rddScans == 0 && caches.size == shared,
      s"$what must read $shared shared frame(s) once each: direct " +
        s"scans=$fileScans, rdd scans=$rddScans, caches=${caches.size}")
  }

  /** Controlled corpus: text + keyword + numeric fields. */
  private lazy val tiny = Seq(
    (0L, "rare alpha alpha", "en", "src0", 16L),
    (1L, "alpha beta", "en", "src1", 10L),
    (2L, "beta gamma", "de", "src0", 10L),
    (3L, "rare beta", "en", "src1", 9L),
    (4L, "alpha beta gamma", "fr", "src2", 16L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("a plain match compiles to exactly the bm25TopK ranking") {
    val dsl = run(s"""{"query": {"match": {"text":
      "${Search.QueryTerms.mkString(" ")}"}}, "size": ${Search.TopK}}""")
    val hand = Search.bm25TopK(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(dsl == hand,
      "the DSL compiler and the hand-built path must share one ranking")
  }

  test("bool semantics: must gates and scores, filter gates scoreless, must_not excludes") {
    // must alone: docs with alpha, ranked
    val must = ids(run("""{"query": {"bool": {"must": [
      {"match": {"text": "alpha"}}]}}}""", tiny))
    assert(must.toSet == Set(0L, 1L, 4L))
    // doc 0 has tf=2 and is shortest-normalized → ranks first
    assert(must.head == 0L, s"tf=2 must outrank tf=1: $must")
    // + filter term: same score order, gated to lang=en
    val filtered = ids(run("""{"query": {"bool": {
      "must": [{"match": {"text": "alpha"}}],
      "filter": [{"term": {"lang": "en"}}]}}}""", tiny))
    assert(filtered == must.filter(Set(0L, 1L)),
      "filter must gate without disturbing the score order")
    // + must_not phrase: "alpha beta" adjacency excludes docs 1 and 4
    val notPhrase = ids(run("""{"query": {"bool": {
      "must": [{"match": {"text": "alpha"}}],
      "must_not": [{"match_phrase": {"text": "alpha beta"}}]}}}""", tiny))
    assert(notPhrase == Seq(0L),
      s"adjacent-pair docs must be excluded: $notPhrase")
  }

  test("should: optional-but-scoring beside a must; the only gate alone (msm default 1)") {
    // beside a must, a should hit ADDS score but non-hits still match:
    // docs 1 and 4 both match beta; 4 also matches gamma → 4 outranks 1
    // despite identical beta tf and longer dl only if the should bites
    val withShould = ids(run("""{"query": {"bool": {
      "must": [{"match": {"text": "beta"}}],
      "should": [{"match": {"text": "gamma"}}]}}}""", tiny))
    assert(withShould.toSet == Set(1L, 2L, 3L, 4L),
      "should must not gate beside a must")
    val gammaDocs = Set(2L, 4L)
    assert(withShould.take(2).toSet == gammaDocs,
      s"should hits must outrank non-hits: $withShould")
    // alone, should IS the match condition (minimum_should_match = 1)
    val alone = ids(run("""{"query": {"bool": {
      "should": [{"match": {"text": "gamma"}}]}}}""", tiny))
    assert(alone.toSet == gammaDocs, "a lone should must gate")
    // explicit minimum_should_match = 2 of three clauses
    val msm2 = ids(run("""{"query": {"bool": {
      "should": [{"match": {"text": "rare"}}, {"term": {"lang": "en"}},
                 {"term": {"source": "src1"}}],
      "minimum_should_match": 2}}}""", tiny))
    // rare∧en: 0,3; en∧src1: 1,3; rare∧src1: 3 → {0,1,3}
    assert(msm2.toSet == Set(0L, 1L, 3L), s"msm=2 gate wrong: $msm2")
  }

  test("terms / range / exists compile to exact predicates") {
    val t = ids(run("""{"query": {"terms": {"lang": ["de", "fr"]}}}""", tiny))
    assert(t.toSet == Set(2L, 4L))
    val r = ids(run(
      """{"query": {"range": {"n_chars": {"gte": 10, "lt": 16}}}}""", tiny))
    assert(r.toSet == Set(1L, 2L))
    val e = ids(run("""{"query": {"exists": {"field": "source"}}}""",
      tiny.withColumn("source",
        org.apache.spark.sql.functions.when($"doc_id" =!= 2L, $"source"))))
    assert(e.toSet == Set(0L, 1L, 3L, 4L))
    val all = ids(run("""{"query": {"match_all": {}}, "size": 3}""", tiny))
    assert(all == Seq(0L, 1L, 2L), "match_all scores 0 → doc_id order, size-cut")
  }

  test("unsupported clauses, fields, and malformed bodies refuse loudly") {
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"geo_distance": {"field": "x"}}}""")
      .contains("supported"), "unknown clause must name the supported set")
    assert(msg("""{"query": {"bool": {"boost_mode": []}}}""")
      .contains("boost_mode"))
    assert(msg("""{"query": {"term": {"nope": "x"}}}""").contains("nope"),
      "an unknown field must be named")
    assert(msg("""{"query": {"match": {"lang": "en"}}}""")
      .contains("analyzed text field"),
      "match on a keyword field must refuse, not silently scan nothing")
    assert(msg("""{"query": {"range": {"n_chars": {"between": 1}}}}""")
      .contains("gte"), "bad range op must name the supported bounds")
  }

  test("body keys are whitelisted; missing query is match_all; size 0 is legal") {
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    // unknown body keys must refuse, not be silently dropped
    assert(msg("""{"query": {"match_all": {}}, "highlight": {}}""")
      .contains("highlight"), "unknown body key must be named")
    assert(msg("""{"query": {"match_all": {}}, "sort": []}""")
      .contains("sort"), "an empty sort array is malformed")
    assert(msg("""{"query": {"match_all": {}}, "size": -1}""")
      .contains("size"))
    assert(msg(s"""{"query": {"match_all": {}}, "size": ${1 << 20}}""")
      .contains(Dsl.MaxResultWindow.toString),
      "an over-window size must name the bound")
    // ES defaults: no query → match_all, default size 10
    assert(ids(run("""{"size": 10}""", tiny)) == Seq(0L, 1L, 2L, 3L, 4L))
    // size 0 is the legal aggregations-only convention
    assert(run("""{"query": {"match_all": {}}, "size": 0}""", tiny).isEmpty)
  }

  test("modifier keys on match/term refuse loudly; boost is supported") {
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    // operator "and" requires EVERY term; "or" (the default) any
    val andOp = ids(run("""{"query": {"match": {"text":
      {"query": "alpha beta", "operator": "and"}}}}""", tiny))
    assert(andOp.toSet == Set(1L, 4L),
      s"operator and must gate on all terms: $andOp")
    assert(ids(run("""{"query": {"match": {"text":
      {"query": "alpha beta", "operator": "or"}}}}""", tiny)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L))
    assert(msg("""{"query": {"match": {"text":
      {"query": "x", "operator": "not"}}}}""").contains("operator"))
    assert(msg("""{"query": {"match_phrase": {"text":
      {"query": "alpha beta", "operator": "and"}}}}""").contains("operator"),
      "a phrase's adjacency IS its operator — the key refuses there")
    // (fuzziness graduated to a supported modifier in r13 — the
    // refusal pin moves to a key that stays unsupported)
    assert(msg("""{"query": {"match": {"text":
      {"query": "alpha", "zero_terms_query": "all"}}}}""")
      .contains("zero_terms_query"))
    assert(msg("""{"query": {"term": {"lang":
      {"value": "en", "case_insensitive": true}}}}""")
      .contains("case_insensitive"))
    // boost IS a supported modifier — it must parse and bite: a ×3
    // boost on beta drops the alpha-only doc 0 from 3rd to last
    val boosted = ids(run("""{"query": {"bool": {"should": [
      {"match": {"text": {"query": "beta", "boost": 3}}},
      {"match": {"text": "alpha"}}]}}}""", tiny))
    val flat = ids(run("""{"query": {"bool": {"should": [
      {"match": {"text": "beta"}},
      {"match": {"text": "alpha"}}]}}}""", tiny))
    assert(boosted.toSet == flat.toSet, "boost must not change the match set")
    assert(boosted != flat, s"a ×3 boost must re-rank: $boosted vs $flat")
  }

  test("match_phrase counts OVERLAPPING occurrences (positional phrase frequency)") {
    val docs = Seq(
      (0L, "go go xx", "en", "s", 8L),
      (1L, "go go go", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // same dl, same df — doc 1's phrase tf is 2 (overlapping) vs doc
    // 0's 1, so it MUST outrank despite the higher doc_id; the old
    // non-overlapping regex counted both as 1 and tie-broke to doc 0
    val ranked = ids(run(
      """{"query": {"match_phrase": {"text": "go go"}}}""", docs))
    assert(ranked == Seq(1L, 0L),
      s"overlapping phrase occurrences must all count: $ranked")
    // and the oracle's positional count agrees by construction
    val sql = Dsl.dslSql("""{"query": {"match_phrase": {"text": "go go"}}}""")
    assert(sql.contains("range(1, len(toks)"), "oracle counts positionally")
  }

  test("multi_match best_fields reproduces the hand-built multifield ranking") {
    val dsl = ids(run(s"""{"query": {"multi_match": {
      "query": "${Search.QueryTerms.mkString(" ")}",
      "fields": ["${Search.HeadField}^2", "${Search.DefaultField}"],
      "type": "best_fields"}}, "size": ${Search.TopK}}"""))
    val hand = Search.bm25Multifield(spark, sfDir).collect()
      .map(_.getLong(1)).toSeq
    assert(dsl == hand,
      "dis_max over head^2 + text must rank exactly as bm25Multifield")
    // head-only match is legal now; an unknown analyzed field is not
    assert(ids(run(s"""{"query": {"match": {"${Search.HeadField}":
      "alpha"}}}""", tiny)).nonEmpty)
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"multi_match": {"query": "x",
      "fields": ["text", "lang"]}}}""").contains("analyzed"))
    // (most_fields graduated in r13, phrase/cross_fields in r14 — the
    // refusal pin moves to a type that stays unsupported)
    assert(msg("""{"query": {"multi_match": {"query": "x",
      "fields": ["text"], "type": "phrase_prefix"}}}""")
      .contains("best_fields"))
  }

  test("the generated oracle SQL mirrors the compiled clause structure") {
    val sql = SparkEntry.oracleSql("dsl_search")
    // every clause family of the registered query appears
    assert(sql.contains("qtf1 > 0 OR"), "match OR-of-terms")
    assert(sql.contains("NOT f.qpf1 > 0"), "must_not phrase")
    assert(sql.contains("f.n_chars >= 60 AND f.n_chars < 520"), "range")
    assert(sql.contains("f.source IS NOT NULL"), "exists")
    assert(sql.contains("CASE WHEN"), "should contributions are gated")
    assert(sql.contains("f.lang = 'en'"), "keyword should clause")
    // the keyword should scores pure idf off its value's df statistic
    assert(sql.contains("WHERE lang = 'en') AS qkd1") &&
      sql.contains("s.qkd1"), "term-in-query-context must score idf")
    // match_all generates a scoreless (0.0) oracle
    val scoreless = Dsl.dslSql("""{"query": {"match_all": {}}}""")
    assert(scoreless.contains("0.0 AS score"))
  }

  test("a pure-filter DSL query IS the pushed-down scan: no stats aggregate, no text read") {
    val df = Dsl.searchDslOf(Tables.documentsPar(spark, sfDir),
      """{"query": {"bool": {"filter": [
        {"range": {"n_chars": {"gte": 100}}},
        {"term": {"lang": "en"}}]}}, "size": 20}""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(n_chars,100)") &&
      plan.contains("EqualTo(lang,en)"),
      s"filter context must reach the scan as pushed filters:\n$plan")
    // the scoreless fast path: NO corpus stats aggregate, NO broadcast
    // join, and the text column pruned OUT of the parquet read — the
    // query is the filter, nothing more
    assert(!plan.contains("Aggregate") && !plan.contains("NestedLoopJoin"),
      s"a scoreless query must not build or join corpus statistics:\n$plan")
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("text"),
      s"a match-less query must never read the text column:\n$read")
    // values still correct: the echoed provenance is zeroed, ids exact
    val rows = df.collect()
    assert(rows.nonEmpty &&
      rows.forall(r => r.getInt(2) == 0 && r.getLong(3) == 0L &&
        r.getLong(4) == 0L),
      "scoreless hits echo zero n_matched/tf_total/dl")
    // a should-only keyword query still scores (idf) — and therefore
    // still aggregates — so the fast path keys on SCORELESSNESS, not
    // on the absence of match clauses
    val scoredPlan = Dsl.searchDslOf(Tables.documentsPar(spark, sfDir),
      """{"query": {"term": {"lang": "en"}}, "size": 5}""")
      .queryExecution.executedPlan.toString
    assert(scoredPlan.contains("Aggregate"),
      "a query-context term clause scores idf and needs its df statistic")
  }

  test("aggs: terms cut, date_histogram + stats sub-agg, histogram, top-level stats") {
    val docs = Search.withPersistDate(tiny)
    val out = Dsl.dslAggsOf(docs,
      """{"query": {"match_all": {}}, "size": 0, "aggs": {
        "by_lang": {"terms": {"field": "lang", "size": 2}},
        "daily": {"date_histogram": {"field": "persist_date",
                  "calendar_interval": "day"},
                  "aggs": {"chars": {"stats": {"field": "n_chars"}}}},
        "len": {"histogram": {"field": "n_chars", "interval": 10}},
        "all": {"stats": {"field": "n_chars"}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("doc_count"),
        if (r.isNullAt(r.fieldIndex("v_sum"))) null
        else r.getAs[Double]("v_sum"))).toSeq
    // terms size 2: en(3) then de/fr tie → de by key; fr is CUT
    assert(out.filter(_._1 == "by_lang").map(t => (t._2, t._3)) ==
      Seq(("de", 1L), ("en", 3L)),
      s"terms agg must cut to top-2 by (count desc, key): $out")
    // doc_id % 3 days: day0={0,3}, day1={1,4}, day2={2}
    val daily = out.filter(_._1 == "daily")
    assert(daily.map(t => (t._2, t._3)) == Seq(
      ("2026-01-01", 2L), ("2026-01-02", 2L), ("2026-01-03", 1L)))
    // stats sub-agg: day0 sum = 16+9 = 25
    assert(daily.head._4 == 25.0, s"stats sub-agg sum wrong: $daily")
    // histogram interval 10: 16,10,10,9,16 → bucket 0:{9} 10:{10,10,16,16}
    assert(out.filter(_._1 == "len").map(t => (t._2, t._3)) ==
      Seq(("0", 1L), ("10", 4L)))
    assert(out.filter(_._1 == "all").map(_._4) == Seq(61.0))
    // the query gates the match set: aggs over lang=en only
    val gated = Dsl.dslAggsOf(docs,
      """{"query": {"term": {"lang": "en"}}, "size": 0, "aggs": {
        "all": {"stats": {"field": "n_chars"}}}}""").collect()
    assert(gated.head.getAs[Long]("doc_count") == 3L &&
      gated.head.getAs[Double]("v_sum") == 35.0)
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(docs, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"geo_distance": {"field": "n_chars"}}}}""").contains("supported"),
      "unknown agg type must name the supported set")
    assert(msg("""{"query": {"match_all": {}}, "aggs": {
      "x": {"stats": {"field": "n_chars"}}}}""").contains("size: 0"),
      "an aggs body without size: 0 would silently drop requested hits")
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"stats": {"field": "lang"}}}}""").contains("numeric"))
  }

  test("extended aggs: metrics, cardinality, range buckets, filter agg, metric subs") {
    def vals(rows: Array[org.apache.spark.sql.Row], agg: String) =
      rows.filter(_.getString(0) == agg).map(r => (r.getString(1),
        r.getAs[Long]("doc_count"),
        if (r.isNullAt(r.fieldIndex("v_count"))) -1L
        else r.getAs[Long]("v_count"),
        if (r.isNullAt(r.fieldIndex("v_avg"))) -1.0
        else r.getAs[Double]("v_avg"))).toList
    val out = Dsl.dslAggsOf(tiny,
      """{"query": {"match_all": {}}, "size": 0, "aggs": {
        "card": {"cardinality": {"field": "lang"}},
        "avg_nc": {"avg": {"field": "n_chars"}},
        "sum_nc": {"sum": {"field": "n_chars"}},
        "cnt_src": {"value_count": {"field": "source"}},
        "len": {"range": {"field": "n_chars", "ranges": [
            {"to": 10}, {"from": 10, "to": 16}, {"from": 16}]},
          "aggs": {"s": {"stats": {"field": "n_chars"}}}},
        "alpha": {"filter": {"match": {"text": "alpha"}},
          "aggs": {"a": {"avg": {"field": "n_chars"}}}},
        "langs": {"terms": {"field": "lang", "size": 2},
          "aggs": {"srcs": {"cardinality": {"field": "source"}}}}}}""")
      .collect()
    assert(vals(out, "card") == Seq(("", 5L, 3L, -1.0)),
      "exact distinct langs")
    assert(vals(out, "avg_nc").head._4 == 12.2)
    assert(out.filter(_.getString(0) == "sum_nc").head
      .getAs[Double]("v_sum") == 61.0)
    assert(vals(out, "cnt_src") == Seq(("", 5L, 5L, -1.0)))
    // range buckets: counts + stats sub sums (9; 10+10; 16+16)
    assert(vals(out, "len").map(t => (t._1, t._2)) ==
      Seq(("*-10", 1L), ("10-16", 2L), ("16-*", 2L)),
      s"range buckets: ${vals(out, "len")}")
    assert(out.filter(r => r.getString(0) == "len")
      .map(r => (r.getString(1), r.getAs[Double]("v_sum"))).toSeq ==
      Seq(("*-10", 9.0), ("10-16", 20.0), ("16-*", 32.0)),
      "conditional stats sub-agg sums")
    // filter agg with a MATCH clause: alpha docs {0,1,4}, avg 14.0 —
    // the stored clause's text predicate rides the shared feature frame
    assert(vals(out, "alpha") == Seq(("", 3L, -1L, 14.0)))
    // terms + cardinality sub: en has 2 distinct sources, de 1
    assert(vals(out, "langs") == Seq(("de", 1L, 1L, -1.0),
      ("en", 3L, 2L, -1.0)), s"got ${vals(out, "langs")}")
    // terms order: {"_key": "asc"} cuts alphabetically (de), the
    // default {"_count": "desc"} cuts by count (en)
    def firstLang(order: String): String =
      Dsl.dslAggsOf(tiny, s"""{"query": {"match_all": {}}, "size": 0,
        "aggs": {"l": {"terms": {"field": "lang", "size": 1$order}}}}""")
        .collect().head.getString(1)
    assert(firstLang(""", "order": {"_key": "asc"}""") == "de")
    assert(firstLang("") == "en")
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"avg": {"field": "n_chars"}, "aggs": {
        "y": {"sum": {"field": "n_chars"}}}}}}""").contains("metric"),
      "metric aggs take no sub-aggs")
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"avg": {"field": "lang"}}}}""").contains("numeric"))
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"range": {"field": "n_chars", "ranges": [
        {"to": 10}, {"to": 10}]}}}}""").contains("twice"),
      "duplicate range buckets would collide in the output key space")
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"range": {"field": "n_chars", "ranges": [{}]}}}}""")
      .contains("from"), "an unbounded range bucket is malformed")
  }

  test("match_phrase_prefix: search-as-you-type; most_fields sums per-field scores") {
    // "alpha b" — alpha then any b-prefixed token: docs 1, 4 ("alpha
    // beta…"); doc 0 ("rare alpha alpha") and 2 ("beta gamma") miss
    val pp = ids(run("""{"query": {"match_phrase_prefix": {"text":
      "alpha b"}}}""", tiny))
    assert(pp.toSet == Set(1L, 4L), s"prefix phrase: $pp")
    // the single-term form counts every prefixed token occurrence
    val one = ids(run("""{"query": {"match_phrase_prefix": {"text":
      "gam"}}}""", tiny))
    assert(one.toSet == Set(2L, 4L), s"bare prefix: $one")
    // a FULL last word still matches (prefix includes exact)
    assert(ids(run("""{"query": {"match_phrase_prefix": {"text":
      "alpha beta"}}}""", tiny)).toSet == Set(1L, 4L))
    // slop composes: "rare b" slop 1 lets one token intervene
    assert(ids(run("""{"query": {"match_phrase_prefix": {"text":
      {"query": "rare b", "slop": 1}}}}""", tiny)).toSet == Set(3L),
      "slop over the prefix leg")
    // max_expansions refuses loudly (capping would change results)
    val e = intercept[IllegalArgumentException](run(
      """{"query": {"match_phrase_prefix": {"text":
        {"query": "alpha b", "max_expansions": 10}}}}""", tiny))
    assert(e.getMessage.contains("max_expansions"), e.getMessage)
    val scan = SparkEntry.queries("dsl_phrase_prefix")(spark, sfDir)
      .collect().toSeq
    assert(scan.nonEmpty, "registered prefix body must hit")
    // most_fields SUMS per-field scores: a doc matching in head AND
    // text must outrank under most_fields wherever best_fields took
    // only the max — rank sets stay equal, order may not
    val mf = run("""{"query": {"multi_match": {"query": "alpha",
      "fields": ["head", "text"], "type": "most_fields"}}}""", tiny)
    val bf = run("""{"query": {"multi_match": {"query": "alpha",
      "fields": ["head", "text"], "type": "best_fields"}}}""", tiny)
    assert(mf.map(_(1)).toSet == bf.map(_(1)).toSet,
      "the combiner must not change the match set")
    val e2 = intercept[IllegalArgumentException](run(
      """{"query": {"multi_match": {"query": "alpha",
        "fields": ["head", "text"], "type": "bool_prefix"}}}""", tiny))
    assert(e2.getMessage.contains("most_fields"),
      "unsupported multi_match types must name the supported set")
  }

  test("nested: ONE tag must satisfy the whole inner query") {
    val docs = Seq(
      (0L, "k", "error", "etype", "click"),
      (1L, "k", "ok", "etype", "error"),
      (2L, "k", "nine", "etype", "error"),
      (3L, "k", "error", "etype", "error"))
      .toDF("doc_id", "t1", "v1", "t2", "v2")
      .select($"doc_id", array(
        struct($"t1".as("type"), $"v1".as("value")),
        struct($"t2".as("type"), $"v2".as("value"))).as("tags"))
    // the nested contract: type = k AND value = error on the SAME tag.
    // Doc 1 has (k, ok) and (etype, error) — a flattened object would
    // wrongly assemble the match across elements; nested must not.
    val hits = ids(run("""{"query": {"nested": {"path": "tags",
      "query": {"bool": {"must": [
        {"term": {"tags.type": "k"}},
        {"match": {"tags.value": "error"}}]}}}}}""", docs))
    assert(hits == Seq(0L, 3L),
      s"cross-element assembly is the nested type's failure mode: $hits")
    // terms / exists / should-with-msm inside nested
    assert(ids(run("""{"query": {"nested": {"path": "tags",
      "query": {"terms": {"tags.value": ["ok", "nine"]}}}}}""", docs)) ==
      Seq(1L, 2L))
    assert(ids(run("""{"query": {"nested": {"path": "tags",
      "query": {"exists": {"field": "tags.value"}}}}}""", docs)).size == 4)
    assert(ids(run("""{"query": {"nested": {"path": "tags",
      "query": {"bool": {"should": [
        {"term": {"tags.value": "ok"}},
        {"term": {"tags.value": "nine"}},
        {"term": {"tags.type": "k"}}],
        "minimum_should_match": 2}}}}}""", docs)) == Seq(1L, 2L),
      "msm counts per-ELEMENT inside nested")
    // a nested clause under must_not excludes by tag membership
    assert(ids(run("""{"query": {"bool": {
      "must": [{"nested": {"path": "tags", "query":
        {"term": {"tags.type": "k"}}}}],
      "must_not": [{"nested": {"path": "tags", "query": {"bool": {
        "must": [{"term": {"tags.type": "etype"}},
                 {"term": {"tags.value": "error"}}]}}}}]}}}""", docs)) ==
      Seq(0L))
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, docs)).getMessage
    assert(msg("""{"query": {"nested": {"path": "tags",
      "query": {"term": {"value": "x"}}}}}""").contains("tags.<subfield>"),
      "inner fields address by full path")
    assert(msg("""{"query": {"nested": {"path": "tags",
      "query": {"term": {"tags.nope": "x"}}}}}""").contains("subfield"),
      "a typo'd subfield refuses at parse, not as an analysis error")
    assert(msg("""{"query": {"nested": {"path": "tags",
      "query": {"range": {"tags.value": {"gte": 1}}}}}}""")
      .contains("supported inside nested"))
    assert(msg("""{"query": {"nested": {"path": "tags", "score_mode":
      "avg", "query": {"term": {"tags.type": "k"}}}}}""")
      .contains("score_mode"))
    // the REGISTERED body over the real ingest corpus
    val scan = SparkEntry.queries("dsl_nested")(spark, sfDir)
      .collect().toSeq
    assert(scan.nonEmpty, "the registered nested body must hit")
  }

  test("match_phrase slop: windowed starts; slop 0 ≡ exact adjacency bit-for-bit") {
    // gap corpus: "alpha X beta" variants at increasing distances
    val gaps = Seq(
      (0L, "alpha beta end"),
      (1L, "alpha mid beta"),
      (2L, "alpha mid mid beta"),
      (3L, "beta alpha"),
      (4L, "alpha alpha beta")).toDF("doc_id", "text")
    def slopHits(sl: Int): Seq[Long] =
      ids(run(s"""{"query": {"match_phrase": {"text":
        {"query": "alpha beta", "slop": $sl}}}}""", gaps)).sorted
    assert(slopHits(0) == Seq(0L, 4L), "slop 0: adjacency only")
    assert(slopHits(1) == Seq(0L, 1L, 4L), "slop 1: one intervener")
    assert(slopHits(2) == Seq(0L, 1L, 2L, 4L), "slop 2: two")
    // doc 4's "alpha alpha beta" under slop 1: BOTH alphas start a
    // windowed match — phrase tf = 2, so at equal dl it must outrank
    // doc 0's single adjacent start (the overlapping-starts convention
    // carried into the sloppy form)
    assert(ids(run(s"""{"query": {"match_phrase": {"text":
      {"query": "alpha beta", "slop": 1}}}}""", gaps)).head == 4L,
      "the doc with two windowed starts must rank first")
    // explicit slop 0 compiles through the EXACT positional machinery —
    // the whole result (ranking, provenance) is bit-identical
    assert(run("""{"query": {"match_phrase": {"text":
      {"query": "alpha beta", "slop": 0}}}}""", gaps) ==
      run("""{"query": {"match_phrase": {"text": "alpha beta"}}}""", gaps))
    assert(SparkEntry.queries("dsl_phrase_slop")(spark, sfDir)
      .collect().nonEmpty,
      "the registered slop body must hit on the fixture corpus")
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_phrase": {"text":
      {"query": "alpha beta", "slop": -1}}}}""").contains("slop"))
    assert(msg("""{"query": {"match": {"text":
      {"query": "alpha", "slop": 1}}}}""").contains("slop"),
      "slop has no meaning on a bag-of-terms match — refuse")
  }

  test("fuzziness: the typo'd query finds the clean doc") {
    // "alpa" is one edit from "alpha" — alpha docs {0,1,4}; doc 0's
    // two alphas give tf=2 and the shortest dl → it ranks first
    val fz = ids(run("""{"query": {"match": {"text":
      {"query": "alpa", "fuzziness": 1}}}}""", tiny))
    assert(fz.toSet == Set(0L, 1L, 4L) && fz.head == 0L, s"got $fz")
    // the exact form of the typo matches nothing — fuzziness IS the fix
    assert(run("""{"query": {"match": {"text": "alpa"}}}""", tiny).isEmpty)
    // AUTO resolves per term length: 4 chars → one edit
    assert(ids(run("""{"query": {"match": {"text":
      {"query": "alpa", "fuzziness": "AUTO"}}}}""", tiny)).toSet ==
      Set(0L, 1L, 4L))
    // AUTO over a 1-2 char term is EXACT (the ES AUTO:3,6 law)
    assert(run("""{"query": {"match": {"text":
      {"query": "al", "fuzziness": "AUTO"}}}}""", tiny).isEmpty)
    // fuzziness 0 compiles as the exact clause — bit-for-bit
    assert(run("""{"query": {"match": {"text":
      {"query": "alpha", "fuzziness": 0}}}}""", tiny) ==
      run("""{"query": {"match": {"text": "alpha"}}}""", tiny))
    // operator "and" gates on EVERY fuzzy term
    assert(ids(run("""{"query": {"match": {"text":
      {"query": "alpa beta", "fuzziness": 1, "operator": "and"}}}}""",
      tiny)).toSet == Set(1L, 4L))
    // a fuzzy clause in filter context gates without statistics
    assert(ids(run("""{"query": {"bool": {"filter": [{"match": {"text":
      {"query": "alpa", "fuzziness": 1}}}]}}}""", tiny)).toSet ==
      Set(0L, 1L, 4L))
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_phrase": {"text":
      {"query": "alpha beta", "fuzziness": 1}}}}""").contains("fuzziness"),
      "a phrase's adjacency is exact — fuzziness on it must refuse")
    assert(msg("""{"query": {"match": {"text":
      {"query": "alpha", "fuzziness": 3}}}}""").contains("AUTO"),
      "edit budgets past Lucene's bound of 2 must refuse")
  }

  test("minimum_should_match grammar: percentages, negatives, conditionals") {
    // three shoulds over tiny: alpha {0,1,4}, beta {1,2,3,4},
    // gamma {2,4} — per-doc hit counts 0:1 1:2 2:2 3:1 4:3
    def hits(msm: String): Set[Long] =
      ids(run(s"""{"query": {"bool": {"should": [
        {"match": {"text": "alpha"}}, {"match": {"text": "beta"}},
        {"match": {"text": "gamma"}}],
        "minimum_should_match": "$msm"}}}""", tiny)).toSet
    val atLeast2 = Set(1L, 2L, 4L)
    assert(hits("2") == atLeast2, "plain integer string")
    assert(hits("67%") == atLeast2, "67% of 3 rounds DOWN to 2")
    assert(hits("-1") == atLeast2, "-1 = n-1 = 2")
    assert(hits("100%") == Set(4L), "100% requires all three")
    assert(hits("-25%") == Set(4L), "-25%: n - floor(0.25*3) = 3")
    assert(hits("2<67%") == atLeast2, "n=3 > 2 → the 67% leg applies")
    assert(hits("5<67%") == Set(4L), "n=3 ≤ 5 → all clauses required")
    assert(hits("1<100% 2<67%") == atLeast2,
      "largest applicable k wins (2<67% over 1<100%)")
    // a value past n is unmatchable, ≤ 0 disables the gate — the
    // integer compiler's existing contracts, reached via the grammar
    assert(hits("4") == Set.empty, "msm > n matches nothing")
    assert(hits("-100%") == Set(0L, 1L, 2L, 3L, 4L),
      "-100% resolves to 0: the gate vanishes, every doc matches")
    def msg(spec: String): String =
      intercept[IllegalArgumentException](hits(spec)).getMessage
    assert(msg("abc").contains("not an integer"))
    assert(msg("1<").contains("k<spec"))
    assert(msg("").contains("empty"))
  }

  test("nested aggs: bucket→bucket children, parent cut gates them, order by sub-metric") {
    val docs = Search.withPersistDate(tiny)
    val out = Dsl.dslAggsOf(docs,
      """{"query": {"match_all": {}}, "size": 0, "aggs": {
        "ld": {"terms": {"field": "lang", "size": 2},
          "aggs": {"d": {"date_histogram": {"field": "persist_date",
                   "calendar_interval": "day"}}}},
        "lb": {"terms": {"field": "lang", "size": 2,
            "order": {"ac": "desc"}},
          "aggs": {"ac": {"avg": {"field": "n_chars"}}}},
        "sl": {"terms": {"field": "source", "size": 3},
          "aggs": {"l": {"terms": {"field": "lang", "size": 1}}}}}}""")
      .collect()
    def rows(agg: String) = out.filter(_.getString(0) == agg)
      .map(r => (r.getString(1), r.getString(2),
        r.getAs[Long]("doc_count"))).toSeq
    // parent rows carry key2 = "" and the usual cut (en 3, de 1; fr cut)
    assert(rows("ld") == Seq(("de", "", 1L), ("en", "", 3L)))
    // child rows ride agg = "parent.sub" with (parent, child) keys —
    // and ONLY under surviving parents (no fr children)
    assert(rows("ld.d") == Seq(("de", "2026-01-03", 1L),
      ("en", "2026-01-01", 2L), ("en", "2026-01-02", 1L)),
      s"terms→date_histogram children wrong: ${rows("ld.d")}")
    // order by the avg sub-metric: fr (16) and en (35/3) survive the
    // 2-cut, de (10) drops — a count order would have kept en + de
    assert(rows("lb").map(_._1).toSet == Set("en", "fr"),
      s"order-by-sub-metric cut wrong: ${rows("lb")}")
    // terms→terms: per-PARENT top-1 by (count desc, key asc) —
    // src0 ties de/en → de; src1 → en (2); src2 → fr
    assert(rows("sl.l") == Seq(("src0", "de", 1L), ("src1", "en", 2L),
      ("src2", "fr", 1L)), s"per-parent sub-terms cut: ${rows("sl.l")}")
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(docs, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"range": {"field": "n_chars", "ranges": [{"to": 10}]},
        "aggs": {"y": {"terms": {"field": "lang"}}}}}}""")
      .contains("grouping-keyed parent"),
      "bucket subs under range/filter must refuse")
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"terms": {"field": "lang", "order": {"nope": "desc"}}}}}""")
      .contains("no sub-aggregation"),
      "order by an absent sub must refuse")
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"terms": {"field": "lang", "order": {"s": "desc"}},
        "aggs": {"s": {"stats": {"field": "n_chars"}}}}}}""")
      .contains("SINGLE-VALUE"),
      "order by a multi-valued stats sub must refuse")
  }

  test("percolator rules may use the r13 clause families (fuzzy, slop, nested)") {
    // stored alert rules over a tagged ingest-shaped frame: a typo-
    // tolerant match, a sloppy phrase, and a nested tag predicate —
    // all compile onto the ONE shared stateless projection
    val docs = Seq(
      (0L, "alpa beta end", "k", "error"),
      (1L, "alpha mid beta", "k", "ok"),
      (2L, "gamma only", "etype", "error"))
      .toDF("doc_id", "text", "t1", "v1")
      .select($"doc_id", $"text",
        array(struct($"t1".as("type"), $"v1".as("value"))).as("tags"))
    val rules = Seq(
      1L -> """{"query": {"match": {"text":
              |  {"query": "alpha", "fuzziness": 1}}}}""".stripMargin,
      2L -> """{"query": {"match_phrase": {"text":
              |  {"query": "alpha beta", "slop": 1}}}}""".stripMargin,
      3L -> """{"query": {"nested": {"path": "tags", "query": {"bool": {
              |  "must": [{"term": {"tags.type": "k"}},
              |           {"term": {"tags.value": "error"}}]}}}}}"""
        .stripMargin)
    val out = Dsl.percolateDslOf(docs, rules)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rule 1: fuzzy alpha hits docs 0 (alpa) and 1 (alpha);
    // rule 2: sloppy phrase hits doc 1 only (doc 0's typo misses);
    // rule 3: the (k, error) tag hits doc 0 only
    assert(out == Set((0L, 1L), (1L, 1L), (1L, 2L), (0L, 3L)),
      s"got $out")
  }

  test("nested agg: tag-grain buckets; parent doc_count counts tags") {
    val docs = Seq(
      (0L, "k", "a", "e", "x"),
      (1L, "k", "a", "e", "a"),
      (2L, "k", "b", "e", "x"))
      .toDF("doc_id", "t1", "v1", "t2", "v2")
      .select($"doc_id", array(
        struct($"t1".as("type"), $"v1".as("value")),
        struct($"t2".as("type"), $"v2".as("value"))).as("tags"))
    val out = Dsl.dslAggsOf(docs,
      """{"query": {"match_all": {}}, "size": 0,
        "aggs": {"tv": {"nested": {"path": "tags"},
          "aggs": {"vals": {"terms": {"field": "tags.value",
            "size": 10, "order": {"_key": "asc"}}}}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("doc_count"))).toSeq
    // parent counts TAGS (6), not docs (3); buckets count tag VALUES
    // across elements: a ×3 (docs 0,1,1), b ×1, x ×2
    assert(out == Seq(("tv", "", 6L), ("tv.vals", "a", 3L),
      ("tv.vals", "b", 1L), ("tv.vals", "x", 2L)), s"got $out")
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(docs, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "size": 0,
      "aggs": {"tv": {"nested": {"path": "tags"}}}}""")
      .contains("exactly one terms"),
      "a nested agg without its sub must refuse")
    assert(msg("""{"query": {"match_all": {}}, "size": 0,
      "aggs": {"tv": {"nested": {"path": "tags"},
        "aggs": {"v": {"terms": {"field": "value"}}}}}}""")
      .contains("tags.<subfield>"), "full-path addressing inside the agg")
    val scan = SparkEntry.queries("dsl_nested_aggs")(spark, sfDir)
      .collect().toSeq
    assert(scan.nonEmpty)
  }

  test("top_hits: per-bucket top documents, loud routing both ways") {
    // match alpha → {0,1,4}; terms lang → en{0,1}, fr{4}; top-1 by
    // n_chars desc: en → doc 0 (16), fr → doc 4 (16)
    val out = Dsl.dslTopHitsOf(tiny,
      """{"query": {"match": {"text": "alpha"}}, "size": 0,
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 2},
          "aggs": {"top": {"top_hits": {"size": 1,
            "sort": [{"n_chars": "desc"}]}}}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(("by_lang.top", "en", 1, 0L, 16L),
      ("by_lang.top", "fr", 1, 4L, 16L)), s"got $out")
    // size 2: en's second hit is doc 1 (10)
    val two = Dsl.dslTopHitsOf(tiny,
      """{"query": {"match": {"text": "alpha"}}, "size": 0,
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 1},
          "aggs": {"top": {"top_hits": {"size": 2,
            "sort": [{"n_chars": "desc"}]}}}}}}""")
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3)))
    assert(two.toSeq == Seq(("en", 1, 0L), ("en", 2, 1L)),
      "per-parent size-1 cut keeps en only; rk orders within the bucket")
    // routing: bucket-grain serving refuses the doc-grain sub…
    val e1 = intercept[IllegalArgumentException](Dsl.dslAggsOf(tiny,
      """{"query": {"match_all": {}}, "size": 0,
        "aggs": {"l": {"terms": {"field": "lang"},
          "aggs": {"t": {"top_hits": {"size": 1,
            "sort": [{"n_chars": "desc"}]}}}}}}"""))
    assert(e1.getMessage.contains("dslTopHitsOf"), e1.getMessage)
    // …and the doc-grain endpoint refuses anything but its one shape
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslTopHitsOf(tiny, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "size": 0,
      "aggs": {"l": {"terms": {"field": "lang"}}}}""")
      .contains("exactly ONE"))
    assert(msg("""{"query": {"match_all": {}}, "size": 0,
      "aggs": {"l": {"terms": {"field": "lang"},
        "aggs": {"t": {"top_hits": {"size": 1}}}}}}""")
      .contains("explicit field sort"))
    assert(msg("""{"query": {"match_all": {}}, "size": 0,
      "aggs": {"l": {"terms": {"field": "lang"},
        "aggs": {"t": {"top_hits": {"size": 1, "sort": ["_score"]}}}}}}""")
      .contains("_score"))
    // the SERVED twin refuses identically (r13 ADVICE: it silently
    // ignored top-level hit keys) — shape checks fire at parse,
    // before any index is touched, so a bad body never reads bytes
    def smsg(json: String): String =
      intercept[IllegalArgumentException](Dsl.dslTopHitsFromIndexes(
        spark, Seq("/nonexistent"), json)).getMessage
    assert(smsg("""{"query": {"match_all": {}}, "size": 3,
      "aggs": {"l": {"terms": {"field": "lang"},
        "aggs": {"t": {"top_hits": {"size": 1,
          "sort": [{"n_chars": "desc"}]}}}}}}""").contains("size: 0"),
      "served twin must refuse a non-zero top-level size")
    assert(smsg("""{"query": {"match_all": {}}, "size": 0, "from": 2,
      "aggs": {"l": {"terms": {"field": "lang"},
        "aggs": {"t": {"top_hits": {"size": 1,
          "sort": [{"n_chars": "desc"}]}}}}}}""").contains("from"),
      "served twin must refuse top-level from")
  }

  test("barrier persists are tracked and releasable") {
    // start from a drained queue — with QueriesSmokeSpec in the same
    // JVM first, the CAPPED queue sits at its bound and `>` can never
    // hold (run-order brittleness, caught r15)
    Dsl.releasePersisted()
    val before = Dsl.persistedFrameCount
    // an aggs body persists its bucket-grain barrier frame → tracked
    Dsl.dslAggsOf(tiny, """{"query": {"match_all": {}}, "size": 0,
      "aggs": {"s": {"terms": {"field": "source", "size": 3}}}}""")
      .collect()
    assert(Dsl.persistedFrameCount > before,
      "aggs barrier persist must register for cleanup")
    Dsl.releasePersisted()
    assert(Dsl.persistedFrameCount == 0,
      "releasePersisted drops every tracked handle")
  }

  test("terms missing buckets null docs; min_doc_count floors buckets") {
    val docs = tiny.withColumn("src_opt",
      org.apache.spark.sql.functions.when($"doc_id" =!= 0L, $"source"))
    def agg(json: String): Seq[(String, Long)] =
      Dsl.dslAggsOf(docs, json).collect()
        .map(r => (r.getString(1), r.getAs[Long]("doc_count"))).toSeq
    // doc 0's nulled source buckets under "none" instead of vanishing
    assert(agg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "s": {"terms": {"field": "src_opt", "size": 10,
        "missing": "none", "order": {"_key": "asc"}}}}}""") ==
      Seq(("none", 1L), ("src0", 1L), ("src1", 2L), ("src2", 1L)))
    // without missing, the null doc is skipped (the ES default)
    assert(agg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "s": {"terms": {"field": "src_opt", "size": 10,
        "order": {"_key": "asc"}}}}}""") ==
      Seq(("src0", 1L), ("src1", 2L), ("src2", 1L)))
    // min_doc_count floors BEFORE the cut: only en (3) survives ≥ 2
    assert(agg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "l": {"terms": {"field": "lang", "size": 10,
        "min_doc_count": 2}}}}""") == Seq(("en", 3L)))
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(docs, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"terms": {"field": "n_chars", "missing": "na"}}}}""")
      .contains("does not match"),
      "a type-mismatched missing value must refuse, not mis-bucket")
    assert(msg("""{"query": {"match_all": {}}, "size": 0, "aggs": {
      "x": {"terms": {"field": "lang", "min_doc_count": 0}}}}""")
      .contains("min_doc_count"))
  }

  test("cardinality precision_threshold: the HLL++ sketch tracks the exact twin") {
    // the registered sketch body vs the same body with thresholds
    // stripped (exact distinct) — the sketch must land within the
    // 5% HLL bound of every exact count (and exactly on it here:
    // HLL++ is exact in its sparse regime, ES's "accurate below the
    // threshold" contract; the corpus cardinalities are tiny)
    val exactBody = Dsl.AggsHllQuery.replaceAll(
      """,\s*"precision_threshold": \d+""", "")
    val docs = Tables.documentsPar(spark, sfDir)
    def counts(json: String): Map[(String, String), Long] =
      Dsl.dslAggsOf(docs, json).collect()
        .filter(r => !r.isNullAt(r.fieldIndex("v_count")))
        .map(r => (r.getString(0), r.getString(1)) ->
          r.getAs[Long]("v_count")).toMap
    val approx = counts(Dsl.AggsHllQuery)
    val exact = counts(exactBody)
    assert(approx.keySet == exact.keySet,
      "sketch and exact twins must emit the same buckets")
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e) <= math.max(1L, math.ceil(0.05 * e).toLong),
        s"sketch cardinality out of bound at $k: approx=$a exact=$e")
    }
    // the sketch form has NO generated oracle — refusal is loud
    val e = intercept[IllegalArgumentException](
      Dsl.dslAggsSql(Dsl.AggsHllQuery))
    assert(e.getMessage.contains("sketch"), e.getMessage)
    // precision_threshold bounds per ES
    val bad = intercept[IllegalArgumentException](Dsl.dslAggsOf(docs,
      """{"query": {"match_all": {}}, "size": 0, "aggs": {
        "x": {"cardinality": {"field": "lang",
              "precision_threshold": 50000}}}}"""))
    assert(bad.getMessage.contains("40000"), bad.getMessage)
  }

  test("dsl_served ≡ dsl_search bit-for-bit, for every registered body") {
    // the DSL compiled onto the persisted index must reproduce the
    // scan path exactly — same integers into the same shared score
    // expressions, so the ranking (and every echoed column) is
    // bit-identical, not approximately equal. One pair per row of the
    // registered table with a served form, plus the hand-wired pairs.
    // Every one of these bodies defines its row order (hits by rk,
    // buckets by agg/key/key2, suggestions by sugg/rk, top_hits by
    // agg/key/rk, msearch by req/rk, count is one row), so none needs
    // a sorted-multiset comparison: every pair compares ordered.
    def rows(name: String): Seq[Seq[Any]] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toSeq).toSeq
    val pairs = Dsl.registered.filter(_.served)
      .map(r => r.name -> s"${r.name}_served") ++ Seq(
        "dsl_search" -> "dsl_served",
        "dsl_count" -> "dsl_count_served",
        "dsl_msearch" -> "dsl_msearch_served")
    assert(pairs.size >= 65, s"only ${pairs.size} served pairs")
    pairs.foreach { case (scanName, servedName) =>
      assert(rows(servedName) == rows(scanName),
        s"$servedName diverged from the scan path ($scanName)")
    }
    // r14 regression pin: a global agg beside a TEXT query must widen
    // the served candidate universe to the whole corpus (like
    // significant_terms) — without it "all docs" counted only
    // term-matched docs
    assert(Dsl.dslAggsGlobalServed(spark, sfDir).collect().toSeq ==
      Dsl.dslAggsOf(Tables.documentsPar(spark, sfDir),
        Dsl.AggsGlobalQuery).collect().toSeq,
      "served global agg diverged from the scan path (universe bug)")
    // a doc-value-less field refuses loudly instead of scanning text
    val idx = Dsl.searchDslServed(spark, sfDir) // memo warm
    val e = intercept[IllegalArgumentException](
      Dsl.searchDslFromIndexes(spark,
        Seq(sys.props("java.io.tmpdir") + "/graft_searchidx_" +
          Tables.viewSuffix(sfDir)),
        """{"query": {"exists": {"field": "nope"}}}"""))
    assert(e.getMessage.contains("doc-values"), e.getMessage)
  }

  test("ids / prefix / wildcard compile to exact doc-value predicates") {
    assert(ids(run("""{"query": {"ids": {"values": [0, 2]}}}""", tiny)) ==
      Seq(0L, 2L))
    assert(ids(run("""{"query": {"prefix": {"lang": "e"}}}""", tiny)).toSet ==
      Set(0L, 1L, 3L), "prefix short form on lang=e*")
    assert(ids(run("""{"query": {"prefix": {"source": {"value": "src"}}}}""",
      tiny)).size == 5)
    assert(ids(run("""{"query": {"wildcard": {"source": {"value": "s*2"}}}}""",
      tiny)) == Seq(4L), "wildcard * run")
    assert(ids(run("""{"query": {"wildcard": {"source": {"value": "src?"}}}}""",
      tiny)).size == 5, "wildcard ? single char")
    // regex metacharacters in the pattern are literals, not operators
    assert(ids(run("""{"query": {"wildcard": {"source": {"value": "src."}}}}""",
      tiny)).isEmpty, "a literal dot must not match any char")
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"prefix": {"lang": {"value": ""}}}}""")
      .contains("non-empty"))
    assert(msg("""{"query": {"ids": {"values": []}}}""").contains("values"))
    assert(msg("""{"query": {"prefix": {"lang":
      {"value": "e", "rewrite": "x"}}}}""").contains("rewrite"),
      "modifier keys refuse loudly here too")
  }

  test("constant_score scores its boost; dis_max takes the best branch + tie_breaker") {
    // constant_score alone: every en doc scores exactly the boost →
    // doc_id order within the matched set
    val cs = run("""{"query": {"constant_score": {
      "filter": {"term": {"lang": "en"}}, "boost": 2.5}}}""", tiny)
    assert(ids(cs) == Seq(0L, 1L, 3L), s"constant_score gate: $cs")
    // x-tf2 vs both-terms doc: tb=0 ranks the best single branch,
    // tb=1 degenerates to the should-sum — order provably flips
    val dm = Seq(
      (0L, "x x", "en", "s", 3L),
      (1L, "x y", "en", "s", 3L),
      (2L, "y y", "en", "s", 3L)).toDF("doc_id", "text", "lang", "source",
      "n_chars")
    val best = ids(run("""{"query": {"dis_max": {"queries": [
      {"match": {"text": "x"}}, {"match": {"text": "y"}}]}}}""", dm))
    assert(best == Seq(0L, 2L, 1L),
      s"tb=0: the tf-2 single-term docs outrank the split doc: $best")
    val tb1 = ids(run("""{"query": {"dis_max": {"queries": [
      {"match": {"text": "x"}}, {"match": {"text": "y"}}],
      "tie_breaker": 1.0}}}""", dm))
    assert(tb1 == Seq(1L, 0L, 2L),
      s"tb=1: the sum of two tf-1 branches beats one tf-2: $tb1")
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"dis_max": {"queries": [
      {"match_all": {}}], "tie_breaker": 1.5}}}""").contains("tie_breaker"))
    assert(msg("""{"query": {"constant_score": {"boost": 2}}}""")
      .contains("filter"))
  }

  test("sort / from / _source shape the hit list; field-only sort skips the stats") {
    // n_chars desc, doc_id tiebreak: 0(16) 4(16) 1(10) 2(10) 3(9);
    // from=1 size=2 → global ranks 2,3
    val page = Dsl.searchDslOf(tiny,
      """{"query": {"match_all": {}},
        "sort": [{"n_chars": {"order": "desc"}}],
        "from": 1, "size": 2, "_source": ["n_chars"]}""").collect()
    assert(page.map(_.getInt(0)).toSeq == Seq(2, 3), "global ranks")
    assert(page.map(_.getLong(1)).toSeq == Seq(4L, 1L),
      s"page-2 of the n_chars ordering")
    assert(page.head.schema.fieldNames.toSeq == Seq("rk", "doc_id", "n_chars"),
      "_source controls the hit shape")
    // "_source": false → rk + doc_id only
    val bare = Dsl.searchDslOf(tiny,
      """{"query": {"match_all": {}}, "_source": false, "size": 1}""")
    assert(bare.columns.toSeq == Seq("rk", "doc_id"))
    // a field-only sort never evaluates scores: no stats aggregate,
    // no broadcast join — even though the query has a scored match
    val plan = Dsl.searchDslOf(tiny,
      """{"query": {"match": {"text": "alpha"}},
        "sort": [{"n_chars": "desc"}], "size": 3}""")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Aggregate") && !plan.contains("NestedLoopJoin"),
      s"track_scores=false under field sort must skip the statistics:\n$plan")
    // _score in the sort list brings the statistics back
    val scored = Dsl.searchDslOf(tiny,
      """{"query": {"match": {"text": "alpha"}},
        "sort": [{"n_chars": "desc"}, "_score"], "size": 3}""")
      .queryExecution.executedPlan.toString
    assert(scored.contains("Aggregate"), "_score sort needs the stats")
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "from": 9999, "size": 10}""")
      .contains("from"), "from past the result window must refuse")
    assert(msg("""{"query": {"match_all": {}},
      "sort": [{"n_chars": {"order": "desc", "mode": "avg"}}]}""")
      .contains("mode"))
    assert(msg("""{"query": {"match_all": {}}, "_source": ["doc_id"]}""")
      .contains("doc_id"))
  }

  test("search_after: keyset page 2 ≡ offset page 2, cursor refusals") {
    // tiny n_chars desc: 0(16) 4(16) 1(10) 2(10) 3(9); page 1 size 2 →
    // [0, 4]; cursor (16, 4); page 2 → [1, 2] with page-local ranks
    val page2 = Dsl.searchDslOf(tiny,
      """{"query": {"match_all": {}},
        "sort": [{"n_chars": "desc"}], "size": 2,
        "_source": ["n_chars"], "search_after": [16, 4]}""").collect()
    assert(page2.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 1L), (2, 2L)), s"keyset page 2: ${page2.toSeq}")
    // ≡ the offset form (rk re-based)
    val offset = Dsl.searchDslOf(tiny,
      """{"query": {"match_all": {}},
        "sort": [{"n_chars": "desc"}], "size": 2, "from": 2,
        "_source": ["n_chars"]}""").collect()
    assert(page2.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      offset.map(r => (r.getLong(1), r.getLong(2))).toSeq,
      "keyset ≡ offset under the total order")
    // a mid-tie cursor splits the tie by doc_id: after (16, 0) → 4 first
    val midTie = Dsl.searchDslOf(tiny,
      """{"query": {"match_all": {}},
        "sort": [{"n_chars": "desc"}], "size": 2,
        "_source": ["n_chars"], "search_after": [16, 0]}""").collect()
    assert(midTie.map(_.getLong(1)).toSeq == Seq(4L, 1L),
      "the doc_id tiebreaker must page INTO a sort-value tie")
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_all": {}},
      "search_after": [16, 4]}""").contains("sort"),
      "search_after without sort must refuse")
    assert(msg("""{"query": {"match_all": {}},
      "sort": [{"n_chars": "desc"}, "_score"],
      "search_after": [16, 0.5, 4]}""").contains("_score"))
    assert(msg("""{"query": {"match_all": {}},
      "sort": [{"n_chars": "desc"}], "from": 2,
      "search_after": [16, 4]}""").contains("mutually exclusive"))
    assert(msg("""{"query": {"match_all": {}},
      "sort": [{"n_chars": "desc"}], "search_after": [16]}""")
      .contains("tiebreaker"), "cursor arity must match sort + doc_id")
  }

  test("sort places null keys LAST under both orders (ES missing:_last)") {
    val withNull = Seq(
      (0L, "alpha", "en", "s", Some(16L)),
      (1L, "alpha", "en", "s", None),
      (2L, "alpha", "en", "s", Some(9L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def order(ord: String): Seq[Long] =
      Dsl.searchDslOf(withNull, s"""{"query": {"match_all": {}},
        "sort": [{"n_chars": "$ord"}]}""").collect()
        .map(_.getLong(1)).toSeq
    assert(order("desc") == Seq(0L, 2L, 1L), "desc: null last")
    assert(order("asc") == Seq(2L, 0L, 1L), "asc: null last")
    // a terms agg on a NUMERIC field keys by its decimal string —
    // both engines cast identically
    val numKeys = Dsl.dslAggsOf(tiny,
      """{"query": {"match_all": {}}, "size": 0, "aggs": {
        "n": {"terms": {"field": "n_chars", "size": 10}}}}""")
      .collect().map(_.getString(1)).toSeq
    assert(numKeys == Seq("10", "16", "9"),
      s"numeric bucket keys stringify: $numKeys")
  }

  test("_count: the match-set cardinality, query-only body") {
    val c = Dsl.dslCountOf(tiny,
      """{"query": {"match": {"text": "alpha"}}}""").collect()
    assert(c.head.getLong(0) == 3L)
    // filter-context: a text-free count never reads text
    val plan = Dsl.dslCountOf(tiny,
      """{"query": {"term": {"lang": "en"}}}""")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("text"), s"count must prune the text column:\n$plan")
    val e = intercept[IllegalArgumentException](Dsl.dslCountOf(tiny,
      """{"query": {"match_all": {}}, "size": 5}"""))
    assert(e.getMessage.contains("query"), e.getMessage)
  }

  test("_msearch: one shared pass answers N requests, each ≡ its solo run") {
    val bodies = Seq(
      """{"query": {"match": {"text": "alpha"}}, "size": 3}""",
      """{"query": {"terms": {"lang": ["de", "fr"]}}, "size": 3}""",
      """{"query": {"match": {"text": "beta"}},
        "sort": [{"n_chars": "asc"}], "from": 1, "size": 2}""")
    val batched = Dsl.msearchOf(tiny, bodies).collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.toSeq.drop(1)).toSeq)
      .toMap
    bodies.zipWithIndex.foreach { case (b, i) =>
      val solo = Dsl.searchDslOf(tiny, b).collect().map(_.toSeq).toSeq
      assert(batched(i) == solo,
        s"request $i diverged from its solo run: ${batched(i)} vs $solo")
    }
    // ONE corpus pass: every rank tail and the statistics read the one
    // cache of the shared feature frame (union deduplication defeats
    // cached-plan matching — each branch would otherwise re-run the
    // whole scan), so the executed plan holds no direct parquet scan,
    // no RDD scan, and one cache (one materialization, N readers).
    val msDf = Dsl.msearchOf(Tables.documentsPar(spark, sfDir), bodies)
    msDf.collect()
    assertOneMaterialization(msDf, 1, "_msearch")
    def msg(bs: Seq[String]): String =
      intercept[IllegalArgumentException](
        Dsl.msearchOf(tiny, bs)).getMessage
    assert(msg(Seq("""{"query": {"match_all": {}},
      "_source": ["lang"]}""")).contains("_source"),
      "the batched frame is uniform — _source refuses")
    assert(msg(Seq.empty).contains("empty"))
  }

  test("former RDD-wrap shares materialize once: near-dup, suggest, sampler") {
    // each builds under an emptied ring, so the ring's size after the
    // build is the number of frames the plan shares
    def check(what: String, build: => DataFrame): Unit = {
      Dsl.releasePersisted()
      val df = build
      val shared = Dsl.persistedFrameCount
      df.collect()
      assert(shared > 0, s"$what shares no frame")
      assertOneMaterialization(df, shared, what)
    }
    val docs = Tables.documentsPar(spark, sfDir)
    check("image_neardup", graft.ops.Multimodal.imageNearDup(spark, sfDir))
    check("suggest", Dsl.dslSuggestOf(docs, Dsl.SuggestBodyQuery))
    check("sampler aggs", Dsl.dslAggsOf(docs, Dsl.AggsSamplerQuery))
    Dsl.releasePersisted()
  }

  test("a shared frame recomputes after its cache is released") {
    val idx = Seq(sys.props("java.io.tmpdir") + "/graft_searchidx_" +
      Tables.viewSuffix(sfDir))
    Dsl.searchDslServed(spark, sfDir) // memo warm (index built)
    val docs = Tables.documentsPar(spark, sfDir)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    Seq[(String, () => DataFrame)](
      "scan msearch" -> (() => Dsl.msearchOf(docs, Dsl.MsearchBodies)),
      "served msearch" -> (() =>
        Dsl.msearchFromIndexes(spark, idx, Dsl.MsearchBodies)),
      "suggest" -> (() => Dsl.dslSuggestOf(docs, Dsl.SuggestBodyQuery)),
      "image_neardup" -> (() =>
        graft.ops.Multimodal.imageNearDup(spark, sfDir)),
      "funnel_steps" -> (() =>
        graft.ops.TimeWindows.funnelSteps(spark, sfDir))
    ).foreach { case (what, build) =>
      Dsl.releasePersisted()
      val want = rows(build())
      Dsl.releasePersisted()
      val df = build()
      assert(Dsl.persistedFrameCount > 0, s"$what shares no frame")
      Dsl.releasePersisted()
      assert(Dsl.persistedFrameCount == 0, s"$what: the ring still holds frames")
      assert(rows(df) == want, s"$what: a released share read other rows")
    }
  }

  test("served _msearch splits scoreless requests off the df-bounded pass") {
    val idx = Seq(sys.props("java.io.tmpdir") + "/graft_searchidx_" +
      Tables.viewSuffix(sfDir))
    Dsl.searchDslServed(spark, sfDir) // memo warm (index built)
    val scored = Seq(
      """{"query": {"match": {"text": "dup vector"}}, "size": 5}""",
      """{"query": {"match": {"text": "merge"}}, "size": 5}""")
    val filterOnly =
      """{"query": {"range": {"n_chars": {"gte": 200, "lt": 260}}},
        |  "size": 5}""".stripMargin
    val bodies = scored :+ filterOnly
    // correctness: each request in the mixed batch ≡ its solo served run
    val batched = Dsl.msearchFromIndexes(spark, idx, bodies).collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.map(_.toSeq.drop(1)).toSeq).toMap
    bodies.zipWithIndex.foreach { case (b, i) =>
      val solo = Dsl.searchDslFromIndexes(spark, idx, b).collect()
        .map(_.toSeq).toSeq
      assert(batched(i) == solo, s"mixed-batch request $i diverged")
    }
    // the split: two candidate frames, and the text-bound one stays
    // df-bounded (docs holding ≥1 query term), NOT the whole corpus —
    // the filter-only request no longer widens the scored pass
    val frames = Dsl.msearchServedFrames(spark, idx, bodies)
    assert(frames.map(_._1).sorted == Seq(false, true),
      "a mixed batch must form one text-bound and one doc-values group")
    val corpus = Tables.documentsPar(spark, sfDir)
    val n = corpus.count()
    val withTerm = corpus.filter(
      org.apache.spark.sql.functions.lower($"text").rlike(
        "(^| )(dup|vector|merge)( |$)")).count()
    val textFrame = frames.find(_._1).get._2
    assert(textFrame.count() == withTerm && withTerm < n,
      s"text-bound candidates must be df-bounded: frame=" +
        s"${textFrame.count()} termDocs=$withTerm corpus=$n")
    // an all-text batch still shares ONE pass
    assert(Dsl.msearchServedFrames(spark, idx, scored).size == 1)
  }

  test("terms lookups resolve in _count, top_hits and composite, scan and served") {
    val idx = Seq(sys.props("java.io.tmpdir") + "/graft_searchidx_" +
      Tables.viewSuffix(sfDir))
    Dsl.searchDslServed(spark, sfDir) // memo warm (index built)
    val docs = Tables.documentsPar(spark, sfDir)
    val lang = docs.filter(col("doc_id") === 5).select("lang").head.getString(0)
    val lookup =
      """{"terms": {"lang": {"index": "documents", "id": 5, "path": "lang"}}}"""
    val literal = s"""{"terms": {"lang": ["$lang"]}}"""
    def countBody(t: String) =
      s"""{"query": {"bool": {"must": [{"match": {"text": "dup"}}],
        "filter": [$t]}}}"""
    def topHitsBody(t: String) =
      s"""{"query": {"bool": {"filter": [$t]}}, "size": 0,
        "aggs": {"by_src": {"terms": {"field": "source", "size": 3},
          "aggs": {"top": {"top_hits": {"size": 2,
            "sort": [{"n_chars": "desc"}]}}}}}}"""
    def compositeBody(t: String) =
      s"""{"query": $t, "size": 0, "aggs": {"p": {"composite": {
        "size": 10, "sources": [{"src": {"terms": {"field": "source"}}}]}}}}"""
    val paths: Seq[(String, String => String, String => DataFrame)] = Seq(
      ("scan _count", countBody, Dsl.dslCountOf(docs, _)),
      ("served _count", countBody, Dsl.dslCountFromIndexes(spark, idx, _)),
      ("scan top_hits", topHitsBody, Dsl.dslTopHitsOf(docs, _)),
      ("served top_hits", topHitsBody,
        Dsl.dslTopHitsFromIndexes(spark, idx, _)),
      ("scan composite", compositeBody, Dsl.dslAggsCompositeOf(docs, _)),
      ("served composite", compositeBody,
        Dsl.dslAggsCompositeFromIndexes(spark, idx, _)))
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    paths.foreach { case (name, body, compile) =>
      val want = rows(compile(body(literal)))
      assert(want.nonEmpty && want != Seq(Seq(0L)),
        s"$name: the literal body must match documents")
      assert(rows(compile(body(lookup))) == want,
        s"$name: the lookup body diverged from its literal form")
    }
  }

  test("served top_hits refuses runtime_mappings like the scan path") {
    val idx = Seq(sys.props("java.io.tmpdir") + "/graft_searchidx_" +
      Tables.viewSuffix(sfDir))
    Dsl.searchDslServed(spark, sfDir) // memo warm (index built)
    val e = intercept[IllegalArgumentException](
      Dsl.dslTopHitsFromIndexes(spark, idx, """{"runtime_mappings": {"x":
        {"type": "double", "script": "emit(doc['n_chars'].value)"}},
        "size": 0, "aggs": {"l": {"terms": {"field": "lang"},
        "aggs": {"h": {"top_hits": {"size": 1, "sort":
          [{"doc_id": "asc"}]}}}}}}"""))
    assert(e.getMessage.contains("top_hits endpoint"), e.getMessage)
  }

  test("highlight: fetch-phase snippets for the page only, clause-order anchor") {
    val out = Dsl.searchDslOf(tiny,
      """{"query": {"bool": {
        "must": [{"match": {"text": "beta"}}],
        "should": [{"match": {"text": "gamma"}}]}},
        "size": 2, "highlight": {"fields": {"text": {}}}}""").collect()
    assert(out.head.schema.fieldNames.takeRight(2).toSeq ==
      Seq("h_pos", "h_snippet"))
    // every returned hit matched beta (a must) → h_pos is the 1-based
    // position of "beta" (first literal in clause order), snippet
    // windows around it
    out.foreach { r =>
      val pos = r.getInt(5)
      val snip = r.getString(6)
      assert(pos > 0 && snip.contains("beta"),
        s"snippet must cover the anchor term: pos=$pos snip='$snip'")
    }
    // highlight on a field the query never matches refuses loudly
    val e = intercept[IllegalArgumentException](Dsl.searchDslOf(tiny,
      """{"query": {"term": {"lang": "en"}},
        "highlight": {"fields": {"text": {}}}}"""))
    assert(e.getMessage.contains("nothing to highlight"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](Dsl.searchDslOf(tiny,
      """{"query": {"match": {"text": "beta"}},
        "highlight": {"fields": {"text": {"number_of_fragments": 3}}}}"""))
    assert(e2.getMessage.contains("number_of_fragments"), e2.getMessage)
  }

  test("dsl_alias: the DSL resolved through the daily-index alias ≡ the scan path") {
    val scan = SparkEntry.queries("dsl_search")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val viaAlias = Dsl.searchDslAlias(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaAlias == scan,
      "alias members + merged stats must reproduce the one-corpus ranking")
  }

  test("simple_query_string: grammar table over the tiny corpus") {
    def jstr(q: String): String =
      "\"" + q.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def sqs(q: String): Set[Long] =
      ids(run(s"""{"query": {"simple_query_string": {"query": ${jstr(q)},
        "fields": ["text"], "default_operator": "and"}}}""",
        tiny)).toSet
    // bare words under default and ≡ the match operator-and clause
    assert(run("""{"query": {"simple_query_string": {"query":
        "alpha beta", "fields": ["text"], "default_operator": "and"}}}""",
      tiny) == run("""{"query": {"match": {"text":
        {"query": "alpha beta", "operator": "and"}}}}""", tiny),
      "sqs bare words must compile to the match clause exactly")
    // left-fold equal precedence: (rare | gamma) AND beta
    assert(sqs("rare | gamma beta") == Set(2L, 3L, 4L))
    // negation joins by the default operator
    assert(sqs("beta -gamma") == Set(1L, 3L))
    // phrase + slop: alpha … gamma within one intervener
    assert(sqs("\"alpha gamma\"~1") == Set(4L))
    // trailing-star prefix is TERM-level (analyzed), not raw startsWith
    assert(sqs("gam*") == Set(2L, 4L))
    // fuzzy word ~1
    assert(sqs("alphq~1") == Set(0L, 1L, 4L))
    // parens group
    assert(sqs("(rare | alpha) -beta") == Set(0L))
    // or-default + msm grammar over the top-level disjunction
    val msm = ids(run("""{"query": {"simple_query_string": {
      "query": "rare gamma beta", "fields": ["text"],
      "minimum_should_match": 2}}}""", tiny)).toSet
    assert(msm == Set(2L, 3L, 4L), s"msm=2 over 3 shoulds: $msm")
    // a colon in sqs is TEXT (the ES stance): matches nothing here
    assert(sqs("lang:de") == Set.empty, "sqs ':' must stay text")
  }

  test("query_string: fielded grammar over the tiny corpus") {
    def jstr(q: String): String =
      "\"" + q.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def qs(q: String): Set[Long] =
      ids(run(s"""{"query": {"query_string": {"query": ${jstr(q)},
        "default_field": "text"}}}""", tiny)).toSet
    assert(qs("text:alpha AND lang:en") == Set(0L, 1L))
    assert(qs("alpha AND NOT source:src1") == Set(0L, 4L))
    assert(qs("n_chars:>=16") == Set(0L, 4L))
    assert(qs("alpha && n_chars:<10") == Set.empty)
    assert(qs("_exists_:lang") == Set(0L, 1L, 2L, 3L, 4L))
    assert(qs("*") == Set(0L, 1L, 2L, 3L, 4L), "lone * is match_all")
    assert(qs("source:src1*") == Set(1L, 3L), "raw keyword prefix")
    assert(qs("lang:d?") == Set(2L), "keyword wildcard")
    assert(qs("rare || gamma") == Set(0L, 2L, 3L, 4L))
    // ^boost changes ranking, not matching: beta^3 outranks the
    // rare-only docs when OR'd
    val ranked = ids(run("""{"query": {"query_string": {"query":
      "rare | beta^5", "default_field": "text"}}}""", tiny))
    assert(ranked.toSet == Set(0L, 1L, 2L, 3L, 4L))
    // the boosted beta docs (1,2,3,4 hold beta) outrank doc 0
    // (rare-only): doc 0 must come last
    assert(ranked.last == 0L, s"boost must dominate the order: $ranked")
  }

  test("query-string grammars refuse unsupported syntax loudly") {
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    def sqsMsg(q: String): String = msg(
      s"""{"query": {"simple_query_string": {"query": "$q",
        "fields": ["text"]}}}""")
    def qsMsg(q: String): String = msg(
      s"""{"query": {"query_string": {"query": "$q",
        "default_field": "text"}}}""")
    assert(sqsMsg("alpha |").contains("dangling"))
    assert(sqsMsg("| alpha").contains("leading operator"))
    assert(sqsMsg("alpha | + beta").contains("conflicting"))
    assert(sqsMsg("(alpha beta").contains("unbalanced"))
    assert(sqsMsg("alpha beta)").contains("unbalanced"))
    assert(sqsMsg("alpha~3").contains("bounded at 2"))
    assert(sqsMsg("al*ha").contains("wildcards inside analyzed"))
    assert(sqsMsg("*").contains("query_string syntax"))
    assert(qsMsg("n_chars:[10 TO 16]").contains("range syntax"))
    assert(qsMsg("text:/al.*/").contains("regex"))
    assert(qsMsg("text:(alpha beta)").contains("grouping"))
    assert(qsMsg("lang:en~1").contains("analyzed text fields"))
    assert(msg("""{"query": {"simple_query_string": {"query": "a b",
      "fields": ["text"], "flags": "ALL"}}}""")
      .contains("unsupported option 'flags'"))
    assert(msg("""{"query": {"query_string": {"query": "alpha",
      "default_field": "text", "fields": ["text"]}}}""")
      .contains("not both"))
    assert(msg("""{"query": {"simple_query_string": {"query":
      "alpha beta", "fields": ["text"], "default_operator": "and",
      "minimum_should_match": 2}}}""").contains("top-level OR group"))
    assert(msg("""{"query": {"simple_query_string": {"query": "  ",
      "fields": ["text"]}}}""").contains("empty"))
  }

  test("query-string default fields: sqs searches every analyzed field") {
    // tiny docs are shorter than HeadLen, so head ≡ text: the
    // two-field default must return the same MATCH SET as text alone
    val both = ids(run("""{"query": {"simple_query_string": {
      "query": "alpha beta", "default_operator": "and"}}}""", tiny)).toSet
    assert(both == Set(1L, 4L), s"default-fields match set: $both")
  }

  test("composite agg: keyset pages ≡ offset pages, cursor filters below the aggregate") {
    def body(size: Int, after: String = "", langOrd: String = "asc")
        : String =
      s"""{"query": {"match_all": {}}, "size": 0,
        "aggs": {"p": {"composite": {"size": $size, "sources": [
          {"lang": {"terms": {"field": "lang", "order": "$langOrd"}}},
          {"len": {"histogram": {"field": "n_chars", "interval": 8}}}
        ]$after}}}}"""
    def rows(json: String): Seq[(String, Long, Long)] =
      Dsl.dslAggsCompositeOf(tiny, json).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // tiny buckets (lang, n_chars//8*8): (de,8):1, (en,8):2, (en,16):1,
    // (fr,16):1 — key order asc
    assert(rows(body(10)) == Seq(("de", 8L, 1L), ("en", 8L, 2L),
      ("en", 16L, 1L), ("fr", 16L, 1L)))
    val page1 = rows(body(2))
    assert(page1 == Seq(("de", 8L, 1L), ("en", 8L, 2L)))
    val page2 = rows(body(2,
      """, "after": {"lang": "en", "len": 8}"""))
    assert(page2 == Seq(("en", 16L, 1L), ("fr", 16L, 1L)),
      s"keyset page 2: $page2")
    // keyset ≡ offset on the same ordering
    assert(page2 == rows(body(10)).drop(2).take(2),
      "the after cursor must reproduce the offset page")
    // per-source direction: lang desc, len asc
    assert(rows(body(10, langOrd = "desc")) == Seq(("fr", 16L, 1L),
      ("en", 8L, 2L), ("en", 16L, 1L), ("de", 8L, 1L)))
    // the cursor gates ROWS below the aggregate (keyset-over-offset
    // at scale): on a parquet-backed corpus (the tiny LocalRelation
    // constant-folds), the after comparison reaches the SCAN side —
    // no Filter remains above the Aggregate and the pushed filter
    // shows in the scan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter}
    val lp = Dsl.dslAggsCompositeOf(Tables.documentsPar(spark, sfDir),
      body(2, """, "after": {"lang": "en", "len": 8}"""))
      .queryExecution.optimizedPlan
    val agg = lp.collectFirst { case a: Aggregate => a }.get
    assert(agg.child.collect {
      case f: LFilter if f.condition.toString.contains("> en") => f
    }.nonEmpty || agg.child.toString.contains("> en"),
      s"after-cursor gate must sit below the aggregate:\n$lp")
    assert(!lp.collect { case f: LFilter => f }.exists(f =>
      lp.children.contains(f)),
      "no post-aggregate cursor filter may remain")
  }

  test("composite metric subs ride each bucket row") {
    val rows = Dsl.dslAggsCompositeOf(tiny, """{"size": 0, "aggs":
      {"p": {"composite": {"size": 10, "sources": [
        {"lg": {"terms": {"field": "lang"}}},
        {"sr": {"terms": {"field": "source", "order": "desc"}}}]},
      "aggs": {
        "chars": {"avg": {"field": "n_chars"}},
        "longest": {"max": {"field": "n_chars"}},
        "ids": {"value_count": {"field": "doc_id"}}}}}}""").collect()
    val got = rows.map(r => (r.getString(0), r.getString(1),
      r.getLong(r.fieldIndex("doc_count")),
      r.getDouble(r.fieldIndex("chars")),
      r.getDouble(r.fieldIndex("longest")),
      r.getLong(r.fieldIndex("ids")))).toSeq
    assert(got == Seq(
      ("de", "src0", 1L, 10.0, 10.0, 1L),
      ("en", "src1", 2L, 9.5, 10.0, 2L),
      ("en", "src0", 1L, 16.0, 16.0, 1L),
      ("fr", "src2", 1L, 16.0, 16.0, 1L)), s"got $got")
    // refusals: bucket subs, colliding names, non-field options
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsCompositeOf(tiny, body)).getMessage
    assert(msg("""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"lg": {"terms": {"field": "lang"}}}]}, "aggs": {"t": {"terms":
      {"field": "source"}}}}}}""").contains("single-value"))
    assert(msg("""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"lg": {"terms": {"field": "lang"}}}]}, "aggs": {"lg": {"avg":
      {"field": "n_chars"}}}}}}""").contains("collides"))
    assert(msg("""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"lg": {"terms": {"field": "lang"}}}]}, "aggs": {"a": {"avg":
      {"field": "n_chars", "missing": 0}}}}}}""").contains("missing"))
  }

  test("composite agg refuses unsupported shapes loudly") {
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsCompositeOf(tiny, json)).getMessage
    val src = """{"lang": {"terms": {"field": "lang"}}}"""
    // metric subs parse since r17; a BUCKET sub still refuses
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite":
      {"sources": [$src]}, "aggs": {"m": {"date_histogram": {"field":
      "pd", "calendar_interval": "day"}}}}}}""")
      .contains("single-value"))
    assert(msg("""{"size": 3, "aggs": {"p": {"composite":
      {"sources": [{"l": {"terms": {"field": "lang"}}}]}}}}""")
      .contains("size must be 0"))
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"d": {"date_histogram": {"field": "lang"}}}]}}}}""")
      .contains("unsupported type"))
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"l": {"terms": {"field": "lang", "missing_bucket": true}}}]}}}}""")
      .contains("unsupported option 'missing_bucket'"))
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [$src, {"len": {"histogram": {"field": "n_chars",
      "interval": 8}}}], "after": {"lang": "en"}}}}}""")
      .contains("missing 'len'"))
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [$src], "after": {"lang": "en", "oops": 1}}}}}""")
      .contains("'oops' is not a source"))
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"doc_count": {"terms": {"field": "lang"}}}]}}}}""")
      .contains("may not be named"))
    assert(msg(s"""{"size": 0, "aggs": {"p": {"composite": {"sources":
      [{"h": {"histogram": {"field": "n_chars", "interval": 0}}}]}}}}""")
      .contains("positive integer"))
    // the generic agg route refuses composite (it is its own endpoint)
    val generic = intercept[IllegalArgumentException](
      Dsl.dslAggsOf(tiny, s"""{"query": {"match_all": {}}, "size": 0,
        "aggs": {"p": {"composite": {"sources": [$src]}}}}""")).getMessage
    assert(generic.contains("composite pages through its own endpoint"))
  }

  test("knn: the body's vector literal round-trips exactly; served probe prunes partitions") {
    import org.apache.spark.sql.functions.{broadcast, col, sqrt}
    val emb = Tables.embeddings(spark, sfDir)
    // in-engine join form of the same search (vector never serialized)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val joined = emb.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (ops.Similarity.dotD(col("embedding"), col("qv")) /
          sqrt(ops.Similarity.dotD(col("embedding"), col("embedding")) *
            ops.Similarity.dotD(col("qv"), col("qv")))).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .collect().map(_.toSeq).toSeq
    val viaBody = Dsl.dslKnn(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(viaBody == joined,
      "the JSON query_vector round-trip must be bit-exact")
    // the query's own row tops the list at score 1.0ish (cos(v, v))
    assert(viaBody.head(0) == 0L)
    // served twin: only the probed index partitions are read
    val served = Dsl.dslKnnServed(spark, sfDir)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"knn served scan must prune by bucket:\n$plan")
    val sRows = served.collect()
    assert(sRows.head.getLong(0) == 0L &&
      math.abs(sRows.head.getDouble(2) - 1.0) < 1e-12,
      "the query's own indexed row must top the probe at cos ≈ 1")
  }

  test("knn hybrid: rrf fuses the DSL page with the vector ranking") {
    val rows = Dsl.dslKnnHybrid(spark, sfDir).collect()
    assert(rows.length == ops.Search.RrfTopK)
    // rrf recomputes from the emitted ranks — the fusion is pure rank
    // arithmetic, nothing hidden
    rows.foreach { r =>
      val rt = if (r.isNullAt(1)) 0.0
        else 1.0 / (ops.Search.RrfK + r.getInt(1))
      val rv = if (r.isNullAt(2)) 0.0
        else 1.0 / (ops.Search.RrfK + r.getInt(2))
      assert(r.getDouble(3) == rt + rv,
        s"rrf must equal its rank sum: $r")
    }
    // sorted by fused score desc, doc_id tiebreak
    val fused = rows.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(fused == fused.sorted, "page must sort by (rrf desc, doc_id)")
    // at least one doc carries BOTH ranks (the corpus embeds its text)
    assert(rows.exists(r => !r.isNullAt(1) && !r.isNullAt(2)),
      "no doc appeared in both modalities — fixture drift?")
  }

  test("knn bodies refuse malformed shapes loudly") {
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslKnnOf(Tables.embeddings(spark, sfDir), body)).getMessage
    assert(msg("""{"knn": {"field": "embedding",
      "query_vector": [0.5], "k": 3}, "size": 5}""").contains("'size'"))
    assert(msg("""{"knn": {"field": "embedding",
      "query_vector": [0.5]}}""").contains("needs \"k\""))
    assert(msg("""{"knn": {"field": "embedding", "query_vector": [0.5],
      "k": 5, "num_candidates": 3}}""").contains("must be ≥ k"))
    assert(msg("""{"knn": {"field": "embedding", "query_vector": [],
      "k": 3}}""").contains("non-empty"))
    assert(msg("""{"knn": {"field": "embedding", "query_vector": [0.5],
      "k": 3, "similarity": 0.5}}""")
      .contains("unsupported option 'similarity'"))
    val hy = intercept[IllegalArgumentException](
      Dsl.dslKnnHybridOf(tiny, Tables.embeddings(spark, sfDir),
        """{"knn": {"field": "embedding", "query_vector": [0.5],
          "k": 3}, "query": {"match_all": {}}}""")).getMessage
    assert(hy.contains("rank"), s"hybrid without rank must refuse: $hy")
    val hy2 = intercept[IllegalArgumentException](
      Dsl.dslKnnHybridOf(tiny, Tables.embeddings(spark, sfDir),
        """{"knn": {"field": "embedding", "query_vector": [0.5],
          "k": 3}, "query": {"match_all": {}},
          "rank": {"linear": {}}}""")).getMessage
    assert(hy2.contains("rrf"))
  }

  test("percentiles agg: exact interpolation rows beside buckets in one body") {
    val rows = Dsl.dslAggsOf(tiny, """{"query": {"match_all": {}},
      "size": 0, "aggs": {
        "pct": {"percentiles": {"field": "n_chars",
                "percents": [25, 62.5, 99]}},
        "langs": {"terms": {"field": "lang", "size": 2}}}}""").collect()
    // sorted n_chars = [9,10,10,16,16]: idx 25%→1 (10), 62.5%→2.5
    // (10 + .5·6 = 13), 99%→3.96 (16)
    val pct = rows.filter(_.getString(0) == "pct")
      .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toSeq
    assert(pct == Seq(("25", 10.0), ("62.5", 13.0), ("99", 16.0)),
      s"percentile rows: $pct")
    // doc_count on percentile rows = the matched-set size; buckets
    // keep a null v_pct
    assert(rows.filter(_.getString(0) == "pct")
      .forall(_.getAs[Long]("doc_count") == 5L))
    assert(rows.filter(_.getString(0) == "langs")
      .forall(r => r.isNullAt(r.fieldIndex("v_pct"))))
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"p": {"percentiles":
      {"field": "n_chars", "percents": [150]}}}}""")
      .contains("out of [0, 100]"))
    assert(msg("""{"size": 0, "aggs": {"p": {"percentiles":
      {"field": "n_chars", "percents": [50, 50.0]}}}}""")
      .contains("twice"))
    assert(msg("""{"size": 0, "aggs": {"p": {"percentiles":
      {"field": "n_chars"}, "aggs": {"m": {"avg":
      {"field": "n_chars"}}}}}}""").contains("metrics take no aggs"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"p": {"percentiles": {"field": "n_chars"}}}}}}""")
      .contains("must be a metric"))
  }

  test("_terms_enum: sorted prefix enumeration over values and tokens") {
    def terms(json: String): Seq[String] =
      Dsl.termsEnumOf(tiny, json).collect().map(_.getString(0)).toSeq
    // keyword field: distinct raw values, sorted, limited
    assert(terms("""{"field": "source", "string": "src"}""") ==
      Seq("src0", "src1", "src2"))
    assert(terms("""{"field": "source", "string": "src",
      "size": 2}""") == Seq("src0", "src1"))
    // analyzed field: the token dictionary
    assert(terms("""{"field": "text", "string": "a"}""") ==
      Seq("alpha"))
    assert(terms("""{"field": "text"}""") ==
      Seq("alpha", "beta", "gamma", "rare"))
    // case_insensitive lowers both sides; the term keeps its case
    assert(terms("""{"field": "lang", "string": "E",
      "case_insensitive": true}""") == Seq("en"))
    assert(terms("""{"field": "lang", "string": "E"}""") == Seq.empty)
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.termsEnumOf(tiny, json)).getMessage
    assert(msg("""{"field": "source", "index_filter":
      {"term": {"lang": "en"}}}""").contains("index_filter"))
    assert(msg("""{"string": "x"}""").contains("needs a \"field\""))
    assert(msg("""{"field": "source", "size": 0}""")
      .contains("positive integer"))
  }

  test("search template: {{param}} render ≡ the direct body; refusals") {
    val tpl = """{"source": "{\"query\": {\"bool\": {\"must\": """ +
      """[{\"match\": {\"text\": \"{{q}}\"}}], \"filter\": """ +
      """[{\"range\": {\"n_chars\": {\"gte\": {{min}}}}}]}}, """ +
      """\"size\": {{k}}}", """ +
      """"params": {"q": "alpha", "min": 10, "k": 3}}"""
    val t = searchTemplateRows(tpl)
    val d = Dsl.searchDslOf(tiny, """{"query": {"bool": {"must":
      [{"match": {"text": "alpha"}}], "filter": [{"range":
      {"n_chars": {"gte": 10}}}]}}, "size": 3}""")
      .collect().map(_.toSeq).toSeq
    assert(t == d, "template render must equal the direct body")
    // an OBJECT source renders through compact JSON the same way
    val objT = searchTemplateRows("""{"source": {"query": {"term":
      {"lang": "{{l}}"}}, "size": 5}, "params": {"l": "en"}}""")
    val objD = Dsl.searchDslOf(tiny, """{"query": {"term":
      {"lang": "en"}}, "size": 5}""").collect().map(_.toSeq).toSeq
    assert(objT == objD)
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.searchTemplateOf(tiny, json)).getMessage
    assert(msg("""{"source": "{{#cond}}x{{/cond}}",
      "params": {}}""").contains("{{#"))
    assert(msg("""{"source":
      "{\"query\": {\"term\": {\"lang\": \"{{l}}\"}}}",
      "params": {}}""").contains("not bound"))
    assert(msg("""{"id": "stored1", "params": {}}""")
      .contains("stored templates"))
    assert(msg("""{"source": "{\"size\": {{k}}}",
      "params": {"k": [1]}}""").contains("scalar"))
    assert(msg("""{"source": "{\"query\": {\"match_all\": {}}}",
      "params": {}, "explain": true}""").contains("unsupported key"))
  }

  private def searchTemplateRows(tpl: String): Seq[Seq[Any]] =
    Dsl.searchTemplateOf(tiny, tpl).collect().map(_.toSeq).toSeq

  test("runtime_mappings: computed fields in query, sort, and aggs") {
    // len2 = n_chars·2 + doc_id/100 → [32.00, 20.01, 20.02, 18.03,
    // 32.04]; filter ≥ 20.02, sort desc → docs 4, 0, 2
    val hits = Dsl.searchDslOf(tiny, """{"runtime_mappings": {"len2":
      {"type": "double", "script": {"source":
        "emit(doc['n_chars'].value * params.k + doc['doc_id'].value / 100.0)",
        "params": {"k": 2}}}},
      "query": {"bool": {"filter": [{"range": {"len2":
        {"gte": 20.02}}}]}},
      "sort": [{"len2": "desc"}, {"doc_id": "asc"}]}""").collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L, 0L, 2L),
      s"runtime sort: ${hits.map(_.getAs[Long]("doc_id")).toSeq}")
    // long type truncates TOWARD ZERO in both engines: (n_chars−11)/2
    // → [2.5, −0.5, −0.5, −1, 2.5] → [2, 0, 0, −1, 2] (floor would
    // send −0.5 to −1)
    val lb = Dsl.dslAggsOf(tiny, """{"runtime_mappings": {"lb":
      {"type": "long", "script":
        "emit((doc['n_chars'].value - 11) / 2)"}},
      "size": 0, "aggs": {"b": {"terms": {"field": "lb",
        "size": 5, "order": {"_key": "asc"}}}}}""").collect()
      .map(r => (r.getString(1), r.getAs[Long]("doc_count"))).toMap
    assert(lb == Map("-1" -> 1L, "0" -> 2L, "2" -> 2L),
      s"long runtime buckets: $lb")
    // refusals
    def msg(body: => DataFrame): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(msg(Dsl.searchDslOf(tiny, """{"runtime_mappings":
      {"n_chars": {"type": "double", "script":
        "emit(doc['doc_id'].value)"}}, "query": {"match_all": {}}}"""))
      .contains("collides"))
    assert(msg(Dsl.searchDslOf(tiny, """{"runtime_mappings": {"x":
      {"type": "double", "script": "doc['n_chars'].value * 2"}},
      "query": {"match_all": {}}}""")).contains("emit("))
    assert(msg(Dsl.searchDslOf(tiny, """{"runtime_mappings": {"x":
      {"type": "keyword", "script": "emit(doc['lang'].value)"}},
      "query": {"match_all": {}}}""")).contains("double, long"))
    assert(msg(Dsl.dslTopHitsOf(tiny, """{"runtime_mappings": {"x":
      {"type": "double", "script": "emit(doc['n_chars'].value)"}},
      "size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"h": {"top_hits": {"size": 1, "sort":
        [{"doc_id": "asc"}]}}}}}}"""))
      .contains("top_hits endpoint"))
  }

  test("cumulative_cardinality: first-occurrence accumulation over buckets") {
    def subVals(json: String, agg: String): Map[String, Double] =
      Dsl.dslAggsOf(tiny, json).collect()
        .filter(_.getString(0) == agg)
        .map(r => (r.getString(1), r.getAs[Double]("v_sum"))).toMap
    // interval 1 buckets 9/10/16: src1 first at 9, src0 at 10,
    // src2 at 16 → cumulative 1, 2, 3
    assert(subVals("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 1}, "aggs": {"cc":
      {"cumulative_cardinality": {"field": "source"}}}}}}""", "h.cc")
      == Map("9" -> 1.0, "10" -> 2.0, "16" -> 3.0))
    // interval 4 buckets 8/16: src0+src1 both first at 8 → 2, then 3
    assert(subVals("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 4}, "aggs": {"cc":
      {"cumulative_cardinality": {"field": "source"}}}}}}""", "h.cc")
      == Map("8" -> 2.0, "16" -> 3.0))
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 4}, "aggs": {"cc":
      {"cumulative_cardinality": {"buckets_path": "u"}}}}}}""")
      .contains("FIELD inline"))
    assert(msg("""{"size": 0, "aggs": {"cc": {"cumulative_cardinality":
      {"field": "source"}}}}""").contains("PARENT pipeline"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"cc": {"cumulative_cardinality":
      {"field": "source"}}}}}}""").contains("ORDERED histogram"))
  }

  test("normalize methods + moving_percentiles over histogram buckets") {
    // histogram interval 4 → buckets: key 8 count 3, key 16 count 2
    def subVals(json: String, agg: String): Map[String, Option[Double]] =
      Dsl.dslAggsOf(tiny, json).collect()
        .filter(_.getString(0) == agg)
        .map(r => (r.getString(1),
          if (r.isNullAt(r.fieldIndex("v_sum"))) None
          else Some(r.getAs[Double]("v_sum")))).toMap
    def normBody(method: String, interval: Int = 4): String =
      s"""{"size": 0, "aggs": {"h": {"histogram": {"field": "n_chars",
        "interval": $interval}, "aggs": {"nv": {"normalize":
        {"buckets_path": "_count", "method": "$method"}}}}}}"""
    assert(subVals(normBody("percent_of_sum"), "h.nv") ==
      Map("8" -> Some(0.6), "16" -> Some(0.4)))
    assert(subVals(normBody("rescale_0_1"), "h.nv") ==
      Map("8" -> Some(1.0), "16" -> Some(0.0)))
    assert(subVals(normBody("rescale_0_100"), "h.nv") ==
      Map("8" -> Some(100.0), "16" -> Some(0.0)))
    // z-score: m 2.5, population var 0.25 → ±1
    assert(subVals(normBody("z-score"), "h.nv") ==
      Map("8" -> Some(1.0), "16" -> Some(-1.0)))
    assert(subVals(normBody("mean"), "h.nv") ==
      Map("8" -> Some(0.5), "16" -> Some(-0.5)))
    // one bucket: max = min and zero variance → null; share = 1
    assert(subVals(normBody("rescale_0_1", 200), "h.nv") ==
      Map("0" -> None))
    assert(subVals(normBody("z-score", 200), "h.nv") ==
      Map("0" -> None))
    assert(subVals(normBody("percent_of_sum", 200), "h.nv") ==
      Map("0" -> Some(1.0)))
    // moving median, interval 1 → counts by key [9→1, 10→2, 16→2];
    // window 2 shift 1 = frame [i−1, i]
    assert(subVals("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 1}, "aggs": {"m": {
      "moving_percentiles": {"buckets_path": "_count", "window": 2,
      "shift": 1, "percent": 50}}}}}}""", "h.m") ==
      Map("9" -> Some(1.0), "10" -> Some(1.5), "16" -> Some(2.0)))
    // default shift 0: the window strictly BEFORE — first bucket null
    assert(subVals("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 1}, "aggs": {"m": {
      "moving_percentiles": {"buckets_path": "_count",
      "window": 1}}}}}}""", "h.m") ==
      Map("9" -> None, "10" -> Some(1.0), "16" -> Some(2.0)))
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg(normBody("softmax")).contains("libm"))
    assert(msg(normBody("minmax")).contains("unknown method"))
    assert(msg("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 4}, "aggs": {"nv":
      {"normalize": {"buckets_path": "_count"}}}}}}""")
      .contains("needs a \"method\""))
    assert(msg("""{"size": 0, "aggs": {"nv": {"normalize":
      {"buckets_path": "_count", "method": "mean"}}}}""")
      .contains("PARENT pipeline"))
    assert(msg("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 4}, "aggs": {"m":
      {"moving_percentiles": {"buckets_path": "_count", "window": 2,
      "percent": 101}}}}}}""").contains("out of [0, 100]"))
  }

  test("percentiles_bucket + extended_stats_bucket read the sibling's cut") {
    val rows = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {
      "langs": {"terms": {"field": "lang", "size": 3}},
      "lp": {"percentiles_bucket": {"buckets_path": "langs>_count",
        "percents": [25, 50, 75]}},
      "ls": {"extended_stats_bucket":
        {"buckets_path": "langs>_count"}}}}""").collect()
    // langs buckets: en 3, de 1, fr 1 → sorted counts [1,1,3]
    val lp = rows.filter(_.getString(0) == "lp")
      .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toMap
    assert(lp == Map("25" -> 1.0, "50" -> 1.0, "75" -> 2.0),
      s"percentiles_bucket: $lp")
    val main = rows.filter(r => r.getString(0) == "ls" &&
      r.getString(1) == "").head
    assert(main.getAs[Long]("v_count") == 3L &&
      main.getAs[Double]("v_sum") == 5.0 &&
      main.getAs[Double]("v_min") == 1.0 &&
      main.getAs[Double]("v_max") == 3.0 &&
      main.getAs[Double]("v_avg") == 5.0 / 3.0)
    val ext = rows.filter(r => r.getString(0) == "ls" &&
      r.getString(1).nonEmpty)
      .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toMap
    val varE = 11.0 / 3.0 - (5.0 / 3.0) * (5.0 / 3.0)
    assert(ext == Map("sum_of_squares" -> 11.0, "variance" -> varE,
      "std_deviation" -> math.sqrt(varE)), s"extended rows: $ext")
    // the POST-CUT contract: size 2 keeps en(3), de(1) → p50 = 2
    val cut = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {
      "langs": {"terms": {"field": "lang", "size": 2}},
      "lp": {"percentiles_bucket": {"buckets_path": "langs>_count",
        "percents": [50]}}}}""").collect()
      .filter(_.getString(0) == "lp").map(_.getAs[Double]("v_pct"))
    assert(cut.toSeq == Seq(2.0), s"post-cut p50: ${cut.toSeq}")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {
      "langs": {"terms": {"field": "lang"}},
      "lp": {"percentiles_bucket": {"buckets_path": "langs>_count",
        "percents": [150]}}}}""").contains("out of [0, 100]"))
    assert(msg("""{"size": 0, "aggs": {"d": {"date_histogram":
      {"field": "pd", "calendar_interval": "day"},
      "aggs": {"x": {"percentiles_bucket":
        {"buckets_path": "_count"}}}}}}""").contains("SIBLING"))
    assert(msg("""{"size": 0, "aggs": {
      "chars": {"stats": {"field": "n_chars"}},
      "lp": {"extended_stats_bucket":
        {"buckets_path": "chars>_count"}}}}""")
      .contains("GROUPING bucket sibling"))
  }

  test("string_stats: length stats + char-ordered entropy fold") {
    val rows = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs":
      {"ss": {"string_stats": {"field": "source"}}}}""").collect()
    val vals = rows.filter(r => !r.isNullAt(r.fieldIndex("v_pct")))
      .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toMap
    // sources src0 ×2, src1 ×2, src2: chars sorted
    // ['0','1','2','c','r','s'] → counts [2,2,1,5,5,5], tot 20;
    // expected entropy re-derived with the IDENTICAL fold order
    val counts = Seq(2L, 2L, 1L, 5L, 5L, 5L)
    val tot = 20.0
    val s = counts.foldLeft(0.0)((a, c) =>
      a + (c.toDouble / tot) * math.log(c.toDouble / tot))
    val expEnt = -(s / math.log(2.0))
    assert(vals == Map("count" -> 5.0, "min_length" -> 4.0,
      "max_length" -> 4.0, "avg_length" -> 4.0, "entropy" -> expEnt),
      s"string_stats rows: $vals")
    // an empty match set: count 0, the other four rows NULL
    val none = Dsl.dslAggsOf(tiny, """{"query": {"term": {"lang":
      "xx"}}, "size": 0, "aggs": {"ss": {"string_stats":
      {"field": "source"}}}}""").collect()
    assert(none.length == 5)
    val noneVals = none.map(r => (r.getString(1),
      if (r.isNullAt(r.fieldIndex("v_pct"))) None
      else Some(r.getAs[Double]("v_pct")))).toMap
    assert(noneVals("count").contains(0.0))
    assert(Seq("min_length", "max_length", "avg_length", "entropy")
      .forall(noneVals(_).isEmpty), s"empty-set rows: $noneVals")
    // refusals: analyzed text, show_distribution, sub placement
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"ss": {"string_stats":
      {"field": "text"}}}}""").contains("analyzed text"))
    assert(msg("""{"size": 0, "aggs": {"ss": {"string_stats":
      {"field": "source", "show_distribution": true}}}}""")
      .contains("show_distribution"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"ss": {"string_stats": {"field": "source"}}}}}}""")
      .contains("top-level only"))
  }

  test("t_test: welch/pooled/paired sufficient statistics, n<2 guard") {
    def rowsOf(json: String): Map[String, Double] =
      Dsl.dslAggsOf(tiny, json).collect()
        .filter(r => !r.isNullAt(r.fieldIndex("v_pct")))
        .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toMap
    // en = {16,10,9}, not-en = {10,16}; expected values re-derived
    // with the IDENTICAL double op sequence the engine pins
    val n1 = 3.0; val s1 = 35.0; val q1 = 437.0
    val n2 = 2.0; val s2 = 26.0; val q2 = 356.0
    val v1 = (q1 - s1 * s1 / n1) / (n1 - 1)
    val v2 = (q2 - s2 * s2 / n2) / (n2 - 1)
    val m1 = s1 / n1; val m2 = s2 / n2
    val welchBody = """{"size": 0, "aggs": {"tt": {"t_test": {
      "a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
      "b": {"field": "n_chars", "filter": {"bool": {"must_not": [
        {"term": {"lang": "en"}}]}}}%TYPE%}}}}"""
    val welch = rowsOf(welchBody.replace("%TYPE%", ""))
    val se2 = v1 / n1 + v2 / n2
    assert(welch("t") == (m1 - m2) / math.sqrt(se2), s"welch: $welch")
    assert(welch("df") == (se2 * se2) /
      ((v1 / n1) * (v1 / n1) / (n1 - 1) +
        (v2 / n2) * (v2 / n2) / (n2 - 1)))
    val pooled = rowsOf(welchBody.replace("%TYPE%",
      ""","type": "homoscedastic""""))
    val sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    assert(pooled("t") ==
      (m1 - m2) / math.sqrt(sp2 * (1.0 / n1 + 1.0 / n2)))
    assert(pooled("df") == 3.0)
    // paired n_chars vs doc_id: d = [16,9,8,6,12]
    val paired = rowsOf("""{"size": 0, "aggs": {"tt": {"t_test": {
      "a": {"field": "n_chars"}, "b": {"field": "doc_id"},
      "type": "paired"}}}}""")
    val (np, sp, qp) = (5.0, 51.0, 581.0)
    val vp = (qp - sp * sp / np) / (np - 1)
    assert(paired("t") == (sp / np) / math.sqrt(vp / np))
    assert(paired("df") == 4.0)
    // a 1-doc population cannot carry a variance: both rows NULL
    val tinyPop = rowsOf("""{"size": 0, "aggs": {"tt": {"t_test": {
      "a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
      "b": {"field": "n_chars", "filter": {"term": {"lang": "de"}}}}}}}""")
    assert(tinyPop.isEmpty, s"n<2 must emit NULL rows: $tinyPop")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"tt": {"t_test": {
      "a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
      "b": {"field": "doc_id"}, "type": "paired"}}}}""")
      .contains("paired takes no filters"))
    assert(msg("""{"size": 0, "aggs": {"tt": {"t_test": {
      "a": {"field": "n_chars"}, "b": {"field": "n_chars"}}}}}""")
      .contains("filter on both populations"))
    assert(msg("""{"size": 0, "aggs": {"tt": {"t_test": {
      "a": {"field": "n_chars"}, "b": {"field": "doc_id"},
      "type": "students"}}}}""").contains("paired, heteroscedastic"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"tt": {"t_test": {"a": {"field": "n_chars"},
      "b": {"field": "doc_id"}, "type": "paired"}}}}}}""")
      .contains("top-level only"))
  }

  test("adjacency_matrix: sorted pairwise intersections, zero-cell prune") {
    val rows = Dsl.dslAggsOf(tiny, """{"query": {"match_all": {}},
      "size": 0, "aggs": {"mat": {"adjacency_matrix": {"filters": {
        "en": {"term": {"lang": "en"}},
        "al": {"match": {"text": "alpha"}},
        "de": {"term": {"lang": "de"}},
        "big": {"range": {"n_chars": {"gte": 16}}}}},
      "aggs": {"chars": {"avg": {"field": "n_chars"}}}}}}""").collect()
    val cells = rows.map(r => (r.getString(1), r.getAs[Long]("doc_count")))
      .toMap
    // en={0,1,3} al={0,1,4} de={2} big={0,4}; name-sorted pairs —
    // al&de, big&de, de&en are empty and MUST be pruned
    assert(cells == Map("al" -> 3L, "big" -> 2L, "de" -> 1L, "en" -> 3L,
      "al&big" -> 2L, "al&en" -> 2L, "big&en" -> 1L), s"cells: $cells")
    // the avg sub rides every surviving cell: al&big = docs 0,4
    val avg = rows.filter(_.getString(1) == "al&big")
      .map(_.getAs[Double]("v_avg"))
    assert(avg.toSeq == Seq(16.0), s"al&big avg: ${avg.toSeq}")
    // a custom separator renders in the pair keys
    val sep = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {"mat":
      {"adjacency_matrix": {"separator": "|", "filters": {
        "en": {"term": {"lang": "en"}},
        "al": {"match": {"text": "alpha"}}}}}}}""").collect()
      .map(_.getString(1)).toSet
    assert(sep == Set("al", "en", "al|en"), s"custom-sep keys: $sep")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"m": {"adjacency_matrix":
      {"filters": [{"term": {"lang": "en"}}]}}}}""").contains("anonymous"))
    assert(msg("""{"size": 0, "aggs": {"m": {"adjacency_matrix":
      {"filters": {"a&b": {"term": {"lang": "en"}},
      "c": {"term": {"lang": "de"}}}}}}}""").contains("separator"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"m": {"adjacency_matrix": {"filters":
      {"a": {"term": {"lang": "en"}}}}}}}}}""")
      .contains("top-level only"))
    assert(msg("""{"size": 0, "aggs": {"m": {"adjacency_matrix":
      {"filters": {"a": {"term": {"lang": "en"}}},
      "other_bucket": true}}}}""").contains("unsupported option"))
  }

  test("boxplot + median_absolute_deviation: exact quartiles, whiskers, MAD") {
    val rows = Dsl.dslAggsOf(tiny, """{"query": {"match_all": {}},
      "size": 0, "aggs": {
        "box": {"boxplot": {"field": "n_chars"}},
        "mad": {"median_absolute_deviation": {"field": "n_chars"}}}}""")
      .collect()
    // sorted n_chars = [9,10,10,16,16]: q1 idx 1 (10), q2 idx 2 (10),
    // q3 idx 3 (16); whiskers 9/16
    val box = rows.filter(_.getString(0) == "box")
      .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toMap
    assert(box == Map("min" -> 9.0, "q1" -> 10.0, "q2" -> 10.0,
      "q3" -> 16.0, "max" -> 16.0), s"boxplot rows: $box")
    // MAD: median 10, |x−10| = [6,0,0,1,6] → sorted [0,0,1,6,6] → 1
    val mad = rows.filter(_.getString(0) == "mad")
      .map(r => (r.getAs[Long]("doc_count"), r.getAs[Double]("v_pct")))
    assert(mad.toSeq == Seq((5L, 1.0)), s"mad rows: $mad")
    // a filtered match set exercises fractional interpolation: en docs
    // carry n_chars [16,10,9] → q1 = 9.5, q3 = 13; MAD devs about the
    // median 10 are [6,0,1] → 1
    val en = Dsl.dslAggsOf(tiny, """{"query": {"term": {"lang": "en"}},
      "size": 0, "aggs": {
        "box": {"boxplot": {"field": "n_chars"}},
        "mad": {"median_absolute_deviation": {"field": "n_chars"}}}}""")
      .collect()
    val enBox = en.filter(_.getString(0) == "box")
      .map(r => (r.getString(1), r.getAs[Double]("v_pct"))).toMap
    assert(enBox == Map("min" -> 9.0, "q1" -> 9.5, "q2" -> 10.0,
      "q3" -> 13.0, "max" -> 16.0), s"en boxplot rows: $enBox")
    assert(en.filter(_.getString(0) == "mad")
      .map(_.getAs[Double]("v_pct")).toSeq == Seq(1.0))
    // refusals: sub placement and the TDigest compression knob
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"b": {"boxplot": {"field": "n_chars"}}}}}}""")
      .contains("top-level only"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"m": {"median_absolute_deviation":
      {"field": "n_chars"}}}}}}""").contains("top-level only"))
    assert(msg("""{"size": 0, "aggs": {"b": {"boxplot":
      {"field": "n_chars", "compression": 100}}}}""")
      .contains("compression"))
    assert(msg("""{"size": 0, "aggs": {"m": {"median_absolute_deviation":
      {"field": "n_chars", "compression": 100}}}}""")
      .contains("compression"))
  }

  test("regexp: Lucene-anchored term/raw matching; fuzzy clause desugars to match machinery") {
    def q(json: String): Set[Long] = ids(run(json, tiny)).toSet
    // analyzed field: any TOKEN must full-match
    assert(q("""{"query": {"regexp": {"text": {"value": "al.*a"}}}}""")
      == Set(0L, 1L, 4L))
    // anchored: a prefix of a token does NOT match
    assert(q("""{"query": {"regexp": {"text": {"value": "alph"}}}}""")
      == Set.empty)
    // keyword field: the RAW value full-matches
    assert(q("""{"query": {"regexp": {"lang": {"value": "e."}}}}""")
      == Set(0L, 1L, 3L))
    assert(q("""{"query": {"regexp": {"source": "src[12]"}}}""")
      == Set(1L, 3L, 4L))
    // term-level fuzzy clause: AUTO budget over one term
    assert(q("""{"query": {"fuzzy": {"text": {"value": "alpa"}}}}""")
      == Set(0L, 1L, 4L))
    // fuzziness 0 IS the exact clause — identical rows to match
    assert(run("""{"query": {"fuzzy": {"text": {"value": "beta",
        "fuzziness": 0}}}}""", tiny) ==
      run("""{"query": {"match": {"text": "beta"}}}""", tiny),
      "fuzzy@0 must compile to the match clause bit-for-bit")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"regexp": {"text": {"value": "a~b"}}}}""")
      .contains("Lucene-specific"))
    assert(msg("""{"query": {"regexp": {"text": {"value": "^al.*"}}}}""")
      .contains("anchors"))
    assert(msg("""{"query": {"regexp": {"text": {"value": "al.*",
      "flags": "ALL"}}}}""").contains("unsupported option 'flags'"))
    assert(msg("""{"query": {"fuzzy": {"text":
      {"value": "alpha beta"}}}}""").contains("ONE term"))
    assert(msg("""{"query": {"fuzzy": {"lang": {"value": "en"}}}}""")
      .contains("analyzed"))
    assert(msg("""{"query": {"fuzzy": {"text": {"value": "alpa",
      "fuzziness": 3}}}}""").contains("AUTO"))
  }

  test("multi_match phrase and cross_fields desugar to their hand-built forms") {
    // phrase type ≡ dis_max over per-field match_phrase (boosts folded)
    val viaType = run("""{"query": {"multi_match": {"query": "alpha beta",
      "type": "phrase", "slop": 1, "fields": ["head^2", "text"]}}}""", tiny)
    val handBuilt = run("""{"query": {"dis_max": {"queries": [
      {"match_phrase": {"head": {"query": "alpha beta", "slop": 1,
        "boost": 2}}},
      {"match_phrase": {"text": {"query": "alpha beta", "slop": 1}}}
    ]}}}""", tiny)
    assert(viaType == handBuilt,
      "mm phrase must compile to the dis_max-of-phrases form exactly")
    assert(ids(viaType).toSet == Set(1L, 4L), s"phrase hits: $viaType")
    // cross_fields ≡ bool of per-term dis_max; operator gates terms
    val crossAnd = run("""{"query": {"multi_match": {"query": "rare beta",
      "type": "cross_fields", "operator": "and",
      "fields": ["head", "text"]}}}""", tiny)
    val handCross = run("""{"query": {"bool": {"must": [
      {"dis_max": {"queries": [{"match": {"head": "rare"}},
                               {"match": {"text": "rare"}}]}},
      {"dis_max": {"queries": [{"match": {"head": "beta"}},
                               {"match": {"text": "beta"}}]}}
    ]}}}""", tiny)
    assert(crossAnd == handCross,
      "cross_fields must compile to the per-term dis_max form exactly")
    assert(ids(crossAnd).toSet == Set(3L), s"rare∧beta: $crossAnd")
    val crossOr = ids(run("""{"query": {"multi_match": {
      "query": "rare beta", "type": "cross_fields",
      "fields": ["head", "text"]}}}""", tiny)).toSet
    assert(crossOr == Set(0L, 1L, 2L, 3L, 4L), s"rare∨beta: $crossOr")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"multi_match": {"query": "a",
      "fields": ["text"], "slop": 1}}}""").contains("phrase type"))
    assert(msg("""{"query": {"multi_match": {"query": "a",
      "type": "phrase", "fields": ["text"], "operator": "and"}}}""")
      .contains("cross_fields only"))
    assert(msg("""{"query": {"multi_match": {"query": "a",
      "type": "bool_prefix", "fields": ["text"]}}}""")
      .contains("unsupported"))
  }

  test("top_hits _score sort: bucket hits ≡ the query run solo, gated per bucket") {
    val rows = SparkEntry.queries("dsl_top_hits_scored")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty, "scored top_hits returned nothing")
    // per bucket: the scored hits are EXACTLY the solo query's page
    // with the bucket as a filter (corpus stats are pre-filter, so
    // the score is the same number)
    rows.groupBy(_.getString(1)).foreach { case (k, hits) =>
      val solo = Dsl.searchDslOf(Tables.documentsPar(spark, sfDir),
        s"""{"query": {"bool": {
           "must": [{"match": {"text": "dup vector"}}],
           "filter": [{"term": {"lang": "$k"}}]}}, "size": 2}""")
        .collect().map(_.getLong(1)).toSeq
      assert(hits.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq == solo,
        s"bucket '$k' scored hits must equal the solo run")
    }
    // a scoreless query cannot rank its buckets' hits by _score
    val e = intercept[IllegalArgumentException](Dsl.dslTopHitsOf(tiny,
      """{"query": {"bool": {"filter": [{"term": {"lang": "en"}}]}},
        "size": 0, "aggs": {"l": {"terms": {"field": "lang"},
        "aggs": {"t": {"top_hits": {"size": 1,
        "sort": ["_score"]}}}}}}"""))
    assert(e.getMessage.contains("scoreless"))
  }

  test("function_score and boosting: score shaping without changing the match set") {
    // scoreless inner → base 1.0, so the factor IS the score: modifier
    // none ranks by n_chars (16,16,10,10,9 → doc_id tiebreak)
    val byLen = ids(run("""{"query": {"function_score": {
      "query": {"bool": {"filter": [{"exists": {"field": "text"}}]}},
      "field_value_factor": {"field": "n_chars"}}}}""", tiny))
    assert(byLen == Seq(0L, 4L, 1L, 2L, 3L), s"factor-only rank: $byLen")
    // missing substitutes for a null factor value
    val holed = tiny.withColumn("n_chars",
      org.apache.spark.sql.functions.when($"doc_id" =!= 2L, $"n_chars"))
    val withMissing = ids(run("""{"query": {"function_score": {
      "query": {"bool": {"filter": [{"exists": {"field": "text"}}]}},
      "field_value_factor": {"field": "n_chars", "missing": 12}}}}""",
      holed))
    assert(withMissing == Seq(0L, 4L, 2L, 1L, 3L),
      s"missing=12 must slot doc 2 between 16 and 10: $withMissing")
    // boosting: negative demotes, never excludes. beta docs 1,2,3
    // share a score (tf 1, dl 2) above doc 4 (dl 3); de-doc 2 at
    // negative_boost 0.5 falls below doc 4 but stays in the set
    val boosted = ids(run("""{"query": {"boosting": {
      "positive": {"match": {"text": "beta"}},
      "negative": {"term": {"lang": "de"}},
      "negative_boost": 0.5}}}""", tiny))
    assert(boosted == Seq(1L, 3L, 4L, 2L), s"demoted order: $boosted")
    assert(boosted.toSet == ids(run(
      """{"query": {"match": {"text": "beta"}}}""", tiny)).toSet,
      "boosting must never change the match set")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"function_score": {"query":
      {"match_all": {}}, "script_score": {}}}}""")
      .contains("unsupported option 'script_score'"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all": {}},
      "field_value_factor": {"field": "n_chars"},
      "boost_mode": "avg"}}}""").contains("multiply"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all": {}},
      "field_value_factor": {"field": "n_chars",
      "modifier": "log2p"}}}}""").contains("ln1p"))
    assert(msg("""{"query": {"boosting": {"positive": {"match_all": {}},
      "negative": {"term": {"lang": "de"}}, "negative_boost": 2}}}""")
      .contains("[0, 1]"))
    assert(msg("""{"query": {"boosting": {"positive":
      {"match_all": {}}, "negative_boost": 0.5}}}""")
      .contains("negative"))
  }

  test("date_histogram min_doc_count 0 fills gaps; pipelines cross them") {
    // gap_date = 2026-01-01 + (doc_id%4)² days → 01-01 (docs 0,4),
    // 01-02 (1), 01-05 (2), 01-10 (3): interior gaps 03–04 and 06–09
    val gappy = tiny.withColumn("gap_date",
      date_add(to_date(lit("2026-01-01")),
        ((col("doc_id") % 4) * (col("doc_id") % 4)).cast("int")))
    val rows = Dsl.dslAggsOf(gappy, """{"size": 0, "aggs":
      {"d": {"date_histogram": {"field": "gap_date",
        "calendar_interval": "day", "min_doc_count": 0},
       "aggs": {"run": {"cumulative_sum": {"buckets_path":
         "_count"}}}}}}""").collect()
    val parent = rows.filter(_.getString(0) == "d")
    assert(parent.length == 10, "10 daily buckets including empties")
    assert(parent.count(r => r.getLong(r.fieldIndex("doc_count")) == 0L)
      == 6, "6 empty interior buckets")
    val run = rows.filter(_.getString(0) == "d.run")
      .sortBy(_.getString(1))
      .map(r => r.getDouble(r.fieldIndex("v_sum"))).toSeq
    assert(run == Seq(2.0, 3.0, 3.0, 3.0, 4.0, 4.0, 4.0, 4.0, 4.0, 5.0),
      "the running total must carry ACROSS the empty buckets")
    // the default (populated-only) shape is unchanged
    val dflt = Dsl.dslAggsOf(gappy, """{"size": 0, "aggs":
      {"d": {"date_histogram": {"field": "gap_date",
        "calendar_interval": "day"}}}}""").collect()
    assert(dflt.length == 4, "default min_doc_count emits populated only")
    // refusals: only 0/1 are meaningful
    val m = intercept[IllegalArgumentException](Dsl.dslAggsOf(gappy,
      """{"size": 0, "aggs": {"d": {"date_histogram": {"field":
        "gap_date", "calendar_interval": "day",
        "min_doc_count": 2}}}}""")).getMessage
    assert(m.contains("min_doc_count"))
  }

  test("filters other_bucket complements; terms orders by _key desc") {
    val rows = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {
      "seg": {"filters": {"filters": {
        "en": {"term": {"lang": "en"}},
        "short": {"range": {"n_chars": {"lt": 10}}}},
        "other_bucket_key": "rest"}},
      "top_keys": {"terms": {"field": "lang", "size": 2,
        "order": {"_key": "desc"}}},
      "by_lang": {"terms": {"field": "lang", "size": 3},
        "aggs": {"src": {"terms": {"field": "source", "size": 1,
          "order": {"_key": "desc"}}}}}}}""").collect()
    // en = docs 0,1,3; short = doc 3 (9 chars); rest = neither = 2,4
    val seg = rows.filter(_.getString(0) == "seg")
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(seg == Map("en" -> 3L, "short" -> 1L, "rest" -> 2L), s"$seg")
    // _key desc cut: langs {en, de, fr} → top-2 descending = fr, en
    val tk = rows.filter(_.getString(0) == "top_keys")
      .map(r => (r.getString(1), r.getLong(3))).toSet
    assert(tk == Set(("fr", 1L), ("en", 3L)), s"$tk")
    // sub-terms _key desc: en's sources {src0, src1} → src1 survives
    val enSrc = rows.filter(r => r.getString(0) == "by_lang.src" &&
      r.getString(1) == "en").map(r => (r.getString(2), r.getLong(3)))
    assert(enSrc.toSeq == Seq(("src1", 2L)), s"$enSrc")
    // refusals: colliding other key; non-boolean other_bucket
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, body)).getMessage
    assert(msg("""{"size": 0, "aggs": {"seg": {"filters": {"filters":
      {"en": {"term": {"lang": "en"}}}, "other_bucket_key": "en"}}}}""")
      .contains("collides"))
    assert(msg("""{"size": 0, "aggs": {"seg": {"filters": {"filters":
      {"en": {"term": {"lang": "en"}}}, "other_bucket": "yes"}}}}""")
      .contains("boolean"))
  }

  test("scripted_metric: the accumulator quartet compiles to one integral sum") {
    // match "beta" → docs 1,2,3,4; Σ (n_chars·3 − doc_id) =
    // 29 + 28 + 24 + 44 = 125
    val rows = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "beta"}}, "size": 0, "aggs": {"w": {"scripted_metric": {
      "init_script": "state.t = 0",
      "map_script":
        "state.t += doc['n_chars'].value * params.w - doc['doc_id'].value",
      "combine_script": "return state.t",
      "reduce_script":
        "double r = 0; for (s in states) { r += s } return r",
      "params": {"w": 3}}}}}""").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "w" && r.getLong(3) == 4L &&
      r.getDouble(r.fieldIndex("v_sum")) == 125.0, s"got $r")
    // whitespace never changes semantics (scripts normalize)
    val r2 = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {"w":
      {"scripted_metric": {
      "init_script": "  state.t   = 0 ;",
      "map_script": "state.t  +=  doc['n_chars'].value",
      "combine_script": " return   state.t ",
      "reduce_script":
        "double acc = 0;  for (x in states)  { acc += x; }  return acc;"
      }}}}""").collect().head
    assert(r2.getDouble(r2.fieldIndex("v_sum")) == 61.0) // Σ n_chars
    // refusals: the integral-sums stance and the canonical quartet
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, body)).getMessage
    def quartet(map: String, params: String = "{}"): String =
      s"""{"size": 0, "aggs": {"w": {"scripted_metric": {
        "init_script": "state.t = 0", "map_script": "$map",
        "combine_script": "return state.t",
        "reduce_script":
          "double r = 0; for (s in states) { r += s } return r",
        "params": $params}}}}"""
    assert(msg(quartet("state.t += doc['n_chars'].value / 2"))
      .contains("division"))
    assert(msg(quartet("state.t += doc['n_chars'].value * params.w",
      """{"w": 0.5}""")).contains("fractional"))
    assert(msg(quartet("state.u += doc['n_chars'].value"))
      .contains("state.u"))
    assert(msg("""{"size": 0, "aggs": {"w": {"scripted_metric": {
      "map_script": "state.t += 1"}}}}""").contains("init_script"))
    assert(msg("""{"size": 0, "aggs": {"t": {"terms": {"field":
      "lang"}, "aggs": {"w": {"scripted_metric": {"init_script":
      "state.t = 0", "map_script": "state.t += 1", "combine_script":
      "return state.t", "reduce_script":
      "double r = 0; for (s in states) { r += s } return r"}}}}}}""")
      .contains("top-level"))
  }

  test("sampler scopes subs to top-scoring docs; diversified collapses per value") {
    // match "beta" → docs 1,2,3,4; equal tf, dl 2/2/2/3 → docs 1,2,3
    // tie on score above doc 4; (score DESC, doc_id) tiebreak
    val rows = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "beta"}}, "size": 0, "aggs": {
      "best": {"sampler": {"shard_size": 2},
        "aggs": {"langs": {"terms": {"field": "lang", "size": 5}}}},
      "best_div": {"diversified_sampler": {"field": "source",
          "shard_size": 2},
        "aggs": {"chars": {"stats": {"field": "n_chars"}}}}}}""")
      .collect()
    def agg(nm: String) = rows.filter(_.getString(0) == nm)
    // sample = {1, 2}: docs 1,2 beat 3 on the doc_id tiebreak
    assert(agg("best").head.getLong(3) == 2L, "sampler parent doc_count")
    assert(agg("best.langs").map(r => (r.getString(1), r.getLong(3)))
      .toSet == Set(("en", 1L), ("de", 1L)),
      "terms sub runs over the SAMPLE, not the match set")
    // diversified: collapse keeps doc 1 (not 3) for src1, doc 2 for
    // src0, doc 4 for src2 → top 2 = {1, 2}; stats over n_chars 10,10
    val ch = agg("best_div.chars").head
    assert(agg("best_div").head.getLong(3) == 2L)
    assert(ch.getLong(ch.fieldIndex("v_count")) == 2L &&
      ch.getDouble(ch.fieldIndex("v_sum")) == 20.0 &&
      ch.getDouble(ch.fieldIndex("v_avg")) == 10.0, "diversified stats")
    // the sample DIFFERS from the full match set (4 docs, 3 langs)
    val full = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "beta"}}, "size": 0, "aggs": {"langs": {"terms": {"field":
      "lang", "size": 5}}}}""").collect()
    assert(full.length == 3, "full match set spans 3 langs")
    // refusals
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, body)).getMessage
    assert(msg("""{"size": 0, "aggs": {"s": {"sampler":
      {"shard_size": 5}}}}""").contains("sub"))
    assert(msg("""{"size": 0, "aggs": {"s": {"diversified_sampler":
      {"field": "source", "max_docs_per_value": 2},
      "aggs": {"c": {"avg": {"field": "n_chars"}}}}}}""")
      .contains("max_docs_per_value"))
    assert(msg("""{"size": 0, "aggs": {"t": {"terms": {"field":
      "lang"}, "aggs": {"s": {"sampler": {"shard_size": 5}}}}}}""")
      .contains("top-level"))
  }

  test("significant_text JLH-scores per-doc distinct tokens of the match set") {
    // match "gamma" → fg docs {2, 4} of 5. Distinct-token counts
    // (fgc, bgc): gamma (2,2) → sc (1−.4)·(1/.4)=1.5; beta (2,4) →
    // (1−.8)·(1/.8)=0.25; alpha (1,3) fgp .5 < bgp .6 drops; rare drops
    val rows = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "gamma"}}, "size": 0, "aggs": {"st": {"significant_text":
      {"field": "text", "size": 5}}}}""").collect()
      .filter(_.getString(0) == "st")
    // presentation order is (agg, key); the JLH rank rides v_pct
    assert(rows.map(_.getString(1)).toSet == Set("gamma", "beta"),
      s"survivors: ${rows.map(_.getString(1)).toSeq}")
    val byKey = rows.map(r => r.getString(1) ->
      ((r.getLong(r.fieldIndex("doc_count")),
        r.getLong(r.fieldIndex("v_count")),
        r.getDouble(r.fieldIndex("v_pct"))))).toMap
    assert(byKey("gamma")._1 == 2L && byKey("gamma")._2 == 2L &&
      byKey("beta")._1 == 2L && byKey("beta")._2 == 4L,
      "doc_count = matching docs CONTAINING the token (distinct per doc)")
    assert(math.abs(byKey("gamma")._3 - 1.5) < 1e-12 &&
      math.abs(byKey("beta")._3 - 0.25) < 1e-12 &&
      byKey("gamma")._3 > byKey("beta")._3, "JLH scores")
    // a doc repeating a token counts once: doc 0 has alpha ×2 —
    // match "rare" → fg {0, 3}; alpha (1,3): .5 < .6 drops; rare (2,2)
    // survives; beta (1,4) drops
    val r2 = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "rare"}}, "size": 0, "aggs": {"st": {"significant_text":
      {"field": "text", "size": 5}}}}""").collect()
      .filter(_.getString(0) == "st")
    assert(r2.map(_.getString(1)).toSeq == Seq("rare"))
    // refusals: keyword fields take significant_terms; head is derived
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, body)).getMessage
    assert(msg("""{"size": 0, "aggs": {"st": {"significant_text":
      {"field": "source"}}}}""").contains("analyzed"))
    assert(msg("""{"size": 0, "aggs": {"st": {"significant_text":
      {"field": "head"}}}}""").contains("analyzed"))
  }

  test("date_histogram week interval buckets on ISO Mondays, fill steps 7 days") {
    // gap_date: 01-01 (Thu, wk 2025-12-29) ×2, 01-02 (Fri, same wk),
    // 01-05 (Mon, wk 01-05), 01-10 (Sat, wk 01-05)
    val gappy = tiny.withColumn("gap_date",
      date_add(to_date(lit("2026-01-01")),
        ((col("doc_id") % 4) * (col("doc_id") % 4)).cast("int")))
    val wk = Dsl.dslAggsOf(gappy, """{"size": 0, "aggs": {"w":
      {"date_histogram": {"field": "gap_date",
       "calendar_interval": "week"}}}}""").collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(wk == Seq(("2025-12-29", 3L), ("2026-01-05", 2L)), s"$wk")
    // fill: stretch the gap to skip a whole week (doc 3 → +21 days =
    // 01-22, wk 01-19): weeks 12-29, 01-05(skipped→0 after move)...
    val gappy3 = tiny.withColumn("gap_date",
      date_add(to_date(lit("2026-01-01")),
        ((col("doc_id") % 4) * (col("doc_id") % 4) * 2).cast("int")))
    // offsets ×2: 0,2,8,18 → 01-01, 01-03, 01-09, 01-19; weeks:
    // 12-29 (01-01×2, 01-03), 01-05 (01-09), 01-19 (01-19) —
    // 01-12 is EMPTY and must fill with 0
    val fw = Dsl.dslAggsOf(gappy3, """{"size": 0, "aggs": {"w":
      {"date_histogram": {"field": "gap_date",
       "calendar_interval": "week", "min_doc_count": 0}}}}""").collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(fw == Seq(("2025-12-29", 3L), ("2026-01-05", 1L),
      ("2026-01-12", 0L), ("2026-01-19", 1L)), s"$fw")
  }

  test("moving_fn pins ES's shift convention; serial_diff lags N buckets") {
    // persist_date buckets: 01-01 ×2 (docs 0,3), 01-02 ×2 (1,4),
    // 01-03 ×1 (2) → counts [2, 2, 1]
    val dated = Search.withPersistDate(tiny)
    def vals(body: String, agg: String,
        docs: DataFrame = dated): Seq[Option[Double]] =
      Dsl.dslAggsOf(docs, body).collect()
        .filter(_.getString(0) == agg).sortBy(_.getString(1))
        .map(r => if (r.isNullAt(r.fieldIndex("v_sum"))) None
          else Some(r.getDouble(r.fieldIndex("v_sum")))).toSeq
    def daily(sub: String): String =
      s"""{"size": 0, "aggs": {"d": {"date_histogram":
        {"field": "persist_date", "calendar_interval": "day"},
        "aggs": {"m": $sub}}}}"""
    // shift 0 (the ES default): the window is the `window` buckets
    // BEFORE the current one, exclusive — the first bucket's frame is
    // empty (ES's NaN-elided bucket → null)
    assert(vals(daily("""{"moving_fn": {"buckets_path": "_count",
      "window": 2, "script": "MovingFunctions.unweightedAvg(values)"}}"""),
      "d.m") == Seq(None, Some(2.0), Some(2.0)))
    // shift 1 slides the frame right to END at the current bucket:
    // min over [i-1, i] sees the count drop at bucket 3
    assert(vals(daily("""{"moving_fn": {"buckets_path": "_count",
      "window": 2, "shift": 1,
      "script": "MovingFunctions.min(values)"}}"""), "d.m")
      == Seq(Some(2.0), Some(2.0), Some(1.0)))
    // serial_diff lag 2: the first `lag` buckets are null (ES omits)
    assert(vals(daily("""{"serial_diff": {"buckets_path": "_count",
      "lag": 2}}"""), "d.m") == Seq(None, None, Some(-1.0)))
    // default lag 1 ≡ derivative
    assert(vals(daily("""{"serial_diff": {"buckets_path":
      "_count"}}"""), "d.m") == Seq(None, Some(0.0), Some(-1.0)))
    // composition with min_doc_count 0: the window crosses FILLED
    // buckets — gappy counts [2,1,0,0,1,0,0,0,0,1] over 01-01..01-10
    val gappy = tiny.withColumn("gap_date",
      date_add(to_date(lit("2026-01-01")),
        ((col("doc_id") % 4) * (col("doc_id") % 4)).cast("int")))
    assert(vals("""{"size": 0, "aggs": {"d": {"date_histogram":
      {"field": "gap_date", "calendar_interval": "day",
       "min_doc_count": 0},
      "aggs": {"m": {"moving_fn": {"buckets_path": "_count",
        "window": 3, "script": "MovingFunctions.sum(values)"}}}}}}""",
      "d.m", gappy) ==
      Seq(None, Some(2.0), Some(3.0), Some(3.0), Some(1.0), Some(1.0),
        Some(1.0), Some(1.0), Some(0.0), Some(0.0)),
      "the sliding sum must cross gap-filled zero buckets")
    // refusals: iterative/libm scripts, missing window, bad shift,
    // unordered parent, non-positive lag
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(dated, body)).getMessage
    assert(msg(daily("""{"moving_fn": {"buckets_path": "_count",
      "window": 3, "script": "MovingFunctions.ewma(values)"}}"""))
      .contains("unsupported"))
    assert(msg(daily("""{"moving_fn": {"buckets_path": "_count",
      "script": "MovingFunctions.sum(values)"}}""")).contains("window"))
    assert(msg(daily("""{"moving_fn": {"buckets_path": "_count",
      "window": 2, "shift": 3,
      "script": "MovingFunctions.sum(values)"}}""")).contains("shift"))
    assert(msg("""{"size": 0, "aggs": {"t": {"terms": {"field": "lang"},
      "aggs": {"m": {"moving_fn": {"buckets_path": "_count",
      "window": 2, "script": "MovingFunctions.sum(values)"}}}}}}""")
      .contains("ORDERED"))
    assert(msg(daily("""{"serial_diff": {"buckets_path": "_count",
      "lag": 0}}""")).contains("lag"))
  }

  test("date math: explicit anchors, per-bound rounding, oracle-shared") {
    // tiny + persist_date: doc_id % 3 days from 2026-01-01 —
    // docs 0,3 → 01-01; 1,4 → 01-02; 2 → 01-03
    val dated = Search.withPersistDate(tiny)
    def hits(bounds: String): Set[Long] =
      ids(run(s"""{"query": {"bool": {"filter": [{"range":
        {"persist_date": {$bounds}}}]}}}""", dated)).toSet
    // day chains resolve exactly: 2025-12-26 + 7d = 2026-01-02
    assert(hits(""""gte": "2025-12-26||+7d"""") == Set(1L, 2L, 4L))
    // month arithmetic with day rounding (identity at day grain)
    assert(hits(""""lte": "2026-02-03||-1M/d"""") ==
      Set(0L, 1L, 2L, 3L, 4L))
    // lt rounds /M DOWN: 2026-01-15||/M → 2026-01-01, nothing earlier
    assert(hits(""""lt": "2026-01-15||/M"""").isEmpty)
    // gt rounds /M UP: > 2025-12-31 keeps everything
    assert(hits(""""gt": "2025-12-15||/M"""") == Set(0L, 1L, 2L, 3L, 4L))
    // gte rounds /M DOWN: ≥ 2026-01-01 keeps everything
    assert(hits(""""gte": "2026-01-20||/M"""") == Set(0L, 1L, 2L, 3L, 4L))
    // lte rounds /M UP to the month's last day
    assert(hits(""""lte": "2026-01-02||/M"""") == Set(0L, 1L, 2L, 3L, 4L))
    // chained ops: -1M then +1d from 2026-02-02 → 2026-01-03
    assert(hits(""""gte": "2026-02-02||-1M+1d"""") == Set(2L))
    // month-end clamp matches java.time AND DuckDB: 2026-01-31||+1M
    // → 2026-02-28 (not an invalid Feb 31)
    assert(hits(""""lte": "2026-01-31||+1M"""") == Set(0L, 1L, 2L, 3L, 4L))
    // refusals
    def msg(bounds: String): String =
      intercept[IllegalArgumentException](run(s"""{"query": {"bool":
        {"filter": [{"range": {"persist_date": {$bounds}}}]}}}""",
        dated)).getMessage
    assert(msg(""""gte": "now-7d"""").contains("now"))
    assert(msg(""""gte": "now-7d/d"""").contains("now"))
    assert(msg(""""gte": "2026-01-01||+1y"""")
      .contains("unsupported date-math"))
    assert(msg(""""gte": "2026-02-31||-1d"""")
      .contains("not a calendar date"))
    // date_range agg math bounds ≡ their resolved literals (keys show
    // the RESOLVED day, so the frames match row-for-row)
    def aggBody(b1: String, b2: String): String =
      s"""{"size": 0, "aggs": {"eras": {"date_range":
        {"field": "persist_date", "ranges": [
          {"to": $b1}, {"from": $b1, "to": $b2}, {"from": $b2}]},
        "aggs": {"chars": {"avg": {"field": "n_chars"}}}}}}"""
    val math = Dsl.dslAggsOf(dated,
      aggBody("\"2026-01-09||/M\"", "\"2025-12-26||+7d\""))
      .collect().map(_.toSeq).toSeq
    val lit0 = Dsl.dslAggsOf(dated,
      aggBody("\"2026-01-01\"", "\"2026-01-02\""))
      .collect().map(_.toSeq).toSeq
    assert(math == lit0, "math bounds must equal their resolved literals")
  }

  test("span_within/span_containing: little enclosed by a near pair") {
    // tiny positions: 4=[alpha@1,beta@2,gamma@3] — beta sits inside the
    // alpha..gamma pair (distance 2 = slop 1); doc 2 has beta+gamma but
    // no alpha, so it never encloses
    val within = """{"query": {"span_within": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "gamma"}}],
        "slop": 1, "in_order": %s}}}}}"""
    assert(ids(run(within.format("false"), tiny)) == Seq(4L))
    assert(ids(run(within.format("true"), tiny)) == Seq(4L),
      "alpha precedes gamma in doc 4 — ordered must also match")
    // reversed ordered pair never occurs
    assert(ids(run("""{"query": {"span_within": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "gamma"}},
        {"span_term": {"text": "alpha"}}],
        "slop": 1, "in_order": true}}}}}""", tiny)).isEmpty)
    // slop 0: the pair's gap is 1 (beta between) — no enclosure
    assert(ids(run("""{"query": {"span_within": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "gamma"}}],
        "slop": 0, "in_order": false}}}}}""", tiny)).isEmpty)
    // span_containing matches the same DOCUMENT set (documented scope)
    assert(ids(run("""{"query": {"span_containing": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "gamma"}}],
        "slop": 1, "in_order": false}}}}}""", tiny)) == Seq(4L))
    // little = one of the big's own terms is legal (Lucene allows it):
    // alpha inside alpha..gamma — q may equal an endpoint
    assert(ids(run("""{"query": {"span_within": {
      "little": {"span_term": {"text": "alpha"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "gamma"}}],
        "slop": 1, "in_order": false}}}}}""", tiny)) == Seq(4L))
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"span_within": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_term": {"text": "alpha"}}}}}""")
      .contains("span_near"))
    assert(msg("""{"query": {"span_within": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "alpha"}}],
        "slop": 1, "in_order": false}}}}}""").contains("DISTINCT"))
    assert(msg("""{"query": {"span_containing": {
      "little": {"span_term": {"head": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "gamma"}}],
        "slop": 1, "in_order": false}}}}}""").contains("ONE field"))
    assert(msg("""{"query": {"span_within": {
      "little": {"span_term": {"text": "beta"}},
      "big": {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "gamma"}}],
        "slop": 1, "in_order": false}}, "boost": 2}}}""")
      .contains("unsupported option"))
  }

  test("intervals ordered+bounded chain is exact; k-term unordered near") {
    // doc 4 = [alpha@1, beta@2, gamma@3]: the adjacent ordered triple
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "alpha beta gamma", "max_gaps": 0,
       "ordered": true}}}}}""", tiny)) == Seq(4L))
    // repeated terms chain fine (strict ordering separates them):
    // doc 0 = [rare@1, alpha@2, alpha@3]
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "rare alpha alpha", "max_gaps": 0,
       "ordered": true}}}}}""", tiny)) == Seq(0L))
    // reversed order never matches
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "gamma beta alpha", "max_gaps": 3,
       "ordered": true}}}}}""", tiny)).isEmpty)
    // THE r16 fidelity pin: the old sloppy-phrase stand-in checked
    // per-word windows INDEPENDENTLY, so interior words out of order
    // slipped through; the chain refuses them
    val disc = Seq((0L, "alpha gamma beta", "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "alpha beta gamma", "max_gaps": 3,
       "ordered": true}}}}}""", disc)).isEmpty,
      "interior words out of order must not match an ordered chain")
    // the total-gap budget binds: alpha..gamma spread needs gaps ≥ its
    // interior size
    val spread = Seq((0L, "alpha x y beta z gamma", "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def gapsRun(g: Int): Seq[Long] =
      ids(run(s"""{"query": {"intervals": {"text": {"match":
        {"query": "alpha beta gamma", "max_gaps": $g,
         "ordered": true}}}}}""", spread))
    assert(gapsRun(3) == Seq(0L) && gapsRun(2).isEmpty,
      "total interior gaps = 3 must need max_gaps ≥ 3")
    // all_of single-term children route identically
    assert(ids(run("""{"query": {"intervals": {"text": {"all_of":
      {"ordered": true, "max_gaps": 1, "intervals": [
        {"match": {"query": "alpha"}}, {"match": {"query": "beta"}},
        {"match": {"query": "gamma"}}]}}}}}""", tiny)) == Seq(4L))
    // k-term unordered span_near = the minimal-window cover
    assert(ids(run("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "gamma"}},
      {"span_term": {"text": "alpha"}},
      {"span_term": {"text": "beta"}}],
      "slop": 0, "in_order": false}}}""", tiny)) == Seq(4L))
    assert(ids(run("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "rare"}},
      {"span_term": {"text": "alpha"}},
      {"span_term": {"text": "beta"}}],
      "slop": 2, "in_order": false}}}""", tiny)).isEmpty,
      "no tiny doc carries all three terms")
    // refusals: repeated unordered terms still need multiplicity
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "alpha"}},
      {"span_term": {"text": "alpha"}},
      {"span_term": {"text": "beta"}}],
      "slop": 2, "in_order": false}}}""").contains("DISTINCT"))
    assert(msg("""{"query": {"intervals": {"text": {"match":
      {"query": "alpha beta gamma rare alpha", "max_gaps": 3,
       "ordered": true}}}}}""").contains("bound"))
  }

  test("span algebra: span_first/span_not/span_or/unordered span_near") {
    // tiny positions: 0=[rare,alpha,alpha] 1=[alpha,beta] 2=[beta,
    // gamma] 3=[rare,beta] 4=[alpha,beta,gamma]
    // span_first: beta within the first N tokens
    assert(ids(run("""{"query": {"span_first": {"match":
      {"span_term": {"text": "beta"}}, "end": 1}}}""", tiny)) ==
      Seq(2L), "end 1: only doc 2 opens with beta")
    assert(ids(run("""{"query": {"span_first": {"match":
      {"span_term": {"text": "beta"}}, "end": 2}}}""", tiny)).toSet ==
      Set(1L, 2L, 3L, 4L))
    // span_not: alpha occurrences NOT within dist of rare — doc 0's
    // alpha@3 escapes dist 1 (rare@1), nothing escapes dist 2
    assert(ids(run("""{"query": {"span_not": {
      "include": {"span_term": {"text": "alpha"}},
      "exclude": {"span_term": {"text": "rare"}},
      "dist": 1}}}""", tiny)).toSet == Set(0L, 1L, 4L))
    assert(ids(run("""{"query": {"span_not": {
      "include": {"span_term": {"text": "alpha"}},
      "exclude": {"span_term": {"text": "rare"}},
      "dist": 2}}}""", tiny)).toSet == Set(1L, 4L),
      "dist 2 must exclude BOTH of doc 0's alphas")
    // unordered span_near: alpha..gamma distance 2 in doc 4 → slop 0
    // misses, slop 1 hits; clause order must not matter
    assert(ids(run("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "alpha"}}, {"span_term": {"text":
      "gamma"}}], "slop": 0, "in_order": false}}}""", tiny)).isEmpty)
    val un = ids(run("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "gamma"}}, {"span_term": {"text":
      "alpha"}}], "slop": 1, "in_order": false}}}""", tiny))
    assert(un == Seq(4L), s"unordered near: $un")
    // span_or: any-of-terms, scored like a should
    assert(ids(run("""{"query": {"span_or": {"clauses": [
      {"span_term": {"text": "rare"}}, {"span_term": {"text":
      "gamma"}}]}}}""", tiny)).toSet == Set(0L, 2L, 3L, 4L))
    // the registered combinator body must actually match rows on the
    // real corpus
    val scan = SparkEntry.queries("dsl_spans")(spark, sfDir)
      .collect().toSeq
    assert(scan.nonEmpty, "SpansQuery matches nothing at sf0.001")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"span_not": {
      "include": {"span_term": {"text": "alpha"}},
      "exclude": {"span_term": {"text": "rare"}}}}}""")
      .contains("no-op"))
    assert(msg("""{"query": {"span_not": {
      "include": {"span_term": {"text": "alpha"}},
      "exclude": {"span_term": {"head": "rare"}}, "dist": 1}}}""")
      .contains("ONE field"))
    assert(msg("""{"query": {"span_first": {"match":
      {"span_term": {"text": "beta"}}, "end": 0}}}""")
      .contains("positive"))
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "a"}}, {"span_term": {"text": "a"}}],
      "slop": 1, "in_order": false}}}""").contains("DISTINCT"))
    // span_multi GRADUATED (r15, prefix inner): standalone = any
    // token with the prefix; span_or leg; LAST in-order near leg =
    // the sloppy prefix-phrase
    assert(ids(run("""{"query": {"span_multi": {"match":
      {"prefix": {"text": "gam"}}}}}""", tiny)).toSet == Set(2L, 4L))
    assert(ids(run("""{"query": {"span_or": {"clauses": [
      {"span_term": {"text": "rare"}},
      {"span_multi": {"match": {"prefix": {"text": "gam"}}}}]}}}""",
      tiny)).toSet == Set(0L, 2L, 3L, 4L))
    val pn = ids(run("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "alpha"}},
      {"span_multi": {"match": {"prefix": {"text": "be"}}}}],
      "slop": 0, "in_order": true}}}""", tiny))
    assert(pn.toSet == Set(1L, 4L), s"alpha be* adjacency: $pn")
    // refusals: prefix legs only standalone / span_or / LAST in-order
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_multi": {"match": {"prefix": {"text": "al"}}}},
      {"span_term": {"text": "beta"}}],
      "slop": 0, "in_order": true}}}""").contains("LAST"))
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "a"}},
      {"span_multi": {"match": {"prefix": {"text": "b"}}}}],
      "slop": 1, "in_order": false}}}""").contains("LAST"))
    assert(msg("""{"query": {"span_multi": {"match":
      {"wildcard": {"text": "a*b"}}}}}""").contains("prefix"))
    assert(SparkEntry.queries("dsl_span_multi")(spark, sfDir).count() > 0)
  }

  test("suggest body: completion, fuzzy completion, term spell-correction") {
    // tiny vocabulary: alpha×4, beta×4, gamma×2, rare×2
    def sg(json: String): Seq[(String, Int, String, Long)] =
      Dsl.dslSuggestOf(tiny, json).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getLong(3))).toSeq
    // completion: prefix "a" → alpha (freq 4)
    assert(sg("""{"suggest": {"c": {"prefix": "a", "completion":
      {"field": "text"}}}}""") == Seq(("c", 1, "alpha", 4L)))
    // frequency ranks, token tiebreak: prefix "" is refused (token
    // grammar), "b"/"g" single
    val multi = sg("""{"suggest": {
      "c": {"prefix": "b", "completion": {"field": "text", "size": 3}},
      "s": {"text": "beta", "term": {"field": "text", "size": 3}}}}""")
    assert(multi.filter(_._1 == "c") == Seq(("c", 1, "beta", 4L)))
    // term: "beta" itself excluded; gamma is 4 edits away — within 2:
    // none... rare is 4 too; so empty; with text "gamm" → gamma dist 1
    assert(multi.filter(_._1 == "s").isEmpty,
      s"no candidate within 2 edits of beta: $multi")
    val spell = sg("""{"suggest": {"s": {"text": "gamm", "term":
      {"field": "text", "size": 3, "max_edits": 1}}}}""")
    assert(spell == Seq(("s", 1, "gamma", 2L)), s"got $spell")
    // fuzzy completion: same-length prefix within 1 edit — "aloha"
    // doesn't exist; prefix "alph" typo "alfa"→? use "alpa": tokens
    // whose 4-char prefix is ≤1 edit from "alpa" → alpha ("alph")
    val fz = sg("""{"suggest": {"f": {"prefix": "alpa", "completion":
      {"field": "text", "fuzzy": {"fuzziness": 1}}}}}""")
    assert(fz == Seq(("f", 1, "alpha", 4L)), s"got $fz")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslSuggestOf(tiny, json)).getMessage
    assert(msg("""{"suggest": {"p": {"text": "a b c", "phrase":
      {"field": "text"}}}}""").contains("phrase"))
    assert(msg("""{"suggest": {"c": {"prefix": "a", "completion":
      {"field": "lang"}}}}""").contains("term dictionary"))
    assert(msg("""{"suggest": {"c": {"prefix": "A b", "completion":
      {"field": "text"}}}}""").contains("one analyzed token"))
    assert(msg("""{"query": {"match_all": {}}, "suggest": {"c":
      {"prefix": "a", "completion": {"field": "text"}}}}""")
      .contains("only \"suggest\""))
    assert(msg("""{"suggest": {"c": {"prefix": "a", "completion":
      {"field": "text", "fuzzy": {"fuzziness": "AUTO"}}}}}""")
      .contains("AUTO"))
  }

  test("phrase suggester: ≤1-corrected-token candidates, bigram-ranked") {
    // tiny bigrams: (rare,alpha)1 (alpha,alpha)1 (alpha,beta)2
    // (beta,gamma)2 (rare,beta)1
    def sg(json: String): Seq[(String, Int, String, Long)] =
      Dsl.dslSuggestOf(tiny, json).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getLong(3))).toSeq
    // typo in token 1: "alpa beta" → "alpha beta" (bigram freq 2);
    // the unattested (alpa, beta) candidate drops
    assert(sg("""{"suggest": {"p": {"text": "alpa beta",
      "phrase": {"field": "text", "max_edits": 1}}}}""")
      == Seq(("p", 1, "alpha beta", 2L)))
    // typo in token 2: "rare bela" → "rare beta" (freq 1)
    assert(sg("""{"suggest": {"p": {"text": "rare bela",
      "phrase": {"field": "text", "max_edits": 1}}}}""")
      == Seq(("p", 1, "rare beta", 1L)))
    // clean input stays its own best suggestion (distance-0 candidate)
    assert(sg("""{"suggest": {"p": {"text": "beta gamma",
      "phrase": {"field": "text", "max_edits": 2,
      "max_errors": 1}}}}""") == Seq(("p", 1, "beta gamma", 2L)))
    // nothing attested → no suggestions (count-space: no smoothing mass)
    assert(sg("""{"suggest": {"p": {"text": "gamma rare",
      "phrase": {"field": "text", "max_edits": 1}}}}""").isEmpty)
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslSuggestOf(tiny, json)).getMessage
    assert(msg("""{"suggest": {"p": {"text": "a b c", "phrase":
      {"field": "text"}}}}""").contains("two analyzed tokens"))
    assert(msg("""{"suggest": {"p": {"text": "a b", "phrase":
      {"field": "text", "max_errors": 2}}}}""").contains("max_errors"))
    assert(msg("""{"suggest": {"p": {"text": "a b", "phrase":
      {"field": "text", "max_edits": 3}}}}""").contains("max_edits"))
    assert(msg("""{"suggest": {"p": {"text": "a b", "phrase":
      {"field": "text", "smoothing": {}}}}}""")
      .contains("unsupported option"))
  }

  test("post_filter narrows hits only; min_score floors; track_total_hits counts") {
    // post_filter: hits narrow to lang en; the match set (and the
    // ranking WITHIN the narrowed set) is untouched
    val all = ids(run("""{"query": {"match": {"text": "alpha"}}}""",
      tiny))
    val pf = ids(run("""{"query": {"match": {"text": "alpha"}},
      "post_filter": {"term": {"lang": "en"}}}""", tiny))
    assert(pf == all.filter(Set(0L, 1L)),
      s"post_filter must narrow without reordering: $pf vs $all")
    // aggregations IGNORE post_filter — the ES faceted contract; the
    // same body aggregates the full match set
    val aggNoPf = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "alpha"}}, "size": 0, "aggs": {"l": {"terms": {"field": "lang",
      "size": 5, "order": {"_key": "asc"}}}}}""").collect().toSeq
    val aggPf = Dsl.dslAggsOf(tiny, """{"query": {"match": {"text":
      "alpha"}}, "post_filter": {"term": {"lang": "en"}}, "size": 0,
      "aggs": {"l": {"terms": {"field": "lang", "size": 5,
      "order": {"_key": "asc"}}}}}""").collect().toSeq
    assert(aggPf == aggNoPf,
      "aggs must aggregate the PRE-post_filter match set")
    // track_total_hits: the exact pre-page count rides every row —
    // size 2 page of the 3 alpha docs still reports 3
    val tt = run("""{"query": {"match": {"text": "alpha"}},
      "track_total_hits": true, "size": 2}""", tiny)
    assert(tt.size == 2 && tt.forall(_.last == 3L),
      s"total_hits must be the full match count: $tt")
    // ...and it counts AFTER post_filter (the hits universe)
    val ttPf = run("""{"query": {"match": {"text": "alpha"}},
      "post_filter": {"term": {"lang": "en"}},
      "track_total_hits": true, "size": 1}""", tiny)
    assert(ttPf.size == 1 && ttPf.head.last == 2L,
      s"total_hits counts the post-post_filter set: $ttPf")
    // min_score: a floor ABOVE doc 1/4's single-tf scores keeps only
    // doc 0 (tf 2, shortest dl — strictly the best alpha score)
    val base = run("""{"query": {"match": {"text": "alpha"}},
      "track_total_hits": true}""", tiny)
    assert(base.head(1) == 0L && base.size == 3)
    val floored = ids(run("""{"query": {"function_score": {
      "query": {"match": {"text": "alpha"}},
      "functions": [{"filter": {"ids": {"values": [0]}},
        "weight": 100}], "boost_mode": "replace"}},
      "min_score": 50}""", tiny))
    assert(floored == Seq(0L),
      s"min_score must drop sub-floor hits: $floored")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "min_score": 1}""")
      .contains("scoreless"))
    assert(msg("""{"query": {"match": {"text": "alpha"}},
      "min_score": 1, "sort": [{"lang": "asc"}]}""")
      .contains("field-only sort"))
    assert(msg("""{"query": {"match": {"text": "alpha"}},
      "track_total_hits": 100}""").contains("threshold"))
    assert(msg("""{"query": {"match": {"text": "alpha"}},
      "sort": [{"n_chars": "asc"}], "track_total_hits": true,
      "search_after": [10, 0]}""").contains("search_after"))
  }

  test("auto_date_histogram adapts its unit; random_sampler draws deterministically") {
    import org.apache.spark.sql.functions.{to_date, element_at, array}
    // dates spanning 49 days (Jan 15 … Mar 5)
    val dated = tiny.withColumn("pd", to_date(element_at(array(
      lit("2026-01-15"), lit("2026-01-20"), lit("2026-02-01"),
      lit("2026-02-10"), lit("2026-03-05")),
      ($"doc_id" + 1).cast("int"))))
    def aggRows(json: String): Seq[(String, String, Long)] =
      Dsl.dslAggsOf(dated, json).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Long]("doc_count"))).toSeq
    // span 49 < 100 → DAY keys (one bucket per date)
    assert(aggRows("""{"size": 0, "aggs": {"a": {"auto_date_histogram":
      {"field": "pd", "buckets": 100}}}}""").map(_._2) ==
      Seq("2026-01-15", "2026-01-20", "2026-02-01", "2026-02-10",
        "2026-03-05"))
    // 10 ≤ span 49 < 310 → MONTH
    assert(aggRows("""{"size": 0, "aggs": {"a": {"auto_date_histogram":
      {"field": "pd", "buckets": 10}}}}""") ==
      Seq(("a", "2026-01", 2L), ("a", "2026-02", 2L),
        ("a", "2026-03", 1L)))
    // span 49 ≥ 31·1 → YEAR
    assert(aggRows("""{"size": 0, "aggs": {"a": {"auto_date_histogram":
      {"field": "pd", "buckets": 1}}}}""") == Seq(("a", "2026", 5L)))
    // random_sampler: probability 1 keeps every doc (avg over all);
    // a seeded fraction is deterministic run-to-run
    val full = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {"s":
      {"random_sampler": {"probability": 1, "seed": 7},
       "aggs": {"chars": {"avg": {"field": "n_chars"}}}}}}""")
      .collect()
    assert(full.length == 1 && full.head.getAs[Long]("doc_count") == 5L)
    assert(math.abs(full.head.getAs[Double]("v_avg") - 12.2) < 1e-12)
    def draw(): Seq[Long] = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs":
      {"s": {"random_sampler": {"probability": 0.5, "seed": 7}}}}""")
      .collect().map(_.getAs[Long]("doc_count")).toSeq
    assert(draw() == draw(), "seeded sample must be deterministic")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    // (a bare score-based sampler now parses — r17 — but still needs
    // a sub to scope; the sub-less form refuses there)
    assert(msg("""{"size": 0, "aggs": {"s": {"sampler":
      {"shard_size": 10}}}}""").contains("sub-aggregation"))
    assert(msg("""{"size": 0, "aggs": {"s": {"random_sampler":
      {"probability": 1.5, "seed": 1}}}}""").contains("(0, 1]"))
    assert(msg("""{"size": 0, "aggs": {"s": {"random_sampler":
      {"probability": 0.5}}}}""").contains("seed"))
    assert(msg("""{"size": 0, "aggs": {"a": {"auto_date_histogram":
      {"field": "pd", "buckets": 10}, "aggs": {"c": {"avg":
      {"field": "n_chars"}}}}}}""")
      .contains("auto_date_histogram takes no sub-aggregations"))
  }

  test("bucket_selector drops buckets; bucket_script computes; bucket_sort pages") {
    // tiny sources: src0 docs {0,2} (n_chars 16,10), src1 {1,3}
    // (10,9), src2 {4} (16)
    def aggRows(json: String): Seq[(String, String, Long, Any)] =
      Dsl.dslAggsOf(tiny, json).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Long]("doc_count"), r.getAs[Any]("v_sum"))).toSeq
    // selector: HAVING doc_count >= 2 drops src2; child gate follows
    val sel = aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10, "order": {"_key": "asc"}},
      "aggs": {"keep": {"bucket_selector": {
        "buckets_path": {"n": "_count"},
        "script": "params.n >= 2"}}}}}}""")
    assert(sel.map(x => (x._2, x._3)) == Seq(("src0", 2L), ("src1", 2L)),
      s"selector must drop src2: $sel")
    // selector on the METRIC sub path: avg(n_chars) > 10 keeps src0
    // (13.0) and src2 (16.0), drops src1 (9.5)
    val selM = aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10, "order": {"_key": "asc"}},
      "aggs": {"chars": {"avg": {"field": "n_chars"}},
        "keep": {"bucket_selector": {
          "buckets_path": {"c": "chars"},
          "script": "params.c > 10"}}}}}}""")
    assert(selM.filter(_._1 == "s").map(_._2) == Seq("src0", "src2"),
      s"metric-path selector: $selM")
    // bucket_script: one row per RETURNED bucket, value in v_sum —
    // (avg + count) for src0 = 13 + 2 = 15, src1 = 9.5 + 2 = 11.5,
    // src2 = 16 + 1 = 17
    val scr = aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10, "order": {"_key": "asc"}},
      "aggs": {"chars": {"avg": {"field": "n_chars"}},
        "load": {"bucket_script": {
          "buckets_path": {"c": "chars", "n": "_count"},
          "script": "params.c + params.n"}}}}}}""")
    val loads = scr.filter(_._1 == "s.load")
      .map(x => (x._2, x._4.asInstanceOf[Double]))
    assert(loads == Seq(("src0", 15.0), ("src1", 11.5), ("src2", 17.0)),
      s"script values: $loads")
    // bucket_sort: page 2 buckets by count desc from offset 1 —
    // counts 2,2,1 keyed src0,src1,src2 → skip src0, keep src1,src2
    val srt = aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10},
      "aggs": {"page": {"bucket_sort": {"sort": [
        {"_count": {"order": "desc"}}], "from": 1, "size": 2}}}}}}""")
    assert(srt.map(_._2) == Seq("src1", "src2"), s"bucket page: $srt")
    // ADVICE r15: '/' NULLIFs its divisor in BOTH engines — a
    // zero-valued denominator yields NULL, not Spark-NULL-vs-DuckDB-inf
    val dz = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {"s": {"terms":
      {"field": "source"}, "aggs": {"x": {"bucket_script":
      {"buckets_path": {"n": "_count"},
       "script": "params.n / (params.n - params.n)"}}}}}}""").collect()
    assert(dz.nonEmpty && dz.forall(r => r.isNullAt(r.fieldIndex("v_sum"))),
      "division by a zero-valued path must emit NULL")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_selector": {"buckets_path":
      {"n": "_count"}, "script": "params.n"}}}}}}""")
      .contains("comparison"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_script": {"buckets_path":
      {"n": "_count"}, "script": "params.n > 1"}}}}}}""")
      .contains("arithmetic"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_selector": {"buckets_path":
      {"n": "_count"}, "script": "params.m > 1"}}}}}}""")
      .contains("params.m"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_selector": {"buckets_path":
      {"n": "_count"}, "script": "doc['x'] > 1"}}}}}}""")
      .contains("Painless"))
    // ADVICE r15: malformed numerals fail loudly at tokenize, not as a
    // raw NumberFormatException from BigDecimal
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_selector": {"buckets_path":
      {"n": "_count"}, "script": "params.n > 1.2.3"}}}}}}""")
      .contains("malformed number"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_selector": {"buckets_path":
      {"n": "_count"}, "script": "params.n > 1."}}}}}}""")
      .contains("malformed number"))
    assert(msg("""{"size": 0, "aggs": {"s": {"range": {"field":
      "n_chars", "ranges": [{"to": 12}]}, "aggs": {"x":
      {"bucket_sort": {"sort": [{"_count": {"order": "desc"}}],
      "size": 1}}}}}}""").contains("grouping parent"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {"x": {"bucket_sort": {"size": 2}}}}}}""")
      .contains("sort"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {
        "chars": {"stats": {"field": "n_chars"}},
        "x": {"bucket_selector": {"buckets_path": {"c": "chars"},
          "script": "params.c > 1"}}}}}}""").contains("multi-value"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms": {"field":
      "source"}, "aggs": {
        "a": {"bucket_sort": {"sort": [{"_count": {"order":
          "desc"}}], "size": 1}},
        "b": {"bucket_sort": {"sort": [{"_key": {"order": "asc"}}],
          "size": 1}}}}}}""").contains("one bucket_sort"))
  }

  test("functions array: decay ladder (origin/offset/scale/decay), hand-ranked") {
    // base 1.0 (scoreless inner) + boost_mode replace → the page IS
    // the decay ranking. gauss peak at origin: n_chars 16 (docs 0,4)
    // outrank 10,10 (1,2) outrank 9 (3)
    def fsRun(fns: String, mode: String = "multiply",
        bmode: String = "replace", docs: DataFrame = tiny): Seq[Long] =
      ids(run(s"""{"query": {"function_score": {
        "query": {"bool": {"filter": [{"exists": {"field": "text"}}]}},
        "functions": [$fns],
        "score_mode": "$mode", "boost_mode": "$bmode"}}}""", docs))
    assert(fsRun("""{"gauss": {"n_chars": {"origin": 16, "scale": 5}}}""")
      == Seq(0L, 4L, 1L, 2L, 3L), "gauss peak at origin")
    // offset flattens: |n−10| ≤ 1 all score 1.0 → docs 1,2,3 tie at
    // the top (doc_id order), 0,4 decay from d = 6−1 = 5
    assert(fsRun("""{"exp": {"n_chars": {"origin": 10, "scale": 4,
      "offset": 1}}}""") == Seq(1L, 2L, 3L, 0L, 4L),
      "offset must flatten the near zone")
    // linear hits EXACT ZERO at d ≥ s = scale/(1−decay) = 6: docs at
    // n_chars 10,9 (d 6,7) clamp to 0 and tie below the origin docs
    assert(fsRun("""{"linear": {"n_chars": {"origin": 16, "scale": 3,
      "decay": 0.5}}}""") == Seq(0L, 4L, 1L, 2L, 3L),
      "linear must clamp at zero beyond s")
    // a doc MISSING the decay field scores 1.0 — the top, beside the
    // origin doc (ES's decay-on-missing contract)
    val holed = tiny.withColumn("opt",
      org.apache.spark.sql.functions.when($"doc_id" % 2L === 0L,
        $"n_chars"))
    assert(fsRun("""{"gauss": {"opt": {"origin": 16, "scale": 3}}}""",
      docs = holed) == Seq(0L, 1L, 3L, 4L, 2L),
      "missing decay field must score 1.0 (docs 1,3 null tie the " +
        "origin docs 0,4 at 1.0 — doc_id order; only 2 decays)")
    // date form: whole-day distance — gauss around Feb 10 ranks the
    // nearest ingest day first (daily corpus from sfDir exercises the
    // real date type end-to-end via the registered query below)
    assert(SparkEntry.queries("dsl_function_score_decay")(spark, sfDir)
      .count() > 0)
  }

  test("functions array: weight/filter, score_mode and boost_mode matrix") {
    def fsRun(fns: String, mode: String = "multiply",
        bmode: String = "replace", inner: String =
          """{"bool": {"filter": [{"exists": {"field": "text"}}]}}""")
        : Seq[Long] =
      ids(run(s"""{"query": {"function_score": {
        "query": $inner,
        "functions": [$fns],
        "score_mode": "$mode", "boost_mode": "$bmode"}}}""", tiny))
    // filtered weights, max: en 3, de 2, fr matches NO function → 1.0
    val fw = """{"filter": {"term": {"lang": "en"}}, "weight": 3},
      {"filter": {"term": {"lang": "de"}}, "weight": 2}"""
    assert(fsRun(fw, "max") == Seq(0L, 1L, 3L, 2L, 4L),
      "max over filtered weights + no-match 1.0")
    // min: a doc matching both functions takes the smaller; docs
    // matching none STILL score 1.0 — below en's 3 but under de's 2
    assert(fsRun(fw, "min") == Seq(0L, 1L, 3L, 2L, 4L))
    // sum with a DEMOTING weight: en docs 0.5, everyone else 1.0 →
    // non-en docs outrank en (the no-match-scores-1.0 contract)
    assert(fsRun("""{"filter": {"term": {"lang": "en"}},
      "weight": 0.5}""", "sum") == Seq(2L, 4L, 0L, 1L, 3L),
      "no-function-matches must score 1.0, not 0")
    // first: array order wins — en docs take 5 from the first entry,
    // others fall through to the unfiltered 2
    assert(fsRun("""{"filter": {"term": {"lang": "en"}}, "weight": 5},
      {"weight": 2}""", "first") == Seq(0L, 1L, 3L, 2L, 4L))
    // weighted avg: en docs (4·1 + 1·n)/5 vs others n/1 = n via fvf —
    // doc 2 (n=10) avg 10 outranks doc 0 (n=16): (4+16)/5 = 4
    assert(fsRun("""{"filter": {"term": {"lang": "en"}}, "weight": 4},
      {"field_value_factor": {"field": "n_chars"}}""", "avg")
      == Seq(4L, 2L, 0L, 1L, 3L),
      "avg must be the WEIGHTED average over matching functions")
    // multiply (default): weight 2 × gauss ≡ scale of every score —
    // order identical to the bare gauss
    assert(fsRun("""{"gauss": {"n_chars": {"origin": 16, "scale": 5}},
      "weight": 2}""") ==
      fsRun("""{"gauss": {"n_chars": {"origin": 16, "scale": 5}}}"""),
      "weight is order-preserving under multiply")
    // boost_mode matrix against a SCORED inner (match alpha: docs
    // 0,1,4; doc 0 tf 2 ranks first organically)
    val organic = ids(run(
      """{"query": {"match": {"text": "alpha"}}}""", tiny))
    // sum with a tiny uniform function barely perturbs → same order
    assert(fsRun("""{"weight": 0.001}""", "multiply", "sum",
      """{"match": {"text": "alpha"}}""") == organic)
    // replace drops BM25 entirely: uniform weight → doc_id order
    assert(fsRun("""{"weight": 7}""", "multiply", "replace",
      """{"match": {"text": "alpha"}}""") == Seq(0L, 1L, 4L))
    // max with a weight above every BM25 score → flat → doc_id order
    assert(fsRun("""{"weight": 100}""", "multiply", "max",
      """{"match": {"text": "alpha"}}""") == Seq(0L, 1L, 4L))
  }

  test("script_score: arithmetic subset over doc values and params") {
    // score = (n_chars + 4) * 2 — ranks by n_chars desc, doc_id ties:
    // 16,16 (docs 0,4) then 10,10 (1,2) then 9 (3)
    val page = ids(run("""{"query": {"script_score": {
      "query": {"bool": {"filter": [{"exists": {"field": "text"}}]}},
      "script": {"source":
        "(doc['n_chars'].value + params.a) * params.w",
      "params": {"a": 4, "w": 2}}}}}""", tiny))
    assert(page == Seq(0L, 4L, 1L, 2L, 3L), "script value must rank")
    // the inner query GATES: only en docs survive, still script-ranked
    val gated = ids(run("""{"query": {"script_score": {
      "query": {"term": {"lang": "en"}},
      "script": "doc['n_chars'].value"}}}""", tiny))
    assert(gated == Seq(0L, 1L, 3L), "inner query must gate the set")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"script_score": {"query": {"match_all": {}},
      "script": "_score * 2"}}}""").contains("_score"))
    assert(msg("""{"query": {"script_score": {"query": {"match_all": {}},
      "script": "doc['n_chars'].value > 2"}}}""").contains("arithmetic"))
    assert(msg("""{"query": {"script_score": {"query": {"match_all": {}},
      "script": "params.b * 2"}}}""").contains("params.b"))
    assert(msg("""{"query": {"script_score": {"query": {"match_all": {}},
      "script": "doc['lang'].value"}}}""").contains("not numeric"))
    assert(msg("""{"query": {"script_score": {"query": {"match_all": {}},
      "script": "1", "min_score": 2}}}""").contains("unsupported option"))
    assert(msg("""{"query": {"script_score": {
      "script": "doc['n_chars'].value"}}}""").contains("query"))
    assert(msg("""{"query": {"script_score": {"query": {"match_all": {}},
      "script": "doc[n_chars].value"}}}""").contains("doc['field']"))
  }

  test("script_fields: computed per-hit columns from the script subset") {
    val rows = Dsl.searchDslOf(tiny, """{"query": {"term": {"lang":
      "en"}}, "script_fields": {"half": {"script":
      "doc['n_chars'].value / 2"}}, "_source": ["n_chars"],
      "size": 10}""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("half")) ==
        r.getLong(r.fieldIndex("n_chars")) / 2.0,
        "script column must compute from the hit's own doc values")
    }
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.searchDslOf(tiny, json)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "script_fields":
      {"doc_id": {"script": "1"}}}""").contains("collides"))
    assert(msg("""{"query": {"match_all": {}}, "script_fields":
      {}}""").contains("empty"))
    assert(msg("""{"query": {"match_all": {}}, "script_fields":
      {"x": {"script": "doc['n_chars'].value > 1"}}}""")
      .contains("arithmetic"))
    assert(msg("""{"query": {"match_all": {}},
      "_source": ["n_chars"], "script_fields":
      {"n_chars": {"script": "1"}}}""").contains("collides"))
    // sort keys and the collapse field ride the hit row — a script
    // field shadowing either is a parse refusal, not an
    // ambiguous-reference AnalysisException downstream
    assert(msg("""{"query": {"match_all": {}},
      "sort": [{"n_chars": "asc"}], "script_fields":
      {"n_chars": {"script": "1"}}}""").contains("collides"))
    assert(msg("""{"query": {"match_all": {}},
      "collapse": {"field": "lang"}, "sort": [{"n_chars": "asc"}],
      "script_fields": {"lang": {"script": "1"}}}""").contains("collides"))
  }

  test("inner_hits returns the matched nested elements per hit") {
    val tagged = Seq(
      (0L, Seq(("k", "9"), ("k", "15"), ("etype", "ok"))),
      (1L, Seq(("k", "9"), ("etype", "error"))),
      (2L, Seq(("j", "9"))),
      (3L, Seq(("k", "15"), ("k", "7"))))
      .toDF("doc_id", "raw")
      .withColumn("tags", expr(
        "transform(raw, x -> named_struct('type', x._1, 'value', x._2))"))
      .drop("raw")
    val body = """{"query": {"bool": {
      "filter": [{"nested": {"path": "tags", "query": {"bool": {
        "must": [{"term": {"tags.type": "k"}},
                 {"terms": {"tags.value": ["9", "15"]}}]}},
        "inner_hits": {}}}],
      "must_not": [{"nested": {"path": "tags", "query": {"bool": {
        "must": [{"term": {"tags.type": "etype"}},
                 {"match": {"tags.value": "error"}}]}},
        "inner_hits": {"name": "bad_tags"}}}]}}, "size": 10}"""
    val rows = Dsl.searchDslOf(tagged, body).collect()
    val byDoc = rows.map(r => r.getLong(r.fieldIndex("doc_id")) ->
      (r.getString(r.fieldIndex("tags")),
        r.getString(r.fieldIndex("bad_tags")))).toMap
    assert(byDoc.keySet == Set(0L, 3L), s"hits: ${byDoc.keySet}")
    // matched elements only, in array order, type=value joined by |
    assert(byDoc(0L) == ("k=9|k=15", ""),
      "doc 0 matched on BOTH k tags; the etype=ok tag must not ride")
    assert(byDoc(3L) == ("k=15", ""), "doc 3's k=7 tag must not ride")
    // the oracle rebuilds the payload value-for-value
    assert(Dsl.dslSql(body).contains("array_to_string(list_transform("))
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.searchDslOf(tagged, json)).getMessage
    assert(msg("""{"query": {"bool": {"filter": [
      {"nested": {"path": "tags", "query": {"term": {"tags.type": "k"}},
        "inner_hits": {}}},
      {"nested": {"path": "tags", "query": {"term": {"tags.type": "j"}},
        "inner_hits": {}}}]}}}""").contains("share inner_hits name"))
    assert(msg("""{"query": {"nested": {"path": "tags",
      "query": {"term": {"tags.type": "k"}},
      "inner_hits": {"size": 3}}}}""").contains("unsupported"))
    assert(msg("""{"query": {"match_all": {}},
      "post_filter": {"nested": {"path": "tags",
        "query": {"term": {"tags.type": "k"}},
        "inner_hits": {}}}}""").contains("post_filter"))
    assert(msg("""{"query": {"nested": {"path": "tags",
      "query": {"term": {"tags.type": "k"}},
      "inner_hits": {"name": "doc_id"}}}}""").contains("collides"))
  }

  test("r17 advice: now-shaped strings, _score tokens, sub-level gap fill") {
    def msg(json: String, docs: DataFrame = tiny): String =
      intercept[IllegalArgumentException](
        Dsl.searchDslOf(docs, json)).getMessage
    // a keyword bound that merely STARTS with "now" is a plain string
    // comparison ("nowhere" > "fr" lexicographically, < "src0")
    val strRange = ids(run("""{"query": {"bool": {"filter": [{"range":
      {"source": {"gte": "nowhere"}}}]}}, "sort": [{"doc_id": "asc"}]}""",
      tiny))
    assert(strRange == Seq(0L, 1L, 2L, 3L, 4L),
      s"'nowhere' must compare as a string, not refuse as date math: $strRange")
    // genuine now-anchored math still gets the explicit refusal
    assert(msg("""{"query": {"range": {"n_chars":
      {"gte": "now-7d/d"}}}}""").contains("now"))
    // _score check is token-grain: params/doc names CONTAINING the
    // substring are legitimate
    val scored = Dsl.searchDslOf(tiny, """{"query": {"match_all": {}},
      "script_fields": {"x": {"script": {"source":
        "params.raw_score * doc['n_chars'].value",
        "params": {"raw_score": 2}}}},
      "sort": [{"doc_id": "asc"}], "size": 5}""").collect()
    assert(scored.map(r => r.getDouble(r.fieldIndex("x"))).toSeq ==
      Seq(32.0, 20.0, 20.0, 18.0, 32.0))
    // ... while a bare _score (or a doc-value named exactly _score)
    // still refuses with the targeted message
    assert(msg("""{"query": {"match_all": {}}, "script_fields":
      {"x": {"script": "_score * 2"}}}""").contains("_score"))
    assert(msg("""{"query": {"match_all": {}}, "script_fields":
      {"x": {"script": "doc['_score'].value + 1"}}}""").contains("_score"))
    // min_doc_count: 0 on a SUB-level date_histogram refuses loudly —
    // gap fill is a top-level contract; silently dropping the flag
    // would diverge from ES without the oracle noticing
    val dated = Search.withPersistDate(tiny)
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"d": {"date_histogram": {"field": "persist_date",
        "calendar_interval": "day", "min_doc_count": 0}}}}}}""",
      dated).contains("SUB-level"))
    // ... and min_doc_count: 1 (the engine default) still nests fine
    assert(Dsl.dslAggsOf(dated, """{"size": 0, "aggs":
      {"l": {"terms": {"field": "lang"}, "aggs":
      {"d": {"date_histogram": {"field": "persist_date",
        "calendar_interval": "day", "min_doc_count": 1}}}}}}""")
      .collect().nonEmpty)
  }

  test("random_score: seeded, deterministic, field-hashed") {
    def page(seed: Long): Seq[Long] =
      ids(run(s"""{"query": {"function_score": {
        "query": {"bool": {"filter": [{"exists": {"field": "text"}}]}},
        "functions": [{"random_score": {"seed": $seed,
          "field": "doc_id"}}],
        "boost_mode": "replace"}}}""", tiny))
    // deterministic: the same seed reproduces the same permutation
    assert(page(42L) == page(42L))
    // the draw actually permutes (any seed where hash order ≠ doc_id
    // order proves the scores differentiate; 7 does on this corpus)
    assert(page(7L) != Seq(0L, 1L, 2L, 3L, 4L) || page(42L) != page(7L))
    // seed participates in the hash: two seeds, two permutations
    assert(page(42L) != page(7L), "seed must change the draw")
    // refusals: the functions-array surface
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    // r16: functions-array script_score SERVES the arithmetic subset —
    // a comparison script or an unknown option still refuses
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"script_score": {"script":
      "doc['n_chars'].value > 1"}}]}}}""").contains("arithmetic"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"script_score": {"script": "1",
      "lang": "painless"}}]}}}""").contains("unsupported option"))
    // value check: script (n_chars/100 + 1) × weight 2, boost_mode
    // replace → ranks by n_chars desc, doc_id ties
    val sv = ids(run("""{"query": {"function_score": {
      "query": {"bool": {"filter": [{"exists": {"field": "text"}}]}},
      "functions": [{"script_score": {"script":
        "doc['n_chars'].value / 100"}, "weight": 2}],
      "boost_mode": "replace"}}}""", tiny))
    assert(sv == Seq(0L, 4L, 1L, 2L, 3L),
      "weighted script value must rank like its field")
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"weight": 2}], "max_boost": 10}}}""")
      .contains("max_boost"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": []}}}""").contains("non-empty"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"gauss": {"a": {"origin": 1, "scale": 2},
      "b": {"origin": 1, "scale": 2}}}]}}}""").contains("ONE field"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"gauss": {"n_chars": {"origin": 1,
      "scale": 2, "decay": 1.2}}}]}}}""").contains("(0, 1)"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"gauss": {"n_chars": {"origin": 1,
      "scale": 2}}, "exp": {"n_chars": {"origin": 1, "scale":
      2}}}]}}}""").contains("ONE function"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"random_score": {"field": "lang"}}]}}}""")
      .contains("seed"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"weight": 1}], "score_mode": "median"}}}""")
      .contains("score_mode"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"gauss": {"pd": {"origin": "2026-01-01",
      "scale": "0d"}}}]}}}""").contains("positive"))
    // ADVICE r15: zero/negative weights refuse (score_mode avg divides
    // by the weight sum — an all-zero denominator is the engines' /0
    // divergence), and random_score on a float/double field refuses
    // where the schema is visible (VARCHAR rendering of floats is
    // engine-specific)
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"weight": 0}]}}}""").contains("> 0"))
    assert(msg("""{"query": {"function_score": {"query": {"match_all":
      {}}, "functions": [{"weight": -2}]}}}""").contains("> 0"))
    val withDouble = tiny.withColumn("fscore",
      tiny("n_chars").cast("double"))
    val dmsg = intercept[IllegalArgumentException](
      run("""{"query": {"function_score": {"query": {"match_all": {}},
        "functions": [{"random_score": {"seed": 1,
        "field": "fscore"}}]}}}""", withDouble)).getMessage
    assert(dmsg.contains("float/double"))
  }

  test("terms include/exclude gate bucket keys; date_histogram rolls up to months") {
    def aggRows(json: String, docs: DataFrame = tiny)
        : Seq[(String, String, Long)] =
      Dsl.dslAggsOf(docs, json).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Long]("doc_count"))).toSeq
    // tiny sources: src0×2, src1×2, src2×1
    assert(aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10, "include": "src[12]",
       "order": {"_key": "asc"}}}}}""")
      == Seq(("s", "src1", 2L), ("s", "src2", 1L)))
    assert(aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10, "exclude": "src0",
       "order": {"_key": "asc"}}}}}""")
      == Seq(("s", "src1", 2L), ("s", "src2", 1L)))
    // anchored: a key PREFIX does not match
    assert(aggRows("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "size": 10, "include": "src"}}}}""").isEmpty)
    // month rollup over dates spanning months
    val dated = tiny.withColumn("pd",
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.array(
            lit("2026-01-15"), lit("2026-01-20"), lit("2026-02-01"),
            lit("2026-02-10"), lit("2026-03-05")),
          (org.apache.spark.sql.functions.col("doc_id") + 1).cast("int"))))
    assert(aggRows("""{"size": 0, "aggs": {"m": {"date_histogram":
      {"field": "pd", "calendar_interval": "month"}}}}""", dated)
      == Seq(("m", "2026-01", 2L), ("m", "2026-02", 2L),
        ("m", "2026-03", 1L)))
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"s": {"terms": {"field": "source",
      "include": "src.*"}}}}}}""").contains("SUB-terms"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "include": ["src1"]}}}}""")
      .contains("exact-list"))
    assert(msg("""{"size": 0, "aggs": {"s": {"terms":
      {"field": "source", "include": "^src1"}}}}""").contains("anchors"))
    assert(msg("""{"size": 0, "aggs": {"d": {"date_histogram":
      {"field": "pd", "calendar_interval": "hour"}}}}""")
      .contains("month"))
    val th = intercept[IllegalArgumentException](Dsl.dslTopHitsOf(tiny,
      """{"size": 0, "aggs": {"l": {"terms": {"field": "lang",
        "include": "en"}, "aggs": {"t": {"top_hits": {"size": 1,
        "sort": [{"n_chars": "desc"}]}}}}}}""")).getMessage
    assert(th.contains("top_hits"))
  }

  test("filters agg: named overlapping buckets in one pass") {
    def rows(json: String): Seq[(String, String, Long)] =
      Dsl.dslAggsOf(tiny, json).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Long]("doc_count"))).toSeq
    // tiny: alpha in docs 0,1,4; en in 0,1,3; n_chars>=16 in 0,4 —
    // buckets OVERLAP (doc 0 is in all three)
    val got = rows("""{"size": 0, "aggs": {"seg": {"filters": {"filters": {
      "alpha": {"match": {"text": "alpha"}},
      "english": {"term": {"lang": "en"}},
      "long": {"range": {"n_chars": {"gte": 16}}}}}}}}""")
    assert(got == Seq(("seg", "alpha", 3L), ("seg", "english", 3L),
      ("seg", "long", 2L)), s"got $got")
    // the query gates first: en docs only → alpha∩en = {0,1}
    val gated = rows("""{"query": {"term": {"lang": "en"}}, "size": 0,
      "aggs": {"seg": {"filters": {"filters": {
        "alpha": {"match": {"text": "alpha"}}}}}}}""")
    assert(gated == Seq(("seg", "alpha", 2L)), s"got $gated")
    // a metric sub evaluates per named bucket
    val sub = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {"seg": {
      "filters": {"filters": {"english": {"term": {"lang": "en"}}}},
      "aggs": {"chars": {"avg": {"field": "n_chars"}}}}}}""")
      .collect().map(r => (r.getString(1), r.getAs[Double]("v_avg"))).toSeq
    // en docs: n_chars 16, 10, 9 → avg 35/3
    assert(sub == Seq(("english", 35.0 / 3)), s"got $sub")
    // refusals: anonymous form, other_bucket, duplicate names,
    // bucket subs
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"seg": {"filters": {"filters": [
      {"term": {"lang": "en"}}]}}}}""").contains("anonymous"))
    // other_bucket parses since r17 — the default key complements
    val ob = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {"seg":
      {"filters": {"filters": {"a": {"match_all": {}}},
      "other_bucket": true}}}}""").collect()
      .map(r => (r.getString(1), r.getLong(3))).toMap
    assert(ob == Map("a" -> 5L, "_other_" -> 0L), s"$ob")
    assert(msg("""{"size": 0, "aggs": {"seg": {
      "filters": {"filters": {"a": {"match_all": {}}}},
      "aggs": {"l": {"terms": {"field": "lang"}}}}}}""")
      .contains("metric subs only"))
    // the generated oracle carries one branch per named bucket
    val sql = Dsl.dslAggsSql("""{"size": 0, "aggs": {"seg": {"filters":
      {"filters": {"a": {"term": {"lang": "en"}},
                   "b": {"range": {"n_chars": {"gte": 16}}}}}}}}""")
    assert(sql.contains("'a' AS key") && sql.contains("'b' AS key"))
  }

  test("pipeline aggs: cumulative_sum/derivative windows, sibling *_bucket over the cut") {
    // tiny n_chars 16,10,10,9,16 → hist(5) buckets 5:1, 10:2, 15:2
    val rows = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {
      "len": {"histogram": {"field": "n_chars", "interval": 5},
        "aggs": {"run": {"cumulative_sum": {"buckets_path": "_count"}}}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("doc_count"),
        Option(r.getAs[Double]("v_sum")))).toSeq
    assert(rows == Seq(
      ("len", "10", 2L, None), ("len", "15", 2L, None),
      ("len", "5", 1L, None),
      // numeric bucket order for the window: 5 → 10 → 15
      ("len.run", "10", 2L, Some(3.0)), ("len.run", "15", 2L, Some(5.0)),
      ("len.run", "5", 1L, Some(1.0))), s"got $rows")
    val der = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {
      "len": {"histogram": {"field": "n_chars", "interval": 5},
        "aggs": {"d": {"derivative": {"buckets_path": "_count"}}}}}}""")
      .collect().collect { case r if r.getString(0) == "len.d" =>
        (r.getString(1), Option(r.getAs[Double]("v_sum"))) }.toSeq
    // first bucket has no predecessor → null (the ES omitted value)
    assert(der == Seq(("10", Some(1.0)), ("15", Some(0.0)),
      ("5", None)), s"got $der")
    // sibling pipelines read the sibling's RETURNED buckets: langs
    // size 2 cuts to en(3), de(1) — sum 4, avg 2, not the full 5
    val sib = Dsl.dslAggsOf(tiny, """{"size": 0, "aggs": {
      "langs": {"terms": {"field": "lang", "size": 2}},
      "total": {"sum_bucket": {"buckets_path": "langs>_count"}},
      "mean": {"avg_bucket": {"buckets_path": "langs>_count"}},
      "biggest": {"max_bucket": {"buckets_path": "langs>_count"}}}}""")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("doc_count"), Option(r.getAs[Double]("v_sum")),
        Option(r.getAs[Double]("v_avg")),
        Option(r.getAs[Double]("v_max")))).toSeq
    assert(sib.filter(_._1 == "total") ==
      Seq(("total", "", 2L, Some(4.0), None, None)), s"got $sib")
    assert(sib.filter(_._1 == "mean") ==
      Seq(("mean", "", 2L, None, Some(2.0), None)), s"got $sib")
    assert(sib.filter(_._1 == "biggest") ==
      Seq(("biggest", "", 2L, None, None, Some(3.0))), s"got $sib")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"r": {"cumulative_sum": {"buckets_path": "_count"}}}}}}""")
      .contains("ORDERED histogram parent"))
    assert(msg("""{"size": 0, "aggs": {"h": {"histogram":
      {"field": "n_chars", "interval": 5},
      "aggs": {"r": {"derivative": {"buckets_path": "chars.avg"}}}}}}""")
      .contains("_count"))
    assert(msg("""{"size": 0, "aggs": {"x": {"avg_bucket":
      {"buckets_path": "nope>_count"}}}}""").contains("no sibling"))
    assert(msg("""{"size": 0, "aggs": {"s": {"stats": {"field": "n_chars"}},
      "x": {"avg_bucket": {"buckets_path": "s>_count"}}}}""")
      .contains("GROUPING bucket sibling"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"x": {"avg_bucket": {"buckets_path": "l>_count"}}}}}}""")
      .contains("SIBLING"))
    assert(msg("""{"size": 0, "aggs": {"r": {"cumulative_sum":
      {"buckets_path": "_count"}}}}""").contains("PARENT pipeline"))
  }

  test("wrapper/match_bool_prefix/pinned/terms_set/rank_feature/distance_feature clauses") {
    // wrapper: base64 envelope ≡ the inner query, bit for bit
    val inner = """{"match": {"text": "alpha beta"}}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(
      inner.getBytes("UTF-8"))
    val wrapped = run(s"""{"query": {"wrapper": {"query": "$b64"}},
      "size": 5}""", tiny)
    val direct = run(s"""{"query": $inner, "size": 5}""", tiny)
    assert(wrapped == direct, "wrapper must equal its decoded query")
    // match_bool_prefix: lead term optional, last term token-prefix.
    // "rare al" → alpha-prefix docs 0,1,4 plus rare docs 0,3
    val mbp = ids(run("""{"query": {"match_bool_prefix":
      {"text": "rare al"}}, "size": 10}""", tiny)).toSet
    assert(mbp == Set(0L, 1L, 3L, 4L), s"got $mbp")
    // operator and: both required → doc 0 only
    val mbpAnd = ids(run("""{"query": {"match_bool_prefix": {"text":
      {"query": "rare al", "operator": "and"}}}, "size": 10}""", tiny))
    assert(mbpAnd == Seq(0L), s"got $mbpAnd")
    // pinned: ids rank first in GIVEN order (incl. one outside the
    // organic set), organic ranking continues after
    val pin = ids(run("""{"query": {"pinned": {"ids": [2, 3],
      "organic": {"match": {"text": "alpha"}}}}, "size": 10}""", tiny))
    assert(pin.take(2) == Seq(2L, 3L), s"got $pin")
    assert(pin.drop(2).toSet == Set(0L, 1L, 4L), s"got $pin")
    // terms_set: per-doc thresholds (req = 1 for docs 0-2, 2 for 3-4)
    val ts = tiny.withColumn("req",
      org.apache.spark.sql.functions.when($"doc_id" <= 2, 1)
        .otherwise(2))
    val tset = ids(run("""{"query": {"terms_set": {"text":
      {"terms": ["alpha", "beta"],
       "minimum_should_match_field": "req"}}}, "size": 10}""", ts)).toSet
    // docs 0(alpha,req1) 1(both,req1) 2(beta,req1) match; 3(beta,req2)
    // fails; 4(both,req2) matches
    assert(tset == Set(0L, 1L, 2L, 4L), s"got $tset")
    // rank_feature saturation: longer docs first among equals
    val rf = ids(run("""{"query": {"bool": {
      "must": [{"term": {"lang": "en"}}],
      "should": [{"rank_feature": {"field": "n_chars",
        "saturation": {"pivot": 10}}}]}}, "size": 10}""", tiny))
    // en docs 0(16), 1(10), 3(9): saturation orders 0 > 1 > 3
    assert(rf == Seq(0L, 1L, 3L), s"got $rf")
    // distance_feature on a date: nearest to origin first
    val dated = tiny.withColumn("pd",
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.array(
            lit("2026-01-01"), lit("2026-01-10"), lit("2026-01-11"),
            lit("2026-02-01"), lit("2026-03-01")),
          ($"doc_id" + 1).cast("int"))))
    val df = ids(run("""{"query": {"bool": {
      "must": [{"match_all": {}}],
      "should": [{"distance_feature": {"field": "pd",
        "origin": "2026-01-10", "pivot": "5d"}}]}}, "size": 10}""",
      dated))
    // distances: 9, 0, 1, 22, 50 → order 1, 2, 0, 3, 4
    assert(df == Seq(1L, 2L, 0L, 3L, 4L), s"got $df")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"wrapper": {"query": "!!!not-b64"}}}""")
      .contains("base64"))
    assert(msg("""{"query": {"pinned": {"ids": [],
      "organic": {"match_all": {}}}}}""").contains("non-empty"))
    assert(msg("""{"query": {"pinned": {"ids": [1, 1],
      "organic": {"match_all": {}}}}}""").contains("twice"))
    assert(msg("""{"query": {"terms_set": {"text": {"terms": ["a"],
      "minimum_should_match_script": {"source": "x"}}}}}""")
      .contains("unsupported"))
    assert(msg("""{"query": {"rank_feature": {"field": "n_chars"}}}""")
      .contains("data-dependent"))
    assert(msg("""{"query": {"rank_feature": {"field": "n_chars",
      "sigmoid": {"pivot": 1, "exponent": 2}}}}""")
      .contains("sigmoid"))
    assert(msg("""{"query": {"distance_feature": {"field": "pd",
      "origin": "2026-01-10", "pivot": "3h"}}}""").contains("days"))
  }

  test("collapse keeps each group's best hit; more_like_this selects like-text terms") {
    // collapse by source: best alpha doc per source. alpha docs 0,1,4
    // (src0, src1, src2) — all distinct sources, all survive; then
    // collapse by lang: en docs 0,1 collapse to the best one
    val byLang = ids(run("""{"query": {"match": {"text": "alpha"}},
      "collapse": {"field": "lang"}, "size": 10}""", tiny))
    // en picks its best-scoring doc; fr keeps doc 4
    assert(byLang.size == 2 && byLang.contains(4L), s"got $byLang")
    // collapsed ranks are contiguous 1..n (rk assigned AFTER collapse)
    val rks = run("""{"query": {"match": {"text": "alpha"}},
      "collapse": {"field": "lang"}, "size": 10}""", tiny)
      .map(_(0).asInstanceOf[Int])
    assert(rks == Seq(1, 2), s"got $rks")
    // from-paging composes: page 2 of size 1 is the second group head
    val page2 = ids(run("""{"query": {"match": {"text": "alpha"}},
      "collapse": {"field": "lang"}, "from": 1, "size": 1}""", tiny))
    assert(page2 == Seq(byLang(1)), s"got $page2")
    // the oracle mirrors the same window
    assert(Dsl.dslSql("""{"query": {"match_all": {}},
      "collapse": {"field": "lang"}}""").contains("PARTITION BY lang"))
    // more_like_this: "alpha alpha beta" with min_term_freq 2 selects
    // ONLY alpha (beta tf 1) → alpha docs
    val mlt = ids(run("""{"query": {"more_like_this": {
      "fields": ["text"], "like": "alpha alpha beta",
      "min_term_freq": 2}}, "size": 10}""", tiny)).toSet
    assert(mlt == Set(0L, 1L, 4L), s"got $mlt")
    // min_term_freq 1 admits beta too; max_query_terms 1 keeps the
    // most frequent term only (alpha)
    val mlt1 = ids(run("""{"query": {"more_like_this": {
      "fields": ["text"], "like": "alpha alpha beta",
      "min_term_freq": 1, "max_query_terms": 1}}, "size": 10}""",
      tiny)).toSet
    assert(mlt1 == Set(0L, 1L, 4L), s"got $mlt1")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_all": {}}, "collapse":
      {"field": "lang", "inner_hits": {}}}""").contains("inner_hits"))
    assert(msg("""{"query": {"match_all": {}},
      "collapse": {"field": "lang"},
      "search_after": [5], "sort": [{"n_chars": "desc"}]}""")
      .contains("search_after"))
    assert(msg("""{"query": {"more_like_this": {"like": "zz zz",
      "min_doc_freq": 2}}}""").contains("data-dependent"))
    assert(msg("""{"query": {"more_like_this": {"like": "a b c"}}}""")
      .contains("min_term_freq=2"))
  }

  test("multi_terms/rare_terms/significant_terms/weighted_avg/extended_stats aggs") {
    def rows(json: String, docs: DataFrame = tiny) =
      Dsl.dslAggsOf(docs, json).collect().toSeq
    // multi_terms: lang|source compound keys, docs missing any field skip
    val mt = rows("""{"size": 0, "aggs": {"ls": {"multi_terms":
      {"terms": [{"field": "lang"}, {"field": "source"}], "size": 10,
       "order": {"_key": "asc"}}}}}""")
      .map(r => (r.getString(1), r.getAs[Long]("doc_count")))
    assert(mt == Seq(("de|src0", 1L), ("en|src0", 1L), ("en|src1", 2L),
      ("fr|src2", 1L)), s"got $mt")
    // rare_terms: max_doc_count 1 keeps only src2 (1 doc)
    val rare = rows("""{"size": 0, "aggs": {"r": {"rare_terms":
      {"field": "source", "max_doc_count": 1}}}}""")
      .map(r => (r.getString(1), r.getAs[Long]("doc_count")))
    assert(rare == Seq(("src2", 1L)), s"got $rare")
    // weighted_avg: value n_chars, weight = doc_id (0..4); doc 0 has
    // weight 0. Σ(v·w)=10+20+27+64=121, Σw=10 → 12.1
    val wdocs = tiny.withColumn("w", $"doc_id")
    val wav = rows("""{"size": 0, "aggs": {"wa": {"weighted_avg":
      {"value": {"field": "n_chars"}, "weight": {"field": "w"}}}}}""",
      wdocs).map(_.getAs[Double]("v_avg"))
    assert(wav == Seq(12.1), s"got $wav")
    // extended_stats: n_chars 16,10,10,9,16 — mean 12.2,
    // sos = 256+100+100+81+256 = 793, var = 793/5 - 12.2² = 9.76
    val ext = rows("""{"size": 0, "aggs": {"es": {"extended_stats":
      {"field": "n_chars"}}}}""")
      .map(r => (r.getString(1), Option(r.getAs[Double]("v_pct")),
        Option(r.getAs[Double]("v_avg"))))
    assert(ext.collectFirst { case ("", _, a) => a }.flatten
      .contains(12.2), s"got $ext")
    assert(ext.collectFirst { case ("sum_of_squares", v, _) => v }
      .flatten.contains(793.0), s"got $ext")
    val varGot = ext.collectFirst { case ("variance", v, _) => v }
      .flatten.get
    assert(math.abs(varGot - 9.76) < 1e-9, s"got $varGot")
    val stdGot = ext.collectFirst { case ("std_deviation", v, _) => v }
      .flatten.get
    assert(math.abs(stdGot - math.sqrt(9.76)) < 1e-12, s"got $stdGot")
    // significant_terms: query = rare (docs 0, 3 — both src-mixed).
    // fg: src0 1/2, src1 1/2; bg: src0 2/5, src1 2/5 → both score
    // (0.5-0.4)*(0.5/0.4) = 0.125; src2 fg 0 drops
    val sig = rows("""{"query": {"match": {"text": "rare"}}, "size": 0,
      "aggs": {"s": {"significant_terms": {"field": "source",
        "size": 5}}}}""")
      .map(r => (r.getString(1), r.getAs[Long]("doc_count"),
        r.getAs[Long]("v_count"), r.getAs[Double]("v_pct")))
    assert(sig.map(x => (x._1, x._2, x._3)) ==
      Seq(("src0", 1L, 2L), ("src1", 1L, 2L)), s"got $sig")
    assert(sig.forall(x => math.abs(x._4 - 0.125) < 1e-12), s"got $sig")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"x": {"multi_terms":
      {"terms": [{"field": "lang"}]}}}}""").contains("two fields"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"w": {"weighted_avg": {"value": {"field": "n_chars"},
      "weight": {"field": "n_chars"}}}}}}}""").contains("top-level"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"e": {"extended_stats": {"field": "n_chars"}}}}}}""")
      .contains("top-level"))
    assert(msg("""{"size": 0, "aggs": {"r": {"rare_terms":
      {"field": "source", "max_doc_count": 500}}}}""")
      .contains("[1, 100]"))
  }

  test("missing/global/date_range/percentile_ranks/top_metrics/stats_bucket aggs") {
    def rows(json: String, docs: DataFrame = tiny) =
      Dsl.dslAggsOf(docs, json).collect().toSeq
    // missing: null out source for docs 1, 4
    val opt = tiny.withColumn("s_opt",
      org.apache.spark.sql.functions.when($"doc_id" % 3 =!= 1,
        $"source"))
    val miss = rows("""{"size": 0, "aggs": {"no_src": {"missing":
      {"field": "s_opt"}, "aggs": {"c": {"avg":
      {"field": "n_chars"}}}}}}""", opt)
      .map(r => (r.getAs[Long]("doc_count"), r.getAs[Double]("v_avg")))
    // docs 1 (10), 4 (16) → count 2, avg 13
    assert(miss == Seq((2L, 13.0)), s"got $miss")
    // global ignores the query: gated match set is de docs (1), the
    // global row still counts all 5
    val glob = rows("""{"query": {"term": {"lang": "de"}}, "size": 0,
      "aggs": {"whole": {"global": {}, "aggs": {"c": {"stats":
        {"field": "n_chars"}}}},
      "des": {"value_count": {"field": "n_chars"}}}}""")
      .map(r => (r.getString(0), r.getAs[Long]("doc_count")))
    assert(glob.toSet == Set(("whole", 5L), ("des", 1L)), s"got $glob")
    // date_range: [*, 2026-01-11) → docs 0,1; [2026-01-11, *) → 2,3,4
    val dated = tiny.withColumn("pd",
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.array(
            lit("2026-01-01"), lit("2026-01-10"), lit("2026-01-11"),
            lit("2026-02-01"), lit("2026-03-01")),
          ($"doc_id" + 1).cast("int"))))
    val dr = rows("""{"size": 0, "aggs": {"eras": {"date_range":
      {"field": "pd", "ranges": [{"to": "2026-01-11"},
        {"from": "2026-01-11"}]}}}}""", dated)
      .map(r => (r.getString(1), r.getAs[Long]("doc_count")))
    assert(dr == Seq(("*-2026-01-11", 2L), ("2026-01-11-*", 3L)),
      s"got $dr")
    // percentile_ranks over n_chars 16,10,10,9,16: ≤10 → 3/5=60%,
    // ≤16 → 100%
    val pr = rows("""{"size": 0, "aggs": {"pr": {"percentile_ranks":
      {"field": "n_chars", "values": [10, 16]}}}}""")
      .map(r => (r.getString(1), r.getAs[Double]("v_pct")))
    assert(pr == Seq(("10", 60.0), ("16", 100.0)), s"got $pr")
    // top_metrics: n_chars of the doc with max n_chars (tie 0 vs 4 →
    // doc_id 0 wins) — and by asc the min doc 3 (9)
    val tm = rows("""{"size": 0, "aggs": {"t": {"top_metrics":
      {"metrics": {"field": "doc_id"},
       "sort": {"n_chars": "desc"}}}}}""")
      .map(_.getAs[Double]("v_pct"))
    assert(tm == Seq(0.0), s"got $tm")
    // stats_bucket over lang bucket counts (en 3, de 1, fr 1):
    // count 3, sum 5, min 1, max 3, avg 5/3
    val sb = rows("""{"size": 0, "aggs": {
      "langs": {"terms": {"field": "lang", "size": 10}},
      "lang_stats": {"stats_bucket": {"buckets_path": "langs>_count"}}}}""")
      .collect { case r if r.getString(0) == "lang_stats" =>
        (r.getAs[Long]("v_count"), r.getAs[Double]("v_sum"),
          r.getAs[Double]("v_min"), r.getAs[Double]("v_max"),
          r.getAs[Double]("v_avg")) }
    assert(sb == Seq((3L, 5.0, 1.0, 3.0, 5.0 / 3)), s"got $sb")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](
        Dsl.dslAggsOf(tiny, json)).getMessage
    assert(msg("""{"size": 0, "aggs": {"g": {"global":
      {"extra": 1}}}}""").contains("no options"))
    assert(msg("""{"size": 0, "aggs": {"d": {"date_range": {"field":
      "pd", "ranges": [{"from": "now-7d"}]}}}}""")
      .contains("date math"))
    assert(msg("""{"size": 0, "aggs": {"t": {"top_metrics":
      {"metrics": {"field": "n_chars"}, "sort": {"n_chars": "desc"},
       "size": 3}}}}""").contains("size must be 1"))
    assert(msg("""{"size": 0, "aggs": {"l": {"terms": {"field": "lang"},
      "aggs": {"p": {"percentile_ranks": {"field": "n_chars",
      "values": [10]}}}}}}""").contains("top-level"))
  }

  test("rescore re-ranks the window, keeps the tail in original order") {
    // organic: alpha (docs 0, 1, 4); rescore: phrase "alpha beta"
    // (docs 1, 4) — with a dominant rescore weight, phrase hits jump
    // above doc 0 inside the window
    val rescored = ids(run("""{"query": {"match": {"text": "alpha"}},
      "rescore": {"window_size": 10, "query": {
        "rescore_query": {"match_phrase": {"text": "alpha beta"}},
        "query_weight": 0.01, "rescore_query_weight": 100}},
      "size": 10}""", tiny))
    assert(rescored.size == 3 && rescored.take(2).toSet == Set(1L, 4L) &&
      rescored(2) == 0L, s"got $rescored")
    // window_size 1: only the top-1 original hit re-ranks; the others
    // keep the original order below it
    val orig = ids(run("""{"query": {"match": {"text": "alpha"}},
      "size": 10}""", tiny))
    val w1 = ids(run("""{"query": {"match": {"text": "alpha"}},
      "rescore": {"window_size": 1, "query": {
        "rescore_query": {"match_phrase": {"text": "alpha beta"}},
        "rescore_query_weight": 100}}, "size": 10}""", tiny))
    assert(w1 == orig, s"window-1 rescore must keep the order: $w1 vs " +
      s"$orig")
    // a scoreless organic query under a scored rescore still ranks
    val ms = ids(run("""{"query": {"bool": {"filter": [
      {"exists": {"field": "text"}}]}},
      "rescore": {"window_size": 10, "query": {
        "rescore_query": {"match": {"text": "rare"}},
        "rescore_query_weight": 5}}, "size": 5}""", tiny))
    assert(ms.take(2).toSet == Set(0L, 3L), s"got $ms")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"match_all": {}},
      "sort": [{"n_chars": "desc"}],
      "rescore": {"window_size": 5, "query": {"rescore_query":
        {"match_all": {}}}}}""").contains("sort"))
    assert(msg("""{"query": {"match_all": {}},
      "rescore": {"window_size": 5, "query": {"rescore_query":
        {"match_all": {}}, "score_mode": "multiply"}}}""")
      .contains("total"))
    assert(msg("""{"query": {"match_all": {}},
      "rescore": [{"window_size": 5, "query": {"rescore_query":
        {"match_all": {}}}}, {"window_size": 2, "query":
        {"rescore_query": {"match_all": {}}}}]}""").contains("one stage"))
  }

  test("_mget/_analyze/_termvectors/_rank_eval endpoints") {
    // _mget: request order, found flags, a miss as a row
    val mg = Dsl.dslMgetOf(tiny, Seq(3L, 77L, 0L), Seq("lang"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2),
        r.getString(3))).toSeq
    assert(mg == Seq((1, 3L, true, "en"), (2, 77L, false, null),
      (3, 0L, true, "en")), s"got $mg")
    // _analyze: normalization + 1-based positions
    val an = Dsl.dslAnalyzeOf(spark, "  Rare   ALPHA beta  ")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(an == Seq((1L, "rare"), (2L, "alpha"), (3L, "beta")),
      s"got $an")
    // _termvectors: doc 0 "rare alpha alpha" → tf; corpus df/ttf
    val tv = Dsl.dslTermVectorsOf(tiny, 0L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // alpha: docs 0,1,4 → df 3, ttf 4 (doc 0 has 2); rare: docs 0,3
    assert(tv == Seq(("alpha", 2L, 3L, 4L), ("rare", 1L, 2L, 2L)),
      s"got $tv")
    // _rank_eval: query alpha ranks docs (0 best — tf 2). rate doc 0
    // rating 2, doc 2 rating 1 (never retrieved), doc 1 rating 0
    val re = Dsl.dslRankEvalOf(tiny, Seq(Dsl.RankEvalReq("q",
      """{"query": {"match": {"text": "alpha"}}, "size": 10}""",
      Seq(0L -> 2, 2L -> 1, 1L -> 0))))
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    // page = 3 alpha docs; relevant retrieved = {0} → precision 1/3,
    // recall 1/2; doc 0 ranks first → mrr 1
    assert(math.abs(re("precision") - 1.0 / 3) < 1e-12, s"got $re")
    assert(re("recall") == 0.5 && re("mrr") == 1.0, s"got $re")
    // ndcg: dcg = 3/log2(2) = 3; idcg = 3/1 + 1/log2(3) → < 1
    assert(re("ndcg") > 0.6 && re("ndcg") < 1.0, s"got $re")
    // refusals
    assert(intercept[IllegalArgumentException](
      Dsl.dslMgetOf(tiny, Seq(1L, 1L), Seq("lang"))).getMessage
      .contains("twice"))
    assert(intercept[IllegalArgumentException](
      Dsl.dslRankEvalOf(tiny, Seq(Dsl.RankEvalReq("q",
        """{"query": {"match_all": {}}}""", Seq(1L -> 0)))))
      .getMessage.contains("no relevant"))
    // _termvectors for a dangling doc_id fails LOUDLY at build (the
    // terms-lookup GET stance) instead of returning an empty frame
    assert(intercept[IllegalArgumentException](
      Dsl.dslTermVectorsOf(tiny, 999L)).getMessage
      .contains("not found"))
  }

  test("agg-type refusal message enumerates every parsed case (drift gate)") {
    // source truth: the case labels of parseAggSpec's type match —
    // r14 shipped the message missing `percentiles`, so the list now
    // sits on this gate (the QueriesSmokeSpec pattern for errors)
    val file = new java.io.File("src/main/scala/graft/ops/Dsl.scala")
    assert(file.exists, "tests run from the repo root")
    val src = {
      val s = scala.io.Source.fromFile(file, "UTF-8")
      try s.mkString finally s.close()
    }
    val start = src.indexOf("private def parseAggSpec")
    val end = src.indexOf("unsupported aggregation type", start)
    assert(start >= 0 && end > start, "parseAggSpec region not found")
    val region = src.substring(start, end)
    val parsed = """case\s+"([a-z_0-9]+)"((?s:\s*\|\s*"[a-z_0-9]+")*)""".r
      .findAllMatchIn(region)
      .flatMap(m => m.group(1) +:
        "\"([a-z_0-9]+)\"".r.findAllMatchIn(m.group(2))
          .map(_.group(1)).toSeq)
      .toSet
    assert(parsed == Dsl.SupportedAggTypes.toSet,
      s"SupportedAggTypes drifted from parseAggSpec: " +
        s"parsed-only=${parsed -- Dsl.SupportedAggTypes}, " +
        s"listed-only=${Dsl.SupportedAggTypes.toSet -- parsed}")
    // and the user-facing message carries exactly that list
    val m = intercept[IllegalArgumentException](Dsl.dslAggsOf(tiny,
      """{"query": {"match_all": {}}, "size": 0,
        "aggs": {"x": {"bogus_agg": {"field": "lang"}}}}"""))
      .getMessage
    Dsl.SupportedAggTypes.foreach(t =>
      assert(m.contains(t), s"refusal message missing '$t'"))
  }

  test("terms lookup, span desugars, case_insensitive knobs") {
    // lookup: doc 2's lang is de → filter matches doc 2 only
    val lk = ids(run("""{"query": {"bool": {"filter": [
      {"terms": {"lang": {"index": "documents", "id": 2,
        "path": "lang"}}}]}}}""", tiny))
    assert(lk == Seq(2L), s"got $lk")
    // the oracle keeps the declarative form: an IN-subquery
    assert(Dsl.dslSql("""{"query": {"terms": {"lang":
      {"index": "documents", "id": 2, "path": "lang"}}}}""")
      .contains("IN (SELECT lang FROM f WHERE doc_id = 2)"))
    // span_near in-order ≡ sloppy phrase: "rare ... beta" within slop
    // 1 matches doc 3 ("rare beta"); slop 0 needs adjacency
    val sn = ids(run("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "rare"}}, {"span_term": {"text": "beta"}}],
      "slop": 1, "in_order": true}}}""", tiny))
    assert(sn == Seq(3L), s"got $sn")
    // span_term alone = single-term match
    val st = ids(run("""{"query": {"span_term": {"text": "gamma"}}}""",
      tiny)).toSet
    assert(st == Set(2L, 4L), s"got $st")
    // case_insensitive prefix/wildcard
    val cip = ids(run("""{"query": {"prefix": {"source":
      {"value": "SRC1", "case_insensitive": true}}}}""", tiny)).toSet
    assert(cip == Set(1L, 3L), s"got $cip")
    assert(ids(run("""{"query": {"prefix": {"source":
      {"value": "SRC1"}}}}""", tiny)).isEmpty)
    val ciw = ids(run("""{"query": {"wildcard": {"source":
      {"value": "SRC?", "case_insensitive": true}}}}""", tiny)).size
    assert(ciw == 5, s"got $ciw")
    // refusals
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"terms": {"lang": {"index": "documents",
      "id": 99, "path": "lang"}}}}""").contains("no value"))
    assert(msg("""{"query": {"terms": {"lang": {"index": "other",
      "id": 2, "path": "lang"}}}}""").contains("documents"))
    // unordered span_near graduated twice: two clauses in r15, k-term
    // (minimal-window cover) in r16 — the remaining refusals are
    // repeated terms (multiplicity) and the implicit-default form
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "a"}}, {"span_term": {"text": "b"}},
      {"span_term": {"text": "a"}}],
      "in_order": false}}}""").contains("DISTINCT"))
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "a"}}, {"span_term": {"text": "b"}}],
      "slop": 1}}}""").contains("in_order"))
    assert(msg("""{"query": {"span_near": {"clauses": [
      {"span_term": {"text": "a"}}, {"span_term": {"head": "b"}}],
      "in_order": true}}}""").contains("ONE field"))
  }

  test("intervals and combined_fields desugar onto the proven machinery") {
    // intervals match ordered+bounded ≡ sloppy phrase: rare..beta
    // within 1 gap → doc 3 ("rare beta")
    val iv = ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "rare beta", "max_gaps": 1, "ordered": true}}}}}""",
      tiny))
    assert(iv == Seq(3L), s"got $iv")
    // unordered unlimited ≡ all terms anywhere: gamma+beta docs 2, 4
    val un = ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "gamma beta"}}}}}""", tiny)).toSet
    assert(un == Set(2L, 4L), s"got $un")
    // any_of: rare-prefix OR gamma
    val ao = ids(run("""{"query": {"intervals": {"text": {"any_of":
      {"intervals": [{"prefix": {"prefix": "ra"}},
        {"match": {"query": "gamma"}}]}}}}}""", tiny)).toSet
    assert(ao == Set(0L, 2L, 3L, 4L), s"got $ao")
    // all_of ordered+bounded over single-term matches ≡ phrase
    val af = ids(run("""{"query": {"intervals": {"text": {"all_of":
      {"intervals": [{"match": {"query": "alpha"}},
        {"match": {"query": "gamma"}}],
       "ordered": true, "max_gaps": 1}}}}}""", tiny))
    assert(af == Seq(4L), s"got $af") // "alpha beta gamma"
    // combined_fields is TRUE BM25F since r15. Single unweighted
    // field: the pseudo-field IS the field — ranking ≡ plain match
    // (tf* = tf, dl* = dl, df* = df, the same BM25 literal shape)
    val cf = run("""{"query": {"combined_fields": {"query": "alpha rare",
      "fields": ["text"], "operator": "and"}}, "size": 10}""", tiny)
    val mm = run("""{"query": {"match": {"text": {"query": "alpha rare",
      "operator": "and"}}}, "size": 10}""", tiny)
    assert(ids(cf) == ids(mm), "single unweighted combined_fields " +
      "must rank exactly like the plain match")
    // BLENDING is observable once a field diverges: two docs with
    // identical text tf/dl, but only one carries the term within the
    // 8-token head — head^2 pushes it first (text-only ties break by
    // doc_id the other way)
    val filler = (1 to 9).map(i => s"w$i").mkString(" ")
    val headDocs = Seq(
      (0L, s"$filler alpha", "en", "s", 1L), // alpha OUTSIDE the head
      (1L, s"alpha $filler", "en", "s", 1L)) // alpha IN the head
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val textOnly = ids(run("""{"query": {"combined_fields": {
      "query": "alpha", "fields": ["text"]}}, "size": 5}""", headDocs))
    assert(textOnly == Seq(0L, 1L),
      s"equal text stats must tie → doc_id order: $textOnly")
    val blended = ids(run("""{"query": {"combined_fields": {
      "query": "alpha", "fields": ["head^2", "text"]}}, "size": 5}""",
      headDocs))
    assert(blended == Seq(1L, 0L),
      s"the head occurrence must win under blending: $blended")
    // operator and still gates term-centrically
    assert(ids(run("""{"query": {"combined_fields": {"query":
      "alpha gamma", "fields": ["text"], "operator": "and"}},
      "size": 10}""", tiny)) == Seq(4L))
    // refusals
    assert(intercept[IllegalArgumentException](run("""{"query":
      {"combined_fields": {"query": "a", "fields": ["text^0"]}}}""",
      tiny)).getMessage.contains("positive"))
    assert(intercept[IllegalArgumentException](run("""{"query":
      {"combined_fields": {"query": "a", "fields": ["text",
      "text"]}}}""", tiny)).getMessage.contains("twice"))
    // r15 GRADUATIONS — ordered+unlimited gaps is the monotone
    // subsequence scan: rare before alpha only in doc 0
    val ou = ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "rare alpha", "ordered": true}}}}}""", tiny))
    assert(ou == Seq(0L), s"ordered unlimited: $ou")
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "gamma alpha", "ordered": true}}}}}""", tiny)).isEmpty,
      "gamma never precedes alpha")
    // unordered+bounded max_gaps: window span ≤ gaps + k − 1 — doc 4
    // has alpha@1, gamma@3 (one gap): max_gaps 1 hits, 0 misses
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "gamma alpha", "max_gaps": 1}}}}}""", tiny)) ==
      Seq(4L))
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "gamma alpha", "max_gaps": 0}}}}}""", tiny)).isEmpty)
    // three-term unordered window: beta gamma alpha all inside doc 4's
    // 3-token window (0 gaps for k=3 → span ≤ 2)
    assert(ids(run("""{"query": {"intervals": {"text": {"match":
      {"query": "beta gamma alpha", "max_gaps": 0}}}}}""", tiny)) ==
      Seq(4L))
    // refusals shrink to arity / distinctness / filter rules
    def msg(json: String): String =
      intercept[IllegalArgumentException](run(json, tiny)).getMessage
    assert(msg("""{"query": {"intervals": {"text": {"match":
      {"query": "a b c d e", "ordered": true}}}}}""")
      .contains("bound"))
    assert(msg("""{"query": {"intervals": {"text": {"match":
      {"query": "a b a", "max_gaps": 2}}}}}""")
      .contains("DISTINCT"))
    assert(msg("""{"query": {"intervals": {"text": {"filter":
      {"after": {}}}}}}""").contains("unsupported intervals rule"))
  }

  test("percolate_dsl: full query bodies as stored rules") {
    val hits = Dsl.percolateDslOf(tiny, Seq(
      1L -> """{"query": {"bool": {"must": [{"match": {"text": "alpha"}}],
               "filter": [{"range": {"n_chars": {"gte": 12}}}]}}}""",
      2L -> """{"query": {"match_phrase": {"text": "alpha beta"}}}""",
      3L -> """{"query": {"bool": {"should": [{"term": {"lang": "de"}},
               {"term": {"lang": "fr"}}]}}}"""))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rule 1: alpha ∧ n_chars≥12 → docs 0, 4; rule 2: adjacency → 1, 4;
    // rule 3: de/fr → 2, 4
    assert(hits == Set((0L, 1L), (4L, 1L), (1L, 2L), (4L, 2L),
      (2L, 3L), (4L, 3L)), s"got $hits")
    // the oracle is generated from the same rules
    val sql = Dsl.percolateDslSql(Dsl.PercolateRules, "documents")
    assert(sql.contains("UNION ALL") && sql.contains("query_id"))
  }
}
