package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-corpus curation over `documents`:
  * language ID (stopword heuristic), quality scoring, token counting
  * (whitespace + regex lexer), and k-gram fingerprinting.
  *
  * Every metric is either integer-derived or a single-division double of
  * two exact ints, so results are bit-identical vs the DuckDB oracle.
  * All queries are narrow per-row projections — no shuffle, codegen'd,
  * embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  // private[graft]: the ONE corpus normalization/tokenization, shared by
  // TrainPrep (chunking) and tests — a second inline copy would let
  // chunk boundaries drift from token counts if normalization changes
  private[graft] def norm(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")
  private[graft] def toks(c: Column): Column = split(norm(c), " ")

  /** (lang, stopword list) pairs for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: a real system ships the top-50 stopwords
    * per language; the mechanism (per-language token-hit count, argmax
    * with fixed priority) is identical. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("的", "是", "了"))

  /** Count of tokens ∈ words (with multiplicity), computed as a codegen'd
    * regex count over the NORMALIZED text rather than a higher-order
    * `filter` over the token array: `size(filter(t, isin(...)))` evaluates
    * interpreted (CodegenFallback) per row — 25 lambdas/row benched 8.1 s
    * for 5,000 docs in r2. The pattern anchors each alternative between
    * space-or-edge lookarounds, which on single-space-normalized text is
    * exactly whole-token equality; zero-width lookarounds keep adjacent
    * hits ("a a a") all matching. Multiplicity semantics are identical to
    * the oracle's list_filter. */
  private[graft] def wordPattern(words: Seq[String]): String =
    words.map(java.util.regex.Pattern.quote)
      .mkString("(?<![^ ])(?:", "|", ")(?![^ ])")

  private[graft] def hitCount(nt: Column, words: Seq[String]): Column =
    size(regexp_extract_all(nt, lit(wordPattern(words)), lit(0)))

  /** Predicted language of a text column: stopword hits per language,
    * argmax with the LangStopwords priority order as tie-break
    * (foldRight = first-match-wins); 'und' when nothing hits. */
  def predLangExpr(text: Column): Column = {
    val nt = norm(text)
    val scores = LangStopwords.map { case (l, ws) => l -> hitCount(nt, ws) }
    val top = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(s === top && top > 0, lit(l)).otherwise(els)
    }
  }

  /** Language ID query. Output keeps the fixture's labeled lang for
    * eyeballing agreement. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir)
      .select($"doc_id", $"lang".as("labeled_lang"),
        predLangExpr($"text").as("pred_lang"))
      .orderBy($"doc_id")
  }

  val langIdSql: String = {
    def hits(l: String) = {
      val list = LangStopwords.find(_._1 == l).get._2.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$list], x)))"
    }
    val top = s"greatest(${LangStopwords.map(p => hits(p._1)).mkString(", ")})"
    val cases = LangStopwords
      .map { case (l, _) => s"WHEN ${hits(l)} = $top AND $top > 0 THEN '$l'" }
      .mkString("\n  ")
    s"""SELECT doc_id, lang AS labeled_lang,
       |  CASE $cases ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, lang,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Composite quality score of a text column: 0.5·unique-token ratio +
    * 0.3·stopword ratio + 0.2·capped length — the cheap pre-filter
    * before model-based scoring in a corpus pipeline. */
  def qualityScoreExpr(text: Column): Column = {
    val t = toks(text)
    val nTok = size(t).cast("double")
    val stopHits = hitCount(norm(text), LangStopwords.flatMap(_._2)).cast("double")
    val uniq = size(array_distinct(t)).cast("double")
    lit(0.5) * (uniq / nTok) + lit(0.3) * (stopHits / nTok) +
      lit(0.2) * least(nTok / lit(100.0), lit(1.0))
  }

  /** Quality scoring: length stats, lexical diversity, stopword ratio,
    * and the composite score. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
    val nTok = size(t).cast("double")
    val stopHits = hitCount(norm($"text"), LangStopwords.flatMap(_._2)).cast("double")
    val uniq = size(array_distinct(t)).cast("double")
    Tables.documentsPar(spark, dir).select(
      $"doc_id",
      length($"text").as("n_chars"),
      size(t).as("n_tokens"),
      (length(regexp_replace(norm($"text"), " ", "")).cast("double") / nTok).as("avg_token_len"),
      (uniq / nTok).as("unique_ratio"),
      (stopHits / nTok).as("stopword_ratio"),
      qualityScoreExpr($"text").as("quality_score"))
      .orderBy($"doc_id")
  }

  val textQualitySql: String = {
    val all = LangStopwords.flatMap(_._2).map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(toks) AS n_tokens,
       |  CAST(length(regexp_replace(nt, ' ', '', 'g')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS unique_ratio,
       |  CAST(len(list_filter(toks, x -> list_contains([$all], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
       |  0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |    + 0.3 * (CAST(len(list_filter(toks, x -> list_contains([$all], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |    + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
       |FROM (SELECT doc_id, text,
       |        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Corpus quality histogram: documents bucketed into 0.05-wide
    * quality-score bins, with per-bin doc and distinct-language counts —
    * the distribution view that picks curation thresholds (Curate's
    * QualityBar came from exactly this). One map-side-combined
    * aggregation over a narrow projection; the floor is engine-stable
    * because quality_score is bit-identical in both engines and
    * score×20 is one IEEE multiply of identical doubles. */
  def qualityHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir)
      .select(floor(qualityScoreExpr($"text") * 20).as("bin"), $"lang")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"lang").as("n_langs"))
      .withColumn("bin_lo", $"bin".cast("double") / 20.0)
      .select($"bin", $"bin_lo", $"n_docs", $"n_langs")
      .orderBy($"bin")
  }

  val qualityHistogramSql: String = {
    val qual = textQualitySql.replace("ORDER BY doc_id", "")
    // CAST the floor: DuckDB floor yields DOUBLE (the pack_shards
    // lesson) while Spark's floor is BIGINT
    s"""SELECT bin, CAST(bin AS DOUBLE) / 20.0 AS bin_lo,
       |  COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs
       |FROM (SELECT CAST(floor(q.quality_score * 20) AS BIGINT) AS bin, d.lang
       |      FROM ($qual) q JOIN documents d ON q.doc_id = d.doc_id)
       |GROUP BY bin
       |ORDER BY bin""".stripMargin
  }

  /** Top keywords per document to keep in [[tfidfKeywords]]. */
  val TfidfTopK = 3

  /** TF-IDF keyword extraction: the top-[[TfidfTopK]] tokens per doc by
    * term-frequency × inverse-document-frequency (smoothed
    * ln((N+1)/(df+1))), ties broken lexicographically — the classic
    * cheap doc-keyword/topic signal a curation pipeline logs next to
    * each document.
    *
    * Shape at 100 TB: token counts are one map-side-combined aggregate
    * over exploded (doc_id, tok) rows; document frequencies aggregate
    * the same rows to a VOCABULARY-sized table that broadcasts back
    * (vocab ≪ corpus — a few million terms vs billions of docs); the
    * top-k is a ranking window hash-partitioned by doc.
    *
    * The score RANKS but is not EMITTED: Java's Math.log and DuckDB's
    * libm ln differ in the last ulp (measured: 0.5112015229231829 vs
    * ...28 at sf0.01), so the double would hash-mismatch even though
    * the induced ranking is identical — a rank flip would need two
    * distinct (tf, df) scores within one ulp of each other, and exact
    * ties carry the lexicographic tok tie-break in both engines. The
    * emitted (tf, df) pair is the score's exact integer provenance. */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    // corpus cardinality folded INTO the plan as a broadcast 1-row cross
    // join (the oracle's CROSS JOIN n shape) — no separate driver-side
    // count() job, so at 100 TB the corpus is scanned once, not twice
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val tokRows = docs.select($"doc_id", explode(toks($"text")).as("tok"))
    val tf = tokRows.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    // ONE corpus tokenize pass: df derives FROM tf — tf is
    // (doc_id, tok)-unique, so COUNT(*) per tok over tf ≡
    // COUNT(DISTINCT doc_id) over the raw token stream, bit-identical.
    // The old shape ran the regex tokenize + explode twice and paid a
    // countDistinct expand-shuffle carrying doc_id per token
    // occurrence; now both consumers sit on the SAME (doc, tok)
    // aggregate subtree, whose exchange AQE reuses at runtime
    // (ReusedExchange — pinned by the plan dump), and df is a plain
    // count over the already-aggregated rows (guide §2.3/§2.4).
    // Deliberately NOT persisted: a barrier here would serialize the
    // two branches that otherwise overlap, and exchange reuse already
    // makes the tokenize run once (measured r18: the persist form cost
    // +0.15 s cold at sf0.1).
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"tok")
    // the df table is corpus-distinct-token grain — UNBOUNDED at
    // 100 TB, so it must NOT broadcast (the Bpe.scala vocab-join
    // stance; contrast the deliberately bounded top-N broadcasts).
    // tf is already (doc, tok)-grained, so the shuffle-hash join on
    // tok reuses tf's shuffle and AQE handles token skew.
    tf.join(df, "tok")
      .crossJoin(nDocs)
      .withColumn("score",
        $"tf" * log(($"n_docs" + 1.0) / ($"df" + lit(1.0))))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TfidfTopK)
      .select($"doc_id", $"rk", $"tok", $"tf", $"df")
      .orderBy($"doc_id", $"rk")
  }

  val tfidfKeywordsSql: String =
    s"""WITH tr AS (
       |  SELECT doc_id, UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tr GROUP BY doc_id, tok),
       |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tr GROUP BY tok),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, rk, tok, tf, df FROM (
       |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) DESC, tf.tok) AS rk
       |  FROM tf JOIN df USING (tok) CROSS JOIN n)
       |WHERE rk <= $TfidfTopK
       |ORDER BY doc_id, rk""".stripMargin

  /** Corpus profiling: per-language one-pass summary — doc count, text
    * bytes, token totals, doc-length extrema, null/empty hygiene — the
    * ANALYZE-style statistics a pipeline records before training and
    * uses for mix planning (alongside [[qualityHistogram]]).
    *
    * One map-side-combined aggregate over a narrow projection; every
    * output is an exact integer (sums stay BIGINT-ranged at any corpus
    * size; the oracle CASTs DuckDB's HUGEINT sums back). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nToks = size(toks($"text")).cast("long")
    Tables.documentsPar(spark, dir)
      .select($"lang", $"doc_id", length($"text").cast("long").as("n_chars"),
        nToks.as("n_tokens"),
        ($"text".isNull || length(trim($"text")) === 0).cast("long").as("is_blank"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum($"n_tokens").as("total_tokens"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"),
        sum($"is_blank").as("n_blank"),
        countDistinct($"doc_id").as("n_distinct_ids"))
      .orderBy($"lang")
  }

  val corpusStatsSql: String =
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  MIN(n_tokens) AS min_tokens,
      |  MAX(n_tokens) AS max_tokens,
      |  CAST(SUM(is_blank) AS BIGINT) AS n_blank,
      |  COUNT(DISTINCT doc_id) AS n_distinct_ids
      |FROM (SELECT lang, doc_id,
      |        CAST(length(text) AS BIGINT) AS n_chars,
      |        CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens,
      |        CAST(text IS NULL OR length(trim(text)) = 0 AS BIGINT) AS is_blank
      |      FROM documents)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Vocabulary size for [[vocabTopN]]. */
  val VocabTopN = 50

  /** Token frequency table, top-N: the first step of vocabulary/BPE
    * training and of stopword-list induction — the canonical
    * shuffle-heavy word-count, kept cheap at scale by map-side combine
    * (partial counts per partition, only (token, count) pairs shuffle)
    * and a TakeOrderedAndProject for the top-N (per-partition heaps;
    * N rows per partition reach the driver, never the vocabulary). */
  def vocabTopN(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir)
      .select(explode(toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token")
      .limit(VocabTopN)
  }

  /** The slice [[vocabDrift]] contrasts against the rest of the corpus. */
  val DriftSource = "src0"

  /** Registered query: vocabulary drift between a corpus slice and the
    * rest — the per-term two-sample chi-square decomposition. For each
    * term with counts c_a (in [[DriftSource]]) and c_b (elsewhere),
    * the pooled-expectation contribution
    *   (c_a − E_a)²/E_a + (c_b − E_b)²/E_b,
    *   E_x = (c_a + c_b) · N_x/(N_a + N_b)
    * says how much that term's usage diverges from the corpus-wide
    * rate; the rows sorted by contribution ARE the drift report a
    * pipeline operator reads ("which words does this source over/
    * under-use"). This is the BATCH monitoring counterpart of the
    * stream's fertility/OOV drift metrics
    * ([[graft.streaming.CuratedPipeline]]): there the signal is
    * tokenizer fit at ingest time, here it is term-level attribution
    * between corpus versions or domains.
    *
    * Every number is rational arithmetic on exact integer counts
    * (no transcendentals), written in the same operation order in
    * both engines — so unlike the ln-ranked scores the contribution
    * is EMITTED, bit-exact.
    *
    * Shape at 100 TB: one explode + map-side-combined aggregate to
    * VOCAB grain (conditional counts, no second corpus pass), the two
    * totals as a 1-row broadcast, then per-term projection — the
    * vocabTopN shape plus a broadcast. */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame =
    vocabDriftOf(Tables.documentsPar(spark, dir))

  /** [[vocabDrift]] over an arbitrary (source, text) frame — the test
    * seam. */
  def vocabDriftOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    chiSquareSplit(docs, $"source" === DriftSource)
  }

  /** The per-term two-sample chi-square engine shared by
    * [[vocabDrift]] (slice = a source) and
    * [[graft.ops.Search.significantTerms]] (slice = a query's match
    * set): token-level counts inside/outside the `inA` doc predicate,
    * pooled-expectation contribution per term. */
  private[graft] def chiSquareSplit(docs: DataFrame, inA: Column): DataFrame = {
    import docs.sparkSession.implicits._
    // vocab-grain counts feed TWO consumers (the 1-row totals and the
    // per-term projection); materialized so the corpus is tokenized
    // ONCE, not once per consumer — the docLossRows convention (the
    // counts table is vocabulary-sized, the cheap thing to hold)
    chiSquareOfCounts(docs
      .select(inA.as("in_a"), explode(toks($"text")).as("token"))
      .groupBy($"token")
      .agg(count(when($"in_a", 1)).as("c_a"),
        count(when(!$"in_a", 1)).as("c_b")))
  }

  /** The chi-square ranking on an already-built (token, c_a, c_b)
    * counts frame — shared by [[chiSquareSplit]] (counts from a corpus
    * scan) and [[graft.ops.Search.significantTermsWithIndex]] (counts
    * summed from postings tf), so the two paths' doubles are
    * bit-identical by construction: same input longs, same shared
    * expressions. */
  private[graft] def chiSquareOfCounts(countsIn: DataFrame): DataFrame = {
    import countsIn.sparkSession.implicits._
    // counts feed TWO consumers (the 1-row totals and the per-term
    // projection); materialized so upstream runs ONCE (vocab-sized)
    val counts = countsIn.localCheckpoint(eager = false)
    val totals = counts.agg(sum($"c_a").as("n_a"), sum($"c_b").as("n_b"))
    val tot = ($"c_a" + $"c_b").cast("double")
    val ea = tot * ($"n_a".cast("double") / ($"n_a" + $"n_b").cast("double"))
    val eb = tot * ($"n_b".cast("double") / ($"n_a" + $"n_b").cast("double"))
    val contrib =
      ($"c_a".cast("double") - ea) * ($"c_a".cast("double") - ea) / ea +
        ($"c_b".cast("double") - eb) * ($"c_b".cast("double") - eb) / eb
    counts.crossJoin(broadcast(totals))
      .select($"token", $"c_a", $"c_b", contrib.as("chi2"))
      .orderBy($"chi2".desc, $"token")
  }

  val vocabDriftSql: String = {
    val ea = "(CAST(c_a + c_b AS DOUBLE) * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))"
    val eb = "(CAST(c_a + c_b AS DOUBLE) * (CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))"
    s"""WITH tr AS (
       |  SELECT source = '$DriftSource' AS in_a,
       |    UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |  FROM documents),
       |c AS (SELECT token,
       |        COUNT(*) FILTER (WHERE in_a) AS c_a,
       |        COUNT(*) FILTER (WHERE NOT in_a) AS c_b
       |      FROM tr GROUP BY token),
       |t AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM c)
       |SELECT token, c_a, c_b,
       |  (CAST(c_a AS DOUBLE) - $ea) * (CAST(c_a AS DOUBLE) - $ea) / $ea
       |    + (CAST(c_b AS DOUBLE) - $eb) * (CAST(c_b AS DOUBLE) - $eb) / $eb AS chi2
       |FROM c CROSS JOIN t
       |ORDER BY chi2 DESC, token""".stripMargin
  }

  val vocabTopNSql: String =
    s"""SELECT token, COUNT(*) AS freq
       |FROM (SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |      FROM documents)
       |GROUP BY token
       |ORDER BY freq DESC, token
       |LIMIT $VocabTopN""".stripMargin

  /** Per-document OOV (out-of-vocabulary) rate against the
    * top-[[VocabTopN]] corpus vocabulary — the tokenizer-coverage check
    * run before training: a doc whose tokens are mostly outside the
    * vocabulary will fragment into garbage subwords (wrong-language,
    * binary-as-text, OCR noise) and gets dropped or rerouted.
    *
    * Shape at 100 TB: the vocabulary is induced once (map-side-combined
    * counts + per-partition top-N heaps) and BROADCAST back — vocab ≪
    * corpus, the same asymmetry tfidf's df table exploits; OOV counting
    * is then one exploded-token broadcast left join plus a
    * map-side-combined per-doc aggregate. Shuffles carry (doc_id,
    * count) pairs only; the rate is one IEEE division of exact ints,
    * bit-identical cross-engine. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = vocabTopN(spark, dir)
      .select($"token".as("tok"), lit(1L).as("in_vocab"))
    Tables.documentsPar(spark, dir)
      .select($"doc_id", explode(toks($"text")).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        $"n_oov".cast("double") / $"n_tokens".cast("double"))
      .orderBy($"doc_id")
  }

  val oovRateSql: String =
    s"""SELECT tr.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
       |FROM (SELECT doc_id, UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |      FROM documents) tr
       |LEFT JOIN ($vocabTopNSql) v ON tr.tok = v.token
       |GROUP BY tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin

  /** Provenance mix profiling: per (source, lang) volume, exact-dup
    * rate, and token totals — the table a corpus mix-planning step reads
    * to weight sources (a source with a high dup_ratio is boilerplate-
    * heavy and gets down-weighted before any expensive near-dup pass).
    *
    * Shape: one narrow projection (digest + token count, both
    * codegen'd), one keyed aggregation; the distinct-digest count
    * shuffles (source, lang, digest) only — never text. dup_ratio is a
    * single IEEE division of two exact ints, bit-identical cross-engine. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir)
      .select($"source", $"lang",
        md5(norm($"text")).as("digest"),
        size(toks($"text")).cast("long").as("n_tokens"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"digest").as("n_unique"),
        sum($"n_tokens").as("total_tokens"))
      .withColumn("dup_ratio",
        lit(1.0) - $"n_unique".cast("double") / $"n_docs".cast("double"))
      .orderBy($"source", $"lang")
  }

  val sourceMixSql: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT digest) AS n_unique,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT digest) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
      |FROM (SELECT source, lang,
      |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
      |        CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
      |      FROM documents)
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** Token counting: whitespace tokens vs a BPE-ish regex lexer
    * (letter runs | digit runs | single punctuation) — the standard cheap
    * proxy for model-token counts in corpus accounting. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir).select(
      $"doc_id",
      size(toks($"text")).as("ws_tokens"),
      size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("lex_tokens"),
      length($"text").as("n_chars"))
      .orderBy($"doc_id")
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS lex_tokens,
      |  length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Text CLEANING — the normalization pass that runs before any
    * analysis or training: strip control characters, cap runaway
    * punctuation (ellipsis/bang/question/dash runs — degenerate
    * scrapes and generations produce "!!!!!!" and ".........."),
    * collapse whitespace, trim. Case and real punctuation are
    * PRESERVED (unlike [[norm]], which lowercases for analysis);
    * `n_removed` (chars dropped) feeds doc-level drop rules the same
    * way piiScrub's counts do.
    *
    * The run caps are literal-prefix patterns (`\.{4,}`), NOT the
    * usual backreference `(.)\1{3,}` — RE2 (DuckDB) has no
    * backreferences, and the repo's oracle-sharing rule is plain
    * character classes only (see the PII patterns below). Narrow
    * per-row codegen'd regexes; no shuffle; embarrassingly parallel. */
  def cleanExpr(text: Column): Column = {
    val noCtrl = regexp_replace(text, "[\\x00-\\x1f\\x7f]", " ")
    val capped = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(noCtrl, "\\.{4,}", "..."),
          "!{2,}", "!"),
        "\\?{2,}", "?"),
      "-{4,}", "---")
    trim(regexp_replace(capped, "\\s+", " "))
  }

  def cleanText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir).select(
      $"doc_id",
      cleanExpr($"text").as("clean"),
      (length($"text") - length(cleanExpr($"text"))).as("n_removed"))
      .orderBy($"doc_id")
  }

  /** The DuckDB mirror of [[cleanExpr]] over column `col` — shared by
    * the clean_text oracle, the curate_text composition's, and
    * Curate.pipelineE2eSql. */
  private[graft] def cleanSqlExpr(col: String): String =
    s"""trim(regexp_replace(
       |          regexp_replace(
       |            regexp_replace(
       |              regexp_replace(
       |                regexp_replace(
       |                  regexp_replace($col, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
       |                  '\\.{4,}', '...', 'g'),
       |                '!{2,}', '!', 'g'),
       |              '\\?{2,}', '?', 'g'),
       |            '-{4,}', '---', 'g'),
       |          '\\s+', ' ', 'g'))""".stripMargin

  val cleanTextSql: String =
    s"""SELECT doc_id, clean, length(text) - length(clean) AS n_removed
       |FROM (SELECT doc_id, text,
       |        ${cleanSqlExpr("text")} AS clean
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // PII patterns shared by the scrub expression and its oracle: plain
  // character classes only — identical semantics in Java regex (Spark)
  // and RE2 (DuckDB); no lookarounds, which RE2 lacks.
  private[graft] val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val UrlPattern = "https?://[^\\s]+"

  /** Redacted text: URLs first (an email-shaped substring inside a URL
    * must redact as part of the URL), then emails. */
  def scrubExpr(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlPattern, "<URL>"),
      EmailPattern, "<EMAIL>")

  /** PII scrubbing — the redaction pass every shared-corpus pipeline
    * runs before training: mask emails/URLs, count what was masked (the
    * counts feed doc-level drop rules, e.g. "drop if > N emails").
    * Narrow per-row codegen'd regexes; no shuffle. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir).select(
      $"doc_id",
      scrubExpr($"text").as("scrubbed"),
      size(regexp_extract_all($"text", lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all($"text", lit(UrlPattern), lit(0))).as("n_urls"))
      .orderBy($"doc_id")
  }

  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$UrlPattern', '<URL>', 'g'),
       |                 '$EmailPattern', '<EMAIL>', 'g') AS scrubbed,
       |  len(regexp_extract_all(text, '$EmailPattern')) AS n_emails,
       |  len(regexp_extract_all(text, '$UrlPattern')) AS n_urls
       |FROM documents ORDER BY doc_id""".stripMargin

  /** keep-flag bars for [[curateText]]: a curated doc survives with at
    * most this many redactions and at least this many tokens. */
  val CurateMaxRedactions = 5
  val CurateMinTokens = 5

  /** TEXT-side curation composition: clean → PII-scrub → re-tokenize →
    * keep flag, end to end over the transformed text — the counterpart
    * of Curate.corpusCurate, which composes the ID-side stages (dedup /
    * cluster / language / quality) without touching the text. Pins that
    * the text-transform stages COMPOSE: redaction counts come from the
    * CLEANED text (scrub sees what clean emitted), token counts from
    * the CURATED text (analysis sees what scrub emitted).
    *
    * Shape at 100 TB: still one narrow per-row projection — chained
    * codegen'd regexes, no shuffle, embarrassingly parallel; the
    * composition adds depth, not movement. */
  def curateText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cleaned = cleanExpr($"text")
    Tables.documentsPar(spark, dir).select(
      $"doc_id",
      scrubExpr(cleaned).as("curated"),
      (length($"text") - length(cleaned)).as("n_removed"),
      (size(regexp_extract_all(cleaned, lit(EmailPattern), lit(0))) +
        size(regexp_extract_all(cleaned, lit(UrlPattern), lit(0)))).as("n_redacted"))
      .withColumn("n_tokens", size(toks($"curated")))
      .withColumn("keep",
        $"n_redacted" <= CurateMaxRedactions && $"n_tokens" >= CurateMinTokens)
      .orderBy($"doc_id")
  }

  val curateTextSql: String =
    s"""SELECT doc_id, curated, n_removed, n_redacted, n_tokens,
       |  (n_redacted <= $CurateMaxRedactions AND n_tokens >= $CurateMinTokens) AS keep
       |FROM (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(cleaned, '$UrlPattern', '<URL>', 'g'),
       |                   '$EmailPattern', '<EMAIL>', 'g') AS curated,
       |    length(text) - length(cleaned) AS n_removed,
       |    len(regexp_extract_all(cleaned, '$EmailPattern'))
       |      + len(regexp_extract_all(cleaned, '$UrlPattern')) AS n_redacted,
       |    len(string_split(regexp_replace(lower(trim(
       |      regexp_replace(regexp_replace(cleaned, '$UrlPattern', '<URL>', 'g'),
       |                     '$EmailPattern', '<EMAIL>', 'g'))), '\\s+', ' ', 'g'), ' ')) AS n_tokens
       |  FROM (SELECT doc_id, text, ${cleanSqlExpr("text")} AS cleaned
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Repetition ratio — the C4/Gopher-style repetition filter: the
    * fraction of a doc's word-2-grams taken by its single most frequent
    * 2-gram (1.0 = the doc is one phrase repeated; boilerplate and
    * degenerate generations score high). NON-distinct bigrams by
    * construction. Shape: exploded rows → per-(doc, bigram) count
    * (map-side combined) → per-doc max/sum — two keyed aggregations,
    * shuffling only (doc_id, hash-sized rows). Docs with < 2 tokens
    * have no bigrams → NULL ratio (left join keeps them). */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
    val bigrams = array_compact(
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y)))
    val docs = Tables.documentsPar(spark, dir)
    // the statistic is DOC-LOCAL by construction (max multiplicity /
    // total over ONE doc's bigrams), so nothing needs to shuffle: the
    // old shape exploded the corpus bigram stream through two keyed
    // aggregations (bigram STRINGS crossing both exchanges) and joined
    // back — r18 replaces it with an in-row fold over the doc's SORTED
    // bigram array (max run length = max multiplicity; array size =
    // total), one corpus pass, zero exchanges before the output sort
    // (guide §2.4/§2.3). The sorted array materializes as a column
    // first so the fold's captured base is a cheap reference, not a
    // re-evaluated expression (the doc_fingerprint interpreted-HOF
    // lesson). Docs with < 2 tokens have no bigrams → NULL ratio, the
    // old left-join-null, same integers either way.
    val best = aggregate($"bs",
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    docs.select($"doc_id", array_sort(bigrams).as("bs"))
      .select($"doc_id",
        when(size($"bs") > 0,
          best.cast("double") / size($"bs").cast("double"))
          .as("rep_ratio"),
        when(size($"bs") > 0, size($"bs").cast("long")).as("n_bigrams"))
      .orderBy($"doc_id")
  }

  val repetitionRatioSql: String =
    """SELECT d.doc_id, r.rep_ratio, r.n_bigrams
      |FROM documents d LEFT JOIN (
      |  SELECT doc_id,
      |    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio,
      |    CAST(SUM(c) AS BIGINT) AS n_bigrams
      |  FROM (SELECT doc_id, bg, COUNT(*) AS c
      |        FROM (SELECT doc_id,
      |                UNNEST(list_transform(range(1, len(toks0)),
      |                  i -> toks0[i] || ' ' || toks0[i + 1])) AS bg
      |              FROM (SELECT doc_id,
      |                      string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks0
      |                    FROM documents))
      |        GROUP BY doc_id, bg)
      |  GROUP BY doc_id) r ON d.doc_id = r.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Document fingerprinting: distinct char 8-grams → md5 → bottom-2
    * sketch (the winnowing idea: a tiny order-independent digest that two
    * near-identical docs share with high probability).
    *
    * Shape: positions exploded to rows so the normalization runs once per
    * doc and each md5 is a codegen'd per-row projection (a per-doc array
    * lambda evaluates interpreted and re-evaluates its captured base per
    * element — 30× slower at sf0.1). The sketch elements are the 60-BIT
    * digest prefixes (the repo-wide truncation convention,
    * Dedup.scala:230-237): bottom-2 over the longs equals bottom-2 over
    * the prefix hex strings (15-hex-char lexicographic = 60-bit numeric
    * order), and the LONG form is what makes the whole reduce cheap —
    * the dedup shuffle carries (doc_id, 8-byte long) rows instead of
    * 32-char hex (58 MB → ~20 MB at sf0.1, see BENCH shuffle_bytes),
    * and [[graft.functions.Bottom2]]'s buffer slots are primitive, so
    * the aggregate runs as a real codegen'd HashAggregate (with STRING
    * slots Spark 4 plans SortAggregate — UnsafeRow cannot mutate
    * var-length buffer fields — which added two per-partition sorts
    * when round 4 first aggregated the full hex). The r3 collect_set
    * form held the whole per-doc set in an ObjectHashAggregate buffer —
    * per-group state proportional to document length; Bottom2's is two
    * slots at any length. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val positions = Tables.documentsPar(spark, dir)
      .select($"doc_id", norm($"text").as("nt"))
      .select($"doc_id", $"nt", explode_outer(
        when(length($"nt") >= 8, sequence(lit(1), length($"nt") - 7))
          .otherwise(array().cast("array<int>"))).as("i"))
    // 15-hex-char zero-padded rendering of a 60-bit prefix long —
    // identical text to substr(md5(...), 1, 15)
    def toHex(c: org.apache.spark.sql.Column) =
      lower(lpad(hex(c), 15, "0"))
    positions
      .select($"doc_id",
        conv(substring(md5($"nt".substr($"i", lit(8))), 1, 15), 16, 10)
          .cast("long").as("g"))
      .distinct() // map-side-combined dedup of (doc_id, long) pairs
      .groupBy($"doc_id")
      .agg(graft.functions.Bottom2.bottom2($"g").as("gs2"),
        count($"g").cast("int").as("n_kgrams"))
      // try_element_at: a doc with < 2 distinct 8-grams yields a NULL
      // fingerprint (concat null-propagates), matching the oracle's
      // hs[2] -> NULL — where ANSI element_at would throw (ADVICE r2)
      .select($"doc_id",
        concat(toHex(try_element_at($"gs2", lit(1))), lit("|"),
          toHex(try_element_at($"gs2", lit(2)))).as("fingerprint"),
        $"n_kgrams")
      .orderBy($"doc_id")
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      |  hs[1] || '|' || hs[2] AS fingerprint,
      |  len(hs) AS n_kgrams
      |FROM (SELECT doc_id,
      |        list_sort(list_distinct(list_transform(kgrams, g -> substr(md5(g), 1, 15)))) AS hs
      |      FROM (SELECT doc_id,
      |              list_distinct(list_transform(range(1, length(nt) - 6),
      |                i -> substr(nt, CAST(i AS INTEGER), 8))) AS kgrams
      |            FROM (SELECT doc_id,
      |                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      |                  FROM documents)))
      |ORDER BY doc_id""".stripMargin

  /** Eval-set size for [[decontaminate]]'s stand-in benchmark: the
    * EvalDocCount lowest doc_ids play the held-out set (a real pipeline
    * reads the benchmark corpus from its own table). */
  val EvalDocCount = 5

  /** Benchmark DECONTAMINATION — the n-gram-overlap test every serious
    * training pipeline runs so eval data doesn't leak into training:
    * for each corpus doc, how many of its distinct char-8-grams appear
    * anywhere in the eval set (n_shared > 0 ⇒ contaminated, drop or
    * audit).
    *
    * Shape at 100 TB: corpus grams are exploded rows (codegen'd md5, the
    * docFingerprint layout) hashed to 60-bit longs — the repo-wide trick
    * (see Dedup.dedupJaccardOf): overlap counts are unchanged (a
    * cross-engine-identical collision needs two distinct grams sharing 60
    * md5 bits in the same doc∩eval intersection — negligible) while every
    * shuffled row is 8 bytes, not a 32-char hex string. The eval side
    * collapses to a DISTINCT gram set that is small by construction
    * (benchmarks are tiny next to the corpus), so the broadcast inner
    * join runs BEFORE the corpus-side distinct: the only rows that ever
    * shuffle are the (doc_id, gram) pairs that actually hit the eval set
    * — the corpus's non-shared grams (≈ all of them) die in the map-side
    * hash probe. A left join back keeps clean docs at n_shared = 0.
    */
  /** (doc_id, g) rows: 60-bit hashes of each doc's char-8-grams. */
  private def gramRows(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"doc_id", norm($"text").as("nt"))
      .select($"doc_id", explode(
        when(length($"nt") >= 8, sequence(lit(1), length($"nt") - 7))
          .otherwise(array().cast("array<int>"))).as("i"), $"nt")
      .select($"doc_id",
        conv(substring(md5($"nt".substr($"i", lit(8))), 1, 15), 16, 10)
          .cast("long").as("g"))
  }

  /** [[gramRows]] with PER-DOC DISTINCT grams, deduped inside the row
    * (r18, guide §2.4): `gramRows(df).distinct()` shuffles the whole
    * char-grain gram stream just to drop within-doc repeats — but the
    * distinct key contains doc_id, so the dedup is doc-local by
    * construction and `array_distinct` does it in the projection with
    * NO exchange. Emits exactly the rows the shuffled form kept (md5
    * hashes are computed identically), minus one corpus-grain shuffle.
    * Keeps the ASCENDING first-occurrence order of array_distinct —
    * irrelevant to every consumer (sets feed joins/counts). */
  private def gramRowsDistinct(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"doc_id", norm($"text").as("nt"))
      .select($"doc_id", explode(array_distinct(
        when(length($"nt") >= 8,
          transform(sequence(lit(1), length($"nt") - 7), i =>
            conv(substring(md5($"nt".substr(i, lit(8))), 1, 15), 16, 10)
              .cast("long")))
          .otherwise(array().cast("array<long>")))).as("g"))
  }

  /** (doc_id, exact n_shared, contaminated) for corpus docs, given the
    * per-doc counts of eval-set gram hits. */
  private def contaminationReport(docs: DataFrame, shared: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter($"doc_id" >= EvalDocCount).select($"doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_shared", lit(0L)).as("n_shared"),
        (coalesce($"n_shared", lit(0L)) > 0).as("contaminated"))
      .orderBy($"doc_id")
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    // per-doc distinct on BOTH sides (r18; see gramRowsDistinct): the
    // eval side still pays its (tiny, eval-sized) cross-doc distinct,
    // but ships fewer rows into it; the corpus side's survivors are
    // already (doc_id, g)-unique, so the old post-join `.distinct()`
    // exchange disappears and n_shared still counts grams once
    val evalGrams = gramRowsDistinct(docs.filter($"doc_id" < EvalDocCount))
      .select($"g").distinct()
    val shared = gramRowsDistinct(docs.filter($"doc_id" >= EvalDocCount))
      .join(broadcast(evalGrams), "g") // narrow probe first — see scaladoc
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    contaminationReport(docs, shared)
  }

  /** Expected distinct eval grams for the bloom's sizing (fixture-scale;
    * production passes the eval benchmark's measured cardinality). */
  val BloomExpectedItems = 4096L

  /** [[decontaminate]] with a BLOOM pre-filter on the corpus side — the
    * 100 TB form of the same query, with IDENTICAL output (and the same
    * oracle): the corpus gram stream first probes a bloom of the eval
    * grams (~1.2 bytes/item instead of 8+; no false NEGATIVES, so
    * nothing real is lost), and only the survivors — true hits plus the
    * bloom's ~1% false positives — reach the exact broadcast join that
    * removes the false positives. At fixture scale both plans broadcast
    * comfortably; at a 100 TB corpus vs a large eval suite the bloom is
    * what keeps the probe side map-side when the exact gram set no
    * longer fits executor broadcast budgets.
    *
    * Mechanics: the bloom is built by Spark's own
    * `BloomFilterAggregate` (the engine's runtime-filter sketch) over
    * the 60-bit gram hashes and enters the plan as an UNCORRELATED
    * SCALAR SUBQUERY inside `BloomFilterMightContain` — exactly the
    * expression pair InjectRuntimeFilter plants. The subquery executes
    * lazily with the query (plan construction and .explain stay free,
    * like every other registered query) and the sketch deserializes
    * once per task, not per row. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = Tables.documentsPar(spark, dir)
    // per-doc distinct both sides, post-join distinct dropped (r18 —
    // the decontaminate restructure; survivors arrive unique)
    val evalGrams = gramRowsDistinct(docs.filter($"doc_id" < EvalDocCount))
      .select($"g").distinct()
    val bloomSub = ScalarSubquery(
      evalGrams.agg(Bridge.column(new BloomFilterAggregate(
        Bridge.expression($"g"), BloomExpectedItems).toAggregateExpression()))
        .queryExecution.analyzed)
    val mightContain = Bridge.column(
      BloomFilterMightContain(bloomSub, Bridge.expression($"g")))
    val shared = gramRowsDistinct(docs.filter($"doc_id" >= EvalDocCount))
      .filter(mightContain)            // bloom prune: no false negatives
      .join(broadcast(evalGrams), "g") // exact confirm: false positives die
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    contaminationReport(docs, shared)
  }

  val decontaminateSql: String =
    s"""WITH kg AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(nt) - 6),
       |      i -> ('0x' || substr(md5(substr(nt, CAST(i AS INTEGER), 8)), 1, 15))::BIGINT)) AS grams
       |  FROM (SELECT doc_id,
       |          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |        FROM documents)),
       |ev AS (SELECT list_distinct(flatten(list(grams))) AS eg
       |       FROM kg WHERE doc_id < $EvalDocCount)
       |SELECT doc_id,
       |  CAST(len(list_intersect(grams, eg)) AS BIGINT) AS n_shared,
       |  len(list_intersect(grams, eg)) > 0 AS contaminated
       |FROM kg CROSS JOIN ev
       |WHERE doc_id >= $EvalDocCount
       |ORDER BY doc_id""".stripMargin

  /** Overlap fraction above which [[contaminationRatio]] flags a doc.
    * The any-hit rule ([[decontaminate]]) is the conservative default;
    * real pipelines also keep a THRESHOLDED variant because long
    * documents share the odd 8-gram with eval sets by coincidence —
    * the ratio separates "quotes a benchmark item" from "contains one
    * common phrase". */
  val ContaminationBar = 0.05

  /** Thresholded decontamination: per corpus doc, its distinct-gram
    * count, the eval-shared count, and their ratio — flagged when the
    * ratio exceeds [[ContaminationBar]].
    *
    * Shape at 100 TB: ONE aggregation pass computes numerator and
    * denominator together — the corpus's deduped (doc_id, 60-bit gram)
    * rows take a broadcast LEFT join against the eval gram set (hit
    * flag added map-side, nothing filtered), then a single
    * map-side-combined count/sum per doc. Unlike [[decontaminate]],
    * the full corpus gram stream must cross the shuffle (the
    * denominator needs every doc's distinct-gram count) — that is the
    * docFingerprint shuffle, 8-byte longs per row, and it is inherent
    * to ratio semantics, not a plan artifact. Ratio and flag are one
    * IEEE division of exact ints + one compare, bit-identical
    * cross-engine. */
  def contaminationRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val evalGrams = gramRowsDistinct(docs.filter($"doc_id" < EvalDocCount))
      .select($"g").distinct()
    // per-doc distinct grams WITHOUT the corpus-grain shuffle the old
    // `.distinct()` paid — the dedup key contains doc_id, so it
    // happens inside the row (r18; see gramRowsDistinct)
    val perDoc = gramRowsDistinct(docs.filter($"doc_id" >= EvalDocCount))
      .join(broadcast(evalGrams.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0L))).as("n_shared"))
    docs.filter($"doc_id" >= EvalDocCount).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_shared", lit(0L)).as("n_shared"))
      .withColumn("share_ratio",
        when($"n_grams" > 0,
          $"n_shared".cast("double") / $"n_grams".cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", $"share_ratio" > ContaminationBar)
      .orderBy($"doc_id")
  }

  val contaminationRatioSql: String =
    s"""WITH kg AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(nt) - 6),
       |      i -> ('0x' || substr(md5(substr(nt, CAST(i AS INTEGER), 8)), 1, 15))::BIGINT)) AS grams
       |  FROM (SELECT doc_id,
       |          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |        FROM documents)),
       |ev AS (SELECT list_distinct(flatten(list(grams))) AS eg
       |       FROM kg WHERE doc_id < $EvalDocCount)
       |SELECT doc_id, n_grams, n_shared,
       |  CASE WHEN n_grams > 0
       |    THEN CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    ELSE 0.0 END AS share_ratio,
       |  CASE WHEN n_grams > 0
       |    THEN CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    ELSE 0.0 END > $ContaminationBar AS contaminated
       |FROM (SELECT doc_id,
       |        CAST(len(grams) AS BIGINT) AS n_grams,
       |        CAST(len(list_intersect(grams, eg)) AS BIGINT) AS n_shared
       |      FROM kg CROSS JOIN ev
       |      WHERE doc_id >= $EvalDocCount)
       |ORDER BY doc_id""".stripMargin

  /** Unigram-LM rarity scoring — the container-feasible stand-in for
    * perplexity filtering (CCNet-style pipelines score every doc under a
    * KenLM model and drop the tails; the unigram corpus model is the
    * same dataflow with the model induced in-engine). Per doc: token
    * count, the corpus frequency of its RAREST token, and the mean
    * corpus frequency over its tokens (with multiplicity). A doc whose
    * tokens are mostly corpus-rare is OCR noise / binary-as-text /
    * wrong-language; a doc whose mean frequency is extreme on the high
    * side is stopword soup. Real pipelines threshold both tails.
    *
    * Intentionally NOT log-probability: ln() is transcendental and the
    * JVM's and DuckDB's libm differ in the last ulp, which would break
    * the driver's hash compare — while SUM(BIGINT)/COUNT and MIN are
    * exact in both engines and the mean is one IEEE division. A
    * production deployment maps the same per-doc aggregate over
    * log-probs; the dataflow (and this plan) is unchanged.
    *
    * Shape at 100 TB: the frequency table is a map-side-combined hash
    * aggregate over exploded tokens; unlike [[oovRate]]'s top-N
    * vocabulary it is the FULL vocabulary (heavy-tailed, billions of
    * distinct typo-tokens at corpus scale), so the probe is a shuffle
    * hash join on the token — both sides hash-partition, and the Zipf
    * head ("the" in a third of all rows) is exactly the skew AQE's
    * skew-join split handles (spark.sql.adaptive.skewJoin, on by
    * default here). LOAD-BEARING SHAPE CAVEAT, measured in
    * SkewStressSpec: OptimizeSkewedJoin's pattern requires the Sort's
    * child to be the shuffle stage itself, so the split can NEVER fire
    * when the frequency aggregate is fused into the join stage (the
    * final HashAggregate sits between Sort and shuffle) — the
    * frequency table must be MATERIALIZED (localCheckpoint here; the
    * persisted per-corpus-version table in production) for the stance
    * to hold. With it materialized the spec measures the mega-word
    * partition fanning 8 → 18 splits. Post-join rows collapse
    * immediately into a
    * map-side-combined per-doc aggregate: what crosses the second
    * shuffle is (doc_id, count, min, sum) — 32 bytes per doc, not per
    * token. The corpus is scanned twice (model pass + score pass), the
    * same two-pass shape as [[tfidfKeywords]]; a production run
    * persists the frequency table once per corpus version (the
    * Dedup.persistFunnel pattern) and amortizes the first scan away. */
  def tokenRarity(spark: SparkSession, dir: String): DataFrame =
    tokenRarityOf(Tables.documentsPar(spark, dir))
      .orderBy(col("doc_id"))

  /** [[tokenRarity]] over an arbitrary documents frame — the seam
    * SkewStressSpec drives with a mega-frequency-word corpus to prove
    * the AQE-skew stance above is load-bearing (the skew split FIRES
    * on the Zipf head), not just claimed. Unordered: the stress corpus
    * is large and the order is the registered query's concern. */
  private[graft] def tokenRarityOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tokRows = docs
      .select($"doc_id", explode(toks($"text")).as("tok"))
    // materialized so the join's build side is a plain scan under the
    // Sort — the shape OptimizeSkewedJoin's pattern requires (class doc
    // caveat; SkewStressSpec pins both directions)
    val freq = tokRows.groupBy($"tok").agg(count(lit(1)).as("freq"))
      .localCheckpoint(eager = false)
    tokRows.join(freq, "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        min($"freq").as("min_freq"),
        sum($"freq").as("sum_freq"))
      .withColumn("mean_freq",
        $"sum_freq".cast("double") / $"n_tokens".cast("double"))
  }

  val tokenRaritySql: String =
    """WITH tr AS (
      |  SELECT doc_id,
      |    UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM documents),
      |f AS (SELECT tok, COUNT(*) AS freq FROM tr GROUP BY tok)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  MIN(freq) AS min_freq,
      |  CAST(SUM(freq) AS BIGINT) AS sum_freq,
      |  CAST(SUM(freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_freq
      |FROM tr JOIN f USING (tok)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Width (tokens) of a "line" for [[lineDedup]]. The fixture's texts
    * are single-line (no \n anywhere, TESTDATA.md), so the segmentation
    * unit is a fixed token window; a production corpus passes its real
    * line/paragraph splitter here — everything downstream of the
    * segmentation is identical. */
  val LineTokens = 10

  /** Ban a line when it occurs in MORE THAN this many distinct docs. */
  val MaxLineDf = 2

  /** LINE-LEVEL dedup — the CCNet/RefinedWeb boilerplate pass: a line
    * that recurs across many documents (license headers, nav bars,
    * cookie banners) is removed from EVERY document, keeping the rest of
    * each doc. This is the third dedup granularity next to document-level
    * ([[graft.ops.Dedup]]) and span-level containment: document dedup
    * keeps one copy of a duplicated doc; line dedup deletes the
    * duplicated REGION from all docs. Output per doc: surviving text
    * (original line order), line count, pruned-line count.
    *
    * Shape at 100 TB: lines are keyed by the repo-wide 60-bit md5-prefix
    * long (Dedup.scala convention) so the document-frequency aggregate
    * shuffles (hash, doc_id) pairs — 16 bytes — never line text; df is
    * distinct-doc counted (a line repeated WITHIN one doc is not
    * boilerplate). The banned set (df > [[MaxLineDf]]) is tiny by
    * construction — boilerplate is high-frequency but low-DISTINCT-count
    * — so it broadcasts back as a hash-probe left join (the
    * [[decontaminate]] asymmetry); at a corpus where it doesn't fit, the
    * probe degrades to a shuffle join on the same 8-byte key. The only
    * shuffle that carries text is the final per-doc reassembly
    * (collect kept (pos, line) pairs, sort, re-join) — inherent to the
    * rewrite semantics, same as every text-rewriting stage, and it
    * carries each surviving line exactly once. The oracle bans by line
    * TEXT (DuckDB has no 60-bit convention); identical output barring
    * md5-prefix collisions (~0 at any plausible line cardinality). */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOf(Tables.documentsPar(spark, dir))

  /** [[lineDedup]] over an arbitrary (doc_id, text) frame — the seam the
    * boilerplate stress spec uses to prove the banned set stays tiny
    * (and the output exact) when one line recurs across hundreds of
    * docs. */
  def lineDedupOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // Examined, left two-pass (r18): segs feeds both the banned-set
    // derivation and the probe join. A doc-grain token-array persist
    // (the lmScoreOf treatment) was TRIED and MEASURED SLOWER here
    // (exec1 1.82→2.41 s, exec2 0.93→1.06, +2 jobs): the per-segment
    // slice/array_join/md5 work dominates the saved regex pass, so the
    // persist's write+read round-trip costs more than the recompute.
    // A window form (the dupStartRows rewrite) was also rejected: segs
    // rows carry the segment TEXT for kept_text, so one-explosion-via-
    // window would shuffle the corpus text by gram hash where this
    // shape shuffles only the 16-byte (g, doc_id) pairs and probes by
    // broadcast — the guide §8 decide-with-small-rows layout.
    val segs = docs
      .select($"doc_id", toks($"text").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(1), greatest(size($"toks"), lit(1)),
          lit(LineTokens))).as("s"))
      .select($"doc_id", $"s",
        array_join(slice($"toks", $"s", lit(LineTokens)), " ").as("seg"))
      .withColumn("g",
        conv(substring(md5($"seg"), 1, 15), 16, 10).cast("long"))
    val banned = segs.select($"g", $"doc_id").distinct()
      .groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" > MaxLineDf)
      .select($"g", lit(1L).as("banned"))
    segs.join(broadcast(banned), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"banned".isNotNull, 1L).otherwise(0L)).as("n_pruned"),
        array_join(
          transform(
            array_sort(collect_list(
              when($"banned".isNull, struct($"s", $"seg")))),
            x => x.getField("seg")),
          " ").as("kept_text"))
      .orderBy($"doc_id")
  }

  val lineDedupSql: String =
    s"""WITH segs AS (
       |  SELECT doc_id, s, array_to_string(toks[s:s + ${LineTokens - 1}], ' ') AS seg
       |  FROM (SELECT doc_id, toks,
       |          UNNEST(range(1, greatest(len(toks), 1) + 1, $LineTokens)) AS s
       |        FROM (SELECT doc_id,
       |                string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |              FROM documents))),
       |banned AS (
       |  SELECT seg AS bseg
       |  FROM (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
       |  WHERE df > $MaxLineDf)
       |SELECT doc_id, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN bseg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       |  COALESCE(string_agg(CASE WHEN bseg IS NULL THEN seg END, ' ' ORDER BY s), '') AS kept_text
       |FROM segs LEFT JOIN banned ON segs.seg = banned.bseg
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** DUPLICATED-N-GRAM COVERAGE — the Gopher-family repetition signal at
    * corpus scope: for each document, the fraction of its normalized
    * characters covered by some char-8-gram that also appears in at
    * least one OTHER document. Where [[graft.ops.Dedup.dedupContainment]]
    * scores PAIRS (who quotes whom), this scores DOCS — "how much of
    * this page is text the corpus already has" — the per-doc drop signal
    * (boilerplate-heavy pages score near 1.0, original prose near 0)
    * that exact-substring dedup pipelines (Lee et al. 2022,
    * arXiv:2107.06499) threshold on.
    *
    * Exact interval-union arithmetic instead of position explosion: a
    * duplicated gram starting at i covers [i, i+7]; summing
    * min(8, i − prev_i) over the per-doc position-sorted duplicated
    * starts is exactly the union length of those fixed-width intervals —
    * one lag window, no 8× row blowup.
    *
    * Shape at 100 TB: gram df is distinct-doc counted on deduped
    * (gram, doc_id) 16-byte rows (map-side combine); the duplicated-gram
    * set joins back on the 8-byte hash (shuffle hash join — this set is
    * large by nature, it is NOT broadcast; AQE handles the skew of
    * ubiquitous grams). The window shuffles (doc_id, i) int pairs of
    * duplicated starts only; text never shuffles. Division is one IEEE
    * long/long-as-double op, bit-identical cross-engine. */
  /** Span width (normalized chars) for [[dupNgramCoverage]]. Short
    * grams (the 8-char decontamination unit) are near-universally
    * duplicated across any same-domain corpus — every doc scores ~1.0
    * and the signal is void; 32 chars ≈ a 5-6 word clause is long
    * enough that sharing one is evidence of copying, short enough to
    * still tile partial overlaps (Lee et al. use 50 BPE tokens). On
    * the fixture: near-dup docs score ~1.0, original prose 0.0. */
  val DupSpanChars = 32

  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame =
    dupNgramCoverageOf(Tables.documentsPar(spark, dir))

  /** [[dupNgramCoverage]] over an arbitrary (doc_id, text) frame — the
    * test seam for synthetic shared-span corpora. */
  /** (doc_id, i, g) rows: 60-bit hashes of each doc's
    * [[DupSpanChars]]-char normalized grams with their 1-based start
    * position — shared by [[dupNgramCoverageOf]] (scoring) and
    * [[spanDedupOf]] (rewrite). */
  private def posGramRows(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val n = DupSpanChars
    base
      .select($"doc_id", $"nt", explode(
        when(length($"nt") >= n, sequence(lit(1), length($"nt") - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select($"doc_id", $"i",
        conv(substring(md5($"nt".substr($"i", lit(n))), 1, 15), 16, 10)
          .cast("long").as("g"))
  }

  /** (doc_id, i) start positions of grams occurring in >= 2 distinct
    * docs.
    *
    * ONE explosion, ONE shuffle (r18, VERDICT r17 #3): "this gram has
    * >= 2 distinct doc_ids" is exactly `min(doc_id) != max(doc_id)`
    * over the gram's rows, so the duplicated-start set is a single
    * window over the gram rows — the old shape (distinct → groupBy df
    * → join back on pg) re-ran the whole text-grain explosion + md5
    * lineage for the probe side (two explosions) and paid a second
    * shuffle of distinct (g, doc_id) pairs; an exchange-sharing
    * rewrite was tried first and REFUSED by the runtime (column
    * pruning gives the two branches different exchange schemas, so
    * AQE stage reuse never fires — the executed plan still held two
    * Generate/md5 subtrees). The window form has one branch by
    * construction: explode+hash once, shuffle the 20-byte
    * (g, doc_id, i) rows once, sort-and-sweep per gram. Trade-off at
    * 100 TB: a ubiquitous gram's rows buffer in one window task
    * (spilling, not splitting — AQE skew handling is join-only);
    * bounded by the same hot-gram skew the old probe join carried on
    * its build side, and the right cost point for the sub-billion-
    * gram regime this fixture models (see the 60-bit-hash note on
    * [[spanDedup]]). */
  private def dupStartRows(pg: DataFrame): DataFrame = {
    import pg.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"g")
    pg.withColumn("mn", min($"doc_id").over(w))
      .withColumn("mx", max($"doc_id").over(w))
      .filter($"mn" =!= $"mx")
      .select($"doc_id", $"i")
  }

  def dupNgramCoverageOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val n = DupSpanChars
    val base = docs
      .select($"doc_id", norm($"text").as("nt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i")
    val covered = dupStartRows(posGramRows(base))
      .withColumn("c",
        least(lit(n), coalesce($"i" - lag($"i", 1).over(w), lit(n))))
      .groupBy($"doc_id").agg(sum($"c").as("dup_chars"))
    base.select($"doc_id", length($"nt").cast("long").as("n_chars"))
      .join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"dup_chars", lit(0L)).as("dup_chars"),
        (coalesce($"dup_chars", lit(0L)).cast("double") /
          greatest($"n_chars", lit(1L))).as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** Shared DuckDB CTEs for the duplicated-span family: normalized
    * text, positional gram hashes, duplicated grams, duplicated starts
    * — mirrors [[posGramRows]]/[[dupStartRows]]. */
  private val dupSpanCtes: String =
    s"""base AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |  FROM documents),
       |pg AS (
       |  SELECT doc_id, i,
       |    ('0x' || substr(md5(substr(nt, CAST(i AS INTEGER), $DupSpanChars)), 1, 15))::BIGINT AS g
       |  FROM (SELECT doc_id, nt,
       |          UNNEST(range(1, length(nt) - ${DupSpanChars - 2})) AS i FROM base)),
       |dup AS (
       |  SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM pg GROUP BY g)
       |  WHERE df >= 2),
       |starts AS (SELECT doc_id, i FROM pg WHERE g IN (SELECT g FROM dup))""".stripMargin

  val dupNgramCoverageSql: String =
    s"""WITH $dupSpanCtes,
       |cov AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_chars
       |  FROM (SELECT doc_id,
       |          LEAST($DupSpanChars, COALESCE(i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i), $DupSpanChars)) AS c
       |        FROM starts)
       |  GROUP BY doc_id)
       |SELECT b.doc_id, CAST(length(b.nt) AS BIGINT) AS n_chars,
       |  COALESCE(c.dup_chars, 0) AS dup_chars,
       |  CAST(COALESCE(c.dup_chars, 0) AS DOUBLE) / GREATEST(length(b.nt), 1) AS dup_frac
       |FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** EXACT-SUBSTRING deduplication (the rewrite counterpart of
    * [[dupNgramCoverage]], after Lee et al. 2022, arXiv:2107.06499):
    * every maximal normalized-char region covered by cross-doc
    * duplicated [[DupSpanChars]]-grams is REMOVED from every document —
    * the span-granularity sibling of [[lineDedup]] (which removes
    * recurring fixed token windows; this removes arbitrary-position
    * duplicated spans). Keep-one-copy semantics belong to document
    * dedup upstream: run exact/near dedup first (keeps one copy of
    * whole-doc duplicates), then spanDedup removes the remaining
    * cross-doc quoted/boilerplate regions from all survivors.
    *
    * Shape at 100 TB: duplicated starts ([[dupStartRows]]) shuffle as
    * (doc_id, int) pairs; islands (maximal merged intervals) come from
    * one gaps-and-islands window pass — a start opens a new island when
    * its gap to the previous exceeds the gram width, so islands are
    * exactly the interval union. The reassembly aggregates each doc's
    * island list (two ints per island, bounded by len/width) and stitches
    * surviving segments with one codegen'd `aggregate` fold over the
    * sorted islands — the only stage that carries text, and it carries
    * each doc's normalized text exactly once (the lineDedup contract).
    * removed_chars == dup_ngram_coverage.dup_chars by construction
    * (both are the same interval-union length; pinned in TextCurateSpec).
    *
    * Collision bound (ADVICE r6): "duplicated" is decided on 60-bit
    * gram-hash equality with no substring verification, and removal is
    * irreversible. Expected birthday collisions ≈ d²/2^61 for d distinct
    * grams: negligible at d ≤ ~10^8 (≲0.004 spans corpus-wide), but a
    * 100 TB corpus holds d ≈ 10^12-10^13 distinct 32-grams — thousands
    * of falsely-excised spans. At that scale either verify candidate
    * grams by joining the actual 32-char substring (one extra equality
    * on the already-joined rows — the duplicated-gram join carries
    * (hash, doc, pos), so the substring can ride it at +32 bytes/row)
    * or widen the key to 128 bits (xxh128/md5 both halves), which
    * pushes the expectation back to ~10^-12. The 60-bit key here is the
    * right cost point for the sub-billion-gram regime this fixture
    * models. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables.documentsPar(spark, dir))

  /** [[spanDedup]] over an arbitrary (doc_id, text) frame — the test
    * seam. */
  def spanDedupOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select($"doc_id", norm($"text").as("nt"))
    removeSpansAt(base, dupStartRows(posGramRows(base)))
  }

  /** The span-removal engine shared by [[spanDedupOf]] (starts =
    * corpus-duplicated grams) and [[decontaminateSpansOf]] (starts =
    * eval-set grams): given (doc_id, nt) and the 1-based start
    * positions of offending [[DupSpanChars]]-grams, excise every
    * maximal covered region and stitch the survivors — gaps-and-islands
    * window, interval union, one codegen'd `aggregate` fold; each doc's
    * text shuffles exactly once. */
  private def removeSpansAt(base: DataFrame, starts: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val n = DupSpanChars
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i")
    val islands = starts
      .withColumn("newisl",
        when(coalesce($"i" - lag($"i", 1).over(w), lit(n + 1)) > n, 1)
          .otherwise(0))
      .withColumn("isl", sum($"newisl").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"i").as("s"), (max($"i") + (n - 1)).as("e"))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"s", $"e"))).as("ivs"),
        sum($"e" - $"s" + 1).as("removed_chars"))
    base.join(islands, Seq("doc_id"), "left")
      .select($"doc_id",
        length($"nt").cast("long").as("n_chars"),
        coalesce($"removed_chars", lit(0L)).as("removed_chars"),
        when($"ivs".isNull, $"nt").otherwise(
          aggregate($"ivs",
            struct(lit(0).as("pos"), lit("").as("acc")),
            (st, iv) => struct(
              iv.getField("e").as("pos"),
              concat(st.getField("acc"),
                $"nt".substr(st.getField("pos") + lit(1),
                  iv.getField("s") - st.getField("pos") - lit(1))).as("acc")),
            st => concat(st.getField("acc"),
              $"nt".substr(st.getField("pos") + lit(1), length($"nt")))))
          .as("kept_text"))
      .orderBy($"doc_id")
  }

  /** SURGICAL decontamination — the rewrite form of [[decontaminate]]:
    * instead of flagging (and typically dropping) every document that
    * shares an n-gram with the eval set, remove ONLY the verbatim
    * eval-overlapping regions and keep the rest of the document — the
    * Lee-et-al exact-substring machinery pointed at a held-out set
    * instead of at the corpus itself. Width is the span family's
    * [[DupSpanChars]] (32 normalized chars ≈ a clause): the flag-level
    * query detects at the twitchy token-8-gram width, but REMOVAL wants
    * evidence of real quotation, not a shared idiom.
    *
    * Shape at 100 TB: the eval gram set is small by definition (the
    * [[decontaminate]] premise), so the position rows probe a BROADCAST
    * of it map-side — unlike [[spanDedup]]'s corpus-sized duplicated-
    * gram set, no shuffle hash join; then the same islands/stitch
    * engine, text shuffling once. Eval docs themselves are excluded
    * from the output (they are the benchmark, not training data). */
  def decontaminateSpans(spark: SparkSession, dir: String): DataFrame =
    decontaminateSpansOf(Tables.documentsPar(spark, dir))

  /** [[decontaminateSpans]] over an arbitrary (doc_id, text) frame —
    * the test seam (doc_id < [[EvalDocCount]] plays the eval set). */
  def decontaminateSpansOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val evalBase = docs.filter($"doc_id" < EvalDocCount)
      .select($"doc_id", norm($"text").as("nt"))
    val evalG = posGramRows(evalBase).select($"g").distinct()
    val corpusBase = docs.filter($"doc_id" >= EvalDocCount)
      .select($"doc_id", norm($"text").as("nt"))
    val starts = posGramRows(corpusBase)
      .join(broadcast(evalG), "g").select($"doc_id", $"i")
    removeSpansAt(corpusBase, starts)
  }

  /** The SQL stitch tail shared by [[spanDedupSql]] and
    * [[decontaminateSpansSql]] — expects CTEs `base` (doc_id, nt) and
    * `starts` (doc_id, i) in scope; mirrors [[removeSpansAt]]. */
  private val spanStitchSql: String =
    s"""marked AS (
       |  SELECT doc_id, i,
       |    CASE WHEN COALESCE(i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i),
       |                       ${DupSpanChars + 1}) > $DupSpanChars
       |         THEN 1 ELSE 0 END AS newisl
       |  FROM starts),
       |numbered AS (
       |  SELECT doc_id, i,
       |    SUM(newisl) OVER (PARTITION BY doc_id ORDER BY i) AS isl
       |  FROM marked),
       |ivs AS (
       |  SELECT doc_id, isl, MIN(i) AS s, MAX(i) + ${DupSpanChars - 1} AS e
       |  FROM numbered GROUP BY doc_id, isl),
       |pieces AS (
       |  SELECT v.doc_id, v.s, v.e,
       |    substr(b.nt,
       |      CAST(COALESCE(LAG(v.e) OVER (PARTITION BY v.doc_id ORDER BY v.s), 0) + 1 AS INTEGER),
       |      CAST(v.s - COALESCE(LAG(v.e) OVER (PARTITION BY v.doc_id ORDER BY v.s), 0) - 1 AS INTEGER)) AS piece
       |  FROM ivs v JOIN base b ON v.doc_id = b.doc_id),
       |recon AS (
       |  SELECT doc_id, string_agg(piece, '' ORDER BY s) AS head,
       |    MAX(e) AS laste, CAST(SUM(e - s + 1) AS BIGINT) AS removed
       |  FROM pieces GROUP BY doc_id)
       |SELECT b.doc_id, CAST(length(b.nt) AS BIGINT) AS n_chars,
       |  COALESCE(r.removed, 0) AS removed_chars,
       |  CASE WHEN r.doc_id IS NULL THEN b.nt
       |       ELSE COALESCE(r.head, '') || substr(b.nt, CAST(r.laste + 1 AS INTEGER)) END AS kept_text
       |FROM base b LEFT JOIN recon r ON b.doc_id = r.doc_id
       |ORDER BY b.doc_id""".stripMargin

  val spanDedupSql: String =
    s"""WITH $dupSpanCtes,
       |$spanStitchSql""".stripMargin

  /** Sources whose documents form the bigram-LM training slice for
    * [[lmScore]]. Stands in for CCNet's "target-domain" corpus (they
    * train on Wikipedia and score Common Crawl); any predicate over the
    * doc spine works — the fixture uses a source prefix so both engines
    * select the identical slice. */
  val LmTrainSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** Per-document bigram rows keyed for the LM probe: one row per
    * adjacent token pair, carrying the 60-bit hash of (lang, v, w)
    * (`g`, the bigram key) and of (lang, v) (`h`, the context key).
    * Narrow construction — sequence+element_at over the token array, no
    * window — so it codegens and parallelizes per input split. Docs
    * with fewer than two tokens have no bigram and drop out here (a
    * one-token doc has no conditional to score; the oracle applies the
    * same `len >= 2` guard). The explicit `size >= 2` filter also keeps
    * `sequence(1, size-1)` away from its start>stop default of
    * DESCENDING step. */
  private[graft] def bigramRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    bigramRowsOfToks(
      docs.select($"doc_id", $"lang", $"source", toks($"text").as("t")))
  }

  /** [[bigramRows]] from an already-tokenized (doc_id, lang, source, t)
    * frame — the seam that lets a two-pass consumer (model train +
    * corpus probe: [[lmScoreOf]], Select.lmScoredOf) persist the
    * doc-grain token arrays ONCE and derive both bigram passes from the
    * cache instead of re-running the regex tokenization per pass (r18,
    * the queryExpansionOf treatment). */
  private[graft] def bigramRowsOfToks(tokFrame: DataFrame): DataFrame = {
    import tokFrame.sparkSession.implicits._
    def k60(cols: Column*): Column =
      conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10)
        .cast("long")
    tokFrame
      .filter(size($"t") >= 2)
      .select($"doc_id", $"lang", $"source", $"t",
        explode(sequence(lit(1), size($"t") - 1)).as("i"))
      .select($"doc_id", $"lang", $"source",
        k60($"lang", element_at($"t", $"i"), element_at($"t", $"i" + 1))
          .as("g"),
        k60($"lang", element_at($"t", $"i")).as("h"))
  }

  /** BIGRAM-LM QUALITY PROBE — the CCNet language-model filter (Wenzek
    * et al. 2019, arXiv:1911.00359) in count space: train a per-language
    * bigram model on a designated high-quality slice
    * ([[LmTrainSources]]), probe EVERY document's bigrams against it,
    * and emit per-doc model-coverage moments — bigram count, seen-bigram
    * and seen-context hit counts, summed bigram/context frequency mass,
    * and the seen ratio. Low `hit_rate` / low `sum_cvw` marks text the
    * reference domain does not predict (gibberish, wrong-register,
    * machine-generated), exactly what CCNet's perplexity thresholding
    * drops.
    *
    * Intentionally NOT log-perplexity, the [[tokenRarity]] convention
    * (ln is transcendental; emitted values here are exact BIGINTs plus
    * one IEEE division, bit-identical cross-engine): interpolated
    * cross-entropy is a fold of log(λ·c_vw/c_v + (1−λ)·unigram-backoff)
    * over the SAME joined rows this plan already produces — a production
    * run adds that one codegen'd projection inside the existing per-doc
    * aggregate; nothing in the dataflow changes.
    *
    * Shape at 100 TB: the model is trained once (one filtered corpus
    * scan, source predicate pushed to parquet) as a bigram-grain count
    * aggregate; the context table derives from the MODEL rows (groupBy
    * context-hash sum), never rescanning the corpus — the model frame is
    * lazily localCheckpoint'd for its two consumers (the sharedSigSets
    * pattern). The probe scan shuffles (doc_id, g, h) 24-byte rows —
    * text never shuffles — through two shuffle hash joins on 8-byte
    * keys: a bigram vocabulary is NOT broadcastable by nature (|V|² top
    * end) and its df is Zipf-skewed, the same AQE-skew stance as
    * [[tokenRarity]]. Post-join rows collapse immediately into the
    * map-side-combined per-doc moment aggregate (40 bytes/doc). Both
    * sides key by the 60-bit md5 prefix of (lang, sep, token…) so the
    * oracle — which joins raw token text — matches barring ~d²/2⁶¹
    * birthday collisions (the [[spanDedup]] bound; widen to 128-bit at
    * trillion-gram scale). */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreOf(Tables.documentsPar(spark, dir))

  /** [[lmScore]] over an arbitrary (doc_id, text, lang, source) frame —
    * the test seam. */
  def lmScoreOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // Tokenize ONCE (r18): the model train and the corpus probe both
    // derive from bigramRows, so the regex tokenization used to run
    // twice over the whole corpus. The doc-grain token arrays are
    // shared and both bigram passes explode from them; the md5 bigram
    // hashing still runs per pass, but at output grain from cached
    // arrays, not behind a second scan+regex lineage.
    val base = Dsl.share(docs
      .select($"doc_id", $"lang", $"source", toks($"text").as("t")))
    val bi = bigramRowsOfToks(base)
    // bigram + context counts from ONE training scan: group at bigram
    // grain (g determines h, mod collisions), then fold the checkpointed
    // model down to context grain instead of re-scanning the corpus
    val model = bi.filter($"source".isin(LmTrainSources: _*))
      .groupBy($"g", $"h").agg(count(lit(1)).as("c_vw"))
      .localCheckpoint(eager = false)
    val ctx = model.groupBy($"h").agg(sum($"c_vw").as("c_v"))
    // probe on BOTH (g, h): h is already carried on each side, and the
    // two-key join means a g-collision across distinct contexts can at
    // worst miscount, never multiply probe rows (ADVICE r7)
    bi.join(model.select($"g", $"h", $"c_vw"), Seq("g", "h"), "left")
      .join(ctx, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count($"c_vw").as("n_hits"),
        count($"c_v").as("n_ctx_hits"),
        sum(coalesce($"c_vw", lit(0L))).as("sum_cvw"),
        sum(coalesce($"c_v", lit(0L))).as("sum_cv"))
      .withColumn("hit_rate",
        $"n_hits".cast("double") / $"n_bigrams".cast("double"))
      .orderBy($"doc_id")
  }

  val lmScoreSql: String = {
    val train = LmTrainSources.map("'" + _ + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, lang, source,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, source, lang, t[i] AS v, t[i + 1] AS w
       |  FROM (SELECT doc_id, lang, source, t, UNNEST(range(1, len(t))) AS i
       |        FROM tok WHERE len(t) >= 2)),
       |m AS (
       |  SELECT lang, v, w, COUNT(*) AS c_vw FROM bi
       |  WHERE source IN ($train) GROUP BY 1, 2, 3),
       |ctx AS (SELECT lang, v, CAST(SUM(c_vw) AS BIGINT) AS c_v FROM m GROUP BY 1, 2)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(COUNT(m.c_vw) AS BIGINT) AS n_hits,
       |  CAST(COUNT(ctx.c_v) AS BIGINT) AS n_ctx_hits,
       |  CAST(SUM(COALESCE(m.c_vw, 0)) AS BIGINT) AS sum_cvw,
       |  CAST(SUM(COALESCE(ctx.c_v, 0)) AS BIGINT) AS sum_cv,
       |  CAST(COUNT(m.c_vw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hit_rate
       |FROM bi
       |LEFT JOIN m ON bi.lang = m.lang AND bi.v = m.v AND bi.w = m.w
       |LEFT JOIN ctx ON bi.lang = ctx.lang AND bi.v = ctx.v
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- Gopher document-format rule cascade -------------------------

  /** Word-count floor/ceiling (Gopher uses 50/100k; the floor is scaled
    * to the fixture's 10-99-token docs so the rule actually fires). */
  val GopherMinWords = 30L
  val GopherMaxWords = 100000L
  /** Mean-word-length band, symbol-to-word ceiling, alpha-word floor,
    * distinct-stopword floor — Gopher's published constants except the
    * stopword floor (2 of our 5-word English list vs 2 of Gopher's 8). */
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopDistinct = 2L

  /** GOPHER RULE CASCADE (Rae et al. 2021, arXiv:2112.11446 A1.1) — the
    * standard pre-model document-format gate, emitted as one row per doc
    * with every rule's measured value AND boolean so downstream can
    * audit which rule dropped a document (the Dolma "attributes" stance:
    * flags, not silent deletion):
    *
    *   - r_word_count: [[GopherMinWords]] ≤ words ≤ [[GopherMaxWords]]
    *   - r_word_len:   mean word length ∈ [3, 10]
    *   - r_symbol:     ('#' + '...') per word ≤ 0.1
    *   - r_alpha:      ≥ 80% of words contain a letter
    *   - r_stopword:   ≥ 2 DISTINCT stopwords present
    *
    * keep = every rule passes. A pure per-row projection — no shuffle,
    * codegen'd, embarrassingly parallel at 100 TB. The two line-grain
    * Gopher rules (bullet-start, ellipsis-end fractions) live at the
    * line granularity this fixture's single-line docs never exercise —
    * [[lineDedup]] owns line semantics; adding degenerate flags here
    * would pin vacuous truth. Every emitted double is one division of
    * two exact ints (the bit-identical-oracle convention). Alpha-word
    * counting rides ONE codegen'd regex over the normalized text (a
    * token matches iff it contains a letter) instead of a higher-order
    * `filter` lambda — the [[hitCount]] CodegenFallback lesson. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = norm($"text")
    val t = toks($"text")
    val nTok = size(t).cast("long")
    val meanLen = length(regexp_replace(nt, " ", "")).cast("double") /
      nTok.cast("double")
    val nHash = (length(nt) - length(regexp_replace(nt, "#", ""))).cast("long")
    val nEllipsis = size(regexp_extract_all(nt, lit("\\.\\.\\."), lit(0))).cast("long")
    val symbolRatio = (nHash + nEllipsis).cast("double") / nTok.cast("double")
    val nAlpha = size(regexp_extract_all(nt, lit("[^ ]*[a-z][^ ]*"), lit(0))).cast("long")
    val alphaFrac = nAlpha.cast("double") / nTok.cast("double")
    val enStop = LangStopwords.find(_._1 == "en").get._2
    val nStop = size(array_intersect(array_distinct(t),
      lit(enStop.toArray))).cast("long")
    Tables.documentsPar(spark, dir)
      .select($"doc_id", nTok.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
        nStop.as("n_stop_distinct"))
      .withColumn("r_word_count",
        $"n_words".between(GopherMinWords, GopherMaxWords))
      .withColumn("r_word_len",
        $"mean_word_len".between(GopherMinMeanLen, GopherMaxMeanLen))
      .withColumn("r_symbol", $"symbol_ratio" <= GopherMaxSymbolRatio)
      .withColumn("r_alpha", $"alpha_frac" >= GopherMinAlphaFrac)
      .withColumn("r_stopword", $"n_stop_distinct" >= GopherMinStopDistinct)
      .withColumn("keep", $"r_word_count" && $"r_word_len" && $"r_symbol" &&
        $"r_alpha" && $"r_stopword")
      .orderBy($"doc_id")
  }

  val gopherRulesSql: String = {
    val enStop = LangStopwords.find(_._1 == "en").get._2
      .map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(nt, ' ', '', 'g')) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
       |    CAST(length(nt) - length(regexp_replace(nt, '#', '', 'g'))
       |         + len(regexp_extract_all(nt, '\\.\\.\\.')) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS symbol_ratio,
       |    CAST(len(regexp_extract_all(nt, '[^ ]*[a-z][^ ]*')) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS alpha_frac,
       |    CAST(len(list_intersect(list_distinct(toks), [$enStop])) AS BIGINT) AS n_stop_distinct
       |  FROM base)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |  n_stop_distinct,
       |  n_words BETWEEN $GopherMinWords AND $GopherMaxWords AS r_word_count,
       |  mean_word_len BETWEEN $GopherMinMeanLen AND $GopherMaxMeanLen AS r_word_len,
       |  symbol_ratio <= $GopherMaxSymbolRatio AS r_symbol,
       |  alpha_frac >= $GopherMinAlphaFrac AS r_alpha,
       |  n_stop_distinct >= $GopherMinStopDistinct AS r_stopword,
       |  (n_words BETWEEN $GopherMinWords AND $GopherMaxWords)
       |    AND (mean_word_len BETWEEN $GopherMinMeanLen AND $GopherMaxMeanLen)
       |    AND symbol_ratio <= $GopherMaxSymbolRatio
       |    AND alpha_frac >= $GopherMinAlphaFrac
       |    AND n_stop_distinct >= $GopherMinStopDistinct AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- distinct-n corpus diversity ---------------------------------

  /** N-GRAM DIVERSITY (distinct-1 / distinct-2, Li et al. 2016,
    * arXiv:1510.03055) — the corpus-level repetition/self-similarity
    * signal used to flag template-generated or model-generated text
    * pools: the fraction of n-gram OCCURRENCES that are distinct
    * n-gram TYPES, per (language, n). A natural corpus sits near the
    * Heaps-law curve; a synthetic pool collapses toward few types.
    *
    * One corpus scan: the per-doc unigram- and bigram-hash arrays are
    * built in one projection ([[Select.gramRows]]'s shape), tagged with
    * n, and exploded once — no union-of-scans. The shuffle carries
    * (lang, n, g) rows where g is the 60-bit md5 key (8 bytes, the
    * dedup-funnel convention — both engines hash identically so the
    * DISTINCT count matches the oracle exactly); the distinct
    * aggregation is Spark's two-phase partial-distinct, so map tasks
    * dedup locally before anything moves. Exact-distinct is the
    * oracle-able form; at 100 TB swap `count_distinct` for the
    * [[Relational.aggHll]] sketch and keep the same dataflow. */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def k60(cols: Column*): Column =
      conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10)
        .cast("long")
    val t = toks($"text")
    val tagged = concat(
      transform(t, x => struct(lit(1).as("n"), k60(x).as("g"))),
      zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (v, w) => struct(lit(2).as("n"), k60(v, w).as("g"))))
    Tables.documentsPar(spark, dir)
      .select($"lang", explode(tagged).as("e"))
      .select($"lang", $"e.n".as("n"), $"e.g".as("g"))
      .groupBy($"lang", $"n")
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct($"g").as("distinct_ngrams"))
      .withColumn("diversity",
        $"distinct_ngrams".cast("double") / $"total_ngrams".cast("double"))
      .orderBy($"lang", $"n")
  }

  val ngramDiversitySql: String =
    """WITH tok AS (
      |  SELECT lang,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |uni AS (
      |  SELECT lang, 1 AS n, ('0x' || substr(md5(x), 1, 15))::BIGINT AS g
      |  FROM (SELECT lang, UNNEST(t) AS x FROM tok)),
      |bi AS (
      |  SELECT lang, 2 AS n,
      |    ('0x' || substr(md5(t[i] || chr(1) || t[i + 1]), 1, 15))::BIGINT AS g
      |  FROM (SELECT lang, t, UNNEST(range(1, len(t))) AS i
      |        FROM tok WHERE len(t) >= 2)),
      |allg AS (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      |SELECT lang, n, COUNT(*) AS total_ngrams,
      |  COUNT(DISTINCT g) AS distinct_ngrams,
      |  CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS diversity
      |FROM allg GROUP BY lang, n ORDER BY lang, n""".stripMargin

  /** Mirrors [[decontaminateSpansOf]]: corpus docs only in `base`, the
    * eval set's distinct gram hashes as the offending-gram filter. */
  val decontaminateSpansSql: String = {
    val gramOf = s"('0x' || substr(md5(substr(nt, CAST(i AS INTEGER), $DupSpanChars)), 1, 15))::BIGINT"
    val explodeI = s"UNNEST(range(1, length(nt) - ${DupSpanChars - 2})) AS i"
    s"""WITH base AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |  FROM documents WHERE doc_id >= $EvalDocCount),
       |evalbase AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |  FROM documents WHERE doc_id < $EvalDocCount),
       |evalg AS (
       |  SELECT DISTINCT $gramOf AS g
       |  FROM (SELECT nt, $explodeI FROM evalbase)),
       |pg AS (
       |  SELECT doc_id, i, $gramOf AS g
       |  FROM (SELECT doc_id, nt, $explodeI FROM base)),
       |starts AS (SELECT doc_id, i FROM pg WHERE g IN (SELECT g FROM evalg)),
       |$spanStitchSql""".stripMargin
  }
}
