package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained data-SELECTION operators — deciding WHICH documents feed a
  * training run, the step between quality scoring and split/packing.
  * Two methods from the LLM-pretraining literature:
  *
  *   - DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169):
  *     fit hashed-n-gram bag models of a small TARGET domain and of the
  *     RAW pool, weight every raw document by its target/raw likelihood
  *     ratio, then sample proportionally to the weight — "pick web text
  *     that looks like Wikipedia" without training a model.
  *   - CCNet perplexity bucketing (Wenzek et al. 2019,
  *     arXiv:1911.00359 §4.3): score every document under a target-
  *     domain LM and cut each language's distribution into head /
  *     middle / tail thirds; pretraining recipes then keep head+middle
  *     or re-weight by bucket.
  *
  * Both follow the repo's exactness convention (tokenRarity, lmScore):
  * no transcendentals in the emitted values. DSIR's log-ratio sum is
  * replaced by an exact scaled-integer mean of per-bucket target/raw
  * ratios (same ranking signal, one constant factor off the normalized
  * likelihood ratio — see [[dsirWeightsOf]]); CCNet's perplexity is the
  * bigram-LM model-coverage vicile ([[TextAnalysis.lmScore]]'s
  * hit-rate in integer space). Production deployments swap the scoring
  * projection for log-probability; every dataflow below is unchanged.
  */
object Select {

  /** Hashed-feature dimensionality. DSIR ships 10k buckets; the fixture
    * uses fewer so every bucket is exercised. The model table is B rows
    * regardless of corpus size — that is DSIR's design point: the
    * feature space is FIXED, so the model always broadcasts, in
    * contrast to tokenRarity's full-vocabulary shuffle join. */
  val DsirBuckets = 256

  /** Fixed-point scale for the per-bucket target/raw ratio (6 decimal
    * digits). The p_b·Scale intermediate is computed in DECIMAL(38,0)
    * (see [[ratioExpr]]) so even a trillion-gram corpus with few
    * buckets — p_b near 2⁶³ — divides exactly instead of silently
    * wrapping; the quotient itself is ≤ Scale·(p_b/q_b) ≤ Scale, so
    * the emitted r_b always fits its BIGINT. SelectSpec's overflow
    * property drives the expression with counts at the BIGINT edge. */
  val RatioScale = 1000000L

  /** The bucket-ratio projection r_b = ⌊p_b·Scale / q_b⌋ with the
    * product widened to DECIMAL(38,0) — BIGINT-overflow-proof for any
    * p_b. `div` (IntegralDivide) accepts decimal inputs and returns
    * BIGINT, so the output type (and the oracle hash) is unchanged. */
  private[graft] val ratioExpr: Column =
    expr(s"cast(p_b as decimal(38,0)) * $RatioScale div q_b")

  private def k60(cols: Column*): Column =
    conv(substring(md5(concat_ws("", cols: _*)), 1, 15), 16, 10)
      .cast("long")

  /** One row per hashed n-gram occurrence: (doc_id, lang, source, b)
    * where b is the 60-bit md5 key of the unigram or adjacent bigram,
    * folded into [[DsirBuckets]]. ONE corpus scan: the per-position
    * unigram and bigram hash arrays are built with transform/zip_with
    * inside a single codegen'd projection and exploded once — no
    * union-of-two-scans. Empty-ish docs still emit their single
    * (possibly empty-string) token, the tokenRarity convention, so
    * every document receives a weight. */
  /** The hashed-gram array of a token-array column: per-token unigram
    * keys followed by per-position bigram keys, one codegen'd
    * projection. */
  private def gramArray(t: Column): Column =
    concat(
      transform(t, x => k60(x)),
      zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (v, w) => k60(v, w)))

  private[graft] def gramRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"lang", $"source",
      TextAnalysis.toks($"text").as("t"))
      .select($"doc_id", $"lang", $"source",
        explode(gramArray($"t")).as("gh"))
      .select($"doc_id", $"lang", $"source",
        ($"gh" % DsirBuckets).as("b"))
  }

  /** DSIR importance weights (Xie et al. 2023): for each document, the
    * mean over its hashed n-grams of the bucket's scaled target/raw
    * count ratio r_b = ⌊p_b·Scale / q_b⌋, where p_b counts target-slice
    * occurrences (the [[TextAnalysis.LmTrainSources]] domain, CCNet's
    * "looks like Wikipedia" slice) and q_b counts the whole pool.
    *
    * The paper's weight is exp Σ c_b(log p̂_b − log q̂_b); this emits
    * the exact-integer surrogate Σ c_b·r_b / n_grams — the same
    * "target mass over raw mass" ordering with the corpus-constant
    * P/Q normalization folded out (it scales every document alike),
    * and no libm call whose last ulp differs across engines. Weight
    * lands in [0, Scale] and doubles as an acceptance probability for
    * [[dsirSample]].
    *
    * Shape at 100 TB: the model is a B-row aggregate (p and q counted
    * in ONE pass via a conditional count — not a scan per
    * distribution), broadcast to the probe; the probe explodes grams
    * map-side, joins the broadcast, and collapses immediately into a
    * map-side-combined per-doc sum — what crosses the one shuffle is
    * (doc_id, count, sum), 24 bytes per document, never text, never
    * gram rows. Corpus scanned twice (model + probe), the tokenRarity
    * two-pass shape; a production run persists the B-row model per
    * corpus version and the probe is then a single scan. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedDsirRows(spark, dir).orderBy($"doc_id")
  }

  /** [[dsirWeights]] over an arbitrary (doc_id, text, lang, source)
    * frame — the test seam. */
  def dsirWeightsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    dsirWeightRowsOf(docs).orderBy($"doc_id")
  }

  /** [[dsirWeightsOf]] without the terminal sort — the frame the
    * session-shared view checkpoints. */
  private def dsirWeightRowsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    gramRows(docs).join(broadcast(ratiosOf(docs)), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), sum($"r_b").as("sum_ratio"))
      .select($"doc_id", $"n_grams", $"sum_ratio",
        expr("sum_ratio div n_grams").as("weight"))
  }

  /** Session-shared per-doc DSIR weight frame for the corpus at `dir`
    * — ONE model build + probe per (session, corpus), the
    * [[Classifier.sharedFit]] convention, consumed by `dsir_weights`,
    * `dsir_sample`, and `ensemble_select`; dropped by the
    * [[Tables.invalidate]] corpus-rewrite entry point. */
  private def sharedDsirRows(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "dsir_w")(Seq(
      dsirWeightRowsOf(Tables.documentsPar(spark, dir))
        .localCheckpoint(eager = false))).head

  /** The trained DSIR model: the B-row (b, r_b) bucket-ratio table —
    * one conditional-count aggregate over the pool, p (target) and q
    * (raw) counted in the same pass. */
  private[graft] def ratiosOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    gramRows(docs).groupBy($"b").agg(
      count(lit(1)).as("q_b"),
      sum(when($"source".isin(TextAnalysis.LmTrainSources: _*), 1L)
        .otherwise(0L)).as("p_b"))
      .select($"b", ratioExpr.as("r_b"))
  }

  /** Persist the trained DSIR model beside the corpus — the selection
    * analogue of Classifier.materializeModel / Similarity's persisted
    * quantizer: training (a corpus-scale aggregate) runs once per
    * corpus version; ingest-time scoring then never rescans the pool. */
  def materializeRatios(spark: SparkSession, dir: String,
      outDir: String): Unit =
    ratiosOf(Tables.documentsPar(spark, dir))
      .coalesce(1).write.mode("overwrite").parquet(outDir)

  /** Score an arbitrary (doc_id, text) frame — batch OR STREAMING —
    * against a persisted ratio frame: the ingest-time serving path.
    * The B-row model folds to ONE map-typed row in plan (no driver
    * collect) and enters by broadcast; the per-document weight is then
    * a pure projection — the hashed-gram array probed against the map
    * inside one `aggregate` fold, no explode, no per-doc re-grouping —
    * so a STREAM scores statelessly (stream-static broadcast join, no
    * watermark, no aggregation state), and pool documents score
    * bit-identically to [[dsirWeights]] (their buckets all exist in
    * the model by construction, so the inner-join and coalesce-0
    * semantics coincide). Grams from buckets the pool never produced
    * (possible only for post-training arrivals) count toward n_grams
    * with zero target mass — an unseen gram is evidence AGAINST the
    * target domain, the DSIR smoothing convention. */
  def scoreWithRatios(docs: DataFrame, ratios: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val one = ratios
      .agg(map_from_entries(collect_list(struct($"b", $"r_b"))).as("m"))
    docs.select($"doc_id", gramArray(TextAnalysis.toks($"text")).as("gs"))
      .crossJoin(broadcast(one))
      .select($"doc_id", size($"gs").cast("long").as("n_grams"),
        aggregate($"gs", lit(0L), (acc, g) =>
          acc + coalesce(element_at($"m", g % DsirBuckets), lit(0L)))
          .as("sum_ratio"))
      .select($"doc_id", $"n_grams", $"sum_ratio",
        expr("sum_ratio div n_grams").as("weight"))
  }

  /** The RESAMPLING half of the serving path: [[scoreWithRatios]]'
    * weights fed through [[dsirSample]]'s acceptance predicate — batch
    * OR STREAMING (the predicate is a pure per-row hash comparison, so
    * no orderBy and no state; a pool document's fate is bit-identical
    * to [[dsirSample]]'s because its weight is). The curated ingest
    * pipeline's selection gate. */
  def sampleWithRatios(docs: DataFrame, ratios: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    scoreWithRatios(docs, ratios).filter(
      k60(concat(lit("dsir:"), $"doc_id".cast("string"))) % RatioScale
        < $"weight")
  }

  /** Importance RESAMPLING — the selection half of DSIR: accept each
    * document with probability weight/Scale, the weight acting as its
    * own acceptance bar. Randomness is the repo's deterministic salted
    * hash (the datasetSplit convention): accept iff
    * h60("dsir:"·doc_id) mod Scale < weight — re-derivable anywhere,
    * stable under corpus growth (a document's fate never depends on
    * which other documents exist), and exactly reproducible in the
    * oracle. A pure per-row predicate over [[dsirWeights]]' plan: no
    * extra shuffle, no stored sample table. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame =
    dsirAcceptOf(sharedDsirRows(spark, dir))

  /** [[dsirSample]] over an arbitrary frame — the test seam. */
  def dsirSampleOf(docs: DataFrame): DataFrame =
    dsirAcceptOf(dsirWeightRowsOf(docs))

  /** The acceptance predicate over a weight-rows frame. */
  private def dsirAcceptOf(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    rows.filter(
      k60(concat(lit("dsir:"), $"doc_id".cast("string"))) % RatioScale
        < $"weight")
      .orderBy($"doc_id")
  }

  /** CCNet head/middle/tail bucketing (Wenzek et al. §4.3): cut each
    * language's LM-score distribution into thirds and label every
    * document. Score = the bigram-LM model-coverage vicile
    * ⌊20·n_hits/n_bigrams⌋ under the [[TextAnalysis.lmScore]] model
    * (count-space stand-in for perplexity, exactness convention as
    * documented there; higher = better-covered = CCNet's low-perplexity
    * head).
    *
    * The cuts are HISTOGRAM bars, not exact per-language percentiles —
    * the adaptiveQuality convention: per-language aggregation state is
    * a ≤21-counter histogram, never the full score list, and the
    * integer cumulative-count comparison (3·cum ≥ tot) is exact in both
    * engines. t_bar = the bin holding the ⅓ point, h_bar the ⅔ point;
    * tail < t_bar ≤ middle ≤ h_bar < head. A bin straddling a cut goes
    * wholly to the middle — deterministic, and the honest semantics of
    * binned cuts (CCNet itself cuts on a trained-once threshold file,
    * not a per-shard exact percentile).
    *
    * Shape at 100 TB: the scored frame (20 bytes/doc) is checkpointed
    * once for its two consumers (histogram + labeling), the
    * adaptiveQuality pattern; the histogram aggregate is map-side
    * combined into ≤21 rows per language; bars come back as a broadcast
    * join. No per-language sort of the corpus anywhere. */
  def lmBuckets(spark: SparkSession, dir: String): DataFrame =
    lmBucketsOfScored(sharedLmScored(spark, dir))

  /** [[lmBuckets]] over an arbitrary frame — the test seam. */
  def lmBucketsOf(docs: DataFrame): DataFrame =
    lmBucketsOfScored(lmScoredOf(docs).localCheckpoint(eager = false))

  /** The per-doc LM-coverage score frame (doc_id, lang, n_bigrams,
    * n_hits, bin) — the expensive probe half of the bucketing. */
  private def lmScoredOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // tokenize once for the model train + corpus probe (r18 — the
    // TextAnalysis.lmScoreOf treatment; see bigramRowsOfToks)
    val base = Dsl.share(docs
      .select($"doc_id", $"lang", $"source",
        TextAnalysis.toks($"text").as("t")))
    val bi = TextAnalysis.bigramRowsOfToks(base)
    val model = bi
      .filter($"source".isin(TextAnalysis.LmTrainSources: _*))
      .groupBy($"g", $"h").agg(count(lit(1)).as("c_vw"))
    bi.join(model, Seq("g", "h"), "left")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_bigrams"), count($"c_vw").as("n_hits"))
      .select($"doc_id", $"lang", $"n_bigrams", $"n_hits",
        expr("n_hits * 20 div n_bigrams").as("bin"))
  }

  /** Session-shared scored frame — the LM model trained and probed
    * ONCE per (session, corpus), consumed by `lm_buckets` and
    * `ensemble_select` (20 bytes/doc checkpointed; dropped by
    * [[Tables.invalidate]]). */
  private def sharedLmScored(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "lm_scored")(Seq(
      lmScoredOf(Tables.documentsPar(spark, dir))
        .localCheckpoint(eager = false))).head

  /** Histogram bars + labeling over a scored frame. */
  private def lmBucketsOfScored(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"bin")
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
    val bars = scored.groupBy($"lang", $"bin").agg(count(lit(1)).as("n"))
      .withColumn("cumn", sum($"n").over(wCum))
      .withColumn("tot", sum($"n").over(wTot))
      .groupBy($"lang").agg(
        min(when($"cumn" * 3 >= $"tot", $"bin")).as("t_bar"),
        min(when($"cumn" * 3 >= $"tot" * 2, $"bin")).as("h_bar"))
    scored.join(broadcast(bars), "lang")
      .select($"doc_id", $"lang", $"n_bigrams", $"n_hits", $"bin",
        when($"bin" < $"t_bar", "tail")
          .when($"bin" > $"h_bar", "head")
          .otherwise("middle").as("bucket"))
      .orderBy($"doc_id")
  }

  /** ENSEMBLE vote — the production pattern of running several
    * independently-trained selectors and keeping documents by majority
    * (the FineWeb/Dolma multi-filter stance: no single filter is
    * trusted alone; agreement is the quality signal). Three votes, one
    * per trained family in this engine:
    *
    *   - `cls_keep`: the GD-distilled quality classifier's top-decile
    *     budget ([[Classifier.qualityClassifier]]),
    *   - `dsir_keep`: DSIR's importance-acceptance predicate
    *     ([[dsirSample]]'s bar, evaluated for every doc),
    *   - `lm_keep`: not-tail under the CCNet LM bucketing
    *     ([[lmBuckets]]).
    *
    * `selected` = at least 2 of 3. Documents a selector cannot score
    * (lm needs ≥2 tokens) vote false — abstention is rejection, the
    * conservative curation default.
    *
    * Shape at 100 TB: the three selector plans each collapse to
    * id+boolean frames (8+1 bytes/doc) before anything joins — the
    * heavy lifting (GD sweeps, B-row model, LM probe) happens inside
    * each family exactly as audited for its own query — and the vote
    * is three id-keyed left joins over the doc spine plus a codegen'd
    * projection. Production serves all three from persisted artifacts
    * (materializeModel / materializeRatios / trained bars), making
    * this a pure scoring pass with zero training scans. */
  def ensembleSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val cls = Classifier.qualityClassifier(spark, dir)
      .select($"doc_id", $"keep".as("cls_keep"))
    val ds = sharedDsirRows(spark, dir).select($"doc_id",
      (k60(concat(lit("dsir:"), $"doc_id".cast("string"))) % RatioScale
        < $"weight").as("dsir_keep"))
    val lm = lmBucketsOfScored(sharedLmScored(spark, dir)).select($"doc_id",
      ($"bucket" =!= "tail").as("lm_keep"))
    docs.select($"doc_id")
      .join(cls, Seq("doc_id"), "left")
      .join(ds, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cls_keep", lit(false)).as("cls_keep"),
        coalesce($"dsir_keep", lit(false)).as("dsir_keep"),
        coalesce($"lm_keep", lit(false)).as("lm_keep"))
      .withColumn("votes", $"cls_keep".cast("int")
        + $"dsir_keep".cast("int") + $"lm_keep".cast("int"))
      .withColumn("selected", $"votes" >= 2)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles, built from shared CTE constants (the temperature-mix
  // lesson: dependent oracles consume the SAME constants, never
  // string-edit each other). CTE names are unique across the whole
  // family so any subset composes into one WITH clause.
  // ---------------------------------------------------------------------

  private val train: String =
    TextAnalysis.LmTrainSources.map("'" + _ + "'").mkString(", ")

  /** `tok`(doc_id, lang, source, t): the shared tokenization CTE. */
  private[graft] val tokCte: String =
    s"""tok AS (
       |  SELECT doc_id, lang, source,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents)""".stripMargin

  /** CTEs `dsg` (hashed-gram rows) → `dsr` (bucket ratios) → `dsw`
    * (per-doc weights) — mirrors [[gramRows]] + [[dsirWeightsOf]];
    * assumes `tok` in scope. DuckDB's `//` and Spark's `div` agree
    * (floor = truncation for the non-negative values here). */
  private val dsirChain: String =
    s"""dsg AS (
       |  SELECT doc_id, lang, source,
       |    ('0x' || substr(md5(gram), 1, 15))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, source,
       |          UNNEST(list_concat(t,
       |            list_transform(range(1, len(t)),
       |              i -> t[i] || chr(1) || t[i + 1]))) AS gram
       |        FROM tok)),
       |dsr AS (
       |  SELECT b,
       |    CAST(CAST(p_b AS HUGEINT) * $RatioScale // q_b AS BIGINT) AS r_b
       |  FROM (SELECT b, COUNT(*) AS q_b,
       |          COUNT(*) FILTER (WHERE source IN ($train)) AS p_b
       |        FROM dsg GROUP BY b)),
       |dsw AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(r_b) AS BIGINT) AS sum_ratio,
       |    CAST(SUM(r_b) AS BIGINT) // COUNT(*) AS weight
       |  FROM dsg JOIN dsr USING (b) GROUP BY doc_id)""".stripMargin

  /** The [[dsirSample]] acceptance predicate over `dsw`. */
  private val dsirAcceptSql: String =
    s"""('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |        % $RatioScale < weight""".stripMargin

  val dsirWeightsSql: String =
    s"""WITH $tokCte,
       |$dsirChain
       |SELECT doc_id, n_grams, sum_ratio, weight FROM dsw
       |ORDER BY doc_id""".stripMargin

  val dsirSampleSql: String =
    s"""WITH $tokCte,
       |$dsirChain
       |SELECT doc_id, n_grams, sum_ratio, weight FROM dsw
       |WHERE $dsirAcceptSql
       |ORDER BY doc_id""".stripMargin

  /** CTEs `lmbi` (bigram rows) → `lmm` (the LM) → `lmscored` (per-doc
    * moments + vicile bin) → `lmbars` (per-language cut bins) —
    * mirrors [[lmBucketsOf]]; assumes `tok` in scope. */
  private val lmChain: String =
    s"""lmbi AS (
       |  SELECT doc_id, source, lang, t[i] AS v, t[i + 1] AS w
       |  FROM (SELECT doc_id, lang, source, t, UNNEST(range(1, len(t))) AS i
       |        FROM tok WHERE len(t) >= 2)),
       |lmm AS (
       |  SELECT lang, v, w, COUNT(*) AS c_vw FROM lmbi
       |  WHERE source IN ($train) GROUP BY 1, 2, 3),
       |lmscored AS (
       |  SELECT lmbi.doc_id, lmbi.lang, COUNT(*) AS n_bigrams,
       |    CAST(COUNT(lmm.c_vw) AS BIGINT) AS n_hits,
       |    CAST(COUNT(lmm.c_vw) AS BIGINT) * 20 // COUNT(*) AS bin
       |  FROM lmbi
       |  LEFT JOIN lmm ON lmbi.lang = lmm.lang AND lmbi.v = lmm.v AND lmbi.w = lmm.w
       |  GROUP BY lmbi.doc_id, lmbi.lang),
       |lmbars AS (
       |  SELECT lang,
       |    MIN(CASE WHEN cumn * 3 >= tot THEN bin END) AS t_bar,
       |    MIN(CASE WHEN cumn * 3 >= tot * 2 THEN bin END) AS h_bar
       |  FROM (SELECT lang, bin,
       |          SUM(n) OVER (PARTITION BY lang ORDER BY bin) AS cumn,
       |          SUM(n) OVER (PARTITION BY lang) AS tot
       |        FROM (SELECT lang, bin, COUNT(*) AS n FROM lmscored GROUP BY 1, 2))
       |  GROUP BY lang)""".stripMargin

  val lmBucketsSql: String =
    s"""WITH $tokCte,
       |$lmChain
       |SELECT s.doc_id, s.lang, s.n_bigrams, s.n_hits, s.bin,
       |  CASE WHEN s.bin < b.t_bar THEN 'tail'
       |       WHEN s.bin > b.h_bar THEN 'head'
       |       ELSE 'middle' END AS bucket
       |FROM lmscored s JOIN lmbars b USING (lang)
       |ORDER BY s.doc_id""".stripMargin

  /** Composes the classifier chain (Classifier.clsKeepCtes, which
    * carries the WITH) with the tok/dsir/lm chains — every constant
    * consumed verbatim, nothing string-edited. */
  val ensembleSelectSql: String =
    Classifier.clsKeepCtes +
      s""",
         |$tokCte,
         |$dsirChain,
         |ds_keep AS (SELECT doc_id, $dsirAcceptSql AS keep FROM dsw),
         |$lmChain,
         |lm_keep AS (SELECT s.doc_id, s.bin >= b.t_bar AS keep
         |            FROM lmscored s JOIN lmbars b USING (lang))
         |SELECT doc_id, cls_keep, dsir_keep, lm_keep, votes,
         |  votes >= 2 AS selected
         |FROM (
         |  SELECT d.doc_id,
         |    COALESCE(c.keep, FALSE) AS cls_keep,
         |    COALESCE(k.keep, FALSE) AS dsir_keep,
         |    COALESCE(l.keep, FALSE) AS lm_keep,
         |    CAST(COALESCE(c.keep, FALSE) AS INTEGER)
         |      + CAST(COALESCE(k.keep, FALSE) AS INTEGER)
         |      + CAST(COALESCE(l.keep, FALSE) AS INTEGER) AS votes
         |  FROM documents d
         |  LEFT JOIN cls_keep c USING (doc_id)
         |  LEFT JOIN ds_keep k USING (doc_id)
         |  LEFT JOIN lm_keep l USING (doc_id))
         |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // DoReMi-style domain mixture reweighting (Xie et al. 2023,
  // arXiv:2305.10429; the reweighting step is Group-DRO, Sagawa et al.
  // 2020). DoReMi trains a proxy model under Group-DRO so domains where
  // the proxy's EXCESS loss is high get upweighted, then reuses the
  // learned domain weights to sample the real pretraining mix. Here the
  // per-domain loss is a fixed rational proxy (mean inverse relative
  // token frequency — a perplexity-flavored quantity in the tokenRarity
  // no-transcendentals convention) and the reweighting loop is
  // LINEARIZED multiplicative weights: w ← w·(1 + η·(L_d − L̄)/L̄)
  // with L̄ = Σ_d w_d·L_d the current-mixture reference. The paper's
  // exponentiated-gradient exp(η·excess) is replaced by its first-order
  // expansion because exp() is transcendental and the last ulp differs
  // across libms — same fixed point (excess = 0 for all d), same
  // upweight-the-hard-domains dynamics, bit-stable in both engines.

  /** Mixture sweeps — fixed and unrolled (the kmeans convention);
    * MixtureSpec pins that the max-loss domain's weight grows
    * monotonically and the trajectory has settled by the budget. */
  val MixSweeps = 5

  /** Learning rate. With relative excess e = (L−L̄)/L̄ ∈ (−1, ∞) the
    * multiplier 1 + η·e stays positive for any η ≤ 1. */
  val MixEta = 0.5

  /** 2^60 as an exact double — the denominator that maps the 60-bit
    * salted hash onto [0, 1) for the acceptance test. */
  private val Hash60Den = 1152921504606846976.0

  /** Per-doc rational LM-loss proxy: T·n_tokens/Σfreq = the inverse of
    * the doc's mean relative token frequency (≥ 1; rare-token-heavy
    * docs score high). The tokenRarity two-pass shape: full-vocab
    * frequency table (shuffle hash join, the AQE-skew case), per-doc
    * 24-byte aggregate, corpus-total token count folded in as a 1-row
    * broadcast. T and n_tokens are cast to DOUBLE BEFORE the multiply:
    * a BIGINT product would silently wrap past 2⁶³ under non-ANSI
    * Spark while the oracle errored; the double product is exact below
    * 2⁵³ (every fixture) and degrades gracefully — and identically in
    * both engines — beyond it. */
  private def docLossRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tokRows = docs.select($"doc_id", $"source",
      explode(TextAnalysis.toks($"text")).as("tok"))
    // materialized, not inlined: with the aggregate fused into the join
    // stage, AQE's skew-split pattern (Sort directly over the shuffle
    // stage) can never match and the Zipf head rides one task — see
    // tokenRarityOf, where SkewStressSpec proves the split fires only
    // under this shape
    val freq = tokRows.groupBy($"tok").agg(count(lit(1)).as("freq"))
      .localCheckpoint(eager = false)
    val per = tokRows.join(freq, "tok")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tokens"), sum($"freq").as("sum_freq"))
    val tot = per.agg(sum($"n_tokens").as("t_tok"))
    per.crossJoin(broadcast(tot))
      .select($"doc_id", $"source",
        (($"t_tok".cast("double") * $"n_tokens".cast("double")) /
          $"sum_freq".cast("double")).as("ldoc"))
  }

  /** Per-domain loss table: (source, n_docs, loss) with loss the EXACT
    * decimal mean of the per-doc proxy — order-independent, so the
    * trained weights are bit-identical across engines and partition
    * orders (the Classifier gradient convention). D rows total; every
    * sweep below runs at DOMAIN grain — the corpus is scanned for the
    * loss table once and never again. */
  private def domainRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docLossRows(docs)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), graft.Exact.davg($"ldoc").as("loss"))
  }

  /** Seed + `sweeps` multiplicative-weight updates over the D-row
    * domain table: (source, n_docs, loss, w). Both per-sweep reductions
    * (L̄ and the normalizer Z) ride the exact DECIMAL accumulator, so
    * the D-way sums are order-independent; everything else is per-row
    * IEEE arithmetic mirrored operation-for-operation in the oracle.
    * Test seam: MixtureSpec sweeps 0..MixSweeps. */
  private[graft] def mixWeightRowsAt(docs: DataFrame, sweeps: Int): DataFrame =
    mixSweepsFrom(mixInitRows(docs), sweeps)

  /** The sweep-0 weight table (source, n_docs, loss, w = n_d/N). */
  private def mixInitRows(docs: DataFrame): DataFrame =
    mixInitOfDom(domainRows(docs).localCheckpoint(eager = false))

  /** Sweep-0 weights from a (source, n_docs, loss) domain table. */
  private def mixInitOfDom(dom: DataFrame): DataFrame = {
    import dom.sparkSession.implicits._
    val nTot = dom.agg(sum($"n_docs").as("nn"))
    dom.crossJoin(broadcast(nTot))
      .select($"source", $"n_docs", $"loss",
        ($"n_docs".cast("double") / $"nn".cast("double")).as("w"))
  }

  /** Session-shared domain-loss table (source, n_docs, loss) — the one
    * corpus scan of the mixture family, built ONCE per (session,
    * corpus) and consumed by `mix_weights`, `mix_sample`, and
    * `anneal_schedule` (all further work is D-row sweeps); dropped by
    * [[Tables.invalidate]]. */
  private def sharedMixDom(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "mix_dom")(Seq(
      domainRows(Tables.documentsPar(spark, dir))
        .localCheckpoint(eager = false))).head

  /** `sweeps` multiplicative-weight updates from an arbitrary weight
    * table — the seam that lets [[annealSchedule]] serve both phases
    * off ONE domain-loss derivation. */
  private def mixSweepsFrom(init: DataFrame, sweeps: Int): DataFrame = {
    import init.sparkSession.implicits._
    (0 until sweeps).foldLeft(init) { (cur, _) =>
      val cp = cur.localCheckpoint(eager = false)
      val lbar = cp.agg(graft.Exact.dsum($"w" * $"loss").as("lbar"))
      val raw = cp.crossJoin(broadcast(lbar))
        .select($"source", $"n_docs", $"loss",
          ($"w" * (lit(1.0) + lit(MixEta) *
            (($"loss" - $"lbar") / $"lbar"))).as("rw"))
        .localCheckpoint(eager = false)
      val z = raw.agg(graft.Exact.dsum($"rw").as("z"))
      raw.crossJoin(broadcast(z))
        .select($"source", $"n_docs", $"loss", ($"rw" / $"z").as("w"))
    }
  }

  /** Registered query: the trained domain mixture — per source, its
    * doc count, rational loss proxy, and Group-DRO weight after
    * [[MixSweeps]] sweeps. Harder-than-average domains end above their
    * natural share, easier ones below — DoReMi's "don't let the easy
    * web crawl drown the hard domains" effect, derived not asserted. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mixSweepsFrom(mixInitOfDom(sharedMixDom(spark, dir)), MixSweeps)
      .select($"source", $"n_docs", $"loss", $"w".as("weight"))
      .orderBy($"source")
  }

  /** [[mixWeights]] over an arbitrary frame — the test seam. */
  def mixWeightsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    mixWeightRowsAt(docs, MixSweeps)
      .select($"source", $"n_docs", $"loss", $"w".as("weight"))
      .orderBy($"source")
  }

  /** Registered query: the trained mixture MATERIALIZED as a resampled
    * corpus. Per-domain acceptance rate = (w_d/n_d) normalized so the
    * binding domain (highest weight per available doc) keeps
    * everything; acceptance is the deterministic salted hash of
    * [[dsirSample]] — re-derivable anywhere, stable under corpus
    * growth, exact in the oracle. A pure per-row predicate over a
    * broadcast D-row rate table: no extra shuffle, no stored sample. */
  def mixSample(spark: SparkSession, dir: String): DataFrame =
    sampleWithRates(Tables.documentsPar(spark, dir),
      ratesOfRows(mixSweepsFrom(mixInitOfDom(sharedMixDom(spark, dir)),
        MixSweeps))).orderBy("doc_id")

  /** [[mixSample]] over an arbitrary frame — the test seam. */
  def mixSampleOf(docs: DataFrame): DataFrame =
    sampleWithRates(docs, mixRatesOf(docs)).orderBy("doc_id")

  /** The trained mixture's D-row acceptance-rate table:
    * (source, rate ∈ (0, 1]), rate = (w_d/n_d)/max_e(w_e/n_e) so the
    * binding domain keeps everything. */
  private def mixRatesOf(docs: DataFrame): DataFrame =
    ratesOfRows(mixWeightRowsAt(docs, MixSweeps))

  /** Rate table from a trained weight-rows frame. */
  private def ratesOfRows(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    val rate0 = rows
      .select($"source", ($"w" / $"n_docs".cast("double")).as("r0"))
    val rmax = rate0.agg(max($"r0").as("rmax"))
    rate0.crossJoin(broadcast(rmax))
      .select($"source", ($"r0" / $"rmax").as("rate"))
  }

  /** Persist the trained mixture as its D-row rate table — the model
    * artifact of the mixture family (the materializeRatios convention):
    * train once per corpus version, serve every later job from D rows. */
  def materializeMixRates(spark: SparkSession, dir: String,
      outDir: String): Unit =
    ratesOfRows(mixSweepsFrom(mixInitOfDom(sharedMixDom(spark, dir)),
      MixSweeps))
      .coalesce(1).write.mode("overwrite").parquet(outDir)

  /** Apply a rate table to an arbitrary (doc_id, source) frame — batch
    * OR STREAMING: the D-row table enters by broadcast (stream-static,
    * stateless — no watermark, no aggregation state) and acceptance is
    * the same pure salted-hash predicate as [[mixSampleOf]], so a
    * streamed document's fate is bit-identical to the batch query's. */
  def sampleWithRates(docs: DataFrame, rates: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.join(broadcast(rates), Seq("source"))
      .filter((k60(concat(lit("mix:"), $"doc_id".cast("string")))
        .cast("double") / lit(Hash60Den)) < $"rate")
      .select($"doc_id", $"source", $"rate")
  }

  /** Registered query: the two-phase training curriculum — the
    * phased-mix practice of recent pretraining recipes (OLMo/MiniCPM
    * style: a long warmup phase on the natural data mix, then an
    * anneal phase on an upweighted-quality mix). Phase `warmup` serves
    * the natural composition (the sweep-0 weights, w = n_d/N); phase
    * `anneal` serves the Group-DRO-tilted mixture ([[MixSweeps]]
    * sweeps); `boost` = anneal/warmup is the per-domain change a data
    * loader applies when it crosses the phase boundary. Derived
    * entirely from the [[mixWeightRowsAt]] fold — one D-row frame per
    * phase, no extra corpus work. */
  def annealSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = mixInitOfDom(sharedMixDom(spark, dir))
      .localCheckpoint(eager = false)
    val warm = base
      .select(lit("warmup").as("phase"), $"source", $"loss", $"w")
    val ann = mixSweepsFrom(base, MixSweeps)
      .select(lit("anneal").as("phase"), $"source", $"loss", $"w")
    val w0 = base.select($"source", $"w".as("w0"))
    warm.unionAll(ann)
      .join(w0, Seq("source"))
      .select($"phase", $"source", $"loss", $"w".as("weight"),
        ($"w" / $"w0").as("boost"))
      .orderBy($"phase", $"source")
  }

  val annealScheduleSql: String =
    s"""WITH $mixCtes,
       |phases AS (
       |  SELECT 'warmup' AS phase, source, loss, w FROM mixw0
       |  UNION ALL
       |  SELECT 'anneal' AS phase, source, loss, w FROM mixw$MixSweeps)
       |SELECT p.phase, p.source, p.loss, p.w AS weight,
       |  p.w / w0.w AS boost
       |FROM phases p JOIN mixw0 w0 ON p.source = w0.source
       |ORDER BY p.phase, p.source""".stripMargin

  // DuckDB oracle: the identical unrolled chain as CTEs.

  /** Exact-decimal sum of a double expression (davgSql without the
    * count division — see Similarity.davgSql for the VARCHAR route). */
  private def dsumSql(x: String): String =
    s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"

  private def mixCtes: String = {
    // AS MATERIALIZED on every multiply-referenced CTE: DuckDB 1.0
    // inlines CTEs by default, and the sweep recurrence references
    // mixw_i / mixraw_i twice each — inlining makes evaluation cost
    // grow ~3^sweeps (measured: sweep 3 = 1.5 s, sweep 4 = 24 s at
    // sf0.001). Materialization restores the linear chain the Spark
    // side's per-sweep localCheckpoints express.
    val davg = (x: String) => s"${dsumSql(x)} / COUNT($x)"
    val seed =
      s"""mixtok AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
         |  FROM documents),
         |mixfreq AS (SELECT tok, COUNT(*) AS freq FROM mixtok GROUP BY tok),
         |mixdoc AS (
         |  SELECT doc_id, source, COUNT(*) AS n_tokens,
         |    CAST(SUM(freq) AS BIGINT) AS sum_freq
         |  FROM mixtok JOIN mixfreq USING (tok)
         |  GROUP BY doc_id, source),
         |mixtot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tok FROM mixdoc),
         |mixldoc AS (
         |  SELECT doc_id, source,
         |    CAST(t_tok AS DOUBLE) * CAST(n_tokens AS DOUBLE) / CAST(sum_freq AS DOUBLE) AS ldoc
         |  FROM mixdoc, mixtot),
         |mixdom AS (
         |  SELECT source, COUNT(*) AS n_docs, ${davg("ldoc")} AS loss
         |  FROM mixldoc GROUP BY source),
         |mixn AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn FROM mixdom),
         |mixw0 AS MATERIALIZED (
         |  SELECT source, n_docs, loss,
         |    CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS w
         |  FROM mixdom, mixn)""".stripMargin
    def sweepBlock(i: Int): String =
      s"""mixlbar$i AS (SELECT ${dsumSql("w * loss")} AS lbar FROM mixw$i),
         |mixraw$i AS MATERIALIZED (
         |  SELECT source, n_docs, loss,
         |    w * (1.0 + $MixEta * ((loss - lbar) / lbar)) AS rw
         |  FROM mixw$i, mixlbar$i),
         |mixz$i AS (SELECT ${dsumSql("rw")} AS z FROM mixraw$i),
         |mixw${i + 1} AS MATERIALIZED (
         |  SELECT source, n_docs, loss, rw / z AS w FROM mixraw$i, mixz$i)""".stripMargin
    (seed +: (0 until MixSweeps).map(sweepBlock)).mkString(",\n")
  }

  val mixWeightsSql: String =
    s"""WITH $mixCtes
       |SELECT source, n_docs, loss, w AS weight FROM mixw$MixSweeps
       |ORDER BY source""".stripMargin

  val mixSampleSql: String =
    s"""WITH $mixCtes,
       |mixrate0 AS MATERIALIZED (
       |  SELECT source, w / CAST(n_docs AS DOUBLE) AS r0 FROM mixw$MixSweeps),
       |mixrmax AS (SELECT MAX(r0) AS rmax FROM mixrate0),
       |mixrates AS (SELECT source, r0 / rmax AS rate FROM mixrate0, mixrmax)
       |SELECT d.doc_id, d.source, r.rate
       |FROM documents d JOIN mixrates r ON d.source = r.source
       |WHERE CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |      / 1152921504606846976.0 < r.rate
       |ORDER BY d.doc_id""".stripMargin
}
