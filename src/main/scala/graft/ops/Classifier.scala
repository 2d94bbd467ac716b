package graft.ops

import graft.{Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the "classifier distillation" step of a
  * large-scale training-data pipeline (GPT-3 appendix A, arXiv:2005.14165;
  * LLaMA's fastText-style quality filter, arXiv:2302.13971): distill an
  * expensive curation signal into a cheap standalone linear scorer that
  * can run per-document at ingest time with no joins, no funnel, no
  * model server. Here the teacher is the curation quality rule
  * ([[TextAnalysis.qualityScoreExpr]] ≥ [[Curate.QualityBar]] — in
  * production it would be an LLM- or human-rated subset) and the student
  * is a linear probe over five surface features, trained by full-batch
  * gradient descent on squared loss.
  *
  * Squared loss, not logistic: the sigmoid's `exp` is transcendental and
  * engines disagree in the last ulp (the [[TextAnalysis.tokenRarity]]
  * no-`ln` convention), while the squared-loss sweep is pure +/×/÷ —
  * with gradient means routed through the exact DECIMAL accumulator
  * ([[graft.Exact.davg]]) the trained weights are bit-identical across
  * engines AND across cluster partition orders, so the whole training
  * run unrolls into a DuckDB CTE chain and is oracle-checked end to end
  * (the [[Similarity.kmeansFit]] / [[Bpe]] convention).
  *
  * Shape at 100 TB: one corpus scan builds the feature frame (narrow
  * codegen'd projections — the same expressions text_quality already
  * scans); each GD sweep is ONE map-side-combined aggregate producing a
  * single 5-number gradient row that re-enters the plan as a broadcast
  * — no shuffle of the corpus, no driver-side loop, O(sweeps) passes
  * with lineage truncated per sweep. Scoring is a broadcast 1-row join
  * + a codegen'd dot product: the trained model IS five doubles.
  */
object Classifier {

  /** GD sweep count / learning rate. Fixed sweeps (the kmeans stance:
    * deterministic, restart-safe, oracle-able); the rate is an exact
    * binary fraction so the update arithmetic carries no decimal
    * rounding of its own. Convergence under these constants is not
    * assumed: ClassifierSpec measures the MSE trajectory and pins that
    * it decreases every sweep. */
  val ClsIters = 4
  val ClsLr = 0.5

  private val NFeat = 5
  private val FeatNames =
    Seq("bias", "avg_token_len_10", "unique_ratio", "stopword_ratio", "len_cap")

  /** Per-document features (x0=bias..x4) + teacher label y. All ratios
    * in [0, ~1.5] by construction — GD on unnormalized scales needs no
    * luck when the features are born bounded. x1 deliberately overlaps
    * the teacher only weakly (a distractor the probe must down-weight);
    * x2/x3/x4 span the teacher's own terms, so the rule is learnable. */
  private[graft] def featureFrame(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = TextAnalysis.toks($"text")
    val nTok = size(t).cast("double")
    val stopHits = TextAnalysis.hitCount(TextAnalysis.norm($"text"),
      TextAnalysis.LangStopwords.flatMap(_._2)).cast("double")
    val uniq = size(array_distinct(t)).cast("double")
    val avgTokLen =
      length(regexp_replace(TextAnalysis.norm($"text"), " ", "")).cast("double") / nTok
    docs.select(
      $"doc_id",
      lit(1.0).as("x0"),
      (avgTokLen / 10.0).as("x1"),
      (uniq / nTok).as("x2"),
      (stopHits / nTok).as("x3"),
      least(nTok / lit(100.0), lit(1.0)).as("x4"),
      when(TextAnalysis.qualityScoreExpr($"text") >= Curate.QualityBar, 1.0)
        .otherwise(0.0).as("y"))
  }

  private def wCols(prefix: String = "w"): Seq[Column] =
    (0 until NFeat).map(j => col(s"$prefix$j"))

  /** The probe's prediction under the current weights — a left-fold sum
    * so Spark and the oracle add in the same order. */
  private def predExpr: Column =
    (0 until NFeat).map(j => col(s"w$j") * col(s"x$j")).reduce(_ + _)

  /** One GD sweep: residual mean-gradient per feature through the exact
    * accumulator, then the weight update. The weight frame is ONE row;
    * it travels by broadcast, never shuffles the corpus. */
  private def gdStep(x: DataFrame, w: DataFrame): DataFrame = {
    val scored = x.crossJoin(broadcast(w))
      .withColumn("r", predExpr - col("y"))
    val gs = (0 until NFeat).map(j =>
      Exact.davg(col("r") * col(s"x$j")).as(s"g$j"))
    val g = scored.agg(gs.head, gs.tail: _*)
    w.crossJoin(broadcast(g))
      .select((0 until NFeat).map(j =>
        (col(s"w$j") - lit(ClsLr) * col(s"g$j")).as(s"w$j")): _*)
  }

  /** Trained weights (1-row frame) at an explicit sweep count — the
    * test seam for the MSE-trajectory check. */
  private[graft] def fitAt(docs: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val x = featureFrame(docs).localCheckpoint(eager = false)
    val w0 = docs.sparkSession.range(1)
      .select((0 until NFeat).map(j => lit(0.0).as(s"w$j")): _*)
    val w = (1 to iters).foldLeft(w0) { (wi, _) =>
      gdStep(x, wi).localCheckpoint(eager = false)
    }
    (x, w)
  }

  /** Mean squared error of the probe at a sweep count — the objective
    * ClassifierSpec plots (the kmeansObjectiveAt pattern). */
  private[graft] def mseAt(docs: DataFrame, iters: Int): Double = {
    val (x, w) = fitAt(docs, iters)
    x.crossJoin(broadcast(w))
      .select(((predExpr - col("y")) * (predExpr - col("y"))).as("se"))
      .agg(avg(col("se"))).head().getDouble(0)
  }

  /** Session-shared trained probe for the corpus at `dir` — ONE fit per
    * (session, corpus), consumed by classifier_weights,
    * quality_classifier and ensemble_select (the [[Bpe.sharedTrain]]
    * pattern and its corpus-version contract: a session that rewrites
    * the corpus in place must go through [[Tables.invalidate]]).
    * Returns (checkpointed feature frame,
    * trained 1-row weight frame); both sit behind lazily-materialized
    * localCheckpoints, so the first consumer absorbs the GD sweeps and
    * every later one serves from cached blocks. */
  def sharedFit(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(x, w) = Tables.shared(spark, dir, "cls_x", "cls_w") {
      val (x, w) = fitAt(Tables.documentsPar(spark, dir), ClsIters)
      Seq(x, w)
    }
    (x, w)
  }

  /** Registered query: the trained weights in row form (feature name,
    * weight) — the shippable model artifact. */
  def classifierWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, w) = sharedFit(spark, dir)
    w.select(explode(array(FeatNames.zipWithIndex.map { case (n, j) =>
      struct(lit(n).as("feature"), col(s"w$j").as("weight"))
    }: _*)).as("fw"))
      .select($"fw.feature", $"fw.weight")
      .orderBy($"feature")
  }

  /** Keep budget: the scorer keeps the top (1 − KeepQuantile) fraction
    * of the corpus by learned score. A quality classifier is used as a
    * RANKER against a kept-data budget (CCNet's perplexity buckets,
    * GPT-3's document scoring), never as a hard 0.5 threshold — with a
    * rare positive class the absolute scores sit near the base rate
    * while the ORDERING carries the signal. */
  val KeepQuantile = 0.9

  /** Registered query: every document scored by the trained probe —
    * (doc_id, score, teacher label, keep = score makes the top-decile
    * budget). The serving path: one broadcast weight row, one codegen'd
    * dot product, one broadcast scalar threshold. The threshold is the
    * EXACT interpolated percentile (the agg_percentile cross-engine
    * parity); at 100 TB the same plan takes approx_percentile — the
    * budget rule tolerates sketch error by construction, exact is used
    * here so the oracle hash-matches. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = scoredFrame(spark, dir)
    scored.crossJoin(broadcast(thOf(scored)))
      .select($"doc_id", $"score", $"teacher", ($"score" >= $"th").as("keep"))
      .orderBy($"doc_id")
  }

  /** The trained scorer applied to the whole corpus — the ONE scored
    * frame both the registered query and [[keepBarRow]] derive from,
    * so the persisted serving bar is STRUCTURALLY the bar the batch
    * query applies (a drift between two hand-kept copies of the
    * scoring+percentile expression was the failure mode). */
  private def scoredFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (x, w) = sharedFit(spark, dir)
    x.crossJoin(broadcast(w))
      .select($"doc_id", predExpr.as("score"), $"y".as("teacher"))
      .localCheckpoint(eager = false)
  }

  /** The [[KeepQuantile]] bar of a scored frame, as a 1-row (th). */
  private def thOf(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    scored.agg(percentile($"score", lit(KeepQuantile)).as("th"))
  }

  /** The trained keep threshold as a one-row (th) frame — the
    * [[KeepQuantile]] percentile of the corpus scores, i.e. exactly the
    * bar [[qualityClassifier]] applies internally. Persisted WITH the
    * weights (the curated pipeline's `classifier_bar` artifact) so
    * ingest-time keep/drop decisions equal training-time ones: the
    * budget rule is a corpus statistic, and a stream cannot recompute
    * it — a served model is (weights, bar), like any production
    * quality-filter deployment. */
  def keepBarRow(spark: SparkSession, dir: String): DataFrame =
    thOf(scoredFrame(spark, dir))

  /** Persist the trained model — the durable serving artifact (the
    * [[Similarity.persistIndex]] convention: train once per corpus
    * version, serve from disk forever after). The model IS five
    * doubles; the artifact is a 5-row (feature, weight) parquet. */
  def materializeModel(spark: SparkSession, dir: String, outDir: String): Unit =
    classifierWeights(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(outDir)

  /** Score an arbitrary (doc_id, text) frame — batch OR streaming —
    * against a persisted (feature, weight) model frame: the ingest-time
    * serving path. The model pivots back to one row IN PLAN (a
    * conditional aggregate, no driver collect) and enters by broadcast;
    * scoring is the same codegen'd feature projection + dot product the
    * training ran, so ingest-time scores equal training-time scores
    * bit for bit. Works under Structured Streaming as a stream-static
    * broadcast join (stateless, no watermark needed). */
  def scoreWithModel(docs: DataFrame, model: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val pivots = FeatNames.zipWithIndex.map { case (n, j) =>
      max(when($"feature" === n, $"weight")).as(s"w$j")
    }
    val wide = model.agg(pivots.head, pivots.tail: _*)
    featureFrame(docs).crossJoin(broadcast(wide))
      .select($"doc_id", predExpr.as("score"))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle: features + the GD sweeps unrolled as CTEs. The exact
  // accumulator takes the documented VARCHAR-sandwich form; prediction
  // and update arithmetic are written in the same left-fold order the
  // Spark expressions reduce in.
  // ---------------------------------------------------------------------

  private def davgSql(e: String): String =
    s"CAST(CAST(SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / COUNT($e)"

  private val featSql: String = {
    val all = TextAnalysis.LangStopwords.flatMap(_._2).map(w => s"'$w'").mkString(", ")
    s"""feat AS (
       |  SELECT doc_id,
       |    1.0 AS x0,
       |    (CAST(length(regexp_replace(nt, ' ', '', 'g')) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) / 10.0 AS x1,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS x2,
       |    CAST(len(list_filter(toks, x -> list_contains([$all], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS x3,
       |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS x4,
       |    CASE WHEN 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |              + 0.3 * (CAST(len(list_filter(toks, x -> list_contains([$all], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |              + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) >= ${Curate.QualityBar}
       |         THEN 1.0 ELSE 0.0 END AS y
       |  FROM (SELECT doc_id,
       |          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt,
       |          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents))""".stripMargin
  }

  private def predSql(wAlias: String): String =
    (0 until NFeat).map(j => s"$wAlias.w$j * x$j").mkString(" + ")

  private def gdIterSql(i: Int): String = {
    val prev = s"cw${i - 1}"
    val grads = (0 until NFeat)
      .map(j => s"${davgSql(s"r * x$j")} AS g$j").mkString(",\n         ")
    val upd = (0 until NFeat)
      .map(j => s"$prev.w$j - $ClsLr * g$j AS w$j").mkString(", ")
    s"""g$i AS (
       |  SELECT $grads
       |  FROM (SELECT (${predSql(prev)}) - y AS r, x0, x1, x2, x3, x4
       |        FROM feat CROSS JOIN $prev)),
       |cw$i AS (SELECT $upd FROM $prev CROSS JOIN g$i)""".stripMargin
  }

  private val cw0Sql: String =
    "cw0 AS (SELECT " +
      (0 until NFeat).map(j => s"0.0 AS w$j").mkString(", ") + ")"

  private def clsCtes: String =
    (Seq(featSql, cw0Sql) ++ (1 to ClsIters).map(gdIterSql))
      .mkString("WITH ", ",\n", "")

  val classifierWeightsSql: String = {
    val rows = FeatNames.zipWithIndex
      .map { case (n, j) => s"SELECT '$n' AS feature, w$j AS weight FROM cw$ClsIters" }
      .mkString(" UNION ALL ")
    clsCtes + s"\n$rows\nORDER BY feature"
  }

  /** `scored`/`th` as shared CTE text (no leading comma). */
  private val clsTailCtes: String =
    s"""scored AS (SELECT doc_id, ${predSql(s"cw$ClsIters")} AS score, y AS teacher
       |           FROM feat CROSS JOIN cw$ClsIters),
       |th AS (SELECT quantile_cont(score, $KeepQuantile) AS th FROM scored)""".stripMargin

  val qualityClassifierSql: String =
    clsCtes +
      s""",
         |$clsTailCtes
         |SELECT doc_id, score, teacher, score >= th AS keep
         |FROM scored CROSS JOIN th
         |ORDER BY doc_id""".stripMargin

  /** The full classifier chain extended to a `cls_keep`(doc_id, keep)
    * decision table — the classifier's vote packaged for composition
    * into other oracles (Select.ensembleSelectSql). Includes the
    * leading WITH; every CTE name in the chain (feat, cwN, gN, scored,
    * th, cls_keep) is unique against Select's tok/dsir/lm family. */
  private[graft] def clsKeepCtes: String =
    clsCtes +
      s""",
         |$clsTailCtes,
         |cls_keep AS (SELECT doc_id, score >= th AS keep
         |             FROM scored CROSS JOIN th)""".stripMargin
}
