package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Full-text retrieval over `documents` — the QUERY side of the
  * reference's dataflow. The reference ships every document INTO
  * Elasticsearch (es.go:160-213 bulk-indexes; main.go wires the chain)
  * precisely so users can run ranked full-text queries against the
  * index; this family implements that search surface natively on
  * Spark: BM25 ranking (Lucene's practical scoring function — the
  * scorer behind every ES `match` query), phrase match, highlight
  * snippets, and lexical+vector hybrid fusion via reciprocal-rank
  * fusion (Cormack et al., SIGIR 2009 — the fusion modern ES "hybrid
  * search" uses). A user of the reference stack queries ES with
  * exactly these primitives; with this family they run the same
  * queries inside the engine, against the same parquet the sink wrote.
  *
  * Determinism vs the oracle: BM25's IDF is a natural log, and Java's
  * `Math.log` differs from DuckDB's libm `ln` in the last ulp (the
  * measured [[TextAnalysis.tfidfKeywords]] finding), so the score
  * RANKS but is never EMITTED — emitted columns are the rank plus the
  * score's exact integer provenance (tf, matched-term count, doc
  * length). All pre-log arithmetic keeps one discipline in BOTH
  * engines: integers cast to DOUBLE before mixing, and every constant
  * written as the same decimal literal (k1=1.2, b=0.75, k1+1=2.2 —
  * never composed at runtime, because `1.2 + 1.0` in binary doubles
  * is a half-ulp rounding coin-flip while `2.2` parses identically
  * everywhere). A rank flip would need two distinct (tf…, dl) tuples
  * whose scores agree to ~1e-15 relative; identical tuples produce
  * bit-equal scores and fall to the doc_id tie-break in both engines.
  * The RRF fusion score, by contrast, is pure rational arithmetic on
  * small integer ranks (two correctly-rounded divisions + one
  * addition in fixed order), bit-identical across engines, so it IS
  * emitted.
  *
  * Shape at 100 TB (per query, see each member): per-doc (dl, tf per
  * query term) is a codegen'd anchored-regex projection — no token
  * explode, no (doc × term) shuffle; the corpus-level statistics
  * (N, Σdl, df per term) fold that projection into a single 1-row
  * map-side-combined aggregate that re-enters the plan by broadcast —
  * two narrow passes total, the irreducible shape of any global-
  * statistics ranker (a production deployment persists the stats row
  * with the index — [[TextAnalysis.tfidfKeywords]] discussion); the
  * top-k is a TakeOrderedAndProject (per-partition heaps, k rows to
  * the driver).
  * The only windows run AFTER a limit, over ≤ pool rows (the bounded
  * single-partition-window convention of PLANS.md).
  */
object Search {

  /** BM25 shape parameters, fixed at the Lucene/ES defaults. Baked
    * into both engines as decimal literals — see class doc. */
  val K1 = 1.2
  val B = 0.75

  /** The registered queries' fixed search: three terms spanning the
    * fixture's df range (dup df≈25 — rare, high-idf; vector/merge
    * df≈380-400 — common, low-idf), so the ranking exercises real
    * idf spread rather than tf alone. */
  val QueryTerms: Seq[String] = Seq("dup", "vector", "merge")

  /** Result-list sizes: [[bm25TopK]] emits TopK; the fusion pools
    * RrfPool from each modality and emits RrfTopK. */
  val TopK = 50
  val RrfPool = 50
  val RrfTopK = 20

  /** RRF smoothing constant k (Cormack et al. 2009 use 60). */
  val RrfK = 60

  /** The index's FIELD schema — the engine's "mapping". The reference
    * maps two separate text fields per document (mapping.json:13-31,
    * `name` + `type`); the fixture carries one text column, so the
    * two indexed fields are derived from it deterministically:
    * `text` (the whole document — the default field every single-field
    * query serves from) and `head` (the first [[HeadLen]] tokens — the
    * title-like field [[bm25Multifield]] boosts). Per-field postings
    * and lengths make each field an independent ranked index with its
    * own (N, Σdl, df) statistics, exactly Lucene's per-field model.
    * Declared BEFORE every val that interpolates them: a forward
    * reference in object-init order reads the uninitialized 0, and the
    * SQL strings bake their values in at init. */
  val HeadLen = 8
  val DefaultField = "text"
  val HeadField = "head"

  /** Per-field BOOSTS for the multi-field query (head is title-like →
    * 2×, the ES `fields: ["head^2", "text"]` convention). 2.0 is an
    * exact double, so the boost adds no rounding of its own. */
  val HeadBoost = 2.0

  /** Registered phrase query: adjacent-token match. */
  val PhraseTerms: Seq[String] = Seq("slow", "scan")

  /** Registered highlight term + snippet geometry. */
  val HighlightTerm = "dup"
  val SnippetBefore = 16
  val SnippetLen = 40

  // ---------------------------------------------------------------- BM25

  /** Per-doc BM25 frame over an arbitrary documents frame: doc_id,
    * dl, per-term tfs, n_matched, tf_total, score. One scan + one
    * broadcast 1-row stats aggregate (N, Σdl, df per term) — the
    * corpus is never scanned twice and nothing doc×term-grained
    * shuffles. */
  /** The ONE BM25 score expression, shared verbatim by the scan path
    * ([[bm25ScoredOf]]) and the index serving path
    * ([[searchWithIndex]]) so their arithmetic — and therefore their
    * rankings — are bit-identical by construction, not by test alone.
    * Expects columns tf1..tfk (integral), df1..dfk, n, sumdl, dl in
    * scope. Literal discipline per class doc. */
  private[graft] def bm25ScoreOf(k: Int, tf: Int => Column, df: Int => Column,
      dl: Column, sumdl: Column, n: Column): Column = {
    val avgdl = sumdl.cast("double") / n.cast("double")
    val lnorm = lit(0.25) + lit(0.75) * (dl.cast("double") / avgdl)
    (0 until k).map { i =>
      val t = tf(i).cast("double")
      val idf = log(lit(1.0) +
        ((n - df(i)).cast("double") + lit(0.5)) / (df(i).cast("double") + lit(0.5)))
      idf * ((t * lit(2.2)) / (t + lit(1.2) * lnorm))
    }.reduce(_ + _)
  }

  private def bm25Score(k: Int): Column =
    bm25ScoreOf(k, i => col(s"tf${i + 1}"), i => col(s"df${i + 1}"),
      col("dl"), col("sumdl"), col("n"))

  private def nMatchedCol(k: Int): Column = (0 until k)
    .map(i => when(col(s"tf${i + 1}") > 0, 1).otherwise(0)).reduce(_ + _)

  private def tfTotalCol(k: Int): Column =
    (0 until k).map(i => col(s"tf${i + 1}")).reduce(_ + _)

  private[graft] def bm25ScoredOf(docs: DataFrame, terms: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    val nt = TextAnalysis.norm($"text")
    val tfCols = terms.indices.map { i =>
      TextAnalysis.hitCount(nt, Seq(terms(i))).as(s"tf${i + 1}")
    }
    val f = docs.select(
      ($"doc_id" +: size(TextAnalysis.toks($"text")).cast("long").as("dl") +: tfCols): _*)
    val statCols = Seq(count(lit(1)).as("n"), sum($"dl").as("sumdl")) ++
      terms.indices.map { i =>
        count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}")
      }
    val stats = f.agg(statCols.head, statCols.tail: _*)
    f.crossJoin(broadcast(stats))
      .select($"doc_id", $"dl", tfTotalCol(terms.size).as("tf_total"),
        nMatchedCol(terms.size).as("n_matched"), bm25Score(terms.size).as("score"))
  }

  /** Ranked candidate list (doc_id, rk) for the fusion: matched docs
    * ordered by (score desc, doc_id), cut to `pool`, then ranked by a
    * window over those ≤ pool rows (bounded single partition). */
  private[graft] def bm25RankedOf(docs: DataFrame, terms: Seq[String],
      pool: Int, rkName: String): DataFrame = {
    import docs.sparkSession.implicits._
    val w = Window.orderBy($"score".desc, $"doc_id")
    bm25ScoredOf(docs, terms)
      .filter($"n_matched" > 0)
      .orderBy($"score".desc, $"doc_id").limit(pool)
      .withColumn(rkName, row_number().over(w))
  }

  /** Registered query: BM25 `match` over [[QueryTerms]] — rank plus
    * exact integer provenance (see class doc for why the double score
    * itself stays internal). */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bm25RankedOf(Tables.documentsPar(spark, dir), QueryTerms, TopK, "rk")
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  /** The f/s/sc CTE chain shared by [[bm25TopKSql]] and
    * [[hybridRrfSql]] — textual mirror of [[bm25ScoredOf]], same
    * literal-discipline (class doc). */
  private def bm25Ctes(terms: Seq[String]): String = {
    val tfDefs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf${i + 1}"
    }.mkString(",\n    ")
    val dfDefs = terms.indices.map { i =>
      s"COUNT(*) FILTER (WHERE tf${i + 1} > 0) AS df${i + 1}"
    }.mkString(", ")
    val avgdl = "(CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    val scoreTerms = terms.indices.map { i =>
      val tf = s"CAST(f.tf${i + 1} AS DOUBLE)"
      s"""(ln(1.0 + (CAST(s.n - s.df${i + 1} AS DOUBLE) + 0.5) / (CAST(s.df${i + 1} AS DOUBLE) + 0.5))
         |     * (($tf * 2.2) / ($tf + 1.2 * (0.25 + 0.75 * (CAST(f.dl AS DOUBLE) / $avgdl)))))""".stripMargin
    }.mkString("\n   + ")
    val nMatched = terms.indices
      .map(i => s"CASE WHEN f.tf${i + 1} > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    val tfTotal = terms.indices.map(i => s"f.tf${i + 1}").mkString(" + ")
    s"""f AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfDefs
       |  FROM (SELECT doc_id,
       |          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents)),
       |s AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl, $dfDefs FROM f),
       |sc AS (
       |  SELECT f.doc_id, f.dl, $tfTotal AS tf_total, $nMatched AS n_matched,
       |   $scoreTerms AS score
       |  FROM f CROSS JOIN s)""".stripMargin
  }

  val bm25TopKSql: String =
    s"""WITH ${bm25Ctes(QueryTerms)}
       |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
       |  doc_id, n_matched, tf_total, dl
       |FROM sc WHERE n_matched > 0
       |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin

  // --------------------------------------------------- passage retrieval

  /** Passage-search result size. */
  val PassageTopK = 20

  /** Registered query: passage-level ("max passage") retrieval — the
    * RAG-era query shape: score every CHUNK of every document as its
    * own BM25 unit (chunk-level statistics: N = chunk count, Σdl over
    * chunks, chunk df), rank documents by their best passage, and
    * return WHERE in the doc the hit lives (chunk_id — what a
    * retriever actually feeds the generator). Chunks are EXACTLY the
    * training pipeline's [[graft.ops.TrainPrep.chunkDocs]] windows —
    * one definition of "passage" across retrieval and packing.
    *
    * Best-passage selection is a lexicographic struct MAX per doc
    * (score, then lowest chunk_id on ties) — a map-side-combinable
    * aggregate, NOT a corpus-grain window; the oracle's
    * ROW_NUMBER-per-doc form is equivalent because (score, chunk_id)
    * is unique within a doc. Rank-only emission with integer
    * provenance (class doc).
    *
    * Shape at 100 TB: one corpus scan explodes to chunk grain
    * (stride-bounded ×~1.3 rows), the 1-row chunk-stats aggregate
    * re-enters by broadcast, per-doc best is partial-aggregated
    * map-side, top-k is TakeOrderedAndProject. No joins, no windows
    * before the post-limit rank. */
  def passageSearch(spark: SparkSession, dir: String): DataFrame =
    passageSearchOf(Tables.documentsPar(spark, dir), QueryTerms, PassageTopK)

  private[graft] def passageSearchOf(docs: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val chunks = graft.ops.TrainPrep.chunksOf(docs)
    val nt = TextAnalysis.norm($"chunk_text")
    // the chunk feature frame feeds TWO consumers — the 1-row
    // chunk-stats aggregate and the scored pass — and each would
    // re-run the corpus chunk explosion + per-chunk tokenize without
    // a barrier. persist(DISK_ONLY, lineage kept, ring-released — the
    // msearchOf convention): the frame is a few integers per chunk;
    // the corpus text is read and chunked ONCE (guide §2.4).
    val f = Dsl.trackPersist(chunks.select(
      ($"doc_id" +: $"chunk_id" +:
        $"n_chunk_tokens".cast("long").as("dl") +:
        terms.indices.map(i =>
          TextAnalysis.hitCount(nt, Seq(terms(i))).as(s"tf${i + 1}"))): _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val statCols = Seq(count(lit(1)).as("n"), sum($"dl").as("sumdl")) ++
      terms.indices.map(i =>
        count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}"))
    val stats = f.agg(statCols.head, statCols.tail: _*)
    val scored = f.crossJoin(broadcast(stats))
      .select($"doc_id", $"chunk_id", $"dl",
        tfTotalCol(terms.size).as("tf_total"),
        nMatchedCol(terms.size).as("n_matched"),
        bm25Score(terms.size).as("score"))
      .filter($"n_matched" > 0)
    passageRank(scored, k)
  }

  /** Best-passage selection + emission on a scored chunk frame
    * (doc_id, chunk_id, dl, tf_total, n_matched, score) — shared
    * verbatim by the scan path and [[passageWithIndex]] (the
    * bm25Score sharing discipline). */
  private def passageRank(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val best = scored
      .groupBy($"doc_id")
      .agg(max(struct($"score", (-$"chunk_id").as("neg_cid"), $"chunk_id",
        $"n_matched", $"tf_total", $"dl")).as("b"))
      .select($"doc_id", $"b.score".as("score"), $"b.chunk_id".as("chunk_id"),
        $"b.n_matched".as("n_matched"), $"b.tf_total".as("tf_total"),
        $"b.dl".as("dl"))
    val w = Window.orderBy($"score".desc, $"doc_id")
    best.orderBy($"score".desc, $"doc_id").limit(k)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"chunk_id", $"n_matched", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  val passageSearchSql: String = {
    val tfDefs = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ctoks, x -> x = '$t')) AS tf${i + 1}"
    }.mkString(",\n    ")
    val dfDefs = QueryTerms.indices.map { i =>
      s"COUNT(*) FILTER (WHERE tf${i + 1} > 0) AS df${i + 1}"
    }.mkString(", ")
    val avgdl = "(CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    val scoreTerms = QueryTerms.indices.map { i =>
      val tf = s"CAST(f.tf${i + 1} AS DOUBLE)"
      s"""(ln(1.0 + (CAST(s.n - s.df${i + 1} AS DOUBLE) + 0.5) / (CAST(s.df${i + 1} AS DOUBLE) + 0.5))
         |     * (($tf * 2.2) / ($tf + 1.2 * (0.25 + 0.75 * (CAST(f.dl AS DOUBLE) / $avgdl)))))""".stripMargin
    }.mkString("\n   + ")
    val nMatched = QueryTerms.indices
      .map(i => s"CASE WHEN f.tf${i + 1} > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val tfTotal = QueryTerms.indices.map(i => s"f.tf${i + 1}").mkString(" + ")
    val ct = graft.ops.TrainPrep.ChunkTokens
    val cs = graft.ops.TrainPrep.ChunkStride
    s"""WITH ch AS (
       |  SELECT doc_id,
       |    CAST((start - 1) // $cs AS BIGINT) AS chunk_id,
       |    toks[start:start + ${ct - 1}] AS ctoks
       |  FROM (SELECT doc_id, toks,
       |          UNNEST(range(1, greatest(len(toks), 1) + 1, $cs)) AS start
       |        FROM (SELECT doc_id,
       |                string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |              FROM documents))),
       |f AS (SELECT doc_id, chunk_id, len(ctoks) AS dl, $tfDefs FROM ch),
       |s AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl, $dfDefs FROM f),
       |sc AS (
       |  SELECT f.doc_id, f.chunk_id, f.dl, $tfTotal AS tf_total,
       |    $nMatched AS n_matched, $scoreTerms AS score
       |  FROM f CROSS JOIN s),
       |best AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |            ORDER BY score DESC, chunk_id) AS rn
       |  FROM sc WHERE n_matched > 0)
       |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
       |  doc_id, chunk_id, n_matched, tf_total, dl
       |FROM best WHERE rn = 1
       |ORDER BY score DESC, doc_id LIMIT $PassageTopK""".stripMargin
  }

  // ---------------------------------------------------- multi-field BM25

  /** Registered query: multi-field `best_fields` BM25 — the ES
    * `multi_match` the reference's mapping calls for (mapping.json
    * defines two text fields per doc; see [[HeadLen]] for how the
    * fixture derives them). Each field is an independent ranked index
    * with its own (N, Σdl, df) statistics (the Lucene per-field
    * model); a doc's score is the max over boosted per-field scores
    * (`best_fields`), boost [[HeadBoost]] on the title-like field.
    * Rank-only emission with per-field integer provenance (class doc);
    * the boost is ×2.0 — exact in doubles — and `greatest` adds a
    * comparison, not a rounding, so the ranking-determinism argument
    * is unchanged.
    *
    * Shape at 100 TB: identical to [[bm25TopK]] — ONE corpus scan
    * projects per-doc per-field (dl, tf) via codegen'd regex counts
    * (the head field is a token-slice re-join, still one projection),
    * one 1-row stats aggregate re-enters by broadcast, top-k is a
    * TakeOrderedAndProject. The field dimension multiplies column
    * count, not row count or shuffles. */
  def bm25Multifield(spark: SparkSession, dir: String): DataFrame =
    bm25MultifieldOf(Tables.documentsPar(spark, dir), QueryTerms, TopK)

  private[graft] def bm25MultifieldOf(docs: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val nt = TextAnalysis.norm($"text")
    val headText = array_join(slice(TextAnalysis.toks($"text"), 1, HeadLen), " ")
    val perDocCols =
      $"doc_id" +:
        size(TextAnalysis.toks($"text")).cast("long").as("dlb") +:
        least(size(TextAnalysis.toks($"text")), lit(HeadLen)).cast("long").as("dlh") +:
        (terms.indices.map(i =>
          TextAnalysis.hitCount(nt, Seq(terms(i))).as(s"tfb${i + 1}")) ++
          terms.indices.map(i =>
            TextAnalysis.hitCount(headText, Seq(terms(i))).as(s"tfh${i + 1}")))
    val perDoc = docs.select(perDocCols: _*)
    val statCols =
      Seq(count(lit(1)).as("n"), sum($"dlb").as("sumdlb"),
        sum($"dlh").as("sumdlh")) ++
        terms.indices.map(i =>
          count(when(col(s"tfb${i + 1}") > 0, 1)).as(s"dfb${i + 1}")) ++
        terms.indices.map(i =>
          count(when(col(s"tfh${i + 1}") > 0, 1)).as(s"dfh${i + 1}"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    mfRank(perDoc.crossJoin(broadcast(stats)), terms.size, k)
  }

  /** The multi-field ranker on a frame carrying doc_id, dlb, dlh,
    * tfb1..k, tfh1..k, n, sumdlb, sumdlh, dfb1..k, dfh1..k — shared
    * verbatim by the scan path and [[multifieldWithIndex]] (the
    * bm25Score sharing discipline: bit-identical arithmetic by
    * construction). */
  private def mfRank(f: DataFrame, k: Int, topK: Int): DataFrame = {
    import f.sparkSession.implicits._
    val sb = bm25ScoreOf(k, i => col(s"tfb${i + 1}"), i => col(s"dfb${i + 1}"),
      $"dlb", $"sumdlb", $"n")
    val sh = bm25ScoreOf(k, i => col(s"tfh${i + 1}"), i => col(s"dfh${i + 1}"),
      $"dlh", $"sumdlh", $"n")
    val nmB = (0 until k)
      .map(i => when(col(s"tfb${i + 1}") > 0, 1).otherwise(0)).reduce(_ + _)
    val tfB = (0 until k).map(i => col(s"tfb${i + 1}")).reduce(_ + _)
    val tfH = (0 until k).map(i => col(s"tfh${i + 1}")).reduce(_ + _)
    val w = Window.orderBy($"best".desc, $"doc_id")
    f.select($"doc_id", $"dlb".as("dl"), $"dlh".as("dl_head"),
        nmB.as("n_matched"), tfB.as("tf_total"), tfH.as("tf_head"),
        greatest(lit(HeadBoost) * sh, sb).as("best"))
      // head tokens are a prefix of the body, so body-match ⊇
      // head-match: the any-field-matches gate is the body gate
      .filter($"n_matched" > 0)
      .orderBy($"best".desc, $"doc_id").limit(topK)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"tf_head",
        $"dl", $"dl_head")
      .orderBy($"rk")
  }

  val bm25MultifieldSql: String = {
    val toks = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
    val tfDefs = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tfb${i + 1}, " +
        s"len(list_filter(toks[1:$HeadLen], x -> x = '$t')) AS tfh${i + 1}"
    }.mkString(",\n    ")
    val dfDefs = QueryTerms.indices.map { i =>
      s"COUNT(*) FILTER (WHERE tfb${i + 1} > 0) AS dfb${i + 1}, " +
        s"COUNT(*) FILTER (WHERE tfh${i + 1} > 0) AS dfh${i + 1}"
    }.mkString(", ")
    def score(tf: String, df: String, dl: String, sumdl: String): String = {
      val avgdl = s"(CAST(s.$sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
      QueryTerms.indices.map { i =>
        val t = s"CAST(f.$tf${i + 1} AS DOUBLE)"
        s"""(ln(1.0 + (CAST(s.n - s.$df${i + 1} AS DOUBLE) + 0.5) / (CAST(s.$df${i + 1} AS DOUBLE) + 0.5))
           |     * (($t * 2.2) / ($t + 1.2 * (0.25 + 0.75 * (CAST(f.$dl AS DOUBLE) / $avgdl)))))""".stripMargin
      }.mkString("\n   + ")
    }
    val nMatched = QueryTerms.indices
      .map(i => s"CASE WHEN f.tfb${i + 1} > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val tfTotal = QueryTerms.indices.map(i => s"f.tfb${i + 1}").mkString(" + ")
    val tfHead = QueryTerms.indices.map(i => s"f.tfh${i + 1}").mkString(" + ")
    s"""WITH f AS (
       |  SELECT doc_id, len(toks) AS dlb, least(len(toks), $HeadLen) AS dlh,
       |    $tfDefs
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |s AS (SELECT COUNT(*) AS n, SUM(dlb) AS sumdlb, SUM(dlh) AS sumdlh,
       |        $dfDefs FROM f),
       |sc AS (
       |  SELECT f.doc_id, f.dlb, f.dlh, $tfTotal AS tf_total,
       |    $tfHead AS tf_head, $nMatched AS n_matched,
       |    greatest($HeadBoost * (${score("tfh", "dfh", "dlh", "sumdlh")}),
       |             ${score("tfb", "dfb", "dlb", "sumdlb")}) AS best
       |  FROM f CROSS JOIN s)
       |SELECT ROW_NUMBER() OVER (ORDER BY best DESC, doc_id) AS rk,
       |  doc_id, n_matched, tf_total, tf_head, dlb AS dl, dlh AS dl_head
       |FROM sc WHERE n_matched > 0
       |ORDER BY best DESC, doc_id LIMIT $TopK""".stripMargin
  }

  // -------------------------------------------------------- phrase match

  /** Registered query: ES `match_phrase` — docs where the
    * [[PhraseTerms]] appear as ADJACENT tokens, with the occurrence
    * count. Implemented as ONE codegen'd anchored-regex count over the
    * normalized text (the [[TextAnalysis.wordPattern]] mechanism with
    * the whole phrase as the alternative): no position explode, no
    * token-array lambda, embarrassingly parallel. Non-overlapping
    * regex occurrences equal all adjacent-pair positions because the
    * phrase's words are distinct (a suffix of the phrase is never its
    * prefix), which is exactly what the oracle counts positionally. */
  def matchPhrase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val phrase = PhraseTerms.mkString(" ")
    Tables.documentsPar(spark, dir)
      .select($"doc_id",
        size(regexp_extract_all(TextAnalysis.norm($"text"),
          lit(TextAnalysis.wordPattern(Seq(phrase))), lit(0))).as("n_occur"))
      .filter($"n_occur" > 0)
      .orderBy($"doc_id")
  }

  val matchPhraseSql: String = {
    val Seq(w1, w2) = PhraseTerms
    s"""SELECT doc_id, n_occur FROM (
       |  SELECT doc_id,
       |    len(list_filter(range(1, len(toks)),
       |        i -> toks[i] = '$w1' AND toks[i + 1] = '$w2')) AS n_occur
       |  FROM (SELECT doc_id,
       |          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents))
       |WHERE n_occur > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------- highlight

  /** Registered query: ES highlight — for docs matching
    * [[HighlightTerm]], the 1-based match position in the normalized
    * text and a fixed-geometry snippet around it. Pure per-row string
    * projection (locate + substring), codegen'd, no shuffle. Substring
    * (not token-anchored) match is the documented semantic — ES
    * highlighters work on character offsets too; on this vocabulary no
    * token contains another, so the two coincide. */
  def searchHighlight(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = TextAnalysis.norm($"text")
    Tables.documentsPar(spark, dir)
      .select($"doc_id", locate(HighlightTerm, nt).as("pos"), nt.as("nt"))
      .filter($"pos" > 0)
      .select($"doc_id", $"pos",
        $"nt".substr(greatest($"pos" - SnippetBefore, lit(1)),
          lit(SnippetLen)).as("snippet"))
      .orderBy($"doc_id")
  }

  val searchHighlightSql: String =
    s"""SELECT doc_id, pos,
       |  substr(nt, greatest(pos - $SnippetBefore, 1), $SnippetLen) AS snippet
       |FROM (SELECT doc_id,
       |        strpos(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '$HighlightTerm') AS pos,
       |        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
       |      FROM documents)
       |WHERE pos > 0
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- hybrid / RRF

  /** Vector ranked list (doc_id, r_vec) against the [[Similarity]]
    * query-vector convention (vec_id 0): brute cosine,
    * TakeOrderedAndProject to `pool`, rank window over those rows. */
  private def vecRankedOf(emb: DataFrame, pool: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val w = Window.orderBy($"vscore".desc, $"doc_id")
    emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id".as("doc_id"),
        (Similarity.dotD($"embedding", $"qv") /
          sqrt(Similarity.dotD($"embedding", $"embedding") *
            Similarity.dotD($"qv", $"qv"))).as("vscore"))
      .orderBy($"vscore".desc, $"doc_id").limit(pool)
      .withColumn("r_vec", row_number().over(w))
      .select($"doc_id", $"r_vec")
  }

  /** Registered query: hybrid lexical+vector retrieval — RRF fusion
    * (score = Σ 1/(k + rank), k = [[RrfK]]) of the BM25 top-[[RrfPool]]
    * and the cosine top-[[RrfPool]] for the fixture's query (terms
    * [[QueryTerms]], query vector vec_id 0), emitting the fused
    * top-[[RrfTopK]] with both per-modality ranks (NULL where a doc
    * appears in only one list). The fused score is exact rational
    * arithmetic on integer ranks — emitted (class doc).
    *
    * Shape at 100 TB: each modality reduces to a ≤ pool-row list
    * before fusion, so the full-outer fusion join touches ≤ 2·pool
    * rows — driver-scale by construction; everything corpus-sized
    * happened inside the modality pipelines (one scan each). */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = bm25RankedOf(Tables.documentsPar(spark, dir), QueryTerms,
      RrfPool, "r_text").select($"doc_id", $"r_text")
    val vec = vecRankedOf(Tables.embeddings(spark, dir), RrfPool)
    text.join(vec, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_text", $"r_vec",
        (coalesce(lit(1.0) / (lit(RrfK) + $"r_text"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + $"r_vec"), lit(0.0))).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id").limit(RrfTopK)
  }

  val hybridRrfSql: String = {
    val cos = s"${Similarity.dotSql("e.embedding", "q.qv")} / " +
      s"sqrt(${Similarity.dotSql("e.embedding", "e.embedding")} * ${Similarity.dotSql("q.qv", "q.qv")})"
    s"""WITH ${bm25Ctes(QueryTerms)},
       |tr AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_text
       |  FROM sc WHERE n_matched > 0
       |  ORDER BY score DESC, doc_id LIMIT $RrfPool),
       |vs AS (
       |  SELECT e.vec_id AS doc_id, $cos AS vscore
       |  FROM embeddings e
       |  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id != 0),
       |vr AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS r_vec
       |  FROM vs ORDER BY vscore DESC, doc_id LIMIT $RrfPool)
       |SELECT doc_id, r_text, r_vec,
       |  COALESCE(CAST(1 AS DOUBLE) / ($RrfK + r_text), CAST(0 AS DOUBLE)) +
       |  COALESCE(CAST(1 AS DOUBLE) / ($RrfK + r_vec), CAST(0 AS DOUBLE)) AS rrf
       |FROM tr FULL OUTER JOIN vr USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT $RrfTopK""".stripMargin
  }

  // --------------------------------------------------- function_score

  /** Registered query: ES `function_score` with a `field_value_factor`
    * — relevance × a document-signal boost (the "boost popular/long
    * docs" pattern every production ranking ships): final score =
    * BM25 × ln(1 + n_chars), `boost_mode: multiply`, modifier `ln1p`.
    * Reuses [[bm25ScoredOf]] verbatim for the relevance leg; the
    * factor joins from the doc row itself (no second scan — the
    * factor column rides the same projection via a doc_id join against
    * the column-pruned documents read). Rank-only emission with the
    * factor's INPUT (`n_chars`) as provenance, the class-doc ln
    * convention.
    *
    * Shape at 100 TB: [[bm25TopK]]'s plan plus one doc_id-keyed join
    * of two projections of the same table (candidates are
    * match-set-sized; AQE may broadcast the cut side);
    * TakeOrderedAndProject top-k. */
  def functionScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val w = Window.orderBy($"fscore".desc, $"doc_id")
    bm25ScoredOf(docs, QueryTerms)
      .filter($"n_matched" > 0)
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .withColumn("fscore", $"score" * log(lit(1.0) + $"n_chars"))
      .orderBy($"fscore".desc, $"doc_id").limit(TopK)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl", $"n_chars")
      .orderBy($"rk")
  }

  val functionScoreSql: String =
    s"""WITH ${bm25Ctes(QueryTerms)}
       |SELECT ROW_NUMBER() OVER (ORDER BY fscore DESC, doc_id) AS rk,
       |  doc_id, n_matched, tf_total, dl, n_chars
       |FROM (
       |  SELECT sc.doc_id, sc.n_matched, sc.tf_total, sc.dl, d.n_chars,
       |    sc.score * ln(1.0 + d.n_chars) AS fscore
       |  FROM sc JOIN documents d USING (doc_id)
       |  WHERE sc.n_matched > 0)
       |ORDER BY fscore DESC, doc_id LIMIT $TopK""".stripMargin

  // ------------------------------------------------------- bool query

  /** The demo `bool` query's clauses — the four-clause ES shape. */
  val BoolMust: Seq[String] = Seq("dup")
  val BoolShould: Seq[String] = Seq("vector", "merge")
  val BoolMustNot: Seq[String] = Seq("slow")
  val BoolFilterLang = "en"
  val MinShouldMatch = 1

  /** Registered query: the ES `bool` QUERY — the compositor every
    * real ES request is written in: `filter` (non-scoring context —
    * here `lang`, a pushed-to-scan predicate over the doc-values
    * field), `must` (every term present AND scoring), `must_not`
    * (none present), `should` with `minimum_should_match` (≥ N
    * present; the ones present score). The score is the BM25 sum over
    * the matched must+should terms — Lucene's disjunction-sum — with
    * per-clause df/N statistics from the SAME one-pass stats row the
    * single-clause queries use. Rank-only emission with per-clause
    * provenance (how many should-clauses matched — what
    * `minimum_should_match` debugging looks at).
    *
    * Shape at 100 TB: identical to [[bm25TopK]] — the clause
    * structure compiles to one codegen'd projection (gates are
    * boolean columns, not joins), the filter reaches the parquet
    * scan, one 1-row stats broadcast, TakeOrderedAndProject. */
  def boolQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = BoolMust ++ BoolShould
    val nt = TextAnalysis.norm($"text")
    val mustNotHit = BoolMustNot
      .map(t => TextAnalysis.hitCount(nt, Seq(t)) > 0)
      .reduce(_ || _)
    val f = Tables.documentsPar(spark, dir)
      .filter($"lang" === BoolFilterLang)
      .select(($"doc_id" +:
        size(TextAnalysis.toks($"text")).cast("long").as("dl") +:
        (!mustNotHit).as("not_ok") +:
        terms.indices.map(i =>
          TextAnalysis.hitCount(nt, Seq(terms(i))).as(s"tf${i + 1}"))): _*)
    // stats over the FILTER context (the searchable set): df/N describe
    // what the query can match, the Lucene per-segment convention
    val statCols = Seq(count(lit(1)).as("n"), sum($"dl").as("sumdl")) ++
      terms.indices.map(i =>
        count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}"))
    val stats = f.agg(statCols.head, statCols.tail: _*)
    val mustOk = BoolMust.indices
      .map(i => col(s"tf${i + 1}") > 0).reduce(_ && _)
    val nShould = BoolShould.indices
      .map(i => when(col(s"tf${BoolMust.size + i + 1}") > 0, 1).otherwise(0))
      .reduce(_ + _)
    val w = Window.orderBy($"score".desc, $"doc_id")
    f.crossJoin(broadcast(stats))
      .withColumn("n_should", nShould)
      .filter(mustOk && $"not_ok" && $"n_should" >= MinShouldMatch)
      .select($"doc_id", $"dl", $"n_should",
        tfTotalCol(terms.size).as("tf_total"),
        bm25Score(terms.size).as("score"))
      .orderBy($"score".desc, $"doc_id").limit(TopK)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_should", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  val boolQuerySql: String = {
    val terms = BoolMust ++ BoolShould
    val tfDefs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf${i + 1}"
    }.mkString(",\n    ")
    val dfDefs = terms.indices.map { i =>
      s"COUNT(*) FILTER (WHERE tf${i + 1} > 0) AS df${i + 1}"
    }.mkString(", ")
    val avgdl = "(CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    val scoreTerms = terms.indices.map { i =>
      val tf = s"CAST(f.tf${i + 1} AS DOUBLE)"
      s"""(ln(1.0 + (CAST(s.n - s.df${i + 1} AS DOUBLE) + 0.5) / (CAST(s.df${i + 1} AS DOUBLE) + 0.5))
         |     * (($tf * 2.2) / ($tf + 1.2 * (0.25 + 0.75 * (CAST(f.dl AS DOUBLE) / $avgdl)))))""".stripMargin
    }.mkString("\n   + ")
    val mustOk = BoolMust.indices.map(i => s"f.tf${i + 1} > 0").mkString(" AND ")
    val nShould = BoolShould.indices
      .map(i => s"CASE WHEN f.tf${BoolMust.size + i + 1} > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    val mustNot = BoolMustNot
      .map(t => s"len(list_filter(toks, x -> x = '$t')) = 0").mkString(" AND ")
    val tfTotal = terms.indices.map(i => s"f.tf${i + 1}").mkString(" + ")
    s"""WITH f AS (
       |  SELECT doc_id, len(toks) AS dl, ($mustNot) AS not_ok,
       |    $tfDefs
       |  FROM (SELECT doc_id,
       |          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents WHERE lang = '$BoolFilterLang')),
       |s AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl, $dfDefs FROM f),
       |sc AS (
       |  SELECT f.doc_id, f.dl, ($nShould) AS n_should,
       |    $tfTotal AS tf_total, $scoreTerms AS score
       |  FROM f CROSS JOIN s
       |  WHERE ($mustOk) AND f.not_ok)
       |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
       |  doc_id, n_should, tf_total, dl
       |FROM sc WHERE n_should >= $MinShouldMatch
       |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
  }

  /** [[boolQuery]] served FROM the index — every clause from index
    * tables: scoring tfs from bucket-pruned postings, the `must_not`
    * gate an anti-join against those terms' (pruned) postings, the
    * `filter` context from the docmeta doc-values field, and the
    * filter-context statistics (N, Σdl, per-term df) from
    * doclen/postings joined to the same lang set. Shared scoring
    * expressions ⇒ bit-identical to the scan path (SearchSpec pins
    * it); tombstoned docs excluded like every serving path.
    *
    * Shape at 100 TB: postings prune to the query's buckets for
    * scoring AND veto terms; the lang set is a doc-grain docmeta
    * projection joined doc-keyed (shuffle-hash — a filter context is
    * not provably small); stats are two 1-row broadcasts. */
  def boolWithIndex(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val terms = BoolMust ++ BoolShould
    val allTerms = terms ++ BoolMustNot
    val dead = indexTable(spark, Seq(root), "tombstones")
    val post = indexTable(spark, Seq(root), "postings",
        Some(allTerms.map(tokBucket)))
      .filter($"tok".isin(allTerms: _*) && $"field" === DefaultField)
      .join(dead, Seq("doc_id"), "left_anti")
    requireFamilyColumns(spark, Seq(root), "docmeta", Seq("lang"))
    val langDocs = indexTable(spark, Seq(root), "docmeta")
      .filter($"lang" === BoolFilterLang).select($"doc_id")
    val scoring = post.filter($"tok".isin(terms: _*))
      .join(langDocs, "doc_id")
    val veto = post.filter($"tok".isin(BoolMustNot: _*)).select($"doc_id")
    val doclen = indexTable(spark, Seq(root), "doclen")
      .filter($"field" === DefaultField)
      .join(dead, Seq("doc_id"), "left_anti")
      .join(langDocs, "doc_id")
      .select($"doc_id", $"dl")
    val stats = doclen.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when($"tok" === t, 1)).as(s"df${i + 1}")
    }
    val dfs = scoring.agg(dfCols.head, dfCols.tail: _*)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when($"tok" === t, $"tf")), lit(0L)).cast("int")
        .as(s"tf${i + 1}")
    }
    val cand = scoring.groupBy($"doc_id").agg(tfCols.head, tfCols.tail: _*)
      .join(veto, Seq("doc_id"), "left_anti")
    val mustOk = BoolMust.indices
      .map(i => col(s"tf${i + 1}") > 0).reduce(_ && _)
    val nShould = BoolShould.indices
      .map(i => when(col(s"tf${BoolMust.size + i + 1}") > 0, 1).otherwise(0))
      .reduce(_ + _)
    val w = Window.orderBy($"score".desc, $"doc_id")
    cand.join(doclen, "doc_id")
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .withColumn("n_should", nShould)
      .filter(mustOk && $"n_should" >= MinShouldMatch)
      .select($"doc_id", $"dl", $"n_should",
        tfTotalCol(terms.size).as("tf_total"),
        bm25Score(terms.size).as("score"))
      .orderBy($"score".desc, $"doc_id").limit(TopK)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_should", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  /** Registered query: [[boolQuery]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def boolServed(spark: SparkSession, dir: String): DataFrame =
    boolWithIndex(spark, sharedIndexDir(spark, dir))

  /** [[passageSearch]] served FROM the index — possible ONLY because
    * the postings are POSITIONAL: a term occurrence at 0-based
    * position p lies in chunk k iff k·stride ≤ p < k·stride+window,
    * i.e. k ∈ [max(0, ⌈(p−window+1)/stride⌉), ⌊p/stride⌋] (≤ 2
    * chunks under the 48/64 overlap), so per-chunk tf is a pure
    * position-arithmetic regrouping of stored postings; the chunk
    * UNIVERSE (ids + lengths) and its (N, Σdl) statistics derive from
    * doclen alone — zero corpus-text reads end to end. Integer floor
    * divisions use Spark's `div` with a greatest(0, ·) clamp, exact
    * for the nonneg operands here. Shared [[passageRank]] +
    * bm25Score expressions ⇒ bit-identical to the scan path
    * (SearchSpec pins it).
    *
    * Shape at 100 TB: postings prune to the query terms' buckets and
    * position lists explode to ≤ 2 chunk rows per occurrence
    * (term-df-bounded); the chunk universe is a doclen-grain ×~1.3
    * projection (lengths, never text); candidates join it keyed
    * (doc, chunk); stats and dfs are two 1-row broadcasts. */
  def passageWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val ct = graft.ops.TrainPrep.ChunkTokens
    val cs = graft.ops.TrainPrep.ChunkStride
    val root = requireIndex(spark, indexDir)
    val dead = indexTable(spark, Seq(root), "tombstones")
    val post = indexTable(spark, Seq(root), "postings",
        Some(terms.map(tokBucket)))
      .filter($"tok".isin(terms: _*) && $"field" === DefaultField)
      .join(dead, Seq("doc_id"), "left_anti")
    val doclen = indexTable(spark, Seq(root), "doclen")
      .filter($"field" === DefaultField)
      .join(dead, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"dl")
    val chunks = doclen
      .select($"doc_id", $"dl",
        explode(sequence(lit(1L), greatest($"dl", lit(1L)), lit(cs.toLong)))
          .as("start"))
      .select($"doc_id",
        floor(($"start" - 1) / cs).cast("long").as("chunk_id"),
        greatest(least(lit(ct.toLong), $"dl" - $"start" + 1L), lit(0L))
          .as("cdl"))
    val stats = chunks.agg(count(lit(1)).as("n"), sum($"cdl").as("sumdl"))
    val ctf = post
      .select($"doc_id", $"tok", explode($"positions").as("p"))
      .select($"doc_id", $"tok", explode(sequence(
        greatest(lit(0L), expr(s"(p - ${ct - cs}) div $cs").cast("long")),
        expr(s"p div $cs").cast("long"))).as("chunk_id"))
      .groupBy($"doc_id", $"chunk_id", $"tok")
      .agg(count(lit(1)).as("tf"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when($"tok" === t, $"tf")), lit(0L)).cast("int")
        .as(s"tf${i + 1}")
    }
    // per-chunk candidate tfs feed TWO consumers — the 1-row df
    // aggregate and the scored join — and each would re-run the
    // postings position explosion + regroup without a barrier.
    // persist(DISK_ONLY, lineage kept, ring-released): the frame is
    // df-bounded hit chunks only, a few integers each (guide §2.4).
    val cand = Dsl.trackPersist(ctf.groupBy($"doc_id", $"chunk_id")
      .agg(tfCols.head, tfCols.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}")
    }
    val dfs = cand.agg(dfCols.head, dfCols.tail: _*)
    val scored = cand
      .join(chunks.select($"doc_id", $"chunk_id", $"cdl".as("dl")),
        Seq("doc_id", "chunk_id"))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .select($"doc_id", $"chunk_id", $"dl",
        tfTotalCol(terms.size).as("tf_total"),
        nMatchedCol(terms.size).as("n_matched"),
        bm25Score(terms.size).as("score"))
      .filter($"n_matched" > 0)
    passageRank(scored, k)
  }

  /** Registered query: [[passageSearch]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def passageServed(spark: SparkSession, dir: String): DataFrame =
    passageWithIndex(spark, sharedIndexDir(spark, dir), QueryTerms, PassageTopK)

  // ------------------------------------------------- rescore and collapse

  /** Rescore window (ES `rescore.window_size`) and emitted size. */
  val RescoreWindow = 50
  val RescoreTopK = 20

  /** Registered query: the ES `rescore` API — a cheap first phase
    * (BM25 over [[QueryTerms]]) retrieves a [[RescoreWindow]]-doc
    * window, an expensive second phase REORDERS that window by a
    * different signal (cosine to the query vector — the
    * cross-encoder stand-in; contrast [[hybridRrf]], which FUSES the
    * two lists instead of replacing the order). Docs without an
    * embedding keep cosine 0.0 (explicit, the ltr_features
    * convention) and sink to the window's tail. Emits the rescored
    * rank plus both phases' provenance (the BM25 rank it came from —
    * what an operator inspects to see the rescore actually moved
    * things).
    *
    * Shape at 100 TB: phase 1 is [[bm25TopK]]'s plan; phase 2 touches
    * exactly [[RescoreWindow]] rows — the entire point of a rescore
    * window (the expensive scorer never sees the corpus), so the
    * join with embeddings is window-sized vs a column-pruned scan,
    * and the final sort is over ≤ 50 rows. */
  def searchRescore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val window = bm25RankedOf(Tables.documentsPar(spark, dir), QueryTerms,
      RescoreWindow, "r_text").select($"doc_id", $"r_text")
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val cos = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id".as("doc_id"),
        (Similarity.dotD($"embedding", $"qv") /
          sqrt(Similarity.dotD($"embedding", $"embedding") *
            Similarity.dotD($"qv", $"qv"))).as("cos_q"))
    val w = Window.orderBy($"cos_q".desc, $"doc_id")
    window.join(cos, Seq("doc_id"), "left")
      .withColumn("cos_q", coalesce($"cos_q", lit(0.0)))
      .orderBy($"cos_q".desc, $"doc_id").limit(RescoreTopK)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"r_text", $"cos_q")
      .orderBy($"rk")
  }

  val searchRescoreSql: String = {
    val cos = s"${Similarity.dotSql("e.embedding", "q.qv")} / " +
      s"sqrt(${Similarity.dotSql("e.embedding", "e.embedding")} * ${Similarity.dotSql("q.qv", "q.qv")})"
    s"""WITH ${bm25Ctes(QueryTerms)},
       |win AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_text
       |  FROM sc WHERE n_matched > 0
       |  ORDER BY score DESC, doc_id LIMIT $RescoreWindow),
       |c AS (
       |  SELECT e.vec_id AS doc_id, $cos AS cos_q
       |  FROM embeddings e
       |  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id != 0)
       |SELECT ROW_NUMBER() OVER (ORDER BY cos_q DESC, doc_id) AS rk,
       |  doc_id, r_text, cos_q
       |FROM (SELECT win.doc_id, win.r_text,
       |        COALESCE(c.cos_q, CAST(0 AS DOUBLE)) AS cos_q
       |      FROM win LEFT JOIN c USING (doc_id))
       |ORDER BY cos_q DESC, doc_id LIMIT $RescoreTopK""".stripMargin
  }

  /** Registered query: ES field COLLAPSING — the ranked [[bm25TopK]]
    * result list collapsed to each `lang`'s single best hit (dedup-on-
    * a-field over a ranking: one result per language, the "group by
    * field, keep top hit" every search UI offers). The collapse is a
    * per-lang min over (rank) — rank is already total-ordered, so the
    * struct-min aggregate replaces a window, the passage_search
    * stance. Emits the collapsed hits re-ranked among themselves with
    * their original rank as provenance.
    *
    * Shape at 100 TB: the ranking is [[bm25TopK]]'s plan; the
    * collapse aggregates the top-[[TopK]] rows at lang grain —
    * bounded input, bounded output. */
  def searchCollapse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val ranked = bm25RankedOf(docs, QueryTerms, TopK, "r_orig")
      .select($"doc_id", $"r_orig")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    val w = Window.orderBy($"r_orig".asc)
    ranked.groupBy($"lang")
      .agg(min(struct($"r_orig", $"doc_id")).as("b"))
      .select($"lang", $"b.doc_id".as("doc_id"), $"b.r_orig".as("r_orig"))
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"lang", $"doc_id", $"r_orig")
      .orderBy($"rk")
  }

  val searchCollapseSql: String =
    s"""WITH ${bm25Ctes(QueryTerms)},
       |r AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_orig
       |  FROM sc WHERE n_matched > 0
       |  ORDER BY score DESC, doc_id LIMIT $TopK),
       |g AS (
       |  SELECT d.lang, r.doc_id, r.r_orig,
       |    ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY r.r_orig) AS rn
       |  FROM r JOIN documents d USING (doc_id))
       |SELECT ROW_NUMBER() OVER (ORDER BY r_orig) AS rk, lang, doc_id, r_orig
       |FROM g WHERE rn = 1
       |ORDER BY rk""".stripMargin

  // --------------------------------------------- pseudo-relevance feedback

  /** PRF depth: how many top-ranked docs feed expansion-term mining. */
  val PrfFbDocs = 10
  /** How many expansion terms join the original query. */
  val PrfFbTerms = 2
  val PrfTopK = 20

  /** Registered query: QUERY EXPANSION by pseudo-relevance feedback —
    * the RM3/Rocchio loop (Lavrenko & Croft 2001; ES operators run it
    * as significant_terms-into-a-rescore): (1) rank by the original
    * [[QueryTerms]] BM25, (2) mine the top-[[PrfFbDocs]] docs for the
    * [[PrfFbTerms]] most frequent non-query terms (the relevance-model
    * estimate, counts not probabilities — rational, engine-identical),
    * (3) re-rank the corpus with the expanded term set through the
    * SAME join-based BM25 as [[moreLikeThis]] (expansion terms are
    * DATA, so the [[mltRank]] exact-DECIMAL order-independent sum
    * applies verbatim). Uniform term weights — the deterministic
    * simplification of RM3's interpolation, documented rather than
    * hidden.
    *
    * Shape at 100 TB: the base ranking is [[bm25TopK]]'s shape; the
    * feedback mine joins the token stream against 10 broadcast
    * doc_ids; the final pass is MLT's: ≤ 5 broadcast terms against the
    * token stream, map-side-combined per-(doc, term). The df table is
    * vocab-grain (served from the index's postings in a deployment,
    * per the MLT scaladoc). */
  def queryExpansion(spark: SparkSession, dir: String): DataFrame =
    queryExpansionOf(Tables.documentsPar(spark, dir), QueryTerms,
      PrfFbDocs, PrfFbTerms, PrfTopK)

  private[graft] def queryExpansionOf(docs: DataFrame, terms: Seq[String],
      fbDocs: Int, fbTerms: Int, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // ONE tokenization pass (r18, VERDICT r17 #4): the old shape
    // re-derived the corpus token stream in every consumer — dfT was
    // referenced twice (exp's join + qterms), the feedback mine and the
    // final tf pass each re-exploded, and dlF/stats re-tokenized — six
    // regex tokenization passes over the corpus for one query. The
    // per-doc token ARRAY persists once (DISK_ONLY — lineage survives,
    // an executor loss recomputes; the aggsOver mechanism) behind one
    // shared RDD so every branch reads the same cached bytes instead of
    // re-running the scan+regex lineage. Corpus-grain persist is the
    // deliberate trade at 100 TB: ~input-sized local-disk blocks for
    // the duration of one query vs six full corpus scans + regex
    // passes; the ring (Dsl.PersistedFrameCap) bounds accumulation and
    // Search.invalidate / Dsl.releasePersisted drop it.
    // plain persist, NO RDD wrap: consumers here are ordinary
    // derivations of one frame (no self-union re-aliasing), so
    // CacheManager substitutes the InMemoryRelation on every branch
    // and reads stay COLUMNAR — an .rdd boundary would pay a
    // Row↔InternalRow round-trip on every token array, per consumer
    // (measured: the wrapped form was slower than the six passes it
    // replaced)
    val base = Dsl.trackPersist(docs
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val tokRows = base.select($"doc_id", explode($"t").as("token"))
    val dlF = base.select($"doc_id", size($"t").cast("long").as("dl"))
    val stats = dlF.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val dfT = tokRows.groupBy($"token")
      .agg(countDistinct($"doc_id").as("df"))
    val fb = bm25RankedOf(docs, terms, fbDocs, "rk")
      .select($"doc_id")
    // the fbtf ordering never needed df (every mined token is in dfT by
    // construction — the old inner join dropped nothing and ordered on
    // (fbtf, token) only), so dfT is now referenced ONCE: the expansion
    // picks tokens, then one join attaches df to expansion + query
    // terms together
    val expToks = tokRows.join(broadcast(fb), Seq("doc_id"), "left_semi")
      .filter(!$"token".isin(terms: _*))
      .groupBy($"token").agg(count(lit(1)).as("fbtf"))
      .orderBy($"fbtf".desc, $"token").limit(fbTerms)
      .select($"token")
    // distinct: a duplicated query term must not duplicate qterms rows
    // (the old isin FILTER could not; a JOIN with duplicates would)
    val wanted = expToks.unionByName(terms.toDF("token")).distinct()
    val qterms = dfT.join(broadcast(wanted), "token")
      .select($"token", $"df")
    val tf = tokRows.join(broadcast(qterms), "token")
      .groupBy($"doc_id", $"token", $"df").agg(count(lit(1)).as("tf"))
    mltRank(tf, dlF, stats, k)
  }

  /** [[queryExpansion]] served FROM the index — the full PRF loop
    * with zero corpus-text reads: the base ranking from
    * [[scoredFromIndex]] (bit-identical ranks), feedback-term mining
    * as a postings aggregate over the 10 broadcast feedback doc_ids
    * (occurrence counts = Σ stored tf), term dfs from the vocab-grain
    * postings aggregate, and the expanded-query rescore through the
    * shared [[mltRank]] join-BM25. Tombstoned docs excluded from
    * every stage. SearchSpec pins bit-equality with the scan path. */
  def expansionWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], fbDocs: Int, fbTerms: Int, k: Int): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val dead = indexTable(spark, Seq(root), "tombstones")
    val post = indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
      .select($"doc_id", $"tok", $"tf")
      .join(dead, Seq("doc_id"), "left_anti")
    val doclen = indexTable(spark, Seq(root), "doclen")
      .filter($"field" === DefaultField)
      .join(dead, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"dl")
    val stats = doclen.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val dfT = post.groupBy($"tok").agg(count(lit(1)).as("df"))
    val fb = scoredFromIndex(spark, root, terms)
      .filter($"n_matched" > 0)
      .orderBy($"score".desc, $"doc_id").limit(fbDocs)
      .select($"doc_id")
    // dfT referenced ONCE (r18, the queryExpansionOf restructure): the
    // fbtf ordering never needed df — every mined token is in dfT by
    // construction, so the old inner join dropped nothing — and the
    // second dfT reference re-ran a full postings aggregate; one join
    // now attaches df to expansion + query terms together
    val expToks = post.join(broadcast(fb), Seq("doc_id"), "left_semi")
      .filter(!$"tok".isin(terms: _*))
      .groupBy($"tok").agg(sum($"tf").as("fbtf"))
      .orderBy($"fbtf".desc, $"tok").limit(fbTerms)
      .select($"tok")
    val wanted = expToks.unionByName(terms.toDF("tok")).distinct()
    val qterms = dfT.join(broadcast(wanted), "tok").select($"tok", $"df")
    val tf = post.join(broadcast(qterms), "tok")
      .select($"doc_id", $"df", $"tf")
    mltRank(tf, doclen, stats, k)
  }

  /** Registered query: [[queryExpansion]] SERVED from the session-
    * shared index — oracle-checked against the same SQL. */
  def expansionServed(spark: SparkSession, dir: String): DataFrame =
    expansionWithIndex(spark, sharedIndexDir(spark, dir), QueryTerms,
      PrfFbDocs, PrfFbTerms, PrfTopK)

  val queryExpansionSql: String = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    val avgdl = "(CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    val contrib =
      s"""ln(1.0 + (CAST(s.n - tf.df AS DOUBLE) + 0.5) / (CAST(tf.df AS DOUBLE) + 0.5))
         |      * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl2.dl AS DOUBLE) / $avgdl))))""".stripMargin
    s"""WITH ${bm25Ctes(QueryTerms)},
       |fb AS (SELECT doc_id FROM sc WHERE n_matched > 0
       |       ORDER BY score DESC, doc_id LIMIT $PrfFbDocs),
       |tr AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |  FROM documents),
       |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tr GROUP BY token),
       |exp AS (
       |  SELECT tr.token, dft.df FROM tr
       |  JOIN fb USING (doc_id) JOIN dft USING (token)
       |  WHERE tr.token NOT IN ($inList)
       |  GROUP BY tr.token, dft.df
       |  ORDER BY COUNT(*) DESC, tr.token LIMIT $PrfFbTerms),
       |qt AS (SELECT token, df FROM dft WHERE token IN ($inList)
       |       UNION ALL SELECT token, df FROM exp),
       |tf AS (
       |  SELECT tr.doc_id, tr.token, qt.df, COUNT(*) AS tf
       |  FROM tr JOIN qt USING (token)
       |  GROUP BY tr.doc_id, tr.token, qt.df),
       |sc2 AS (
       |  SELECT tf.doc_id, dl2.dl, COUNT(*) AS n_matched,
       |    CAST(SUM(tf.tf) AS BIGINT) AS tf_total,
       |    CAST(SUM(CAST($contrib AS DECIMAL(38,18))) AS DOUBLE) AS score
       |  FROM tf JOIN (SELECT doc_id, dl FROM f) dl2 USING (doc_id) CROSS JOIN s
       |  GROUP BY tf.doc_id, dl2.dl)
       |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
       |  doc_id, n_matched, tf_total, dl
       |FROM sc2 ORDER BY score DESC, doc_id LIMIT $PrfTopK""".stripMargin
  }

  // ----------------------------------------------------- LTR feature rows

  /** Registered query: the learning-to-rank DATASET BUILDER — the op
    * that connects the retrieval family to the training pipeline: for
    * one query ([[QueryTerms]] + query vector vec_id 0), emit a
    * feature row per candidate document — per-term tf, document
    * length, match provenance, and the lexical-semantic bridge
    * feature cos(query, doc) — the denormalized (query, doc, features)
    * table an LTR trainer (LambdaMART et al.) consumes. All features
    * are integers except the cosine, which reuses the ANN family's
    * bit-stable VecDot arithmetic; docs without an embedding emit 0.0
    * (the LTR missing-feature convention, explicit not null).
    *
    * Shape at 100 TB: one corpus scan (codegen'd tf projection,
    * match-filtered), one broadcast of the single query vector, one
    * doc_id-keyed left join against the embedding projection —
    * candidates are match-set-sized, embeddings are scanned
    * column-pruned; no windows, no global sort beyond the output
    * ORDER BY. */
  def ltrFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = QueryTerms
    val nt = TextAnalysis.norm($"text")
    val f = Tables.documentsPar(spark, dir).select(
      ($"doc_id" +: size(TextAnalysis.toks($"text")).cast("long").as("dl") +:
        terms.indices.map(i =>
          TextAnalysis.hitCount(nt, Seq(terms(i))).as(s"tf${i + 1}"))): _*)
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val cos = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id".as("doc_id"),
        (Similarity.dotD($"embedding", $"qv") /
          sqrt(Similarity.dotD($"embedding", $"embedding") *
            Similarity.dotD($"qv", $"qv"))).as("cos_q"))
    f.select(($"doc_id" +: $"dl" +:
        terms.indices.map(i => col(s"tf${i + 1}"))) :+
        tfTotalCol(terms.size).as("tf_total") :+
        nMatchedCol(terms.size).as("n_matched"): _*)
      .filter($"n_matched" > 0)
      .join(cos, Seq("doc_id"), "left")
      .withColumn("cos_q", coalesce($"cos_q", lit(0.0)))
      .orderBy($"doc_id")
  }

  val ltrFeaturesSql: String = {
    val tfDefs = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf${i + 1}"
    }.mkString(",\n    ")
    val nMatched = QueryTerms.indices
      .map(i => s"CASE WHEN tf${i + 1} > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val tfTotal = QueryTerms.indices.map(i => s"tf${i + 1}").mkString(" + ")
    val tfCols = QueryTerms.indices.map(i => s"tf${i + 1}").mkString(", ")
    val cos = s"${Similarity.dotSql("e.embedding", "q.qv")} / " +
      s"sqrt(${Similarity.dotSql("e.embedding", "e.embedding")} * ${Similarity.dotSql("q.qv", "q.qv")})"
    s"""WITH f AS (
       |  SELECT doc_id, len(toks) AS dl, $tfDefs,
       |    $tfTotal AS tf_total, $nMatched AS n_matched
       |  FROM (SELECT doc_id,
       |          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents)),
       |c AS (
       |  SELECT e.vec_id AS doc_id, $cos AS cos_q
       |  FROM embeddings e
       |  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id != 0)
       |SELECT f.doc_id, f.dl, $tfCols, f.tf_total, f.n_matched,
       |  COALESCE(c.cos_q, CAST(0 AS DOUBLE)) AS cos_q
       |FROM f LEFT JOIN c USING (doc_id)
       |WHERE f.n_matched > 0
       |ORDER BY f.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- facets

  /** Registered query: ES aggregations-on-a-query — facet counts over
    * the docs matching the [[QueryTerms]] search (any term present),
    * by (lang, source). Facets run on the MATCH SET, not the ranked
    * list, so no scoring and no stats pass: one codegen'd
    * match-predicate scan + one map-side-combined aggregate at
    * (lang × source) grain. This is the search-then-slice loop every
    * ES dashboard runs. */
  def searchFacets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = TextAnalysis.norm($"text")
    val matched = QueryTerms
      .map(t => TextAnalysis.hitCount(nt, Seq(t)) > 0)
      .reduce(_ || _)
    Tables.documentsPar(spark, dir)
      .filter(matched)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"source")
  }

  val searchFacetsSql: String = {
    val anyTerm = QueryTerms
      .map(t => s"len(list_filter(toks, x -> x = '$t')) > 0")
      .mkString(" OR ")
    s"""SELECT lang, source, COUNT(*) AS n_docs
       |FROM (SELECT lang, source,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |      FROM documents)
       |WHERE $anyTerm
       |GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin
  }

  /** Registered query: the ES `stats` aggregation ON A QUERY — the
    * metric panel next to every facet widget: count/min/max/sum/avg
    * of a numeric field (`n_chars`) over the docs matching the
    * [[QueryTerms]] search. All emitted values are exact integers
    * except `avg_chars`, which is ONE division of two exact integers
    * — deterministic in both engines. One codegen'd predicate scan +
    * a single 1-row aggregate; at 100 TB this is a map-side-combined
    * pass with a 1-row result, the cheapest query shape there is. */
  def searchStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = TextAnalysis.norm($"text")
    val matched = QueryTerms
      .map(t => TextAnalysis.hitCount(nt, Seq(t)) > 0)
      .reduce(_ || _)
    Tables.documentsPar(spark, dir)
      .filter(matched)
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        sum($"n_chars").as("sum_chars"))
      .withColumn("avg_chars",
        $"sum_chars".cast("double") / $"n_docs".cast("double"))
  }

  val searchStatsSql: String = {
    val anyTerm = QueryTerms
      .map(t => s"len(list_filter(toks, x -> x = '$t')) > 0")
      .mkString(" OR ")
    s"""SELECT COUNT(*) AS n_docs,
       |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
       |FROM (SELECT n_chars,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |      FROM documents)
       |WHERE $anyTerm""".stripMargin
  }

  /** Registered query: ES `significant_terms` — which terms are
    * over-represented in the docs MATCHING the [[QueryTerms]] search
    * relative to the whole corpus. Reuses the
    * [[TextAnalysis.chiSquareSplit]] engine with the match predicate
    * as the foreground slice: the same pooled-expectation chi-square
    * attribution, rational on exact counts, emitted bit-exactly. The
    * query's own terms top the report by construction (they define
    * the slice); the interesting rows are the OTHER terms that ride
    * along — co-occurring vocabulary, ES's "what is special about
    * these results". */
  def significantTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = TextAnalysis.norm($"text")
    val matched = QueryTerms
      .map(t => TextAnalysis.hitCount(nt, Seq(t)) > 0)
      .reduce(_ || _)
    TextAnalysis.chiSquareSplit(Tables.documentsPar(spark, dir), matched)
  }

  val significantTermsSql: String = {
    val anyTerm = QueryTerms
      .map(t => s"len(list_filter(toks, x -> x = '$t')) > 0")
      .mkString(" OR ")
    val ea = "(CAST(c_a + c_b AS DOUBLE) * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))"
    val eb = "(CAST(c_a + c_b AS DOUBLE) * (CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))"
    s"""WITH tr AS (
       |  SELECT ($anyTerm) AS in_a, UNNEST(toks) AS token
       |  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents)),
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

  // ------------------------------------------------------------ suggester

  /** Prefix + pool size for the registered completion query. */
  val SuggestPrefix = "s"
  val SuggestK = 8

  /** Registered query: ES completion suggester — the top-[[SuggestK]]
    * vocabulary completions of a prefix, ranked by corpus frequency
    * (tie-break lexicographic). Vocab-grain work only: one term
    * aggregate, a starts-with filter, a TakeOrderedAndProject — the
    * autocomplete loop a search box drives, served at dictionary cost
    * regardless of corpus size. */
  def suggestPrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsPar(spark, dir)
      .select(explode(TextAnalysis.toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
      .filter($"token".startsWith(SuggestPrefix))
      .orderBy($"freq".desc, $"token")
      .limit(SuggestK)
  }

  val suggestPrefixSql: String =
    s"""SELECT token, COUNT(*) AS freq
       |FROM (SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |      FROM documents)
       |WHERE token LIKE '$SuggestPrefix%'
       |GROUP BY token
       |ORDER BY freq DESC, token
       |LIMIT $SuggestK""".stripMargin

  /** A MISSPELLED prefix for the fuzzy suggester (no vocabulary term
    * starts with it; "sca…" completions sit one edit away). */
  val FuzzySuggestPrefix = "scon"
  /** Edit budget for the fuzzy suggester — declared HERE, before the
    * SQL string that interpolates it (the object-init-order rule the
    * class doc warns about: [[FuzzyMaxDist]] lives later in the file
    * and would read as 0 inside this section's string literals). */
  val FuzzySuggestDist = 1

  /** Registered query: the completion suggester WITH FUZZINESS — the
    * ES `completion` suggester's `fuzzy` option, the typo-tolerant
    * autocomplete every search box ships: a completion matches when
    * the same-length prefix of the candidate term is within edit
    * distance 1 of what the user typed. Vocabulary-grain work like
    * [[suggestPrefix]] (the Levenshtein runs on the term dictionary,
    * never the corpus), ranked by corpus frequency. */
  def suggestFuzzy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pl = FuzzySuggestPrefix.length
    Tables.documentsPar(spark, dir)
      .select(explode(TextAnalysis.toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
      .filter(levenshtein(substring($"token", 1, pl),
        lit(FuzzySuggestPrefix)) <= FuzzySuggestDist)
      .orderBy($"freq".desc, $"token")
      .limit(SuggestK)
  }

  val suggestFuzzySql: String =
    s"""SELECT token, COUNT(*) AS freq
       |FROM (SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |      FROM documents)
       |GROUP BY token
       |HAVING levenshtein(token[1:${FuzzySuggestPrefix.length}], '$FuzzySuggestPrefix') <= $FuzzySuggestDist
       |ORDER BY freq DESC, token
       |LIMIT $SuggestK""".stripMargin

  // ----------------------------------------------------------- percolator

  /** How the DEMO rule registry is derived from the corpus itself —
    * no literal rule constants anywhere in main (the models.manifest
    * discipline: the percolator's "model" is authored DATA, and the
    * demo bootstrap authors it deterministically from the corpus
    * vocabulary). The [[RegistryVocabTop]] tokens by (doc-frequency
    * desc, token): ranks 1..[[RegistrySingleRules]] become one-term
    * rules (query_id = rank), the remaining ranks one conjunction
    * rule (query_id = [[RegistryPairId]]) that exercises the
    * every-term arity gate. */
  val RegistryVocabTop = 6
  val RegistrySingleRules = 4
  val RegistryPairId = 5L

  /** The corpus-derived demo registry as (query_id, terms) rows — see
    * [[RegistryVocabTop]]. Vocab-grain aggregate cut to a 6-row
    * frame; bounded by construction, so downstream broadcasts and
    * [[compileRegistry]] pulls are driver-safe. */
  def derivedRegistry(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = Window.orderBy($"c".desc, $"tok")
    val ranked = docs
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("tok"))
      .distinct()
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(RegistryVocabTop)
      .withColumn("r", row_number().over(w))
    val singles = ranked.filter($"r" <= RegistrySingleRules)
      .select($"r".cast("long").as("query_id"), array($"tok").as("terms"))
    // the pair rule's term order is irrelevant to the conjunction;
    // sorted for a deterministic stored row. On a degenerate corpus
    // with ≤ RegistrySingleRules distinct tokens the aggregate would
    // emit an EMPTY terms array — a malformed rule the join form
    // silently drops but percolateOf refuses, so the two registered
    // forms sharing this registry would diverge; filter it out so
    // both see the same well-formed rule set
    val pair = ranked.filter($"r" > RegistrySingleRules)
      .agg(array_sort(collect_list($"tok")).as("terms"))
      .select(lit(RegistryPairId).as("query_id"), $"terms")
      .filter(size($"terms") > 0)
    singles.unionByName(pair)
  }

  /** Pull a rule registry to the driver for predicate COMPILATION —
    * the percolator's small-registry fast path. Bounded LOUDLY: a
    * registry past [[MaxCompiledRules]] refuses with the scalable
    * alternative named, because compiling an unbounded table into a
    * plan is exactly the unbounded-broadcast anti-pattern this repo
    * bans (use [[percolateWithRegistry]] — the join form never pulls
    * rules to the driver). */
  val MaxCompiledRules = 128
  def compileRegistry(registry: DataFrame): Seq[(Long, Seq[String])] = {
    val rows = registry.limit(MaxCompiledRules + 1).collect()
    if (rows.length > MaxCompiledRules)
      throw new IllegalStateException(
        s"compileRegistry: registry exceeds $MaxCompiledRules rules — " +
          "compile is the small-set fast path; use percolateWithRegistry " +
          "for registry-scale rule sets")
    rows.map(r => (r.getLong(0), r.getSeq[String](1).toList))
      .sortBy(_._1).toSeq
  }

  /** The derived registry, built ONCE per (session, corpus) — the
    * sharedSigSets memo pattern: the 5-row rule table is the same for
    * every percolator consumer (both registered forms and the bundle
    * seed), so its corpus-vocabulary derivation should not rerun per
    * query. Same corpus-version contract as every shared table
    * (rewritten corpus dir ⇒ [[invalidate]] first). */
  def sharedRegistry(spark: SparkSession, dir: String): DataFrame =
    synchronized {
      val view = "graft_percreg_" + Tables.viewSuffix(dir)
      if (!spark.catalog.tableExists(view))
        derivedRegistry(Tables.documentsPar(spark, dir))
          .localCheckpoint(eager = false)
          .createOrReplaceTempView(view)
      spark.table(view)
    }

  /** Registered query: the ES percolator in its REGISTRY form — match
    * every document against the stored query set (search inverted:
    * queries are the index, documents are the probes — the
    * alerting/routing primitive), rules read from DATA
    * ([[derivedRegistry]] via the [[sharedRegistry]] memo — no
    * literal rule constants in the plan). The ORACLE derives the same
    * registry in SQL, so the rule bootstrap itself is oracle-checked,
    * not just the matching. */
  def percolate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsPar(spark, dir)
    percolateWithRegistry(docs, sharedRegistry(spark, dir))
      .orderBy("doc_id", "query_id")
  }

  /** Registered query: the same percolation COMPILED — the bounded
    * registry pulls to the driver ([[compileRegistry]]) and each rule
    * becomes a codegen'd anchored-regex conjunction in one stateless
    * scan ([[percolateOf]]). Same oracle as [[percolate]]: compiled ≡
    * join-form on the same rules is the percolator's serving
    * contract, proven per-run by the correctness gate. */
  def percolateCompiled(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsPar(spark, dir)
    percolateOf(docs, compileRegistry(sharedRegistry(spark, dir)))
      .orderBy("doc_id", "query_id")
  }

  /** The compiled percolator over an arbitrary documents frame —
    * batch OR streaming (pure stateless projection; SearchSpec proves
    * stream ≡ batch). One codegen'd scan: each rule compiles to an
    * anchored-regex conjunction, the matched ids explode from a
    * Q-element array, and the null filter is relational (no
    * interpreted lambda in the per-row path). Empty rules are
    * ill-formed (an empty conjunction would be match-all where the
    * join form drops the rule) — refused loudly, same stance as
    * [[percolateWithRegistry]].
    *
    * Shape at 100 TB: documents never shuffle — pure projection +
    * explode(Q) + filter; per-row work is bounded by the registry
    * size, exactly how a percolator costs. */
  def percolateOf(docs: DataFrame,
      rules: Seq[(Long, Seq[String])]): DataFrame = {
    import docs.sparkSession.implicits._
    rules.find(_._2.isEmpty).foreach { case (id, _) =>
      throw new IllegalArgumentException(
        s"percolateOf: rule with empty terms: query_id=$id")
    }
    val nt = TextAnalysis.norm($"text")
    val matchedIds = array(rules.map { case (id, ts) =>
      when(ts.map(t => TextAnalysis.hitCount(nt, Seq(t)) > 0)
        .reduce(_ && _), lit(id))
    }: _*)
    docs.select($"doc_id", explode(matchedIds).as("query_id"))
      .filter($"query_id".isNotNull)
  }

  /** [[percolateOf]] with the stored queries as DATA — the scalable
    * registry form (thousands of alert rules live in a table, not in
    * compiled code). `registry` is (query_id, terms array); a doc
    * matches a query when EVERY term is present. Join-based: doc
    * tokens ⋈ exploded registry terms at (doc × matching-term) grain,
    * then a count-equality gate against each query's arity — no
    * per-query expression, so the registry can grow without replanning.
    * [[percolateOf]] + [[compileRegistry]] is the bounded fast path
    * that compiles a small registry to codegen'd predicates instead;
    * SearchSpec proves the two agree, and the correctness gate proves
    * it per-run (both registered forms share one oracle).
    *
    * Shape at 100 TB: the registry explodes to (query, term) rows —
    * registry-sized, broadcast; the token side is one distinct
    * (doc, tok) projection of the corpus; the gate is a
    * map-side-combined count per (doc, query). */
  def percolateWithRegistry(docs: DataFrame, registry: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // distinct-ify the rule's terms: presence is counted once per term,
    // so a duplicated term in a rule must not inflate the arity gate.
    // An EMPTY rule is ill-formed (its explode would vanish and the
    // rule would silently never fire, where the compiled form's empty
    // conjunction is match-all) — refuse it loudly, the Exact.dec
    // enforced-guard stance; the check is registry-grain, not per doc.
    // the guard must run BEFORE the explode: generating zero rows from
    // an empty array would drop the rule before any per-row check fires
    val arity = size(array_distinct($"terms"))
    val regTerms = registry
      .select($"query_id",
        when(arity === 0, raise_error(concat(
          lit("percolateWithRegistry: rule with empty terms: query_id="),
          $"query_id".cast("string")))).otherwise(arity).as("arity"),
        array_distinct($"terms").as("terms"))
      .select($"query_id", $"arity", explode($"terms").as("token"))
    val docToks = docs
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("token"))
      .distinct()
    docToks.join(broadcast(regTerms), "token")
      .groupBy($"doc_id", $"query_id", $"arity")
      .agg(count(lit(1)).as("n_present"))
      .filter($"n_present" === $"arity")
      .select($"doc_id", $"query_id")
  }

  /** Oracle for BOTH percolator forms: derives the rule registry from
    * the corpus vocabulary exactly as [[derivedRegistry]] does, then
    * matches by the distinct-token join + every-term arity gate. */
  val percolateSql: String =
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id,
       |      UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |    FROM documents)),
       |vocab AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok
       |          ORDER BY c DESC, tok LIMIT $RegistryVocabTop),
       |ranked AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
       |           FROM vocab),
       |rules AS (
       |  SELECT CAST(r AS BIGINT) AS query_id, tok AS term, 1 AS arity
       |  FROM ranked WHERE r <= $RegistrySingleRules
       |  UNION ALL
       |  SELECT CAST($RegistryPairId AS BIGINT), tok,
       |    ${RegistryVocabTop - RegistrySingleRules}
       |  FROM ranked WHERE r > $RegistrySingleRules)
       |SELECT doc_id, query_id
       |FROM dt JOIN rules ON dt.tok = rules.term
       |GROUP BY doc_id, query_id, arity
       |HAVING COUNT(*) = arity
       |ORDER BY doc_id, query_id""".stripMargin

  // ---------------------------------------------------------- fuzzy match

  /** Registered fuzzy query: a misspelling of a vocabulary term. */
  val FuzzyTerm = "scann"
  val FuzzyMaxDist = 1

  /** Registered query: ES `fuzzy` — docs containing any token within
    * [[FuzzyMaxDist]] Levenshtein edits of [[FuzzyTerm]], with the hit
    * count and the matched tokens. Both engines implement the same
    * classic edit-distance DP, so the match set is engine-exact.
    *
    * Shape at 100 TB: the expensive predicate (edit distance) runs at
    * VOCAB grain only — distinct tokens, millions of rows — never per
    * token occurrence; the (tiny) matched-term set broadcasts back
    * against the token stream, and the per-doc rollup is one
    * map-side-combined aggregate. This vocab-first-then-broadcast
    * shape is how Lucene evaluates fuzzy queries too (an automaton
    * over the term dictionary, then postings). */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tokRows = Tables.documentsPar(spark, dir)
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("token"))
    val matched = tokRows.select($"token").distinct()
      .filter(levenshtein($"token", lit(FuzzyTerm)) <= FuzzyMaxDist)
    tokRows.join(broadcast(matched), "token")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"),
        concat_ws(",", array_sort(collect_set($"token"))).as("matched"))
      .orderBy($"doc_id")
  }

  val fuzzyMatchSql: String =
    s"""WITH tr AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |  FROM documents),
       |m AS (SELECT DISTINCT token FROM tr
       |      WHERE levenshtein(token, '$FuzzyTerm') <= $FuzzyMaxDist)
       |SELECT tr.doc_id, COUNT(*) AS n_hits,
       |  string_agg(DISTINCT tr.token, ',' ORDER BY tr.token) AS matched
       |FROM tr JOIN m USING (token)
       |GROUP BY tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin

  // --------------------------------------------------------- more like this

  /** Source document + term budget for the registered MLT query. */
  val MltSourceDoc = 0L
  val MltTerms = 3
  val MltTopK = 20

  /** Registered query: ES `more_like_this` — rank the corpus by BM25
    * similarity to ONE document, using that document's top-[[MltTerms]]
    * TF-IDF keywords as the query (the MLT recipe: interesting terms
    * first, then an ordinary ranked query). Unlike [[bm25TopK]]'s
    * compile-time terms, the query terms here are DATA — so this is
    * the join-based BM25 shape: the token stream joins the broadcast
    * term set instead of evaluating per-term regex counts, and the
    * per-doc score is an order-independent exact-DECIMAL sum of
    * per-(doc, term) contributions ([[graft.Exact.dsum]] — partial
    * aggregation reorders freely on a cluster, the score must not
    * care). Rank-only emission as ever (ln, class doc); the keyword
    * SELECTION is the same ln-ranked tf-idf whose stability
    * `tfidf_keywords` already hash-proves on this corpus.
    *
    * Shape at 100 TB: the term-df table is vocab-grain (a production
    * deployment reads df and dl straight from the [[buildSearchIndex]]
    * artifact instead of recomputing — postings GROUP BY tok and the
    * doclen table hold exactly these); the source doc's term pull is a
    * doc_id-pruned scan; the candidate pass joins the corpus token
    * stream against ≤ [[MltTerms]] broadcast terms and aggregates
    * map-side to (candidate × matched-term) grain. */
  def moreLikeThis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    // ONE tokenization pass (r18): the token stream, the source doc's
    // term pull, the df table and the length table all re-tokenized
    // the corpus — the same six-pass shape queryExpansionOf had; the
    // per-doc token array persists once (DISK_ONLY, lineage kept,
    // ring-released) and every branch derives from the cache. See
    // queryExpansionOf for the 100 TB trade.
    val base = Dsl.trackPersist(docs
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val tokRows = base.select($"doc_id", explode($"t").as("token"))
    val dlF = base.select($"doc_id", size($"t").cast("long").as("dl"))
    val stats = dlF.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val dfT = tokRows.groupBy($"token")
      .agg(countDistinct($"doc_id").as("df"))
    val qterms = tokRows.filter($"doc_id" === MltSourceDoc)
      .groupBy($"token").agg(count(lit(1)).as("qtf"))
      .join(dfT, "token")
      .crossJoin(broadcast(stats))
      .withColumn("kwscore",
        $"qtf" * log(($"n" + 1.0) / ($"df" + lit(1.0))))
      .orderBy($"kwscore".desc, $"token").limit(MltTerms)
      .select($"token", $"df")
    val tf = tokRows.join(broadcast(qterms), "token")
      .filter($"doc_id" =!= MltSourceDoc)
      .groupBy($"doc_id", $"token", $"df").agg(count(lit(1)).as("tf"))
    mltRank(tf, dlF, stats, MltTopK)
  }

  /** The MLT candidate ranker, shared verbatim by the scan path and
    * [[moreLikeThisWithIndex]] (the bm25Score sharing discipline):
    * `tf` carries one row per (candidate doc_id, matched term) with
    * that term's corpus df and the candidate's tf; the per-doc score
    * is an order-independent exact-DECIMAL sum of per-term BM25
    * contributions. */
  private def mltRank(tf: DataFrame, dlF: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    import tf.sparkSession.implicits._
    val avgdl = $"sumdl".cast("double") / $"n".cast("double")
    val lnorm = lit(0.25) + lit(0.75) * ($"dl".cast("double") / avgdl)
    val idf = log(lit(1.0) +
      (($"n" - $"df").cast("double") + lit(0.5)) / ($"df".cast("double") + lit(0.5)))
    val contrib = idf *
      (($"tf".cast("double") * lit(2.2)) / ($"tf".cast("double") + lit(1.2) * lnorm))
    val w = Window.orderBy($"score".desc, $"doc_id")
    tf.join(dlF, "doc_id").crossJoin(broadcast(stats))
      .groupBy($"doc_id", $"dl")
      .agg(count(lit(1)).as("n_matched"), sum($"tf").as("tf_total"),
        graft.Exact.dsum(contrib).as("score"))
      .orderBy($"score".desc, $"doc_id").limit(k)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  /** [[moreLikeThis]] served FROM the index — zero corpus-text reads:
    * the source doc's term vector comes from a doc_id-filtered
    * postings read, term dfs from a vocab-grain postings aggregate,
    * lengths and corpus stats from doclen — exactly the tables
    * [[moreLikeThis]]'s scaladoc promises the index amortizes. Same
    * integers, the shared [[mltRank]] expressions ⇒ bit-identical
    * output (SearchSpec pins it). */
  def moreLikeThisWithIndex(spark: SparkSession, indexDir: String,
      docId: Long, nTerms: Int, k: Int): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val post = indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
    val doclen = indexTable(spark, Seq(root), "doclen")
      .filter($"field" === DefaultField)
      .select($"doc_id", $"dl")
    val dead = indexTable(spark, Seq(root), "tombstones")
    val stats = doclen.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val dfT = post.groupBy($"tok").agg(count(lit(1)).as("df"))
    // a tombstoned SOURCE doc's terms must not seed the query — its
    // content would otherwise leak through the ranked result (the
    // termVectors refusal, applied to MLT's term pull); anti-join
    // empties qterms, so the result is empty rather than derived
    // from deleted text
    val qterms = post.filter($"doc_id" === docId)
      .join(dead, Seq("doc_id"), "left_anti")
      .select($"tok", $"tf".as("qtf"))
      .join(dfT, "tok")
      .crossJoin(broadcast(stats))
      .withColumn("kwscore",
        $"qtf" * log(($"n" + 1.0) / ($"df" + lit(1.0))))
      .orderBy($"kwscore".desc, $"tok").limit(nTerms)
      .select($"tok", $"df")
    val tf = post.filter($"doc_id" =!= docId)
      .join(broadcast(qterms), "tok")
      .join(dead, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"df", $"tf")
    mltRank(tf, doclen, stats, k)
  }

  val moreLikeThisSql: String = {
    val avgdl = "(CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    val contrib =
      s"""ln(1.0 + (CAST(s.n - tf.df AS DOUBLE) + 0.5) / (CAST(tf.df AS DOUBLE) + 0.5))
         |      * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / $avgdl))))""".stripMargin
    s"""WITH tr AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
       |  FROM documents),
       |dl AS (
       |  SELECT doc_id, len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS dl
       |  FROM documents),
       |s AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl),
       |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tr GROUP BY token),
       |qt AS (
       |  SELECT token, df FROM (
       |    SELECT tr.token, dft.df, COUNT(*) AS qtf
       |    FROM tr JOIN dft USING (token)
       |    WHERE tr.doc_id = $MltSourceDoc
       |    GROUP BY tr.token, dft.df) q
       |  CROSS JOIN s
       |  ORDER BY q.qtf * ln((s.n + 1.0) / (q.df + 1.0)) DESC, token
       |  LIMIT $MltTerms),
       |tf AS (
       |  SELECT tr.doc_id, tr.token, qt.df, COUNT(*) AS tf
       |  FROM tr JOIN qt USING (token)
       |  WHERE tr.doc_id != $MltSourceDoc
       |  GROUP BY tr.doc_id, tr.token, qt.df),
       |sc AS (
       |  SELECT tf.doc_id, dl.dl, COUNT(*) AS n_matched,
       |    CAST(SUM(tf.tf) AS BIGINT) AS tf_total,
       |    CAST(SUM(CAST($contrib AS DECIMAL(38,18))) AS DOUBLE) AS score
       |  FROM tf JOIN dl USING (doc_id) CROSS JOIN s
       |  GROUP BY tf.doc_id, dl.dl)
       |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
       |  doc_id, n_matched, tf_total, dl
       |FROM sc ORDER BY score DESC, doc_id LIMIT $MltTopK""".stripMargin
  }

  // ------------------------------------------------ persisted inverted index

  /** Number of hash buckets the postings partition by. At 100 TB the
    * term dictionary is millions of entries — far too many for one
    * directory per term — so postings shard by a 64-way hash of the
    * term: a query for k terms opens ≤ k of 64 partitions (partition
    * pruning on `b`), while each partition stays large enough for
    * healthy parquet row groups. */
  val IndexBuckets = 64

  /** Postings bucket of a term — md5-based so the driver can compute
    * the SAME bucket for the query's terms without a Spark job (the
    * [[Similarity]] planeSigns convention: shared deterministic
    * randomness, derived identically in the JVM and in the plan). */
  private def tokBucketCol(tok: Column): Column =
    (conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % IndexBuckets)
      .cast("int")

  private[graft] def tokBucket(tok: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % IndexBuckets).toInt
  }

  /** Pointer file at the index top directory naming the ACTIVE version
    * subdirectory — the alias-repoint discipline (the K4 daily-index
    * alias, applied to the search artifact): every serving path
    * resolves the pointer ONCE per query and then reads only that
    * version's files, so a concurrent rebuild/compaction can commit a
    * new version (write the tables, then atomically replace this one
    * tiny file) without a reader ever seeing a mixed or half-written
    * view. Underscore-prefixed so parquet readers treat it as hidden. */
  val CurrentPointer = "_current"

  private val VersionRe = "^v(\\d{10})$".r

  /** Resolve the ACTIVE root of an index: `indexDir/<version>` when a
    * [[CurrentPointer]] exists, else `indexDir` itself (the pre-r10
    * flat layout, and — by the same branch — an already-resolved
    * version root, making resolution idempotent: helpers can take
    * either form). */
  private[graft] def indexRoot(spark: SparkSession, indexDir: String): String = {
    val cur = new org.apache.hadoop.fs.Path(s"$indexDir/$CurrentPointer")
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(cur)) {
      val in = fs.open(cur)
      val ver =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      s"$indexDir/$ver"
    } else indexDir
  }

  /** Next version name under `indexDir`: max existing v-number + 1 —
    * counts orphans from crashed builds too, so a new commit never
    * reuses (and never has to clear) a partially-written dir. */
  private def nextVersion(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val existing =
      if (fs.exists(p))
        fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
          case VersionRe(n) => n.toLong
        }
      else Seq.empty
    "v%010d".format((existing :+ 0L).max + 1)
  }

  /** Atomically (re)point [[CurrentPointer]] at `ver`: write a temp
    * file, rename-with-OVERWRITE onto the pointer. The pointer is the
    * ONLY path needing atomic replace — table bytes commit by being
    * named, never by being overwritten — which is exactly the shape an
    * object store (no atomic directory rename) can still serve via a
    * conditional put of the pointer object. */
  private def commitPointer(spark: SparkSession, indexDir: String,
      ver: String): Unit =
    commitPointerFile(spark, s"$indexDir/$CurrentPointer", ver)

  /** The one atomic-replace primitive every pointer commit shares:
    * write a temp file, rename-with-OVERWRITE onto the pointer. */
  private def commitPointerFile(spark: SparkSession, pointerPath: String,
      value: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val tmp = new org.apache.hadoop.fs.Path(s"$pointerPath.tmp")
    val cur = new org.apache.hadoop.fs.Path(pointerPath)
    val fs = tmp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Marker written LAST into a snapshot dir: its presence IS the
    * snapshot's commit (a crash mid-copy leaves no marker, and
    * [[restoreIndex]] refuses the partial) — the funnel.meta /
    * `_codebooks` completeness stance applied to backups. */
  val SnapshotMarker = "_snapshot_complete"

  /** ES snapshot API: copy the index's ACTIVE version — tables,
    * tombstones, everything the serving paths read — into a
    * self-contained snapshot dir, committing with [[SnapshotMarker]]
    * written last. The copy is a filesystem recursive copy (the
    * local-mode stand-in for distcp/object-store server-side copy —
    * at 100 TB the TOOL changes, the protocol here doesn't: copy
    * bytes, then commit a marker). Resolution happens ONCE, so a
    * concurrent compaction repoint cannot tear the snapshot across
    * versions. */
  def snapshotIndex(spark: SparkSession, indexDir: String,
      snapDir: String): Unit = {
    val root = requireIndex(spark, indexDir)
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(root)
    val dst = new org.apache.hadoop.fs.Path(snapDir)
    val fs = dst.getFileSystem(conf)
    if (fs.exists(dst))
      throw new IllegalStateException(
        s"snapshotIndex: $snapDir already exists — snapshots are " +
          "immutable once taken; pick a new name")
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      // version pointers never enter a snapshot: it is self-contained
      if (!st.getPath.getName.startsWith(CurrentPointer))
        org.apache.hadoop.fs.FileUtil.copy(
          st.getPath.getFileSystem(conf), st.getPath, fs,
          new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
          false, conf)
    }
    fs.create(new org.apache.hadoop.fs.Path(dst, SnapshotMarker), true).close()
  }

  /** ES restore API: adopt a committed snapshot as the index's new
    * ACTIVE version — copy into a fresh staging version dir, then the
    * same atomic pointer repoint every build/compaction commit uses.
    * A reader mid-query keeps its resolved pre-restore version (the
    * reader-isolation guarantee); a crash mid-copy leaves an orphan
    * v-dir and the old version serving. Refuses a snapshot without
    * its [[SnapshotMarker]] LOUDLY — a partial backup must never
    * become the serving truth. */
  def restoreIndex(spark: SparkSession, snapDir: String,
      indexDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(snapDir)
    // snapshot store and index may be different filesystems (s3a
    // backup, hdfs serving) — resolve a handle per side
    val srcFs = src.getFileSystem(conf)
    val dstFs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(conf)
    if (!srcFs.exists(new org.apache.hadoop.fs.Path(src, SnapshotMarker)))
      throw new IllegalStateException(
        s"restoreIndex: $snapDir has no $SnapshotMarker — incomplete " +
          "or crashed snapshot; refuse to serve a partial backup")
    // resolve the OUTGOING version BEFORE the repoint — it must be
    // retained one generation for in-flight readers
    val prevRoot = indexRoot(spark, indexDir)
    val ver = nextVersion(dstFs, indexDir)
    val dst = new org.apache.hadoop.fs.Path(s"$indexDir/$ver")
    dstFs.mkdirs(dst)
    srcFs.listStatus(src).foreach { st =>
      if (st.getPath.getName != SnapshotMarker)
        org.apache.hadoop.fs.FileUtil.copy(srcFs, st.getPath, dstFs,
          new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
          false, conf)
    }
    commitPointer(spark, indexDir, ver)
    val keepPrev =
      if (prevRoot == indexDir)
        Set("postings", "doclen", "docmeta", "tombstones", "stored")
      else Set(prevRoot.split('/').last)
    pruneVersions(spark, indexDir, Set(ver) ++ keepPrev)
  }

  /** The index's table dirs, for lifecycle ops that enumerate them.
    * `stored` (the `_source` fetch store) replicates and compacts with
    * the rest; reads treat it as optional so pre-stored snapshots
    * still serve ranked queries. */
  private val IndexTables = Seq("postings", "doclen", "docmeta", "stored")

  /** Cross-cluster replication, the follower side: bring `dstDir` up
    * to date with `srcDir` by EPOCH DELTA — admission screening
    * guarantees a doc_id lives in exactly one epoch, so epochs are
    * immutable once written and replication is copying the epoch
    * partitions (and tombstone epochs) the follower lacks. When the
    * primary's history no longer covers the follower's (a compaction
    * or purge rewrote epochs), falls back to FULL resync: adopt a
    * complete copy of the primary's active version via the same
    * atomic pointer repoint restore uses — exactly Lucene/ES CCR's
    * file-based recovery when operation history is lost. Incremental
    * copies stage under an underscore-prefixed dir (invisible to
    * parquet listing) and land by rename, so a crash mid-sync leaves
    * the follower serving its previous consistent state. */
  def syncIndex(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val srcRoot = requireIndex(spark, srcDir)
    val fs = new org.apache.hadoop.fs.Path(dstDir).getFileSystem(conf)
    // resolve a FileSystem PER PATH: primary and follower may live on
    // different filesystems (hdfs primary, s3a follower) — one handle
    // reused across both breaks there
    def epochsOf(root: String, table: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$table")
      val pfs = p.getFileSystem(conf)
      if (!pfs.exists(p)) Set.empty
      else pfs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("epoch=")).toSet
    }
    def fullResync(): Unit = {
      val ver = nextVersion(fs, dstDir)
      val dst = new org.apache.hadoop.fs.Path(s"$dstDir/$ver")
      fs.mkdirs(dst)
      val srcPath = new org.apache.hadoop.fs.Path(srcRoot)
      srcPath.getFileSystem(conf).listStatus(srcPath).foreach { st =>
        if (!st.getPath.getName.startsWith(CurrentPointer))
          org.apache.hadoop.fs.FileUtil.copy(st.getPath.getFileSystem(conf),
            st.getPath, fs,
            new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
            false, conf)
      }
      val prev = indexRoot(spark, dstDir)
      commitPointer(spark, dstDir, ver)
      val keepPrev =
        if (prev == dstDir) IndexTables.toSet + "tombstones"
        else Set(prev.split('/').last)
      pruneVersions(spark, dstDir, Set(ver) ++ keepPrev)
    }
    val bootstrapped = fs.exists(
      new org.apache.hadoop.fs.Path(s"$dstDir/$CurrentPointer")) ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$dstDir/postings"))
    if (!bootstrapped) { fullResync(); return }
    val dstRoot = requireIndex(spark, dstDir)
    // history check: the primary must still hold every epoch the
    // follower has (per table) — else its epochs were rewritten
    val covered = IndexTables.forall(t =>
      epochsOf(dstRoot, t).subsetOf(epochsOf(srcRoot, t)))
    if (!covered) { fullResync(); return }
    IndexTables.foreach { t =>
      val missing = epochsOf(srcRoot, t) -- epochsOf(dstRoot, t)
      missing.foreach { ep =>
        val src = new org.apache.hadoop.fs.Path(s"$srcRoot/$t/$ep")
        val stage = new org.apache.hadoop.fs.Path(
          s"$dstRoot/$t/_sync_${ep.replace("=", "_")}")
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dstRoot/$t"))
        org.apache.hadoop.fs.FileUtil.copy(
          src.getFileSystem(conf), src, fs, stage, false, conf)
        if (!fs.rename(stage,
            new org.apache.hadoop.fs.Path(s"$dstRoot/$t/$ep")))
          throw new IllegalStateException(
            s"syncIndex: failed to land epoch $ep for $t at $dstRoot")
      }
    }
    // tombstones replicate by FULL GENERATION REPLACE, not epoch
    // delta: epoch reuse legally UNIONS victims into an existing
    // tombstone partition (deleteFromSearchIndex), so tombstone
    // epochs are not immutable and a name-match must not be trusted.
    // The synced set lands in a fresh tombstones_g… dir and the
    // _tombstones pointer flips via the same rename-OVERWRITE every
    // version commit uses — so EVERY crash window leaves exactly one
    // committed set visible: the old until the pointer flips, the new
    // after. (A rename-aside swap has a between-renames window with
    // NO set visible; a crash there would serve deleted docs until
    // the next sync — a deletion-safety regression this replaces.)
    val srcTomb = new org.apache.hadoop.fs.Path(tombDir(spark, srcRoot))
    if (srcTomb.getFileSystem(conf).exists(srcTomb)) {
      val gen = nextTombGen(fs, dstRoot)
      val stage = new org.apache.hadoop.fs.Path(s"$dstRoot/$gen")
      org.apache.hadoop.fs.FileUtil.copy(
        srcTomb.getFileSystem(conf), srcTomb, fs, stage, false, conf)
      val prevName = new org.apache.hadoop.fs.Path(tombDir(spark, dstRoot))
        .getName
      commitPointerFile(spark, s"$dstRoot/$TombPointer", gen)
      // retain the superseded set ONE generation for in-flight
      // readers that resolved it before the flip (the pruneVersions
      // discipline); reclaim everything older
      fs.listStatus(new org.apache.hadoop.fs.Path(dstRoot)).foreach { st =>
        val n = st.getPath.getName
        val isTomb = n == "tombstones" ||
          TombGenRe.pattern.matcher(n).matches()
        if (isTomb && n != gen && n != prevName) fs.delete(st.getPath, true)
      }
    }
  }

  /** Delete superseded layouts under `indexDir`, RETAINING `keep` (the
    * just-committed version plus the immediately-previous root): an
    * in-flight reader resolved the pointer before the repoint and is
    * still scanning the previous version's files — Lucene's
    * keep-segments-until-readers-release, bounded at one generation
    * (the next maintenance pass reclaims it). */
  private def pruneVersions(spark: SparkSession, indexDir: String,
      keep: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val flat = Set("postings", "doclen", "tombstones", "stored")
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      val prunable = n match {
        case VersionRe(_) => !keep.contains(n)
        case _ => flat.contains(n) && !keep.contains(n)
      }
      if (prunable) fs.delete(st.getPath, true)
    }
  }

  /** Build the inverted index for the corpus at `dir` under `outDir` —
    * the engine-side form of the daily index the reference maintains in
    * ES (es.go:160-213 bulk-indexes exactly this: per-document term
    * postings + lengths). Layout (versioned — see [[CurrentPointer]]):
    *
    *   outDir/_current                      → names the active version
    *   outDir/v…/postings/epoch=…/b=…/      (tok, doc_id, tf, positions)
    *   outDir/v…/doclen/epoch=…/            (doc_id, dl)
    *
    * The new version's tables are invisible until the pointer names
    * them, so a crash mid-build leaves any previous committed version
    * serving untouched (an orphan v-dir remains; the next commit's
    * prune reclaims it) and a crash after the pointer write is a
    * completed build. The previous version is retained one generation
    * for in-flight readers ([[pruneVersions]]).
    *
    * Shape at 100 TB: postings are one explode + map-side-combined
    * (doc, tok) count — the same one shuffle every tokenizing
    * aggregate here pays; doclen is a narrow projection. Nothing
    * corpus-sized returns to the driver. */
  def buildSearchIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    buildSearchIndexOf(Tables.documentsPar(spark, dir), outDir)

  /** [[buildSearchIndex]] over an arbitrary documents frame — the test
    * seam and the streaming-build entry. */
  def buildSearchIndexOf(docs: DataFrame, outDir: String): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val prev = indexRoot(spark, outDir)
    val ver = nextVersion(fs, outDir)
    writeEpoch(docs, s"$outDir/$ver", "base")
    commitPointer(spark, outDir, ver)
    val keepPrev =
      if (prev == outDir) Set("postings", "doclen", "tombstones", "stored")
      else Set(prev.split('/').last)
    pruneVersions(spark, outDir, Set(ver) ++ keepPrev)
  }

  /** Append a batch of documents to an existing index as epoch
    * `epoch`. Idempotent under replay: every table partitions by
    * epoch and a re-append REPLACES the epoch's partitions instead of
    * duplicating rows — the [[graft.streaming.IngestPipeline]] K1
    * sink contract, applied to the index.
    *
    * Unlike a build (whole-version pointer isolation) an append lands
    * in the LIVE resolved version, so it stages first: all three
    * tables' epoch data is written under an underscore dir (invisible
    * to parquet listing), then lands by per-table rename ordered
    * postings → doclen → docmeta. A reader between renames can see
    * the epoch's postings without its doclen rows — those docs join
    * away as candidates and the term dfs briefly lead N/Σdl, nudging
    * scores DOWN uniformly — but stats never lead postings (the
    * inverse window would inflate N/Σdl against docs that cannot
    * match at all). A crash mid-staging leaves the live tables
    * untouched; a crash mid-landing is repaired by re-running the
    * same append, which converges the epoch to exactly-once state.
    * (The per-epoch replace on replay is delete+rename — the only
    * non-atomic window left, and it exists only while repairing or
    * rewriting that one epoch.) */
  def appendToSearchIndex(spark: SparkSession, indexDir: String,
      docs: DataFrame, epoch: String): Unit = {
    val root = indexRoot(spark, indexDir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stage = s"$root/_append_$epoch"
    writeEpoch(docs, stage, epoch)
    // stored lands LAST: a crash window can leave a new epoch ranked
    // but momentarily unfetchable, never fetchable-but-unranked
    Seq("postings", "doclen", "docmeta", "stored").foreach { t =>
      val src = new org.apache.hadoop.fs.Path(s"$stage/$t/epoch=$epoch")
      val dstDir = new org.apache.hadoop.fs.Path(s"$root/$t")
      val dst = new org.apache.hadoop.fs.Path(dstDir, s"epoch=$epoch")
      fs.mkdirs(dstDir)
      if (fs.exists(dst)) fs.delete(dst, true)
      // a zero-row table (e.g. postings of an all-empty-text batch)
      // stages no partition dir — landing it is just the delete above
      if (fs.exists(src) && !fs.rename(src, dst))
        throw new IllegalStateException(
          s"appendToSearchIndex: failed to land epoch $epoch for $t " +
            s"at $root")
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** The mapping's KEYWORD (doc-values) fields — stored doc-grain in
    * the index's `docmeta` table so facet aggregations serve without
    * touching the corpus (Lucene doc values; reference mapping.json
    * declares `lang`/`source`-style keyword fields alongside the text
    * fields). A build whose input lacks one stores null for it — the
    * dynamic-mapping convention, so curated batches and raw corpus
    * builds share one schema. */
  val DocValueFields: Seq[String] = Seq("lang", "source", "persist_date")

  /** NUMERIC doc-values stored alongside the keyword fields — typed
    * long, so a DSL `range`/`term` on them served from `docmeta`
    * compares integers exactly as the scan path does (a string cast
    * would order lexicographically and silently mis-filter). */
  val NumDocValueFields: Seq[String] = Seq("n_chars")

  /** NESTED doc-values — the reference mapping's `tags`
    * array<struct<type,value>> (mapping.json:41-56), stored doc-grain
    * in docmeta so a served `nested` query is a pure doc-values
    * filter (Lucene keeps nested docs in the same segment block for
    * exactly this locality). Null array when the build's input lacks
    * it — the dynamic-mapping convention, keeping one docmeta schema
    * across epochs. */
  val NestedDocValueFields: Seq[String] = Seq("tags")
  private val TagsType = "array<struct<type:string,value:string>>"

  /** The deterministic ingest date: the reference stamps documents
    * with `persist_time = now()` at index time (model.go:30) and
    * names its daily index from it (es.go:79-81); `now()` is not
    * oracle-able (the `ingest_enrich` rows-only stance), so the
    * engine's REGISTERED daily layout derives the date from doc_id —
    * [[PersistDays]] consecutive days from [[PersistEpoch]] — which
    * both engines reproduce bit-identically. The daily-index build,
    * the alias-target search, and the DSL date_histogram all key on
    * this one column. */
  val PersistEpoch = "2026-01-01"
  val PersistDays = 3

  def withPersistDate(docs: DataFrame): DataFrame =
    docs.withColumn("persist_date",
      date_add(to_date(lit(PersistEpoch)),
        (col("doc_id") % PersistDays).cast("int")))

  /** The oracle-side relation of [[withPersistDate]]. */
  val PersistDateRel: String =
    s"(SELECT *, DATE '$PersistEpoch' + CAST(doc_id % $PersistDays AS INT) " +
      "AS persist_date FROM documents)"

  /** One index family's declared layout: its data columns, then the
    * partition columns its directories encode. */
  private[graft] case class IndexFamily(data: StructType, parts: StructType) {
    def schema: StructType = StructType(data.fields ++ parts.fields)
  }

  /** The declared schema of every index family, declared once: the
    * writers ([[writeEpoch]], compaction, deletes) conform to it and
    * [[indexTable]] reads with it, so no read infers a schema from
    * parquet footers. Every column is nullable, as a footer-inferred
    * read reports it. */
  private[graft] val IndexFamilies: Map[String, IndexFamily] = {
    val epoch = StructType.fromDDL("epoch STRING")
    def fam(ddl: String) = IndexFamily(StructType.fromDDL(ddl), epoch)
    Map(
      "postings" -> IndexFamily(StructType.fromDDL(
        "tok STRING, doc_id BIGINT, field STRING, tf BIGINT, positions ARRAY<INT>"),
        StructType.fromDDL("epoch STRING, b INT")),
      "doclen" -> fam("doc_id BIGINT, field STRING, dl BIGINT"),
      "docmeta" -> fam((Seq("doc_id BIGINT") ++
        DocValueFields.map(f => s"$f STRING") ++
        NumDocValueFields.map(f => s"$f BIGINT") ++
        NestedDocValueFields.map(f => s"$f $TagsType")).mkString(", ")),
      "stored" -> fam("doc_id BIGINT, text STRING"),
      "tombstones" -> fam("doc_id BIGINT"))
  }

  /** Write `df` as `family` at `path`: its declared columns that `df`
    * carries, cast to the declared types, partitioned by the declared
    * partition columns; dynamic overwrite replaces only the partitions
    * written (the epoch-keyed idempotence every writer relies on). */
  private def writeFamily(df: DataFrame, family: String, path: String): Unit = {
    val fam = IndexFamilies(family)
    df.select(fam.schema.fields.toSeq.filter(f => df.columns.contains(f.name))
        .map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(fam.parts.fieldNames.toSeq: _*).parquet(path)
  }

  private def writeEpoch(docs: DataFrame, root: String, epoch: String): Unit = {
    import docs.sparkSession.implicits._
    def write(df: DataFrame, family: String): Unit =
      writeFamily(df.withColumn("epoch", lit(epoch)), family, s"$root/$family")
    // every declared doc-value field; null when the input lacks it
    write(docs.select(IndexFamilies("docmeta").data.fieldNames.toSeq.map(c =>
      if (docs.columns.contains(c)) col(c) else lit(null).as(c)): _*),
      "docmeta")
    // stored fields — ES's `_source`: the fetch phase (highlight,
    // response bodies) reads THIS, never the live corpus, so serving
    // is decoupled from the source-of-truth table. Fetch is always a
    // page-sized broadcast join into a doc_id-pruned read.
    write(docs.select($"doc_id", $"text"), "stored")
    // ONE corpus scan: the field dimension explodes from a 2-entry map
    // per doc (no union — a union of two projections would scan the
    // input once per branch)
    val fields = docs
      .select($"doc_id", explode(map(
        lit(DefaultField), TextAnalysis.toks($"text"),
        lit(HeadField), slice(TextAnalysis.toks($"text"), 1, HeadLen)))
        .as(Seq("field", "toks")))
    write(fields.select($"doc_id", $"field",
      size($"toks").cast("long").as("dl")), "doclen")
    // POSITIONAL postings (what ES/Lucene store): tf for ranked
    // queries, the sorted 0-based position list for phrase queries —
    // both from the one posexplode + map-side-combined aggregate
    write(fields.select($"doc_id", $"field", posexplode($"toks").as(Seq("pos", "tok")))
      .groupBy($"doc_id", $"field", $"tok")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list($"pos")).as("positions"))
      .withColumn("b", tokBucketCol($"tok")), "postings")
  }

  /** Phrase match served FROM the index: for phrase (w1, w2), join the
    * two terms' postings by doc and count adjacent position pairs —
    * |{p ∈ positions(w1) : p+1 ∈ positions(w2)}|, exactly the
    * adjacency count [[matchPhrase]] computes by regex over the text
    * (positions are distinct by construction, so the array intersect
    * is the pair count). SearchSpec pins bit-equality.
    *
    * Shape at 100 TB: two pruned postings reads (≤ 2 of
    * [[IndexBuckets]] partitions + pushed term filters), one doc_id
    * equi-join between them (each side is that term's df, not the
    * corpus), a narrow array intersect per candidate — the corpus
    * text is never touched, the entire point of positional postings. */
  def phraseWithIndex(spark: SparkSession, indexDir: String,
      phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val Seq(w1, w2) = phrase
    val post = indexTable(spark, Seq(root), "postings",
        Some(phrase.map(tokBucket)))
      .filter($"field" === DefaultField)
    val p1 = post.filter($"tok" === w1)
      .select($"doc_id", $"positions".as("p1"))
    val p2 = post.filter($"tok" === w2)
      .select($"doc_id", $"positions".as("p2"))
    p1.join(p2, "doc_id")
      .join(indexTable(spark, Seq(root), "tombstones"), Seq("doc_id"),
        "left_anti")
      .select($"doc_id",
        size(array_intersect(transform($"p1", p => p + 1), $"p2"))
          .as("n_occur"))
      .filter($"n_occur" > 0)
      .orderBy($"doc_id")
  }

  /** Registered query: [[matchPhrase]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def phraseServed(spark: SparkSession, dir: String): DataFrame =
    phraseWithIndex(spark, sharedIndexDir(spark, dir), PhraseTerms)

  /** Registered query: [[moreLikeThis]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def mltServed(spark: SparkSession, dir: String): DataFrame =
    moreLikeThisWithIndex(spark, sharedIndexDir(spark, dir),
      MltSourceDoc, MltTerms, MltTopK)

  /** BM25 served FROM the index — the corpus text is never touched.
    * Exactly [[bm25TopK]]'s output, bit-for-bit: the tf pivot
    * (fixed-order conditional sums per query term), the df/N/Σdl
    * statistics, and the shared [[bm25Score]] expression reproduce the
    * scan path's arithmetic on the same integers.
    *
    * Shape at 100 TB: the postings scan prunes to the ≤ k(terms) of
    * [[IndexBuckets]] partitions holding the query's terms, then
    * row-filters to the terms themselves (pushed to parquet); the
    * per-doc tf pivot is one map-side-combined aggregate over those
    * postings only; doclen joins by doc_id for the candidates
    * (shuffle hash join — candidates are term-df-sized, not
    * corpus-sized); N/Σdl and the per-term dfs are two 1-row
    * broadcast aggregates. Query cost scales with the query terms'
    * document frequency — independent of corpus breadth, which is the
    * entire point of an inverted index. */
  /** Loud integrity gate: an index missing either table (a build that
    * never committed its pointer, or a hand-deleted half) must fail
    * with the problem named, never rank against silently-absent
    * normalization state — the funnel.meta / `_codebooks` refusal
    * stance applied to the search artifact. Returns the RESOLVED
    * version root, which every caller then uses for all of its reads —
    * one resolution per query, so a concurrent repoint cannot hand a
    * single query two different versions. */
  private[ops] def requireIndex(spark: SparkSession, indexDir: String): String = {
    val root = indexRoot(spark, indexDir)
    val hconf = spark.sessionState.newHadoopConf()
    Seq("postings", "doclen", "docmeta").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$t")
      if (!p.getFileSystem(hconf).exists(p))
        throw new IllegalStateException(
          s"search index at $indexDir has no $t table (active root " +
            s"$root) — incomplete build or partial delete; re-run " +
            "buildSearchIndex")
    }
    root
  }

  def searchWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"score".desc, $"doc_id")
    scoredFromIndex(spark, requireIndex(spark, indexDir), terms)
      .filter($"n_matched" > 0)
      .orderBy($"score".desc, $"doc_id").limit(k)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  /** Matched-candidate frame (doc_id, dl, tf_total, n_matched, score)
    * served from a RESOLVED version root — the shared scoring core of
    * [[searchWithIndex]] and [[searchAfterWithIndex]] (the same
    * frame, so a page-2 keyset filter compares against bit-identical
    * doubles). Cost shape documented at [[searchWithIndex]]. */
  private def scoredFromIndex(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame =
    scoredFromIndexes(spark, Seq(root), terms)

  /** The multi-index generalization: postings, lengths, and tombstones
    * UNION across the resolved roots and the corpus statistics
    * (N, Σdl, per-term df) derive from the union — so a query across
    * k indices ranks exactly as if their documents lived in ONE index
    * (SearchSpec pins the bit-equality). This is how ES serves an
    * alias or `idx1,idx2` target: per-shard statistics merge into
    * global ones before scoring. Assumes the admission-screening
    * contract every index here is built under — a doc_id lives in
    * exactly one index — so the union never double-counts a document.
    *
    * Shape at 100 TB: the per-index reads keep their pruning (one
    * [[indexTable]] relation over every member's bucket-pruned
    * listing, term filters pushed to parquet),
    * the stats stay two 1-row broadcast aggregates over the union, and
    * candidates stay term-df-sized. Cost is the sum of the per-index
    * query costs — independent of how many OTHER indices exist, which
    * is why daily-index layouts page this way. */
  private def scoredFromIndexes(spark: SparkSession, roots: Seq[String],
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val post = indexTable(spark, roots, "postings", Some(terms.map(tokBucket)))
      .filter($"tok".isin(terms: _*) && $"field" === DefaultField)
      .select($"tok", $"doc_id", $"tf")
    val doclen = indexTable(spark, roots, "doclen")
      .filter($"field" === DefaultField)
      .select($"doc_id", $"dl")
    val dead = indexTable(spark, roots, "tombstones")
    // the merged statistics are only correct under the disjointness
    // contract (one index per doc_id) — ENFORCE it on the aggregate
    // the query already pays for, folded into n so the score
    // expressions evaluate it: an overlapping member pair refuses
    // loudly at execution instead of silently double-counting df/N
    val stats =
      if (roots.size == 1)
        doclen.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
      else doclen
        .agg(count(lit(1)).as("cnt"), countDistinct($"doc_id").as("nd"),
          sum($"dl").as("sumdl"))
        .select(
          when($"cnt" === $"nd", $"cnt").otherwise(
            raise_error(concat(
              lit("searchAcrossIndexes: member indices overlap on " +
                "doc_id — "), ($"cnt" - $"nd").cast("string"),
              lit(" duplicated docs; indices must partition the corpus")))
              .cast("long")).as("n"),
          $"sumdl")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when($"tok" === t, 1)).as(s"df${i + 1}")
    }
    val dfs = post.agg(dfCols.head, dfCols.tail: _*)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when($"tok" === t, $"tf")), lit(0L)).cast("int")
        .as(s"tf${i + 1}")
    }
    val cand = post.groupBy($"doc_id").agg(tfCols.head, tfCols.tail: _*)
      .join(dead, Seq("doc_id"), "left_anti")
    cand.join(doclen, "doc_id")
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .select($"doc_id", $"dl", tfTotalCol(terms.size).as("tf_total"),
        nMatchedCol(terms.size).as("n_matched"), bm25Score(terms.size).as("score"))
  }

  /** ES multi-index search (`GET /idx1,idx2/_search`, or an alias
    * spanning daily indices): rank across every given index under the
    * MERGED statistics — see [[scoredFromIndexes]]. Each root resolves
    * once, so a concurrent repoint of any member cannot tear the
    * query. */
  def searchAcrossIndexes(spark: SparkSession, indexDirs: Seq[String],
      terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    require(indexDirs.nonEmpty, "searchAcrossIndexes: no indices given")
    val roots = indexDirs.map(requireIndex(spark, _))
    val w = Window.orderBy($"score".desc, $"doc_id")
    scoredFromIndexes(spark, roots, terms)
      .filter($"n_matched" > 0)
      .orderBy($"score".desc, $"doc_id").limit(k)
      .withColumn("rk", row_number().over(w))
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  // ------------------------------------------------- search_after paging

  /** ES `search_after`: deep pagination by KEYSET, not offset — the
    * client hands back the last hit's sort values `(score, doc_id)`
    * and the next page is every candidate strictly after that cursor
    * in the total order (score desc, doc_id asc), cut to `k`. The
    * sort is TOTAL (doc_id breaks score ties), so keyset paging is
    * exact: page k ∪ page k+1 ≡ top-2k (SearchSpec pins it), with no
    * missed or duplicated hits even when scores tie across the
    * boundary. `baseRank` offsets the emitted rk so a continuation
    * page reports absolute ranks.
    *
    * Shape at 100 TB: identical to [[searchWithIndex]] — the keyset
    * predicate filters BEFORE the top-k, so deep pages never
    * materialize the skipped prefix (the whole point: an OFFSET plan
    * would sort-and-discard `baseRank` rows per page; keyset cost is
    * rank-independent). The cursor comparison re-computes scores with
    * the exact shared expressions of page 1, so the `===` on doubles
    * is bit-exact by construction, not by tolerance. */
  def searchAfterWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int, afterScore: Double, afterDoc: Long,
      baseRank: Int): DataFrame =
    pageAfter(spark, scoredFromIndex(spark,
      requireIndex(spark, indexDir), terms), k, afterScore, afterDoc,
      baseRank)

  /** [[searchAfterWithIndex]] across MANY indices (an alias's daily
    * members): keyset paging over [[scoredFromIndexes]]' merged-
    * statistics frame — the cursor comparison re-computes the same
    * bit-exact doubles whichever member a candidate lives in, so a
    * page can span indices without missed or duplicated hits. */
  def searchAfterAcrossIndexes(spark: SparkSession, indexDirs: Seq[String],
      terms: Seq[String], k: Int, afterScore: Double, afterDoc: Long,
      baseRank: Int): DataFrame = {
    require(indexDirs.nonEmpty, "searchAfterAcrossIndexes: no indices given")
    pageAfter(spark, scoredFromIndexes(spark,
      indexDirs.map(requireIndex(spark, _)), terms), k, afterScore,
      afterDoc, baseRank)
  }

  private def pageAfter(spark: SparkSession, scored: DataFrame, k: Int,
      afterScore: Double, afterDoc: Long, baseRank: Int): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"score".desc, $"doc_id")
    scored
      .filter($"n_matched" > 0)
      .filter($"score" < afterScore ||
        ($"score" === afterScore && $"doc_id" > afterDoc))
      .orderBy($"score".desc, $"doc_id").limit(k)
      .withColumn("rk", row_number().over(w) + lit(baseRank))
      .select($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl")
      .orderBy($"rk")
  }

  /** The cursor a client would carry between pages: the k-th hit's
    * (score, doc_id) — the LAST row of page 1 in the total order,
    * fetched as the 1-row tail aggregate (total order reversed, limit
    * 1). None when fewer than k docs match (no further pages). The
    * single-row collect IS the protocol: ES returns the sort values
    * in the response and the client echoes them back — driver-sized
    * by definition, never a data-plane collect. */
  def searchCursor(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int): Option[(Double, Long)] =
    cursorOf(spark, scoredFromIndex(spark,
      requireIndex(spark, indexDir), terms), k)

  /** [[searchCursor]] across many indices — page 1's tail under the
    * merged statistics. */
  def searchCursorAcross(spark: SparkSession, indexDirs: Seq[String],
      terms: Seq[String], k: Int): Option[(Double, Long)] = {
    require(indexDirs.nonEmpty, "searchCursorAcross: no indices given")
    cursorOf(spark, scoredFromIndexes(spark,
      indexDirs.map(requireIndex(spark, _)), terms), k)
  }

  private def cursorOf(spark: SparkSession, scored: DataFrame,
      k: Int): Option[(Double, Long)] = {
    import spark.implicits._
    // ONE job: the page is bounded by limit(k), so collecting it and
    // reading both the row count and the tail from the array costs k
    // driver rows — running a separate count() would re-execute the
    // whole index-scoring pipeline a second time per cursor fetch
    val rows = scored
      .filter($"n_matched" > 0)
      .orderBy($"score".desc, $"doc_id").limit(k)
      .select($"score", $"doc_id").collect()
    if (rows.length < k) None
    else Some((rows.last.getDouble(0), rows.last.getLong(1)))
  }

  /** Registered query: page TWO of the [[bm25Served]] ranking via
    * [[searchAfterWithIndex]] — cursor from [[searchCursor]] (page
    * 1's last hit), emitting absolute ranks [[TopK]]+1..2·[[TopK]].
    * The ORACLE deliberately computes the page by global ROW_NUMBER
    * offset instead: keyset ≡ offset under a total order is exactly
    * the invariant `search_after` promises, so the oracle-green here
    * is the pagination-correctness proof itself. */
  def searchAfter(spark: SparkSession, dir: String): DataFrame = {
    val idx = sharedIndexDir(spark, dir)
    // the cursor fetch (page 1's tail, a bounded collect — the ES
    // protocol) and the page-2 frame are TWO actions over the same
    // scored pipeline; without a barrier each re-ran the whole
    // index-scoring lineage (postings + doclen + stats + dfs).
    // persist(DISK_ONLY, lineage kept, ring-released — the aggsOver
    // convention): the frame is candidate-grain integers, and the
    // keyset comparison now reads bit-identical doubles from the same
    // materialized rows (guide §2.4).
    val scored = Dsl.trackPersist(
      scoredFromIndex(spark, requireIndex(spark, idx), QueryTerms)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val (s, d) = cursorOf(spark, scored, TopK)
      .getOrElse(throw new IllegalStateException(
        s"search_after: fewer than $TopK matches — no second page"))
    pageAfter(spark, scored, TopK, s, d, TopK)
  }

  val searchAfterSql: String =
    s"""WITH ${bm25Ctes(QueryTerms)},
       |r AS (SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
       |        doc_id, n_matched, tf_total, dl
       |      FROM sc WHERE n_matched > 0)
       |SELECT rk, doc_id, n_matched, tf_total, dl FROM r
       |WHERE rk > $TopK AND rk <= ${2 * TopK}
       |ORDER BY rk""".stripMargin

  /** [[bm25Multifield]] served FROM the index — the per-field postings
    * and lengths are read back (bucket-pruned to the query terms, term
    * filter pushed to parquet), pivoted to the per-field tf/df/dl
    * columns, and ranked by the shared [[mfRank]] expressions ⇒
    * bit-identical to the scan path (SearchSpec pins it). Same cost
    * shape as [[searchWithIndex]] — candidates are term-df-sized, the
    * two stats rows broadcast. */
  def multifieldWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val post = indexTable(spark, Seq(root), "postings",
        Some(terms.map(tokBucket)))
      .filter($"tok".isin(terms: _*))
    val doclen = indexTable(spark, Seq(root), "doclen")
    val stats = doclen.agg(
      count(when($"field" === DefaultField, 1)).as("n"),
      sum(when($"field" === DefaultField, $"dl")).as("sumdlb"),
      sum(when($"field" === HeadField, $"dl")).as("sumdlh"))
    val dfCols =
      terms.zipWithIndex.map { case (t, i) =>
        count(when($"tok" === t && $"field" === DefaultField, 1)).as(s"dfb${i + 1}")
      } ++ terms.zipWithIndex.map { case (t, i) =>
        count(when($"tok" === t && $"field" === HeadField, 1)).as(s"dfh${i + 1}")
      }
    val dfs = post.agg(dfCols.head, dfCols.tail: _*)
    val tfCols =
      terms.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when($"tok" === t && $"field" === DefaultField, $"tf")),
          lit(0L)).cast("int").as(s"tfb${i + 1}")
      } ++ terms.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when($"tok" === t && $"field" === HeadField, $"tf")),
          lit(0L)).cast("int").as(s"tfh${i + 1}")
      }
    val cand = post.groupBy($"doc_id").agg(tfCols.head, tfCols.tail: _*)
      .join(indexTable(spark, Seq(root), "tombstones"), Seq("doc_id"),
        "left_anti")
    // the per-doc field-length pivot runs AFTER the candidate join, so
    // the groupBy aggregates candidate-grain rows (term-df-sized), not
    // the corpus-grain doclen table — the join prunes, then the pivot
    // folds the ≤2 field rows per candidate
    val candDl = cand
      .join(doclen.select($"doc_id", $"field", $"dl"), "doc_id")
      .groupBy(($"doc_id" +: (0 until 2 * terms.size).map(i =>
        if (i < terms.size) col(s"tfb${i + 1}")
        else col(s"tfh${i - terms.size + 1}"))): _*)
      .agg(sum(when($"field" === DefaultField, $"dl")).as("dlb"),
        sum(when($"field" === HeadField, $"dl")).as("dlh"))
    mfRank(candDl
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfs)),
      terms.size, k)
  }

  /** Registered query: [[bm25Multifield]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def multifieldServed(spark: SparkSession, dir: String): DataFrame =
    multifieldWithIndex(spark, sharedIndexDir(spark, dir), QueryTerms, TopK)

  // ------------------------------- index-served facets / sig-terms

  /** The query's MATCH SET from bucket-pruned postings: distinct
    * doc_ids carrying any query term — term-df-sized, the index-side
    * form of the scan paths' any-term predicate. */
  private def matchedFromIndex(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    indexTable(spark, Seq(root), "postings", Some(terms.map(tokBucket)))
      .filter($"tok".isin(terms: _*) && $"field" === DefaultField)
      .select($"doc_id").distinct()
  }

  /** [[searchFacets]] served FROM the index: the match set comes from
    * bucket-pruned postings (term-df-sized — SearchSpec proves the
    * bytes read) and the (lang, source) facet values from the
    * `docmeta` doc-values table — the corpus text is never touched,
    * which is exactly how Lucene serves aggregations (doc values, not
    * stored source). Tombstoned docs are excluded like every serving
    * path.
    *
    * Shape at 100 TB: postings read prunes to the query terms'
    * buckets + pushed term filter; docmeta is doc-grain and
    * column-pruned to (doc_id, facet fields); the inner join keys on
    * doc_id with the df-bounded match set (shuffle-hash — no
    * unbounded broadcast), and the facet aggregate is map-side
    * combined at (lang × source) grain. */
  def facetsWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String]): DataFrame =
    facetsAcrossIndexes(spark, Seq(indexDir), terms)

  /** [[facetsWithIndex]] across MANY indices (the alias's daily
    * members): match sets, tombstones, and doc-values all union, and
    * the bucket counts aggregate over the union — under the
    * disjointness contract each doc counts once, so the report equals
    * the single-corpus facets exactly (the correctness gate proves it
    * per run: this serves the same oracle as the scan path). */
  def facetsAcrossIndexes(spark: SparkSession, indexDirs: Seq[String],
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    require(indexDirs.nonEmpty, "facetsAcrossIndexes: no indices given")
    val roots = indexDirs.map(requireIndex(spark, _))
    val matched = indexTable(spark, roots, "postings",
        Some(terms.map(tokBucket)))
      .filter($"tok".isin(terms: _*) && $"field" === DefaultField)
      .select($"doc_id").distinct()
      .join(indexTable(spark, roots, "tombstones"), Seq("doc_id"),
        "left_anti")
    // refuse loudly if a stale member's docmeta predates a facet
    // column: the declared schema would null-fill it
    requireFamilyColumns(spark, roots, "docmeta", Seq("lang", "source"))
    indexTable(spark, roots, "docmeta")
      .select($"doc_id", $"lang", $"source")
      .join(matched, "doc_id")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"source")
  }

  /** Registered query: [[searchFacets]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def facetsServed(spark: SparkSession, dir: String): DataFrame =
    facetsWithIndex(spark, sharedIndexDir(spark, dir), QueryTerms)

  /** [[significantTerms]] served FROM the index: per-token foreground/
    * background occurrence counts are SUMS OF POSTINGS TF split by
    * match-set membership — the scan path's exploded-token counts
    * without re-tokenizing a byte of text — then ranked by the shared
    * [[TextAnalysis.chiSquareOfCounts]] expressions, so the chi2
    * doubles are bit-identical to the scan path (SearchSpec pins it).
    * Tombstoned docs drop out of BOTH sides before counting, so the
    * report never attributes vocabulary to deleted content.
    *
    * Shape at 100 TB: the full postings read is inherent — the
    * background side IS the corpus vocabulary (same volume the scan
    * path explodes, minus the regex work); the membership flag joins
    * doc-keyed against the df-bounded match set, and the counts
    * aggregate is map-side combined at vocab grain. */
  def significantTermsWithIndex(spark: SparkSession, indexDir: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val live = indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
      .select($"doc_id", $"tok", $"tf")
      .join(indexTable(spark, Seq(root), "tombstones"), Seq("doc_id"),
        "left_anti")
    val matched = matchedFromIndex(spark, root, terms)
      .withColumn("in_a", lit(true))
    val counts = live.join(matched, Seq("doc_id"), "left")
      .groupBy($"tok")
      .agg(coalesce(sum(when($"in_a", $"tf")), lit(0L)).as("c_a"),
        coalesce(sum(when($"in_a".isNull, $"tf")), lit(0L)).as("c_b"))
      .select($"tok".as("token"), $"c_a", $"c_b")
    TextAnalysis.chiSquareOfCounts(counts)
  }

  /** Registered query: [[significantTerms]] SERVED from the
    * session-shared index — oracle-checked against the same SQL as
    * the scan path. */
  def significantTermsServed(spark: SparkSession, dir: String): DataFrame =
    significantTermsWithIndex(spark, sharedIndexDir(spark, dir), QueryTerms)

  /** [[fuzzyMatch]] served FROM the index — Lucene's actual fuzzy
    * shape: the Levenshtein automaton walks the TERM DICTIONARY (here
    * the postings' distinct-token projection, vocab-grain after
    * map-side combine), the tiny matched-term set broadcasts back
    * against postings, and per-doc hit counts are sums of stored tf —
    * no text, no re-tokenization. Tombstoned docs excluded like every
    * serving path. */
  def fuzzyWithIndex(spark: SparkSession, indexDir: String,
      term: String, maxDist: Int): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val post = indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
      .select($"doc_id", $"tok", $"tf")
      .join(indexTable(spark, Seq(root), "tombstones"), Seq("doc_id"),
        "left_anti")
    val matched = post.select($"tok").distinct()
      .filter(levenshtein($"tok", lit(term)) <= maxDist)
    post.join(broadcast(matched), "tok")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_hits"),
        concat_ws(",", array_sort(collect_set($"tok"))).as("matched"))
      .orderBy($"doc_id")
  }

  /** Registered query: [[fuzzyMatch]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def fuzzyServed(spark: SparkSession, dir: String): DataFrame =
    fuzzyWithIndex(spark, sharedIndexDir(spark, dir), FuzzyTerm, FuzzyMaxDist)

  /** [[suggestPrefix]] served FROM the index — the completion
    * suggester at its natural cost: the term dictionary (postings
    * grouped to vocab grain, tf summed for corpus frequency) answers
    * the prefix probe; TakeOrderedAndProject cuts to k. Corpus text
    * untouched; tombstoned docs' occurrences excluded. */
  def suggestWithIndex(spark: SparkSession, indexDir: String,
      prefix: String, k: Int): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
      .select($"doc_id", $"tok", $"tf")
      .join(indexTable(spark, Seq(root), "tombstones"), Seq("doc_id"),
        "left_anti")
      .filter($"tok".startsWith(prefix))
      .groupBy($"tok").agg(sum($"tf").as("freq"))
      .select($"tok".as("token"), $"freq")
      .orderBy($"freq".desc, $"token")
      .limit(k)
  }

  /** Registered query: [[suggestPrefix]] SERVED from the session-shared
    * index — oracle-checked against the same SQL as the scan path. */
  def suggestServed(spark: SparkSession, dir: String): DataFrame =
    suggestWithIndex(spark, sharedIndexDir(spark, dir), SuggestPrefix, SuggestK)

  /** [[hybridRrf]] with the TEXT leg served from the index — the
    * deployment shape of hybrid retrieval: BM25 ranks come from
    * bucket-pruned postings via the shared [[scoredFromIndex]]
    * expressions (bit-identical ranks to the scan leg), the vector
    * leg and the RRF fusion are unchanged, and the fusion join still
    * touches only the two pooled lists (≤ 2·[[RrfPool]] rows). */
  def hybridWithIndex(spark: SparkSession, indexDir: String,
      emb: DataFrame, terms: Seq[String]): DataFrame = {
    import emb.sparkSession.implicits._
    val w = Window.orderBy($"score".desc, $"doc_id")
    val text = scoredFromIndex(spark, requireIndex(spark, indexDir), terms)
      .filter($"n_matched" > 0)
      .orderBy($"score".desc, $"doc_id").limit(RrfPool)
      .withColumn("r_text", row_number().over(w))
      .select($"doc_id", $"r_text")
    val vec = vecRankedOf(emb, RrfPool)
    text.join(vec, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_text", $"r_vec",
        (coalesce(lit(1.0) / (lit(RrfK) + $"r_text"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + $"r_vec"), lit(0.0))).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id").limit(RrfTopK)
  }

  /** Registered query: [[hybridRrf]] with its text leg SERVED from the
    * session-shared index — oracle-checked against the same SQL. */
  def hybridServed(spark: SparkSession, dir: String): DataFrame =
    hybridWithIndex(spark, sharedIndexDir(spark, dir),
      Tables.embeddings(spark, dir), QueryTerms)

  /** ES `_stats` / `_cat/indices`: the per-field index statistics an
    * operator monitors — live doc count, total field length, term
    * dictionary size, postings count, plus the deleted-doc count
    * (tombstoned-but-unmerged, the Lucene `docs.deleted` number).
    * All from the index tables at field/vocab grain; the corpus is
    * never touched. On a fresh index the numbers are pure functions
    * of the corpus, so the ORACLE derives them from the documents
    * table — the build itself is being checked, not just the
    * arithmetic. */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val dead = indexTable(spark, Seq(root), "tombstones")
      .select($"doc_id").distinct()
    // the deleted-doc count rides the plan as a broadcast 1-row
    // aggregate instead of a driver-blocking count() action (r18):
    // one fewer job barrier, same integer
    val deadCount = dead.agg(count(lit(1)).as("n_deleted"))
    val doclen = indexTable(spark, Seq(root), "doclen")
      .join(dead, Seq("doc_id"), "left_anti")
    val post = indexTable(spark, Seq(root), "postings")
      .join(dead, Seq("doc_id"), "left_anti")
    val dlStats = doclen.groupBy($"field")
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val postStats = post.groupBy($"field")
      .agg(countDistinct($"tok").as("n_terms"),
        count(lit(1)).as("n_postings"))
    dlStats.join(postStats, "field")
      .crossJoin(broadcast(deadCount))
      .select($"field", $"n_docs", $"n_deleted", $"sum_dl",
        $"n_terms", $"n_postings")
      .orderBy($"field")
  }

  /** Registered query: [[indexStats]] on the session-shared index. */
  def indexStatsServed(spark: SparkSession, dir: String): DataFrame =
    indexStats(spark, sharedIndexDir(spark, dir))

  /** ES `_cat/segments`: the per-EPOCH breakdown an operator reads to
    * decide when to compact — one row per epoch with its live doc
    * count, postings rows, and how many of its docs are tombstoned
    * (deleted-but-unmerged). An epoch-count explosion or a high
    * deleted fraction is the compaction trigger; after
    * [[compactSearchIndex]] this collapses to one `base` row with
    * zero deleted. Index-tables-only, field = [[DefaultField]]. */
  def indexSegments(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val dead = indexTable(spark, Seq(root), "tombstones")
      .select($"doc_id").distinct().withColumn("is_dead", lit(1L))
    val doclen = indexTable(spark, Seq(root), "doclen")
      .filter($"field" === DefaultField)
      .join(dead, Seq("doc_id"), "left")
    val post = indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
      .groupBy($"epoch").agg(count(lit(1)).as("n_postings"))
    doclen.groupBy($"epoch")
      .agg(count(when($"is_dead".isNull, 1)).as("n_docs"),
        count(when($"is_dead".isNotNull, 1)).as("n_deleted"))
      .join(post, "epoch")
      .select($"epoch", $"n_docs", $"n_deleted", $"n_postings")
      .orderBy($"epoch")
  }

  val indexStatsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |fields AS (
       |  SELECT doc_id, '$DefaultField' AS field, toks FROM t
       |  UNION ALL
       |  SELECT doc_id, '$HeadField', toks[1:$HeadLen] FROM t),
       |ex AS (SELECT field, doc_id, UNNEST(toks) AS tok FROM fields)
       |SELECT field,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(0 AS BIGINT) AS n_deleted,
       |  COUNT(*) AS sum_dl,
       |  COUNT(DISTINCT tok) AS n_terms,
       |  COUNT(DISTINCT (doc_id, tok)) AS n_postings
       |FROM ex
       |GROUP BY field
       |ORDER BY field""".stripMargin

  /** The doc whose term vectors the registered query serves. */
  val TermVectorsDoc = 0L

  /** Registered query: [[termVectors]] of doc [[TermVectorsDoc]] from
    * the session-shared index, positions comma-serialized (the
    * agg_collect array-emission convention). The ORACLE rebuilds the
    * full indexed view — per-term tf, the sorted position list, and
    * corpus df — from the raw text, so the postings' positional
    * payload itself is oracle-checked value-for-value, not just the
    * rankings derived from it. */
  def termVectorsServed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    termVectors(spark, sharedIndexDir(spark, dir), TermVectorsDoc)
      .select($"tok", $"tf", concat_ws(",", $"positions").as("positions"),
        $"df")
      .orderBy($"tok")
  }

  val termVectorsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, toks[i] AS tok, i - 1 AS pos
       |  FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)),
       |tv AS (
       |  SELECT tok, COUNT(*) AS tf,
       |    array_to_string(list_sort(list(pos)), ',') AS positions
       |  FROM pos WHERE doc_id = $TermVectorsDoc GROUP BY tok),
       |dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY tok)
       |SELECT tv.tok, tv.tf, tv.positions, dft.df
       |FROM tv JOIN dft USING (tok)
       |ORDER BY tok""".stripMargin

  /** ES term-vectors API: one document's indexed view — its terms
    * with tf, positions, and each term's corpus df — straight from
    * the index tables (the relevance-debugging endpoint: "why does
    * this doc rank where it does"). The doc_id filter cannot
    * partition-prune (postings shard by TERM), but it pushes to
    * parquet row-group stats; the df join is vocab-grain. */
  def termVectors(spark: SparkSession, indexDir: String,
      docId: Long): DataFrame = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    // a tombstoned doc's indexed view (terms, tf, positions — the
    // normalized text is reconstructible from positions) must be
    // unservable the moment the tombstone lands, same as every query
    // path — this is the right-to-be-forgotten surface, so refuse
    // LOUDLY rather than return an empty frame a caller could read as
    // "doc has no terms". The check is tombstone-table-grain (tiny).
    if (!indexTable(spark, Seq(root), "tombstones")
        .filter($"doc_id" === docId).isEmpty)
      throw new IllegalStateException(
        s"termVectors: doc $docId is tombstoned in $indexDir — " +
          "deleted content is not servable (compaction will purge it)")
    val post = indexTable(spark, Seq(root), "postings")
      .filter($"field" === DefaultField)
    // df still counts tombstoned docs until compaction — the
    // documented deleted-but-unmerged Lucene statistics semantics;
    // only SERVING a deleted doc's content is forbidden
    val dfT = post.groupBy($"tok").agg(count(lit(1)).as("df"))
    post.filter($"doc_id" === docId)
      .select($"tok", $"tf", $"positions")
      .join(dfT, "tok")
      .orderBy($"tok")
  }

  /** Soft-delete documents from an index — ES's own delete model: a
    * tombstone marks the doc, queries exclude it IMMEDIATELY, and the
    * bytes leave the index at the next merge ([[compactSearchIndex]]).
    * The ES-faithful consequence, documented: until compaction,
    * tombstoned docs still count in the corpus statistics (N, Σdl,
    * df) exactly as deleted-but-unmerged docs do in Lucene — scores
    * of surviving docs are unchanged by a delete, so the ranking is
    * the old ranking minus the deleted docs; after compaction the
    * statistics re-derive from the survivors (bit-identical to an
    * index built without the deleted docs — SearchSpec pins it).
    * Epoch-keyed dynamic overwrite ⇒ replayed deletes are idempotent.
    * The GDPR path: tombstone now (instantly unservable), compact on
    * schedule (bytes gone). */
  def deleteFromSearchIndex(spark: SparkSession, indexDir: String,
      docIds: DataFrame, epoch: String): Unit = {
    import spark.implicits._
    // refuse a delete against a non-index path: writing tombstones
    // into a stray directory would silently satisfy the caller while
    // nothing becomes unservable
    val root = requireIndex(spark, indexDir)
    // UNION with any tombstones already in this epoch: dynamic
    // overwrite REPLACES the partition, so two distinct delete
    // requests reusing an epoch string would otherwise resurrect the
    // first request's victims in every query path until compaction.
    // A replay of the same request unions to the identical set —
    // still idempotent. Snapshot the union BEFORE the overwrite (the
    // purgeRows never-read-what-you-replace discipline).
    // write into the RESOLVED tombstone dir: on a synced follower the
    // _tombstones pointer names a generation dir, and a write to the
    // flat path would be shadowed (invisible to every query path)
    val existing = indexTable(spark, Seq(root), "tombstones")
      .filter($"epoch" === epoch).select($"doc_id")
    writeFamily(docIds.select($"doc_id").union(existing).distinct()
      .withColumn("epoch", lit(epoch)).localCheckpoint(),
      "tombstones", tombDir(spark, root))
  }

  /** The one reader of index families: a parquet relation over
    * `family` under every RESOLVED root in `roots`, built with no
    * Spark job. Every serving, maintenance and ingest-screen read of
    * an index goes through it.
    *
    *  - Listing runs on the driver: per root, the family dir's
    *    `epoch=*` dirs, then their leaf files. With `buckets` (postings
    *    only) it opens only the `epoch=E/b=K` dirs of the query's
    *    buckets, so the listing is pruned exactly like the scan, and
    *    the frame keeps the `b IN (…)` partition filter. Hidden entries
    *    (`_*`, `.*`, `*._COPYING_`: `_SUCCESS`, `.crc`, `_temporary`,
    *    append and sync staging dirs) are skipped, as Spark's own
    *    listing does. The result reaches an [[InMemoryFileIndex]]
    *    through a pre-filled [[FileStatusCache]] plus an explicit
    *    partition spec, so neither a listing job nor partition
    *    inference runs.
    *  - The schema is [[IndexFamilies]]' declaration (shared with
    *    [[writeEpoch]]), never inferred from footers, so no footer job
    *    runs either. A declared column a stale member's files lack
    *    reads as null: callers that read doc-value columns keep the
    *    per-root footer guard [[requireFamilyColumns]], which refuses
    *    that drift loudly.
    *  - Many roots make ONE relation (one scan node, tasks packed
    *    across members), row-equal to the union of per-root reads.
    *  - `tombstones` resolves each root's live generation
    *    ([[tombDir]]) and is empty when none was written; a missing
    *    `stored` table refuses (an index built before stored fields
    *    must not re-couple fetch to the corpus); any other missing
    *    family refuses as an incomplete index. A family with no data
    *    file reads as an empty local relation, which the optimizer
    *    folds away (an anti-join against no tombstones is no join).
    *
    * Cost at 100 TB: driver listing calls = epochs × query buckets for
    * a term-pruned postings read (epochs × [[IndexBuckets]] for a
    * term-dictionary walk), and about one per epoch for the doc-grain
    * families. [[compactSearchIndex]] folds epochs back into one, so
    * compaction is what bounds the listing, not corpus size. */
  private[graft] def indexTable(spark: SparkSession, roots: Seq[String],
      family: String, buckets: Option[Seq[Int]] = None): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val fam = IndexFamilies.getOrElse(family, throw new IllegalArgumentException(
      s"indexTable: unknown index family '$family' — one of " +
        IndexFamilies.keys.toSeq.sorted.mkString(", ")))
    require(buckets.isEmpty || family == "postings",
      s"indexTable: bucket pruning applies to postings, not $family")
    val conf = spark.sessionState.newHadoopConf()
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    }
    val leaves = scala.collection.mutable.LinkedHashMap.empty[Path, Array[FileStatus]]
    val partitions = Seq.newBuilder[PartitionPath]
    roots.foreach { root =>
      val dir = new Path(
        if (family == "tombstones") tombDir(spark, root) else s"$root/$family")
      val fs = dir.getFileSystem(conf)
      def ls(p: Path): Seq[FileStatus] =
        try fs.listStatus(p).toSeq.filter(s => visible(s.getPath))
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      if (!fs.exists(dir)) family match {
        case "tombstones" =>
        case "stored" => throw new IllegalStateException(
          s"index at $root has no stored (_source) table — built before " +
            "stored fields existed; rebuild to serve fetch-phase features")
        case _ => throw new IllegalStateException(
          s"index at $root has no $family table — incomplete build or " +
            "partial delete; re-run buildSearchIndex")
      }
      // walk the declared partition levels (`col=value` dirs only); a
      // pruned bucket level opens its `b=K` dirs by name, unlisted
      def walk(d: Path, depth: Int, values: Vector[Any]): Seq[FileStatus] =
        if (depth == fam.parts.size) {
          val files = ls(d).filter(_.isFile)
          if (files.nonEmpty)
            partitions += PartitionPath(InternalRow.fromSeq(values),
              files.head.getPath.getParent)
          files
        } else {
          val part = fam.parts(depth)
          val named = (part.name, buckets) match {
            case ("b", Some(bs)) =>
              bs.distinct.map(k => new Path(d, s"b=$k") -> k.toString)
            case _ => ls(d).filter(_.isDirectory).flatMap { s =>
              s.getPath.getName.split("=", 2) match {
                case Array(part.name, v) =>
                  Some(s.getPath -> ExternalCatalogUtils.unescapePathName(v))
                case _ => None
              }
            }
          }
          named.flatMap { case (p, v) =>
            val typed = part.dataType match {
              case StringType => UTF8String.fromString(v)
              case IntegerType => v.toInt
            }
            walk(p, depth + 1, values :+ typed)
          }
        }
      val files = walk(dir, 0, Vector.empty)
      if (files.nonEmpty) leaves(fs.makeQualified(dir)) = files.toArray
    }
    val parts = partitions.result()
    val df =
      if (parts.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          fam.schema)
      else {
        val cache = new FileStatusCache {
          override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
            leaves.get(path)
          override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        }
        val index = new InMemoryFileIndex(spark, leaves.keys.toSeq, Map.empty,
          Some(fam.schema), cache, Some(PartitionSpec(fam.parts, parts)))
        spark.baseRelationToDataFrame(HadoopFsRelation(index, fam.parts,
          fam.data, None, new parquet.ParquetFileFormat, Map.empty)(spark))
      }
    buckets.fold(df)(bs => df.filter(col("b").isin(bs.distinct: _*)))
  }

  /** Column names from ONE parquet footer of `root/family` — the
    * refuse-loudly schema guards' probe. Reads the first data file's
    * footer on the driver (no Spark job). Empty when the family
    * directory has no parquet file — callers treat that as "column
    * absent" and refuse, which is the safe direction. */
  private[ops] def familyColumns(spark: SparkSession, root: String,
      family: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(s"$root/$family")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    val it = fs.listFiles(dir, true)
    var file: org.apache.hadoop.fs.Path = null
    while (file == null && it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        file = f.getPath
    }
    if (file == null) Seq.empty
    else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
      } finally r.close()
    }
  }

  /** Refuse loudly unless every root's `family` footer carries all of
    * `fields` — the guard every [[indexTable]] consumer of doc-value
    * columns needs: the declared schema silently NULL-FILLS a column
    * a stale member lacks, turning a schema drift into wrong rows. */
  private[ops] def requireFamilyColumns(spark: SparkSession,
      roots: Seq[String], family: String, fields: Seq[String]): Unit =
    roots.foreach { root =>
      val cols = familyColumns(spark, root, family)
      fields.filterNot(cols.contains).foreach(f =>
        throw new IllegalStateException(
          s"field '$f' is not stored in the index $family under $root — " +
            "rebuild the index from a corpus carrying it"))
    }

  /** Pointer file naming the ACTIVE tombstone generation under a
    * version root. Local deletes write the flat `tombstones` table
    * in place (parquet dynamic overwrite commits per-partition);
    * follower REPLACEMENT of the whole set ([[syncIndex]]) instead
    * lands a fresh `tombstones_g…` dir and flips this pointer via the
    * same rename-OVERWRITE [[commitPointer]] uses — so there is never
    * a moment with neither the old nor the new set visible (a
    * rename-aside swap has exactly that window, and a crash inside it
    * would serve deleted docs until the next sync). */
  private[graft] val TombPointer = "_tombstones"
  private val TombGenRe = "^tombstones_g(\\d{10})$".r

  /** Resolve the live tombstone table dir under `root`: the
    * generation the [[TombPointer]] names when present, else the flat
    * `tombstones` dir every local write path uses. */
  private def tombDir(spark: SparkSession, root: String): String = {
    val cur = new org.apache.hadoop.fs.Path(s"$root/$TombPointer")
    val fs = cur.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(cur)) {
      val in = fs.open(cur)
      val gen =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      s"$root/$gen"
    } else s"$root/tombstones"
  }

  /** Next tombstone generation name under `root` — counts orphans
    * from crashed syncs so a new copy never reuses a partial dir
    * (the [[nextVersion]] discipline). */
  private def nextTombGen(fs: org.apache.hadoop.fs.FileSystem,
      root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    val existing =
      if (fs.exists(p))
        fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
          case TombGenRe(n) => n.toLong
        }
      else Seq.empty
    "tombstones_g%010d".format((existing :+ 0L).max + 1)
  }

  /** Compact an index's accumulated epochs back into the single
    * `base` epoch — the maintenance pass a long-running ingest
    * schedules once small per-batch epochs dominate the partition
    * listing (the [[graft.streaming.Maintenance]] compaction stance
    * applied to the search artifact). Admission screening upstream
    * guarantees a doc_id lives in exactly one epoch, so compaction is
    * a pure re-layout: read everything, rewrite as one epoch into a
    * NEW version dir, atomically repoint [[CurrentPointer]]. A crash
    * anywhere leaves the old version serving (an orphan v-dir at
    * worst); a reader that resolved the pointer BEFORE the repoint
    * keeps reading the retained previous version to completion — the
    * reader-during-compaction guarantee (MaintenanceSpec pins it).
    * Serving results are unchanged by construction — SearchSpec pins
    * bit-equality before/after. Tombstoned docs are PURGED physically
    * (the Lucene merge role): their rows drop from both tables, the
    * corpus statistics re-derive from survivors, and the compacted
    * version carries no tombstone table — deletion is complete, not
    * marked. Deletes racing a compaction should be quiesced by the
    * caller: a tombstone written into the old version after the
    * compaction's snapshot is dropped at the repoint. */
  def compactSearchIndex(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    val root = requireIndex(spark, indexDir)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val ver = nextVersion(fs, indexDir)
    val dead = indexTable(spark, Seq(root), "tombstones").select($"doc_id")
    // the merge is when deleted documents' BYTES leave the index —
    // including their stored _source text. Each family keeps exactly
    // the columns this version stores (a declared column its files
    // lack must stay absent, so the drift guard still refuses it).
    IndexTables.filter(t => t != "stored" ||
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/stored")))
      .foreach { t =>
        val kept = familyColumns(spark, root, t)
        val absent =
          if (kept.isEmpty) Seq.empty
          else IndexFamilies(t).data.fieldNames.toSeq.filterNot(kept.contains)
        writeFamily(indexTable(spark, Seq(root), t).drop(absent: _*)
            .join(dead, Seq("doc_id"), "left_anti")
            .withColumn("epoch", lit("base")),
          t, s"$indexDir/$ver/$t")
      }
    commitPointer(spark, indexDir, ver)
    val keepPrev =
      if (root == indexDir)
        Set("postings", "doclen", "docmeta", "tombstones", "stored")
      else Set(root.split('/').last)
    pruneVersions(spark, indexDir, Set(ver) ++ keepPrev)
  }

  /** Session-built index roots, keyed (appId, corpus dir) — rebuilt
    * once per JVM so stale on-disk state from a dead session can never
    * serve (the sharedKmeansRows freshness stance, applied to
    * filesystem artifacts). */
  private val builtIndexes =
    scala.collection.mutable.Set.empty[(String, String)]

  private[ops] def sharedIndexDir(spark: SparkSession, dir: String): String = synchronized {
    val root = sys.props("java.io.tmpdir") +
      "/graft_searchidx_" + Tables.viewSuffix(dir)
    val key = (spark.sparkContext.applicationId, dir)
    if (!builtIndexes.contains(key)) {
      buildSearchIndex(spark, dir, root)
      builtIndexes += key
    }
    root
  }

  /** Generic session memo for a derived artifact keyed `dir + "#…"` —
    * the [[sharedIndexDir]] discipline (build once per app per corpus,
    * [[invalidate]] drops every `#` variant) opened to the other ops
    * modules' artifacts (e.g. [[Similarity]]'s ANN index). */
  private[ops] def memoArtifact(spark: SparkSession, variantKey: String)
      (build: => Unit): Unit = synchronized {
    val key = (spark.sparkContext.applicationId, variantKey)
    if (!builtIndexes.contains(key)) {
      build
      builtIndexes += key
    }
  }

  /** Registered query: [[bm25TopK]] SERVED from the persisted inverted
    * index (built once per session per corpus) — oracle-checked
    * against the same SQL as the scan path, which it must reproduce
    * bit-for-bit. This is the deployment shape: build the index when
    * the corpus lands, serve every query from postings. */
  def bm25Served(spark: SparkSession, dir: String): DataFrame =
    searchWithIndex(spark, sharedIndexDir(spark, dir), QueryTerms, TopK)

  // ------------------------------------------- daily indices + alias

  /** The ALIAS file name an alias set commits under. An alias is the
    * reference's serving indirection (es.go:102-116 `addAlias` over
    * the es.go:78-81 daily index names): a named pointer to the SET
    * of member indices a search should span. Here it is a pointer
    * FILE listing member index dirs (one per line), committed by the
    * same atomic write-temp-then-rename every version pointer uses —
    * repointing the alias (e.g. adding today's index at rollover) is
    * one atomic replace, and a reader resolves the member list once
    * per query. */
  val AliasFile = "alias_members"

  def writeAlias(spark: SparkSession, aliasPath: String,
      indexDirs: Seq[String]): Unit = {
    require(indexDirs.nonEmpty, "writeAlias: empty member list")
    commitPointerFile(spark, aliasPath, indexDirs.mkString("\n"))
  }

  def readAlias(spark: SparkSession, aliasPath: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(aliasPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"readAlias: no alias at $aliasPath — write one with writeAlias")
    val in = fs.open(p)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toString("UTF-8")
    } finally in.close()
    val dirs = text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    if (dirs.isEmpty)
      throw new IllegalStateException(s"readAlias: alias $aliasPath is empty")
    dirs
  }

  /** Search through an ALIAS: resolve the member list once, then rank
    * across the members under merged statistics
    * ([[searchAcrossIndexes]]) — `GET /alias/_search`. */
  def searchAlias(spark: SparkSession, aliasPath: String,
      terms: Seq[String], k: Int): DataFrame =
    searchAcrossIndexes(spark, readAlias(spark, aliasPath), terms, k)

  /** The session-shared DAILY index layout — the reference's actual
    * serving shape (one index per ingest date, an alias spanning
    * them): the corpus splits by the deterministic
    * [[withPersistDate]] date into [[PersistDays]] per-day indices,
    * and [[AliasFile]] points at the set. Memoized like
    * [[sharedIndexDir]] under `dir + "#daily"` (so [[invalidate]]
    * drops it too). Returns (member dirs, alias path). */
  private[ops] def sharedDailyIndexDirs(spark: SparkSession,
      dir: String): (Seq[String], String) = synchronized {
    import spark.implicits._
    val base = sys.props("java.io.tmpdir") +
      "/graft_dailyidx_" + Tables.viewSuffix(dir)
    val dates = (0 until PersistDays).map(d =>
      java.time.LocalDate.parse(PersistEpoch).plusDays(d.toLong).toString)
    val dirs = dates.map(d => s"$base/idx-$d")
    val alias = s"$base/$AliasFile"
    val key = (spark.sparkContext.applicationId, dir + "#daily")
    if (!builtIndexes.contains(key)) {
      val docs = withPersistDate(Tables.documentsPar(spark, dir))
      dates.zip(dirs).foreach { case (d, out) =>
        buildSearchIndexOf(
          docs.filter($"persist_date" === to_date(lit(d))), out)
      }
      writeAlias(spark, alias, dirs)
      builtIndexes += key
    }
    (dirs, alias)
  }

  /** Registered query: the [[QueryTerms]] ranking served ACROSS the
    * daily indices ([[searchAcrossIndexes]] over explicit member
    * dirs) — the oracle is the whole-corpus scan SQL, so the
    * oracle-green IS the merged-statistics proof: stats computed
    * across the per-day indices must reproduce the single-corpus
    * ranking exactly. */
  def searchMultiIndex(spark: SparkSession, dir: String): DataFrame =
    searchAcrossIndexes(spark, sharedDailyIndexDirs(spark, dir)._1,
      QueryTerms, TopK)

  /** Registered query: the same ranking resolved THROUGH the alias
    * pointer ([[searchAlias]]) — the `GET /alias/_search` shape, so
    * the alias resolution itself sits on the correctness gate. */
  def searchAliasDaily(spark: SparkSession, dir: String): DataFrame =
    searchAlias(spark, sharedDailyIndexDirs(spark, dir)._2,
      QueryTerms, TopK)

  /** The daily layout's alias path (building members + alias if this
    * session hasn't yet) — the handle [[Dsl.searchDslAlias]] resolves
    * through. */
  private[ops] def dailyAliasPath(spark: SparkSession, dir: String): String =
    sharedDailyIndexDirs(spark, dir)._2

  /** The INGEST corpus's daily rolling window — the reference's real
    * serving set (es.go:78-116: index per ingest date + alias over the
    * retained days). The engine indexes [[IngestWindowDates]] of the
    * events fixture's dates ([[Ingest.ingestDocs]] shape: docmeta
    * carries the NESTED tags array alongside persist_date). Memoized
    * under `dir + "#ingestdaily"` so [[invalidate]] drops it. Returns
    * (member dirs, alias path). */
  val IngestWindowDates: Seq[String] =
    Seq("2024-01-01", "2024-01-02", "2024-01-03")

  private[ops] def sharedIngestDailyIndexDirs(spark: SparkSession,
      dir: String): (Seq[String], String) = synchronized {
    import spark.implicits._
    val base = sys.props("java.io.tmpdir") +
      "/graft_ingestidx_" + Tables.viewSuffix(dir)
    val dirs = IngestWindowDates.map(d => s"$base/idx-$d")
    val alias = s"$base/$AliasFile"
    val key = (spark.sparkContext.applicationId, dir + "#ingestdaily")
    if (!builtIndexes.contains(key)) {
      val docs = Ingest.ingestDocs(spark, dir)
      IngestWindowDates.zip(dirs).foreach { case (d, out) =>
        buildSearchIndexOf(docs.filter($"persist_date" === d), out)
      }
      writeAlias(spark, alias, dirs)
      builtIndexes += key
    }
    (dirs, alias)
  }

  /** Registered query: PAGE TWO of the ranking across the daily
    * indices — [[searchCursorAcross]] + [[searchAfterAcrossIndexes]],
    * same oracle as the single-index `search_after` (keyset paging
    * must hold across an alias exactly as within one index). */
  def searchAfterMulti(spark: SparkSession, dir: String): DataFrame = {
    val dirs = sharedDailyIndexDirs(spark, dir)._1
    // cursor + page 2 share ONE persisted scored frame — the
    // [[searchAfter]] barrier, multi-index form (the merged-statistics
    // pipeline across the daily members is 3× the single-index
    // lineage, so re-running it per action cost twice as much here)
    val scored = Dsl.trackPersist(
      scoredFromIndexes(spark, dirs.map(requireIndex(spark, _)),
        QueryTerms)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val (s, d) = cursorOf(spark, scored, TopK)
      .getOrElse(throw new IllegalStateException(
        s"search_after_multi: fewer than $TopK matches — no second page"))
    pageAfter(spark, scored, TopK, s, d, TopK)
  }

  /** Registered query: [[searchFacets]] served across the daily
    * indices ([[facetsAcrossIndexes]]) — same oracle as the scan and
    * single-index forms. */
  def facetsMulti(spark: SparkSession, dir: String): DataFrame =
    facetsAcrossIndexes(spark, sharedDailyIndexDirs(spark, dir)._1,
      QueryTerms)

  /** Drop EVERY session-shared index memo for `dir` — the plain key
    * AND all `dir + "#…"` variants (the daily layout's `#daily`, any
    * future memo) — so a
    * corpus mutation followed by invalidate() can never leave a
    * variant serving stale bytes while its oracle reads fresh ones.
    * The next consumer of each rebuilds from the directory's current
    * bytes. */
  def invalidate(spark: SparkSession, dir: String): Unit = synchronized {
    val app = spark.sparkContext.applicationId
    builtIndexes.filterInPlace { case (a, d) =>
      !(a == app && (d == dir || d.startsWith(dir + "#")))
    }
    spark.catalog.dropTempView("graft_percreg_" + Tables.viewSuffix(dir))
    // also drop the Dsl barrier-frame persists — same lifecycle: a
    // corpus mutation invalidates them, and a long-lived serving
    // session must not accumulate disk blocks (lineage keeps any
    // still-lazy consumer correct; it recomputes)
    Dsl.releasePersisted()
    ()
  }
}
