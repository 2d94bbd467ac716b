package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model, the second tokenizer family next to
  * [[Bpe]]; Llama-class tokenizers are this algorithm). A vocabulary
  * of candidate pieces carries a probability each; a word's
  * tokenization is the Viterbi-best segmentation (max product of piece
  * probabilities); training alternates segmentation and re-estimation.
  *
  * This implementation is HARD-EM (Viterbi re-estimation): piece
  * counts are re-derived from the current best segmentations, so every
  * model quantity stays RATIONAL — integer counts, probabilities as
  * one double division each, segmentation scores as products of those
  * doubles. No logs, no order-dependent sums: the DP multiplies in a
  * fixed order and compares with a deterministic tie-break, so both
  * engines replay the train bit-for-bit (the [[Bpe]] exactness stance;
  * soft-EM would need log-space accumulation, which the repo's
  * no-transcendentals convention excludes — hard-EM is the honest
  * deterministic variant, and is itself standard practice).
  *
  * Plan shape: ONE corpus-grain scan (the [[Bpe.wordStream]] word
  * histogram); everything after runs at VOCAB grain. Candidate pieces
  * are the ≤[[UgMaxPiece]]-char substrings above [[UgMinFreq]]
  * occurrences plus every single character (singles never die — the
  * SentencePiece character-coverage guarantee, re-seeded at count 1 if
  * a sweep's segmentations skip one). The piece model enters the DP as
  * a broadcast map literal folded in plan (the DSIR scoreWithRatios
  * pattern); the Viterbi DP is a per-word `aggregate` fold building
  * the cell table (score, piece-count, backpointer), with the argmax
  * over the ≤[[UgMaxPiece]] candidate splits expressed as `array_max`
  * over (s, −np, −j) structs — lexicographic struct comparison is the
  * tie-break (higher score, then fewer pieces, then earliest split),
  * identical in Spark and DuckDB (`list_max`). The oracle replays the
  * DP as a recursive CTE carrying the cell list, one recursion level
  * per character — word length bounds the depth.
  *
  * Scale: the DP runs on DISTINCT words (the [[Bpe]] vocab-grain
  * trick) — corpus size only enters through the histogram's map-side
  * combine; encoding joins the word stream to the segmented vocab on
  * the Zipf-skewed word key (shuffle hash join, AQE skew-split — the
  * bpe_token_count stance, deliberately NOT broadcast).
  */
object Unigram {

  /** Longest candidate piece, chars. */
  val UgMaxPiece = 4

  /** Substring admission floor for the seed inventory (singles are
    * exempt — character coverage). */
  val UgMinFreq = 2

  /** Hard-EM sweeps (segment → recount), fixed and unrolled. */
  val UgSweeps = 2

  /** (word, freq) corpus histogram — the one corpus-grain scan. */
  private def wordHist(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    Bpe.wordStream(docs).groupBy($"word").agg(count(lit(1)).as("freq"))
  }

  /** Seed inventory: occurrence-weighted substring counts, floored at
    * [[UgMinFreq]] except singles. */
  private def seedPieces(words: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    words
      .select($"freq", explode(flatten(transform(
        sequence(lit(1), length($"word")),
        i => transform(
          sequence(lit(1), least(lit(UgMaxPiece), length($"word") - i + 1)),
          l => $"word".substr(i, l))))).as("piece"))
      .groupBy($"piece").agg(sum($"freq").as("cnt"))
      .filter($"cnt" >= UgMinFreq || length($"piece") === 1)
  }

  /** The model as a broadcastable 1-row map frame: piece → p where
    * p = cnt/Σcnt (one double division per piece, both engines
    * identical). */
  private def probsRow(pieces: DataFrame): DataFrame = {
    import pieces.sparkSession.implicits._
    pieces.crossJoin(broadcast(pieces.agg(sum($"cnt").as("c"))))
      .agg(map_from_entries(collect_list(struct($"piece",
        ($"cnt".cast("double") / $"c".cast("double"))))).as("m"))
  }

  /** Viterbi cell table per word under a model row: cells(i+1) =
    * (best score of word[1..i], its piece count, backpointer). Cell 0
    * is the empty prefix. The candidate argmax is array_max over
    * (s, −np, −j) — see class doc for the tie-break. A split through
    * a piece absent from the model scores −prev.s (< 0, always loses);
    * singles are always present, so every cell is reachable. */
  private def withCells(words: DataFrame, mRow: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    words.crossJoin(broadcast(mRow))
      .withColumn("cells", aggregate(
        sequence(lit(1), length($"word")),
        array(struct(lit(1.0).as("s"), lit(0).as("np"), lit(0).as("b"))),
        (acc, i) => {
          val best = array_max(transform(
            sequence(greatest(lit(0), i - UgMaxPiece), i - 1),
            j => struct(
              (element_at(acc, j + 1)("s") *
                coalesce(element_at($"m", $"word".substr(j + 1, i - j)),
                  lit(-1.0))).as("s"),
              (-(element_at(acc, j + 1)("np") + 1)).as("nnp"),
              (-j).as("nj"))))
          concat(acc, array(struct(best("s").as("s"),
            (-best("nnp")).as("np"), (-best("nj")).as("b"))))
        }))
  }

  /** Walk the backpointers: the Viterbi segmentation as an ordered
    * piece array (bounded by word length; fixed-iteration fold, the
    * no-driver-loop convention). */
  private def withSeg(cellsDf: DataFrame): DataFrame = {
    import cellsDf.sparkSession.implicits._
    cellsDf.withColumn("seg", aggregate(
      sequence(lit(1), length($"word")),
      struct(length($"word").as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val cell = element_at($"cells", st("pos") + 1)
        when(st("pos") > 0,
          struct(cell("b").as("pos"),
            concat(array($"word".substr(cell("b") + 1, st("pos") - cell("b"))),
              st("ps")).as("ps")))
          .otherwise(st)
      }))
  }

  /** One hard-EM sweep: segment every distinct word under the current
    * counts, re-count pieces from the segmentations (occurrence ×
    * word frequency — exact integers), and re-seed any single the
    * segmentations skipped at count 1 (character coverage). */
  private def sweep(words: DataFrame, pieces: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    val seg = withSeg(withCells(words, probsRow(pieces)))
    val recount = seg
      .select($"freq", explode($"seg.ps").as("piece"))
      .groupBy($"piece").agg(sum($"freq").as("rcnt"))
    val singles = pieces.filter(length($"piece") === 1).select($"piece")
    recount.join(singles, Seq("piece"), "full")
      .select($"piece", coalesce($"rcnt", lit(1L)).as("cnt"))
  }

  /** Final piece counts after [[UgSweeps]] hard-EM sweeps, one
    * deferred localCheckpoint per stage (the kmeansRows pattern). */
  private[graft] def trainedCounts(docs: DataFrame): DataFrame =
    trainedCountsAt(docs, UgSweeps)

  private[graft] def trainedCountsAt(docs: DataFrame, sweeps: Int): DataFrame =
    trainedFrom(wordHist(docs).localCheckpoint(eager = false), sweeps)

  /** The sweep fold over a prebuilt (word, freq) histogram — the seam
    * that lets [[sharedTrain]] reuse ONE histogram for both the train
    * and the final segmentation pass (the class doc's one-corpus-scan
    * claim, kept honest). */
  private def trainedFrom(words: DataFrame, sweeps: Int): DataFrame =
    (0 until sweeps).foldLeft(
      seedPieces(words).localCheckpoint(eager = false)) { (p, _) =>
      sweep(words, p).localCheckpoint(eager = false)
    }

  /** (word, freq, np) under an arbitrary count table — the UnigramSpec
    * seam for measuring training's effect on fragmentation. */
  private[graft] def npUnder(docs: DataFrame, pieces: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    withCells(wordHist(docs), probsRow(pieces))
      .select($"word", $"freq",
        element_at($"cells", length($"word") + 1)("np").as("np"))
  }

  /** Persist the trained tokenizer: the piece counts (the SERVING
    * artifact — bounded by the piece space, ≤ Σ26^l for l ≤
    * [[UgMaxPiece]], never by the corpus) AND the segmented word table
    * (word → piece count, the batch-encode acceleration table) — the
    * model artifacts of the family (the materializeRatios convention:
    * train once per corpus version, serve every later job from the
    * artifact). */
  def materializeModel(spark: SparkSession, dir: String, outDir: String): Unit = {
    val (cnt, np) = sharedTrain(spark, dir)
    cnt.coalesce(1).write.mode("overwrite").parquet(s"$outDir/counts")
    np.coalesce(1).write.mode("overwrite").parquet(s"$outDir/segments")
  }

  /** The Viterbi piece count of one word under a broadcast piece→p
    * map — the [[withCells]] training recurrence replayed as a pure
    * column expression, keeping only (score, piece count) per cell
    * (the backpointer drops out: the (s, −np) struct max already
    * determines np uniquely, and serving never reconstructs the
    * split). Fallback for pieces ABSENT from the model: a single
    * character scores an epsilon (1e-30 — the SentencePiece
    * character-coverage/unk semantics: any word segments, at worst
    * into characters, and the all-singles path keeps every cell's
    * best score positive), a longer piece scores 0.0 (always loses to
    * any positive path, exactly as training's −1.0 sentinel loses —
    * so in-vocabulary words, whose characters all trained, replay the
    * training DP bit-for-bit). */
  private def vitNp(w: Column, m: Column): Column = {
    val cells = aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(1.0).as("s"), lit(0).as("np"))),
      (acc, i) => {
        val best = array_max(transform(
          sequence(greatest(lit(0), i - UgMaxPiece), i - 1),
          j => struct(
            (element_at(acc, j + 1)("s") *
              coalesce(element_at(m, w.substr(j + 1, i - j)),
                when(i - j === 1, lit(1e-30)).otherwise(lit(0.0)))).as("s"),
            (-(element_at(acc, j + 1)("np") + 1)).as("nnp"))))
        concat(acc, array(struct(best("s").as("s"), (-best("nnp")).as("np"))))
      })
    element_at(cells, length(w) + 1)("np").cast("long")
  }

  /** The persisted piece-count artifact as the one-row broadcastable
    * piece→p map — the serving-model literal every stream-side
    * consumer ([[tokenCountWithModel]], the curated pipeline's drift
    * metrics) crosses in. Bounded by the piece space, never the
    * corpus. */
  def modelRow(pieces: DataFrame): DataFrame = probsRow(pieces)

  /** Word count of a text column — the denominator of the fertility
    * and OOV drift ratios ([[Bpe.wordsArr]]'s word definition, the one
    * the tokenizer trained on). */
  def nWordsCol(text: Column): Column =
    size(Bpe.wordsArr(text)).cast("long")

  /** Piece count of a text column under a broadcast model-map column —
    * the [[vitNp]] Viterbi DP folded over the words, exactly the
    * [[tokenCountWithModel]] arithmetic exposed as a composable column
    * (so a streaming plan can `.observe` corpus-level fertility without
    * re-shaping the frame). */
  def nPiecesCol(text: Column, m: Column): Column =
    aggregate(Bpe.wordsArr(text), lit(0L), (acc, w) => acc + vitNp(w, m))

  /** Count of words containing a character OUTSIDE the model's
    * character coverage — the words whose Viterbi path must take the
    * 1e-30 epsilon fallback ([[vitNp]]). This is the SentencePiece
    * character-coverage OOV notion: the trained vocab always contains
    * every single character it saw, so an uncovered character is
    * direct evidence the arriving distribution drifted from the
    * training corpus (new language, new script, mojibake). */
  def nOovWordsCol(text: Column, m: Column): Column =
    size(filter(Bpe.wordsArr(text), w =>
      exists(sequence(lit(1), length(w)),
        i => element_at(m, w.substr(i, lit(1))).isNull))).cast("long")

  /** Token-count an arbitrary (doc_id, text) frame — batch OR
    * STREAMING — against the persisted PIECE VOCABULARY (the `counts`
    * artifact of [[materializeModel]]). The vocabulary folds to ONE
    * map-typed row in plan and enters by broadcast — exactly how
    * production tokenizers serve: the trained vocab ships with the
    * job, and it is BOUNDED by the piece space (≤ Σ26^l, l ≤
    * [[UgMaxPiece]]) regardless of corpus size — unlike the word
    * table, which grows with the corpus and was this function's
    * broadcast in earlier rounds (ADVICE r8). Each word then runs the
    * same in-plan Viterbi DP the trainer ran ([[vitNp]]): known words
    * count bit-identically to the batch query, and an UNSEEN word
    * gets a real best segmentation over the trained pieces — the
    * SentencePiece serving semantics — instead of a one-piece-per-
    * character fallback. Stateless per-document projection: a stream
    * scores with no watermark and no aggregation state. */
  def tokenCountWithModel(docs: DataFrame, pieces: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val one = probsRow(pieces)
    docs
      .select($"doc_id", Bpe.wordsArr($"text").as("ws"))
      .filter(size($"ws") > 0)
      .crossJoin(broadcast(one))
      .select($"doc_id", size($"ws").cast("long").as("n_words"),
        aggregate($"ws", lit(0L), (acc, w) => acc + vitNp(w, $"m"))
          .as("n_pieces"))
  }

  /** Session-shared trained model for the corpus at `dir` — counts and
    * the per-word segmentation table under them (ONE train per
    * (session, corpus); dropped by [[Tables.invalidate]]). */
  private def sharedTrain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(cnt, seg) = Tables.shared(spark, dir, "ug_cnt", "ug_seg") {
      import spark.implicits._
      val docs = Tables.documentsPar(spark, dir)
      val words = wordHist(docs).localCheckpoint(eager = false)
      val cnt = trainedFrom(words, UgSweeps).localCheckpoint(eager = false)
      Seq(cnt, withCells(words, probsRow(cnt))
        .select($"word",
          element_at($"cells", length($"word") + 1)("np").as("np"))
        .localCheckpoint(eager = false))
    }
    (cnt, seg)
  }

  /** Registered query: the trained unigram vocabulary (piece, count)
    * after [[UgSweeps]] hard-EM sweeps. */
  def unigramVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedTrain(spark, dir)._1.orderBy($"cnt".desc, $"piece")
  }

  /** Registered query: per-document token count under the trained
    * unigram model — (doc_id, n_words, n_pieces). The corpus word
    * stream joins the segmented vocab on the Zipf word key. */
  def unigramTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val np = sharedTrain(spark, dir)._2
    Bpe.wordStream(Tables.documentsPar(spark, dir))
      .join(np, Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"np").cast("long").as("n_pieces"))
      .orderBy($"doc_id")
  }

  /** Registered query: per-language tokens-per-word under the trained
    * unigram model — the tokenizer-quality metric, [[Bpe.bpeFertility]]'s
    * shape with the unigram segmenter (comparing the two families'
    * fertility on the same corpus is exactly how tokenizers are
    * evaluated). */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val np = sharedTrain(spark, dir)._2
    Tables.documentsPar(spark, dir)
      .select($"lang", explode(Bpe.wordsArr($"text")).as("word"))
      .join(np, Seq("word"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"np".cast("long")).as("n_ug_tokens"))
      .withColumn("fertility",
        $"n_ug_tokens".cast("double") / $"n_words".cast("double"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle: the identical chain; the DP is a recursive CTE per
  // sweep carrying the cell list (one recursion level per character).

  // Two DuckDB 1.0 pitfalls shape this block: (1) the literal 1.0 is
  // DECIMAL(2,1), and the recursive UNION ALL coerces every appended
  // cell to the ANCHOR's type — without the explicit DOUBLE cast all
  // scores silently truncate to one decimal digit (every cell ties at
  // 0.0 and the tie-break picks the wrong splits); (2) a correlated
  // column two subquery levels deep fails to bind, so the argmax is
  // computed inline (the 1-row model CTE cross-joins into the
  // recursive step, and a one-element list_transform renames the
  // winning struct without a subquery).
  private def dpBlock(t: Int): String =
    s"""ugm$t AS (SELECT map(list(piece ORDER BY piece),
       |            list(CAST(cnt AS DOUBLE) / CAST(c AS DOUBLE) ORDER BY piece)) AS m
       |          FROM ugcnt$t, (SELECT CAST(SUM(cnt) AS BIGINT) AS c FROM ugcnt$t) GROUP BY c),
       |ugb$t AS (
       |  SELECT word, freq, 0 AS i, [{s: CAST(1.0 AS DOUBLE), np: 0, b: 0}] AS cells FROM ugwords
       |  UNION ALL
       |  SELECT word, freq, i + 1,
       |    list_append(cells, list_transform(
       |      [list_max(list_transform(range(greatest(0, i + 1 - $UgMaxPiece), i + 1),
       |         j -> {s: cells[j + 1].s * coalesce(m[word[j + 1 : i + 1]][1], CAST(-1.0 AS DOUBLE)),
       |               nnp: -(cells[j + 1].np + 1), nj: -j}))],
       |      bb -> {s: bb.s, np: -bb.nnp, b: -bb.nj})[1])
       |  FROM ugb$t, ugm$t WHERE i < len(word)),
       |ugdp$t AS (SELECT word, freq, cells FROM ugb$t WHERE i = len(word))""".stripMargin

  private def sweepBlock(t: Int): String =
    s"""${dpBlock(t)},
       |ugwk$t AS (
       |  SELECT word, freq, cells, len(word) AS pos, CAST([] AS VARCHAR[]) AS ps FROM ugdp$t
       |  UNION ALL
       |  SELECT word, freq, cells, cells[pos + 1].b AS pos,
       |    list_prepend(word[cells[pos + 1].b + 1 : pos], ps) AS ps
       |  FROM ugwk$t WHERE pos > 0),
       |ugseg$t AS (SELECT word, freq, ps FROM ugwk$t WHERE pos = 0),
       |ugcnt${t + 1} AS (
       |  SELECT COALESCE(r.piece, s.piece) AS piece,
       |    COALESCE(r.cnt, 1) AS cnt
       |  FROM (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |        FROM (SELECT freq, UNNEST(ps) AS piece FROM ugseg$t) GROUP BY piece) r
       |  FULL OUTER JOIN (SELECT piece FROM ugcnt0 WHERE len(piece) = 1) s
       |    ON r.piece = s.piece)""".stripMargin

  private def ugCtes: String = {
    val seed =
      s"""ugwords AS (
         |  SELECT word, COUNT(*) AS freq
         |  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
         |  GROUP BY word),
         |ugcnt0 AS (
         |  SELECT sub.piece AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT word, freq,
         |          UNNEST(flatten(list_transform(range(1, len(word) + 1),
         |            i -> list_transform(range(1, least($UgMaxPiece, len(word) - i + 1) + 1),
         |                   l -> {piece: word[i : i + l - 1]})))) AS sub
         |        FROM ugwords)
         |  GROUP BY sub.piece
         |  HAVING CAST(SUM(freq) AS BIGINT) >= $UgMinFreq OR len(sub.piece) = 1)""".stripMargin
    (seed +: (0 until UgSweeps).map(sweepBlock)).mkString(",\n")
  }

  val unigramVocabSql: String =
    s"""WITH RECURSIVE $ugCtes
       |SELECT piece, cnt FROM ugcnt$UgSweeps
       |ORDER BY cnt DESC, piece""".stripMargin

  val unigramFertilitySql: String =
    s"""WITH RECURSIVE $ugCtes,
       |${dpBlock(UgSweeps)},
       |ugnpf AS (SELECT word, cells[len(word) + 1].np AS np FROM ugdp$UgSweeps)
       |SELECT dw.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n.np) AS BIGINT) AS n_ug_tokens,
       |  CAST(SUM(n.np) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility
       |FROM (SELECT lang, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |      FROM documents) dw
       |JOIN ugnpf n ON dw.word = n.word
       |GROUP BY dw.lang
       |ORDER BY dw.lang""".stripMargin

  val unigramTokenCountSql: String =
    s"""WITH RECURSIVE $ugCtes,
       |${dpBlock(UgSweeps)},
       |ugnp AS (SELECT word, cells[len(word) + 1].np AS np FROM ugdp$UgSweeps),
       |ugdocw AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents)
       |SELECT d.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n.np) AS BIGINT) AS n_pieces
       |FROM ugdocw d JOIN ugnp n ON d.word = n.word
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
