package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.,
  * arXiv:1508.07909) — the step a training-data pipeline runs between
  * corpus curation and shard packing: learn the subword merge table
  * FROM the corpus, then count tokens under the learned vocabulary
  * (the reference engine has no tokenizer surface; its token-adjacent
  * behavior is the lexer split in index.go-style field mappings, see
  * reference main.go:1 data model — this operator family is north-star
  * scope, like TrainPrep/Dedup).
  *
  * Everything is deterministic and engine-exact, so the whole training
  * run — seed vocabulary, [[NBpeMerges]] greedy merge sweeps, final
  * encode — unrolls into a DuckDB CTE chain and is oracle-checked end
  * to end (the [[Similarity.kmeansFit]] convention, which did the same
  * for Lloyd's iterations). All arithmetic is integer (counts), so
  * cross-engine hash equality needs no Exact-decimal machinery at all.
  *
  * The merge-application trick that keeps both engines bit-identical:
  * a word's symbol sequence is ONE string with single sentinel spaces
  * and DOUBLE separator spaces — "hug" → `" h  u  g "`. Merging pair
  * (lhs, rhs) is then plain non-regex string replacement of
  * `" lhs  rhs "` with `" lhsrhs "`: each match consumes one of the two
  * separator spaces on each side, so the double-separator invariant
  * survives, adjacent matches don't steal each other's delimiters (the
  * classic single-space encoding fails exactly there), and both Spark's
  * codegen'd `StringReplace` and DuckDB's `replace` scan left-to-right
  * non-overlapping — greedy BPE semantics, no lookaround regex (which
  * RE2/DuckDB lacks) needed.
  *
  * Shape at 100 TB: the corpus is scanned ONCE — the word histogram is
  * the canonical map-side-combined wordcount, shuffling (word, count)
  * partials only. Every merge sweep after that runs at VOCAB grain
  * (distinct words: ~10⁸ rows at web scale, hash-distributed), never
  * corpus grain: pair counting shuffles (sym, sym, cnt) partial
  * aggregates, the winning pair is a 1-row TakeOrderedAndProject
  * broadcast back into the plan, and merge application is a narrow
  * codegen'd string replace over the vocab table. One deferred
  * localCheckpoint per sweep truncates the unrolled lineage (the
  * kmeansRowsAt pattern). A production 32k-merge train batches the
  * top-M non-conflicting pairs per sweep (the fastBPE/SentencePiece
  * trick) to cut sweep count — implemented at [[bpeSweepBatched]],
  * with m = 1 proven bit-equal to the sequential train in BpeSpec;
  * the registered queries stay on the sequential path so the oracle
  * stays a readable unrolled chain. The pair-extraction lambda
  * (`transform` over an index
  * sequence) is a higher-order function and therefore interpreted — it
  * runs at vocab grain only, never over the corpus (the repo's
  * interpreted-lambda budget, PLANS.md r3).
  */
object Bpe {

  /** Merge-sweep count of the registered queries. Kept small so the
    * DuckDB oracle is an unrolled 8-step CTE chain; the sweep dataflow,
    * not the sweep count, is the thing that must scale. */
  val NBpeMerges = 8

  /** Lower-case alphabetic word stream of a documents frame — the BPE
    * pre-tokenization (word boundaries are never merged across,
    * arXiv:1508.07909 §3.2). */
  /** The shared pre-tokenization: the lowercase [a-z]+ word array of a
    * text column. BOTH tokenizer families (BPE train/encode, unigram
    * train/encode/serving) derive their word stream here — a change to
    * the pre-tokenization cannot silently diverge the two, or a trained
    * model from its serving path. */
  private[ops] def wordsArr(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+"), lit(0))

  private[ops] def wordStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      explode(wordsArr($"text")).as("word"))
  }

  /** Sentinel-and-double-separator symbol string of a word: "hug" →
    * `" h  u  g "`. rtrim folds the regex's trailing separator into the
    * single sentinel. */
  private def symInit(word: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(word, "(.)", "$1  ")), lit(" "))

  /** Seed vocabulary: (word, corpus freq, symbol string). The one
    * corpus-grain scan of the whole train. */
  private def bpeInit(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    wordStream(docs)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .withColumn("s", symInit($"word"))
  }

  /** Freq-weighted adjacent-pair counts of a vocab frame — the sweep's
    * aggregate. Vocab grain: the explode multiplies rows by symbols per
    * WORD, not per occurrence (freq carries the corpus weight). */
  private def bpePairs(w: DataFrame): DataFrame = {
    import w.sparkSession.implicits._
    w.select($"freq", split(trim($"s"), "  ").as("t"))
      .filter(size($"t") >= 2)
      .select($"freq", explode(transform(sequence(lit(1), size($"t") - 1),
        i => struct(element_at($"t", i).as("lhs"),
          element_at($"t", i + 1).as("rhs")))).as("pr"))
      .groupBy($"pr.lhs".as("lhs"), $"pr.rhs".as("rhs"))
      .agg(sum($"freq").as("cnt"))
  }

  /** One greedy sweep: the max-count pair (ties broken lexicographically
    * — both engines compare ASCII byte order) wins, and every vocab row
    * rewrites its symbol string through the sentinel-space replace. The
    * winner joins back as a broadcast 1-row LEFT join (not a crossJoin)
    * so a merge-exhausted corpus degrades to a no-op sweep instead of
    * nuking the vocab to empty. Returns (merge row, next vocab). */
  private def bpeSweep(w: DataFrame, it: Int): (DataFrame, DataFrame) = {
    import w.sparkSession.implicits._
    val top = bpePairs(w)
      .orderBy($"cnt".desc, $"lhs", $"rhs").limit(1)
      .select(lit(it).as("it"), $"lhs", $"rhs",
        concat($"lhs", $"rhs").as("merged"), $"cnt")
      .localCheckpoint(eager = false)
    val next = w.withColumn("j", lit(1))
      .join(broadcast(top.select(lit(1).as("j"), $"lhs".as("ml"), $"rhs".as("mr"))),
        Seq("j"), "left")
      .select($"word", $"freq",
        when($"ml".isNull, $"s").otherwise(
          replace($"s",
            concat(lit(" "), $"ml", lit("  "), $"mr", lit(" ")),
            concat(lit(" "), $"ml", $"mr", lit(" ")))).as("s"))
      .localCheckpoint(eager = false)
    (top, next)
  }

  /** One BATCHED sweep: the top-`m` pairwise-DISJOINT pairs of the
    * ordered candidate window all merge in one vocab rewrite — the
    * fastBPE/SentencePiece production trick the class doc promises.
    * Two merges CONFLICT iff they share a symbol: disjoint merges
    * commute, and each one's start-of-sweep count stays exact under
    * the others' application (a replace of `" a  b "` can neither
    * create nor destroy a `" c  d "` adjacency when {a,b} ∩ {c,d} = ∅
    * — the merged symbol "ab" is a NEW symbol, so every (c,d)
    * adjacency survives verbatim). Selection is greedy in the same
    * (cnt desc, lhs, rhs) order the sequential sweep uses, over a
    * 4·m-row candidate window (TakeOrderedAndProject), folded to the
    * disjoint set in ONE single-row aggregate — the PQ-seed
    * bounded-grain convention, no driver collect — and re-entering the
    * vocab rewrite by broadcast. With m = 1 the window's head is
    * exactly [[bpeSweep]]'s winner and the rewrite is the identical
    * replace, so the batched train IS the sequential train (BpeSpec
    * proves merge tables and final vocabs bit-equal); a production
    * 32k-merge run sets iters·m = 32k with ~1k sweeps instead of 32k.
    * Returns (merge rows (it, rank, lhs, rhs, merged, cnt), next
    * vocab). */
  private def bpeSweepBatched(w: DataFrame, it: Int, m: Int): (DataFrame, DataFrame) = {
    import w.sparkSession.implicits._
    val cands = bpePairs(w)
      .orderBy($"cnt".desc, $"lhs", $"rhs").limit(math.max(4 * m, 8))
    // (-cnt, lhs, rhs) structs sort to the sequential greedy order;
    // the fold keeps a pair iff its symbols are unseen and the budget
    // has room — bounded grain: ≤ 4·m elements in one row
    val selRow = cands
      .agg(array_sort(collect_list(struct((-$"cnt").as("nc"), $"lhs", $"rhs")))
        .as("ps"))
      .select(aggregate($"ps",
        struct(array().cast("array<string>").as("used"),
          array().cast("array<struct<lhs:string,rhs:string,cnt:bigint>>")
            .as("sel")),
        (acc, p) => when(
          size(acc("sel")) >= m ||
            array_contains(acc("used"), p("lhs")) ||
            array_contains(acc("used"), p("rhs")), acc)
          .otherwise(struct(
            concat(acc("used"), array(p("lhs"), p("rhs"))).as("used"),
            concat(acc("sel"), array(struct(p("lhs"), p("rhs"),
              (-p("nc")).as("cnt")))).as("sel"))),
        acc => acc("sel")).as("sel"))
      .localCheckpoint(eager = false) // one row, ALWAYS (agg over empty → empty sel)
    val merges = selRow
      .select(posexplode($"sel").as(Seq("rank0", "p")))
      .select(lit(it).as("it"), ($"rank0" + 1).as("rank"),
        $"p.lhs".as("lhs"), $"p.rhs".as("rhs"),
        concat($"p.lhs", $"p.rhs").as("merged"), $"p.cnt".as("cnt"))
    val next = w.crossJoin(broadcast(selRow))
      .select($"word", $"freq",
        aggregate($"sel", $"s", (s, p) =>
          replace(s,
            concat(lit(" "), p("lhs"), lit("  "), p("rhs"), lit(" ")),
            concat(lit(" "), p("lhs"), p("rhs"), lit(" ")))).as("s"))
      .localCheckpoint(eager = false)
    (merges, next)
  }

  /** The batched train — [[bpeTrainFrames]] with `m` disjoint merges
    * per sweep. Returns (final vocab, per-sweep merge frames, each
    * carrying the within-sweep `rank`). */
  private[graft] def bpeTrainBatchedFrames(docs: DataFrame, iters: Int,
      m: Int): (DataFrame, Seq[DataFrame]) = {
    val seed = bpeInit(docs).localCheckpoint(eager = false)
    (1 to iters).foldLeft((seed, Seq.empty[DataFrame])) {
      case ((w, ms), it) =>
        val (merges, next) = bpeSweepBatched(w, it, m)
        (next, ms :+ merges)
    } match { case (w, ms) => (w, ms) }
  }

  /** The full train at an explicit sweep count — the test seam (the
    * kmeansRowsAt pattern): returns (final vocab, per-sweep merge
    * frames). */
  private[graft] def bpeTrainFrames(docs: DataFrame, iters: Int): (DataFrame, Seq[DataFrame]) = {
    val seed = bpeInit(docs).localCheckpoint(eager = false)
    val (finalW, merges) = (1 to iters).foldLeft((seed, Seq.empty[DataFrame])) {
      case ((w, ms), it) =>
        val (top, next) = bpeSweep(w, it)
        (next, ms :+ top)
    }
    (finalW, merges)
  }

  /** Session-shared trained tokenizer for the corpus at `dir` — ONE
    * train per (session, corpus), consumed by all three registered
    * queries (the [[Dedup.sharedSigSets]] pattern and its
    * CORPUS-VERSION CONTRACT: a session that rewrites the corpus in
    * place must call [[Tables.invalidate]], which drops every
    * [[Tables.shared]] memo). Returns (final vocab, merge table). */
  def sharedTrain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(vocab, merges) = Tables.shared(spark, dir, "bpe_vocab", "bpe_merges") {
      val (w, merges) = bpeTrainFrames(Tables.documentsPar(spark, dir), NBpeMerges)
      Seq(w, merges.reduce(_ union _))
    }
    (vocab, merges)
  }

  /** Registered query: the learned merge table — (sweep, pair, merged
    * token, corpus pair count), the artifact a tokenizer ships. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, merges) = sharedTrain(spark, dir)
    merges.orderBy($"it")
  }

  /** Registered query: the learned subword vocabulary — every symbol
    * surviving [[NBpeMerges]] sweeps with its corpus occurrence count
    * (seed chars + merged tokens; the encode dictionary's key set). */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (w, _) = sharedTrain(spark, dir)
    w.select($"freq", explode(split(trim($"s"), "  ")).as("token"))
      .groupBy($"token").agg(sum($"freq").as("n_occ"))
      .orderBy($"token")
  }

  /** Registered query: per-document token counts under the LEARNED
    * vocabulary — the encode step. The final vocab table IS the encode
    * dictionary (every word's fully-merged symbol count), so encoding
    * is a join from the corpus word stream to vocab grain — no
    * corpus-grain merge application ever runs. The join shuffles
    * (doc_id, word) against (word, n_syms): a web-scale vocab is NOT
    * broadcastable and word frequency is Zipf-skewed — shuffle hash
    * join with AQE skew handling, the [[TextAnalysis.tokenRarity]]
    * stance. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val (w, _) = sharedTrain(spark, dir)
    val enc = w.select($"word", size(split(trim($"s"), "  ")).as("n_syms"))
    wordStream(docs)
      .join(enc, Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_syms".cast("long")).as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** Registered query: per-language FERTILITY of the trained tokenizer
    * — mean BPE tokens per word, the standard tokenizer-quality metric
    * (a vocab trained on one language's text fragments the others'
    * words into more pieces; multilingual tokenizer evals report
    * exactly this ratio per language). Same vocab-grain join as
    * [[bpeTokenCount]], collapsed to language grain: the second
    * aggregate ships (lang, count, sum) — a handful of rows — and the
    * ratio is one IEEE division (exact-comparable, the hit_rate
    * convention). */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val (w, _) = sharedTrain(spark, dir)
    val enc = w.select($"word", size(split(trim($"s"), "  ")).as("n_syms"))
    docs.select($"lang",
      explode(wordsArr($"text"))
        .as("word"))
      .join(enc, Seq("word"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_syms".cast("long")).as("n_bpe_tokens"))
      .withColumn("fertility",
        $"n_bpe_tokens".cast("double") / $"n_words".cast("double"))
      .orderBy($"lang")
  }

  /** Registered query: the corpus ENCODED — each document's ordered
    * token-id sequence under the learned vocabulary, plus its length.
    * This is the tokenize-for-training step: ids are the token's
    * alphabetical rank in the learned vocab (assigned once at
    * vocab grain — the one single-partition window here runs over
    * distinct subword types, thousands of rows at web scale, the same
    * class as the kmeans seed window), words join the encode
    * dictionary at vocab grain, and each document's ids reassemble in
    * (word, symbol) order.
    *
    * The ordered per-doc collect is a NATIVE struct sort: ids collect
    * as (wpos, spos, token_id) structs, array_sort orders them by the
    * struct's natural field order — exactly the oracle's
    * `list(... ORDER BY wpos, spos)` — and one transform projects the
    * id strings out for the join. (r17: this replaced the
    * fixed-width-sortable `%06d%06d:id` string encoding + terminal
    * regexp_replace strip — the aggregation buffers carried ~20-char
    * strings per token and the strip ran a regex over the whole
    * encoded corpus; structs halve the buffer bytes and the regex is
    * gone — measured 3.2 → 2.4 s at sf0.1. The transform lambda runs
    * at OUTPUT grain, one array per doc, not corpus grain.) Output
    * rows carry the full encoded corpus, so like chunk_docs this is a
    * write-to-storage terminal op, never a shuffle input. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, dir)
    val (w, _) = sharedTrain(spark, dir)
    val ids = w.select(explode(split(trim($"s"), "  ")).as("token")).distinct()
      .withColumn("token_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"token")) - 1)
    val wsyms = w
      .select($"word", posexplode(split(trim($"s"), "  ")).as(Seq("spos", "token")))
      .join(broadcast(ids), Seq("token"))
    docs
      .select($"doc_id", posexplode(wordsArr($"text")).as(Seq("wpos", "word")))
      .join(wsyms, Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bpe_tokens"),
        array_join(transform(
          array_sort(collect_list(struct($"wpos", $"spos", $"token_id"))),
          x => x.getField("token_id").cast("string")), ",")
          .as("token_ids"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle: the train unrolled as CTEs (w0, then p_i/m_i/w_i per
  // sweep), mirroring the Spark chain stage for stage. DuckDB regex
  // needs the 'g' flag and \1 backrefs where Spark defaults to
  // global/$1; everything else is shared verbatim.
  // ---------------------------------------------------------------------

  private val bpeW0Sql: String =
    """w0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
      |         ' ' || rtrim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ' AS s
      |  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |        FROM documents)
      |  GROUP BY word)""".stripMargin

  private def bpeIterSql(i: Int): String = {
    val prev = s"w${i - 1}"
    s"""p$i AS (
       |  SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, t[i] AS lhs, t[i + 1] AS rhs
       |        FROM (SELECT freq, t, UNNEST(range(1, len(t))) AS i
       |              FROM (SELECT freq, string_split(trim(s), '  ') AS t FROM $prev)))
       |  GROUP BY lhs, rhs),
       |m$i AS (SELECT $i AS it, lhs, rhs, lhs || rhs AS merged, cnt
       |        FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
       |w$i AS (SELECT word, freq,
       |          replace(s, ' ' || lhs || '  ' || rhs || ' ', ' ' || lhs || rhs || ' ') AS s
       |        FROM $prev CROSS JOIN m$i)""".stripMargin
  }

  private def bpeCtes(iters: Int): String =
    (bpeW0Sql +: (1 to iters).map(bpeIterSql)).mkString("WITH ", ",\n", "")

  val bpeTrainSql: String =
    bpeCtes(NBpeMerges) + "\n" +
      (1 to NBpeMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ") +
      "\nORDER BY it"

  val bpeVocabSql: String =
    bpeCtes(NBpeMerges) +
      s"""
         |SELECT token, CAST(SUM(freq) AS BIGINT) AS n_occ
         |FROM (SELECT freq, UNNEST(string_split(trim(s), '  ')) AS token
         |      FROM w$NBpeMerges)
         |GROUP BY token
         |ORDER BY token""".stripMargin

  val bpeTokenCountSql: String =
    bpeCtes(NBpeMerges) +
      s""",
         |enc AS (SELECT word, len(string_split(trim(s), '  ')) AS n_syms
         |        FROM w$NBpeMerges)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |      FROM documents) dw
         |JOIN enc USING (word)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin

  val bpeFertilitySql: String =
    bpeCtes(NBpeMerges) +
      s""",
         |enc AS (SELECT word, len(string_split(trim(s), '  ')) AS n_syms
         |        FROM w$NBpeMerges)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
         |       CAST(SUM(n_syms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility
         |FROM (SELECT lang, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |      FROM documents) dw
         |JOIN enc USING (word)
         |GROUP BY lang
         |ORDER BY lang""".stripMargin

  val bpeEncodeSql: String =
    bpeCtes(NBpeMerges) +
      s""",
         |ids AS (SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id
         |        FROM (SELECT DISTINCT UNNEST(string_split(trim(s), '  ')) AS token
         |              FROM w$NBpeMerges)),
         |wsyms AS (SELECT word, spos, token_id
         |          FROM (SELECT word, spos, t[spos] AS token
         |                FROM (SELECT word, t, UNNEST(range(1, len(t) + 1)) AS spos
         |                      FROM (SELECT word, string_split(trim(s), '  ') AS t
         |                            FROM w$NBpeMerges)))
         |          JOIN ids USING (token)),
         |words AS (SELECT doc_id, wpos, ws[wpos] AS word
         |          FROM (SELECT doc_id, ws, UNNEST(range(1, len(ws) + 1)) AS wpos
         |                FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
         |                      FROM documents)))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bpe_tokens,
         |       array_to_string(list(CAST(token_id AS VARCHAR) ORDER BY wpos, spos), ',') AS token_ids
         |FROM words JOIN wsyms USING (word)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
}
