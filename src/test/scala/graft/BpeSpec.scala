package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._

/** BPE tokenizer training: the classic hand-computable corpus (the
  * hug/pug/pun/bun example from the BPE literature) pins the exact
  * greedy merge sequence including a lexicographic tie-break, the
  * sentinel-space replace is checked against its one known failure mode
  * (shared delimiters between adjacent matches), and the registered
  * queries get the invariants the row/hash oracle can't express:
  * reconstruction (symbols concatenate back to every word), monotone
  * compression, and exhausted-merge degradation. */
class BpeSpec extends SparkSpec {

  private def tinyCorpus = {
    import spark.implicits._
    // word freqs: hug=4, pug=1, pun=1, bun=1
    Seq((1L, "hug hug pug pun"), (2L, "bun hug hug"))
      .toDF("doc_id", "text")
  }

  test("bpe_train learns the known greedy merge sequence with lexicographic tie-break") {
    import spark.implicits._
    val (_, merges) = Bpe.bpeTrainFrames(tinyCorpus, 4)
    val got = merges.reduce(_ union _).orderBy($"it")
      .select($"it", $"lhs", $"rhs", $"merged", $"cnt")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // sweep 1: (u,g)=5 beats (h,u)=4; sweep 2: (h,ug)=4; sweep 3:
    // (u,n)=2; sweep 4: all pairs tie at 1 — (b,un) < (p,u) < (p,ug)
    // byte-order
    assert(got.toSeq == Seq(
      (1, "u", "g", "ug", 5L),
      (2, "h", "ug", "hug", 4L),
      (3, "u", "n", "un", 2L),
      (4, "b", "un", "bun", 1L)))
  }

  test("merge application is greedy left-to-right: adjacent and overlapping matches") {
    import spark.implicits._
    // "aaaa" under pair (a,a): greedy non-overlap → [aa, aa];
    // "aaa" → [aa, a] (the overlap case); "abab" under (a,b) → [ab, ab]
    // (the adjacent-match shared-delimiter case the double-space
    // encoding exists for)
    val docs = Seq((1L, "aaaa aaa abab")).toDF("doc_id", "text")
    val (w, merges) = Bpe.bpeTrainFrames(docs, 2)
    val syms = w.select($"word", split(trim($"s"), "  ").as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val m = merges.map(_.collect()).filter(_.nonEmpty).map(_.head)
      .map(r => (r.getString(1), r.getString(2)))
    // sweep 1 merges (a,a): pairs (a,a)=3+2+0=5? aaaa:3, aaa:2, abab:0;
    // (a,b)=2, (b,a)=1 → (a,a) wins; sweep 2 counts on merged forms
    assert(m.head == ("a", "a"))
    assert(syms("aaaa") == Seq("aa", "aa"))
    assert(syms("aaa") == Seq("aa", "a"))
  }

  test("vocab reconstructs every word and token counts are conserved") {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, sfDir)
    val (w, _) = Bpe.bpeTrainFrames(docs, Bpe.NBpeMerges)
    // concat of a word's symbols == the word, for every vocab row
    val broken = w.select($"word",
      concat_ws("", split(trim($"s"), "  ")).as("rebuilt"))
      .filter($"word" =!= $"rebuilt")
    assert(broken.count() == 0, "symbol sequences must concatenate back to their word")
    // total BPE tokens (vocab occurrence mass) == per-doc encode total
    val vocabMass = Bpe.bpeVocab(spark, sfDir)
      .agg(sum($"n_occ")).head().getLong(0)
    val encodeMass = Bpe.bpeTokenCount(spark, sfDir)
      .agg(sum($"n_bpe_tokens")).head().getLong(0)
    assert(vocabMass == encodeMass,
      s"vocab occurrence mass $vocabMass != encode mass $encodeMass")
  }

  test("each sweep strictly reduces total token count while merges remain") {
    import spark.implicits._
    def mass(iters: Int): Long = {
      val (w, _) = Bpe.bpeTrainFrames(tinyCorpus, iters)
      w.select(($"freq" * size(split(trim($"s"), "  "))).as("m"))
        .agg(sum($"m")).head().getLong(0)
    }
    val masses = (0 to 4).map(mass)
    // seed: 3*4 + 3 + 3 + 3 = 21 chars; each sweep removes cnt tokens
    assert(masses == Seq(21L, 16L, 12L, 10L, 9L))
  }

  test("exhausted merges degrade to no-op sweeps, not an empty vocab") {
    import spark.implicits._
    // single repeated word "ab": after 1 merge every word is one
    // symbol; further sweeps must leave the vocab intact and emit no
    // merge rows
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val (w, merges) = Bpe.bpeTrainFrames(docs, 3)
    assert(merges.head.count() == 1)
    assert(merges(1).count() == 0 && merges(2).count() == 0)
    assert(w.count() == 1)
    assert(w.select(trim($"s")).head().getString(0) == "ab")
  }

  test("sweeps run at vocab grain: corpus replication scales counts, not structure") {
    import spark.implicits._
    // 4x the corpus with fresh doc ids = same vocabulary, same merge
    // STRUCTURE (pair counts scale by 4, order and tie-breaks
    // unchanged) — the property that makes the train viable at 100 TB:
    // everything after the word histogram is vocab-sized
    val base = tinyCorpus
    val x4 = (0 until 4).map(i =>
      base.select(($"doc_id" + lit(i * 1000)).as("doc_id"), $"text"))
      .reduce(_ union _)
    val m1 = Bpe.bpeTrainFrames(base, 4)._2.map(_.collect().head)
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    val m4 = Bpe.bpeTrainFrames(x4, 4)._2.map(_.collect().head)
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(m1.map(t => (t._1, t._2, t._3)) == m4.map(t => (t._1, t._2, t._3)),
      "merge structure must be invariant under corpus replication")
    assert(m1.zip(m4).forall { case (a, b) => b._4 == 4 * a._4 },
      "pair counts must scale exactly with replication")
  }

  test("batched train at m=1 is bit-equal to the sequential train") {
    import spark.implicits._
    // property-style battery: the hand corpus plus seeded random
    // corpora (short alphabetic words, Zipf-ish repetition), swept at
    // several budgets — merge tables AND final vocabs must be
    // bit-identical, because an m=1 batched sweep takes the candidate
    // window's head, which IS the sequential winner
    val rnd = new scala.util.Random(9)
    def randCorpus(seed: Int): org.apache.spark.sql.DataFrame = {
      val r = new scala.util.Random(seed)
      val words = Vector.fill(8)(
        (1 to (2 + r.nextInt(4))).map(_ => ('a' + r.nextInt(6)).toChar).mkString)
      (0 until 6).map(i => (i.toLong,
        Seq.fill(3 + r.nextInt(8))(words(r.nextInt(words.size))).mkString(" ")))
        .toDF("doc_id", "text")
    }
    val corpora = Seq(tinyCorpus) ++ (1 to 4).map(s => randCorpus(rnd.nextInt()))
    corpora.zipWithIndex.foreach { case (c, ci) =>
      Seq(1, 3).foreach { iters =>
        val (wSeq, mSeq) = Bpe.bpeTrainFrames(c, iters)
        val (wBat, mBat) = Bpe.bpeTrainBatchedFrames(c, iters, m = 1)
        def mergeRows(ms: Seq[org.apache.spark.sql.DataFrame]) = ms
          .map(_.select($"it", $"lhs", $"rhs", $"merged", $"cnt"))
          .reduce(_ unionAll _)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSet
        assert(mergeRows(mSeq) == mergeRows(mBat),
          s"corpus $ci iters $iters: merge tables diverged")
        def vocabRows(w: org.apache.spark.sql.DataFrame) = w
          .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
        assert(vocabRows(wSeq) == vocabRows(wBat),
          s"corpus $ci iters $iters: final vocabs diverged")
      }
    }
  }

  test("batched sweeps select pairwise-disjoint pairs and compress like the sequential chain") {
    import spark.implicits._
    // disjoint-rich corpus: (a,b), (c,d), (e,f) never share a symbol,
    // so one m=2 batched sweep applies the top TWO merges the
    // sequential train needs two corpus-wide sweeps for
    val c = Seq((1L, "ab ab ab cd cd ef"), (2L, "ab cd ef ef"))
      .toDF("doc_id", "text")
    val (wBat, mBat) = Bpe.bpeTrainBatchedFrames(c, iters = 1, m = 2)
    val sel = mBat.head.orderBy($"rank")
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("cnt")))
    assert(sel.length == 2, s"m=2 must take two disjoint pairs: ${sel.toSeq}")
    assert(sel.flatMap(p => Seq(p._2, p._3)).distinct.length == 4,
      s"selected pairs must be pairwise disjoint: ${sel.toSeq}")
    val (wSeq, _) = Bpe.bpeTrainFrames(c, iters = 2)
    val vb = wBat.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val vs = wSeq.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(vb == vs,
      "one m=2 sweep over disjoint winners must equal two sequential sweeps")
    // conflict handling: on the hug corpus every later candidate shares
    // 'u' with the sweep winner, so a generous budget still selects
    // exactly the one disjoint merge — never a conflicting batch
    val (_, mTiny) = Bpe.bpeTrainBatchedFrames(tinyCorpus, iters = 1, m = 3)
    val tinySel = mTiny.head.collect()
    assert(tinySel.length == 1 && tinySel.head.getAs[String]("merged") == "ug",
      s"conflicting candidates must not batch: ${tinySel.toSeq}")
  }

  test("bpe_train is deterministic across runs") {
    val a = Bpe.bpeTrain(spark, sfDir).collect().toSeq
    val b = Bpe.bpeTrain(spark, sfDir).collect().toSeq
    assert(a == b)
  }

  test("fertility aggregates token counts by language and stays >= 1") {
    import spark.implicits._
    val f = Bpe.bpeFertility(spark, sfDir).collect()
    assert(f.nonEmpty)
    // a word encodes to at least one symbol, so fertility >= 1 always
    assert(f.forall(r => r.getDouble(3) >= 1.0))
    // language totals must re-aggregate the per-doc count query exactly
    val byLang = Bpe.bpeTokenCount(spark, sfDir).as("c")
      .join(Tables.documentsPar(spark, sfDir).select($"doc_id", $"lang"),
        "doc_id")
      .groupBy($"lang")
      .agg(sum($"n_words").as("w"), sum($"n_bpe_tokens").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    f.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == byLang(r.getString(0)),
        s"fertility totals diverge for ${r.getString(0)}")
    }
  }

  test("bpe_encode agrees with bpe_token_count and round-trips the tiny corpus") {
    import spark.implicits._
    // lengths must agree doc for doc with the count query
    val enc = Bpe.bpeEncode(spark, sfDir)
    val cnt = Bpe.bpeTokenCount(spark, sfDir)
    val disagree = enc.as("e").join(cnt.as("c"), "doc_id")
      .filter($"e.n_bpe_tokens" =!= $"c.n_bpe_tokens").count()
    assert(disagree == 0)
    // every id in every sequence is a valid vocab rank
    val nVocab = Bpe.bpeVocab(spark, sfDir).count()
    val maxId = enc.select(explode(split($"token_ids", ",")).as("id"))
      .agg(max($"id".cast("long"))).head().getLong(0)
    assert(maxId == nVocab - 1, s"max id $maxId vs vocab size $nVocab")
  }

  test("shared train is session-cached per corpus and dropped by the one invalidate entry point") {
    val suffix = graft.Tables.viewSuffix(sfDir)
    Bpe.bpeTrain(spark, sfDir).collect()
    assert(spark.catalog.tableExists("graft_bpe_vocab_" + suffix))
    assert(spark.catalog.tableExists("graft_bpe_merges_" + suffix))
    graft.Tables.invalidate(spark, sfDir)
    assert(!spark.catalog.tableExists("graft_bpe_vocab_" + suffix))
    assert(!spark.catalog.tableExists("graft_bpe_merges_" + suffix))
  }
}
