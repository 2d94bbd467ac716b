package graft

import graft.ops.Search
import org.apache.spark.sql.functions._

/** Retrieval invariants the row/hash oracle can't express: BM25's idf
  * actually rewards rare terms and its length normalization actually
  * penalizes long docs, phrase match is adjacency (not co-occurrence),
  * RRF fuses (both-list docs outrank single-list docs at equal rank),
  * and the plans keep the one-scan + broadcast-stats + top-k-heap
  * shape the scaladocs claim. */
class SearchSpec extends SparkSpec {

  import spark.implicits._

  /** Synthetic pool with controlled tf/df/dl:
    *  - docs 0-9:  "rare filler×7"  (rare term, df=10, dl=8)
    *  - docs 10-39: "common filler×7" (common term, df=30, dl=8)
    *  - doc 40:   "rare common ×4 each" (both terms, dl=8)
    *  - doc 50:   "rare filler×15" (rare term, dl=16 — long)
    */
  private lazy val corpus = {
    val fill7 = Seq.fill(7)("filler").mkString(" ")
    val fill15 = Seq.fill(15)("filler").mkString(" ")
    val rows =
      (0L until 10L).map(i => (i, s"rare $fill7")) ++
        (10L until 40L).map(i => (i, s"common $fill7")) ++
        Seq((40L, "rare common rare common rare common rare common")) ++
        Seq((50L, s"rare $fill15"))
    rows.toDF("doc_id", "text")
  }

  private def ranked(terms: Seq[String]) =
    Search.bm25RankedOf(corpus, terms, 100, "rk")
      .select($"doc_id", $"rk", $"score")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("bm25 idf: at equal tf and dl, the rarer term scores higher") {
    val rk = ranked(Seq("rare", "common"))
    // doc 40 matches both terms -> best; then the rare-term docs; the
    // common-term docs (same tf=1, same dl) must rank below every
    // rare-term short doc
    assert(rk(40L) == 1, "the both-terms doc must rank first")
    val rareRanks = (0L until 10L).map(rk)
    val commonRanks = (10L until 40L).map(rk)
    assert(rareRanks.max < commonRanks.min,
      s"rare-term docs must all outrank common-term docs: $rk")
  }

  test("bm25 length normalization: same tf, longer doc ranks lower") {
    val rk = ranked(Seq("rare"))
    // doc 50 has the same tf=1 as docs 0-9 but twice the length
    assert((0L until 10L).forall(i => rk(i) < rk(50L)),
      "the long doc must rank below every short doc with the same tf")
  }

  test("bm25 score is strictly monotone: up in tf, down in dl") {
    // tf sweep at fixed dl=10: docs with 1..5 copies of the term
    val tfDocs = (1 to 5).map { k =>
      (k.toLong, (Seq.fill(k)("term") ++ Seq.fill(10 - k)("filler")).mkString(" "))
    }.toDF("doc_id", "text")
    val tfScores = Search.bm25ScoredOf(tfDocs, Seq("term"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    (1 to 4).foreach { k =>
      assert(tfScores(k.toLong) < tfScores(k + 1L),
        s"score must rise with tf: $tfScores")
    }
    // dl sweep at fixed tf=1: the same term diluted into longer docs
    val dlDocs = (1 to 5).map { k =>
      (k.toLong, ("term" +: Seq.fill(5 * k)("filler")).mkString(" "))
    }.toDF("doc_id", "text")
    val dlScores = Search.bm25ScoredOf(dlDocs, Seq("term"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    (1 to 4).foreach { k =>
      assert(dlScores(k.toLong) > dlScores(k + 1L),
        s"score must fall with dl: $dlScores")
    }
  }

  test("bm25 stats enter by broadcast and top-k is a heap, not a sort") {
    val plan = Search.bm25TopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the 1-row corpus-stats aggregate must re-enter by broadcast")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-k must be per-partition heaps (TakeOrderedAndProject)")
  }

  test("match_phrase is adjacency, not co-occurrence, with multiplicity") {
    val docs = Seq(
      (0L, "slow scan slow scan end"), // 2 adjacent occurrences
      (1L, "slow x scan"), // co-occurring but not adjacent
      (2L, "scan slow"), // reversed
      (3L, "a slow scan b")) // 1 occurrence
      .toDF("doc_id", "text")
    // matchPhrase reads from the fixture dir; exercise the same
    // expression through a temp view round-trip of the operator body
    val nOcc = docs.select($"doc_id",
      size(regexp_extract_all(
        graft.ops.TextAnalysis.norm($"text"),
        lit(graft.ops.TextAnalysis.wordPattern(Seq(Search.PhraseTerms.mkString(" ")))),
        lit(0))).as("n_occur"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(nOcc(0L) == 2 && nOcc(1L) == 0 && nOcc(2L) == 0 && nOcc(3L) == 1)
  }

  test("highlight snippet contains the term at the reported position") {
    val rows = Search.searchHighlight(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture has docs containing the term")
    rows.foreach { r =>
      val (pos, snippet) = (r.getInt(1), r.getString(2))
      assert(snippet.contains(Search.HighlightTerm),
        s"snippet '$snippet' must contain '${Search.HighlightTerm}'")
      assert(pos >= 1)
    }
  }

  test("rrf: a doc on both lists outranks docs on one list at equal rank") {
    // direct arithmetic check of the fused ordering on the fixture
    val fused = Search.hybridRrf(spark, sfDir).collect()
    assert(fused.length == Search.RrfTopK)
    val rrfs = fused.map(_.getDouble(3))
    assert(rrfs.sameElements(rrfs.sortBy(-_)), "emitted in fused order")
    // any doc with both ranks r1,r2 beats any doc with only one rank
    // min(r1,r2) >= those: 1/(60+r1)+1/(60+r2) > 1/(60+min) alone is
    // false in general, so check the actual invariant: both-list docs
    // with ranks (a,b) outrank single-list docs of rank c >= max(a,b)
    val both = fused.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val single = fused.filter(r => r.isNullAt(1) ^ r.isNullAt(2))
    for (b <- both; s <- single) {
      val bMax = math.max(b.getInt(1), b.getInt(2))
      val sRank = if (s.isNullAt(1)) s.getInt(2) else s.getInt(1)
      if (sRank >= bMax)
        assert(b.getDouble(3) > s.getDouble(3),
          "a doc ranked on both modalities must out-fuse a doc ranked " +
            "no better on one modality")
    }
  }

  test("served bm25 reproduces the scan path bit-for-bit") {
    val root = java.nio.file.Files.createTempDirectory("graftsearchidx")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val served = Search.searchWithIndex(spark, root, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    val scanned = Search.bm25TopK(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == scanned,
      "index serving must equal the corpus-scan ranking exactly")
  }

  test("served multi-field bm25 reproduces the scan path bit-for-bit; head boost reorders") {
    val root = java.nio.file.Files.createTempDirectory("graftmfidx")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val served = Search.multifieldWithIndex(spark, root, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    val scanned = Search.bm25Multifield(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == scanned,
      "multi-field index serving must equal the corpus-scan ranking exactly")
    // the boost has teeth: a doc whose hit sits in the head (title)
    // field must outrank an equal-body doc without a head hit
    val docs = Seq(
      (0L, "needle alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta needle"))
      .toDF("doc_id", "text")
    val mf = Search.bm25MultifieldOf(docs, Seq("needle"), 10)
      .collect().map(r => r.getLong(1) -> r.getInt(0)).toMap
    assert(mf(0L) < mf(1L),
      "the head-field hit must outrank the tail hit under best_fields boosting")
  }

  test("search_after keyset paging: page1 ∪ page2 ≡ top-2k, exact across score ties") {
    val root = java.nio.file.Files.createTempDirectory("graftsa")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val k = 20
    val top2k = Search.searchWithIndex(spark, root, Search.QueryTerms, 2 * k)
      .collect().map(_.toSeq).toSeq
    val p1 = Search.searchWithIndex(spark, root, Search.QueryTerms, k)
      .collect().map(_.toSeq).toSeq
    val Some((s, d)) = Search.searchCursor(spark, root, Search.QueryTerms, k)
    val p2 = Search.searchAfterWithIndex(spark, root, Search.QueryTerms, k,
      s, d, baseRank = k).collect().map(_.toSeq).toSeq
    assert(p1 ++ p2 == top2k,
      "keyset page 1 ∪ page 2 must reproduce the top-2k exactly " +
        "(no missed or duplicated hits at the cursor boundary)")
  }

  test("search_after cursor: ties at the page boundary split exactly; short page → None") {
    // 6 identical docs: every score ties, doc_id is the only order —
    // the adversarial case for keyset paging
    val root = java.nio.file.Files.createTempDirectory("graftsa2")
      .resolve("idx").toString
    val docs = (0L until 6L).map(i => (i, "needle filler filler"))
      .toDF("doc_id", "text")
    Search.buildSearchIndexOf(docs, root)
    val Some((s, d)) = Search.searchCursor(spark, root, Seq("needle"), 3)
    assert(d == 2L, "cursor must be the 3rd doc in tie order")
    val p2 = Search.searchAfterWithIndex(spark, root, Seq("needle"), 3,
      s, d, baseRank = 3).collect().map(r => r.getLong(1)).toSeq
    assert(p2 == Seq(3L, 4L, 5L),
      "page 2 under a full tie must be exactly the next doc_ids")
    assert(Search.searchCursor(spark, root, Seq("needle"), 10).isEmpty,
      "fewer matches than the page size must yield no cursor")
  }

  test("multi-index search under merged stats equals the single-index ranking") {
    val base = java.nio.file.Files.createTempDirectory("graftmidx")
    val whole = base.resolve("whole").toString
    val even = base.resolve("even").toString
    val odd = base.resolve("odd").toString
    val docs = Tables.documentsPar(spark, sfDir).select($"doc_id", $"text")
    Search.buildSearchIndexOf(docs, whole)
    Search.buildSearchIndexOf(docs.filter($"doc_id" % 2 === 0), even)
    Search.buildSearchIndexOf(docs.filter($"doc_id" % 2 =!= 0), odd)
    val one = Search.searchWithIndex(spark, whole, Search.QueryTerms, 30)
      .collect().map(_.toSeq).toSeq
    val multi = Search.searchAcrossIndexes(spark, Seq(even, odd),
      Search.QueryTerms, 30).collect().map(_.toSeq).toSeq
    assert(multi == one,
      "N+Σdl+df merged across indices must reproduce the one-index " +
        "ranking bit-for-bit — the alias/daily-index contract")
    // a delete in ONE member index is excluded from the merged view
    val victim = one.head(1).asInstanceOf[Long]
    Search.deleteFromSearchIndex(spark,
      if (victim % 2 == 0) even else odd, Seq(victim).toDF("doc_id"), "d")
    val afterDel = Search.searchAcrossIndexes(spark, Seq(even, odd),
      Search.QueryTerms, 30).collect().map(_.getLong(1)).toSeq
    val survivors = one.map(_(1).asInstanceOf[Long]).filterNot(_ == victim)
    assert(!afterDel.contains(victim) && afterDel.take(29) == survivors,
      "a member-index tombstone must drop the doc, leaving the rest ordered")
    // the empty list refuses rather than serving an all-indices default
    intercept[IllegalArgumentException] {
      Search.searchAcrossIndexes(spark, Seq.empty, Search.QueryTerms, 10)
    }
  }

  test("served facets and significant_terms equal the scan paths; facets skip the corpus") {
    val root = java.nio.file.Files.createTempDirectory("graftfacets")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val facScan = Search.searchFacets(spark, sfDir).collect().map(_.toSeq).toSeq
    val facIdx = Search.facetsWithIndex(spark, root, Search.QueryTerms)
      .collect().map(_.toSeq).toSeq
    assert(facIdx == facScan, "doc-values facets must equal the corpus-scan facets")
    val sigScan = Search.significantTerms(spark, sfDir).collect().map(_.toSeq).toSeq
    val sigIdx = Search.significantTermsWithIndex(spark, root, Search.QueryTerms)
      .collect().map(_.toSeq).toSeq
    assert(sigIdx == sigScan,
      "postings-tf significant_terms must equal the exploded-token scan bit-for-bit")
    // bytes proof: the facet path reads pruned postings + doc-grain
    // docmeta — strictly less than the full postings table it never
    // needs (the doc-values contract)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) { bytesRead.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (facetBytes, fullBytes) = try {
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b0 = bytesRead.get()
      Search.facetsWithIndex(spark, root, Seq("dup")).collect()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b1 = bytesRead.get()
      spark.read.parquet(s"${Search.indexRoot(spark, root)}/postings")
        .queryExecution.toRdd.foreach(_ => ())
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      (b1 - b0, bytesRead.get() - b1)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(f"facet bytes read: served $facetBytes%,d vs full postings $fullBytes%,d")
    assert(facetBytes < fullBytes * 3 / 4,
      s"facet serve read $facetBytes bytes vs $fullBytes full postings — not doc-values-shaped")
  }

  test("tombstoned docs drop out of served facets and significant_terms counts") {
    val root = java.nio.file.Files.createTempDirectory("graftfacets2")
      .resolve("idx").toString
    // doc 3 matches nothing: chi2 needs a non-empty background side
    // (an all-foreground corpus divides by zero in BOTH paths)
    val docs = Seq(
      (0L, "needle alpha", "en", "web"),
      (1L, "needle beta", "en", "web"),
      (2L, "needle gamma", "de", "book"),
      (3L, "hay delta", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    Search.buildSearchIndexOf(docs, root)
    Search.deleteFromSearchIndex(spark, root, Seq(2L).toDF("doc_id"), "del1")
    val fac = Search.facetsWithIndex(spark, root, Seq("needle"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(fac == Seq(("en", "web", 2L)),
      "the tombstoned de/book doc must vanish from facet counts instantly")
    val sig = Search.significantTermsWithIndex(spark, root, Seq("needle"))
      .collect().map(r => r.getString(0)).toSet
    assert(!sig.contains("gamma"),
      "a tombstoned doc's vocabulary must not appear in significant_terms")
  }

  test("served fuzzy, suggest, and hybrid equal their scan paths; tombstones bite") {
    val root = java.nio.file.Files.createTempDirectory("graftserved3")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    assert(Search.fuzzyWithIndex(spark, root, Search.FuzzyTerm,
        Search.FuzzyMaxDist).collect().map(_.toSeq).toSeq ==
      Search.fuzzyMatch(spark, sfDir).collect().map(_.toSeq).toSeq,
      "term-dictionary fuzzy must equal the token-scan fuzzy")
    assert(Search.suggestWithIndex(spark, root, Search.SuggestPrefix,
        Search.SuggestK).collect().map(_.toSeq).toSeq ==
      Search.suggestPrefix(spark, sfDir).collect().map(_.toSeq).toSeq,
      "term-dictionary suggester must equal the corpus-scan suggester")
    assert(Search.hybridWithIndex(spark, root,
        Tables.embeddings(spark, sfDir), Search.QueryTerms)
        .collect().map(_.toSeq).toSeq ==
      Search.hybridRrf(spark, sfDir).collect().map(_.toSeq).toSeq,
      "index-text-leg hybrid must equal the scan-leg hybrid bit-for-bit")
    // tombstone a fuzzy-matching doc: its hits and its term frequencies
    // must vanish from both served forms instantly
    val victim = Search.fuzzyWithIndex(spark, root, Search.FuzzyTerm,
      Search.FuzzyMaxDist).select("doc_id").head().getLong(0)
    val freqBefore = Search.suggestWithIndex(spark, root,
        Search.SuggestPrefix, 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Search.deleteFromSearchIndex(spark, root, Seq(victim).toDF("doc_id"), "fz1")
    assert(Search.fuzzyWithIndex(spark, root, Search.FuzzyTerm,
        Search.FuzzyMaxDist).filter($"doc_id" === victim).isEmpty,
      "a tombstoned doc must drop from served fuzzy hits")
    val freqAfter = Search.suggestWithIndex(spark, root,
        Search.SuggestPrefix, 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freqAfter.forall { case (t, f) => f <= freqBefore.getOrElse(t, 0L) } &&
      freqAfter != freqBefore,
      "suggester frequencies must shrink when a doc is tombstoned")
  }

  test("bool query: every clause gate bites") {
    val got = Search.boolQuery(spark, sfDir).collect()
    assert(got.nonEmpty, "the demo bool query must match something")
    // recompute the gates driver-side from the raw corpus
    val byId = Tables.documentsPar(spark, sfDir)
      .select("doc_id", "text", "lang").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    got.foreach { r =>
      val (text, lang) = byId(r.getLong(1))
      val toks = text.trim.toLowerCase.split("\\s+").toSet
      assert(lang == Search.BoolFilterLang, "filter context must hold")
      assert(Search.BoolMust.forall(toks.contains), "must terms all present")
      assert(Search.BoolMustNot.forall(t => !toks.contains(t)),
        "must_not excludes")
      val nShould = Search.BoolShould.count(toks.contains)
      assert(nShould >= Search.MinShouldMatch && nShould == r.getInt(2),
        "minimum_should_match holds and n_should is reported truthfully")
    }
  }

  test("served bool query equals the scan path; clause gates hold on a crafted index") {
    val root = java.nio.file.Files.createTempDirectory("graftbool")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    assert(Search.boolWithIndex(spark, root).collect().map(_.toSeq).toSeq ==
      Search.boolQuery(spark, sfDir).collect().map(_.toSeq).toSeq,
      "index-served bool must equal the corpus-scan bool bit-for-bit")
    // crafted corpus: every clause has a dedicated victim
    val root2 = java.nio.file.Files.createTempDirectory("graftbool2")
      .resolve("idx").toString
    val docs = Seq(
      (0L, "dup vector pad", "en", "web"),      // passes all clauses
      (1L, "dup merge slow", "en", "web"),      // must_not kills it
      (2L, "dup pad pad", "en", "web"),         // no should term
      (3L, "vector merge pad", "en", "web"),    // must term missing
      (4L, "dup vector pad", "de", "web"))      // filter context kills it
      .toDF("doc_id", "text", "lang", "source")
    Search.buildSearchIndexOf(docs, root2)
    val got = Search.boolWithIndex(spark, root2)
      .collect().map(r => r.getLong(1)).toSeq
    assert(got == Seq(0L),
      s"each clause must veto its dedicated victim, got $got")
  }

  test("passage search ranks by best chunk and reports where the hit lives") {
    import graft.ops.TrainPrep
    val fill = Seq.fill(TrainPrep.ChunkStride)("filler").mkString(" ")
    // doc 0: hits concentrated in its SECOND stride window; doc 1: one
    // diluted hit in a long doc; doc 2: no hits
    val docs = Seq(
      (0L, s"$fill needle needle needle $fill"),
      (1L, s"needle $fill $fill"),
      (2L, s"$fill $fill")).toDF("doc_id", "text")
    val got = Search.passageSearchOf(docs, Seq("needle"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._2) == Seq(0L, 1L),
      s"only hit-bearing docs rank, dense-passage doc first: $got")
    assert(got.head._3 == 1L,
      s"doc 0's best passage is its second chunk (chunk_id 1): $got")
    // a strictly denser passage (4 hits in one chunk vs doc 0's 3)
    // must take rank 1 regardless of document length
    val more = Search.passageSearchOf(
      docs.union(Seq((3L, s"needle needle needle needle $fill"))
        .toDF("doc_id", "text")),
      Seq("needle"), 10).collect().map(r => r.getLong(1)).toSeq
    assert(more.head == 3L,
      "the densest single passage must take rank 1")
  }

  test("query expansion recalls docs the literal query cannot see") {
    // feedback docs pair "needle" with "companion"; doc 20 has ONLY
    // "companion" — invisible to the literal query, recalled by PRF
    // per-doc-unique filler so "companion" is the clear top
    // co-occurring term in the feedback set
    val docs = (
      (0L until 10L).map(i => (i, s"needle companion u${i}a u${i}b")) ++
        Seq((20L, "companion x0 y0"), (21L, "unrelated x1 y1"))
      ).toDF("doc_id", "text")
    val expanded = Search.queryExpansionOf(docs, Seq("needle"),
      fbDocs = 10, fbTerms = 1, k = 20)
      .collect().map(r => r.getLong(1)).toSet
    assert(expanded.contains(20L),
      "the companion-only doc must enter the expanded ranking")
    assert(!expanded.contains(21L),
      "a doc sharing neither literal nor expansion terms stays out")
    // the mined expansion term must never be a query term: with
    // fbTerms=1 the only expansion is the top co-occurring token, and
    // doc 20 ranking proves it was 'companion', not 'needle' again
  }

  test("served passage search equals the scan path; positions regroup exactly") {
    val root = java.nio.file.Files.createTempDirectory("graftpassidx")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val served = Search.passageWithIndex(spark, root, Search.QueryTerms,
      Search.PassageTopK).collect().map(_.toSeq).toSeq
    val scanned = Search.passageSearch(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == scanned,
      "per-chunk tf rebuilt from positional postings must reproduce " +
        "the chunk-scan ranking bit-for-bit")
    // a tombstoned top doc drops from the served ranking instantly
    val victim = served.head(1).asInstanceOf[Long]
    Search.deleteFromSearchIndex(spark, root, Seq(victim).toDF("doc_id"), "pd1")
    val after = Search.passageWithIndex(spark, root, Search.QueryTerms,
      Search.PassageTopK).collect().map(r => r.getLong(1)).toSet
    assert(!after.contains(victim),
      "a tombstoned doc must vanish from served passage results")
  }

  test("served query expansion equals the scan path bit-for-bit") {
    val root = java.nio.file.Files.createTempDirectory("graftprfidx")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val served = Search.expansionWithIndex(spark, root, Search.QueryTerms,
      Search.PrfFbDocs, Search.PrfFbTerms, Search.PrfTopK)
      .collect().map(_.toSeq).toSeq
    val scanned = Search.queryExpansion(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == scanned,
      "the full PRF loop served from the index must equal the corpus scan")
  }

  test("index_stats tracks the delete → compact lifecycle") {
    val root = java.nio.file.Files.createTempDirectory("graftstats")
      .resolve("idx").toString
    val docs = Seq(
      (0L, "alpha beta alpha"),
      (1L, "beta gamma"),
      (2L, "delta")).toDF("doc_id", "text")
    Search.buildSearchIndexOf(docs, root)
    def stats() = Search.indexStats(spark, root).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val fresh = stats()
    // text: 3 docs, 6 tokens, 4 terms, 5 (doc,term) postings
    assert(fresh("text") == ((3L, 0L, 6L, 4L, 5L)), s"fresh: $fresh")
    // head (= whole docs here, all < HeadLen tokens) mirrors text
    assert(fresh("head") == ((3L, 0L, 6L, 4L, 5L)))
    Search.deleteFromSearchIndex(spark, root, Seq(0L).toDF("doc_id"), "d1")
    val afterDel = stats()
    // live view shrinks instantly; the deleted counter surfaces the
    // tombstoned-but-unmerged doc (Lucene docs.deleted)
    assert(afterDel("text") == ((2L, 1L, 3L, 3L, 3L)), s"afterDel: $afterDel")
    Search.compactSearchIndex(spark, root)
    val afterCompact = stats()
    assert(afterCompact("text") == ((2L, 0L, 3L, 3L, 3L)),
      "compaction purges: same live numbers, deleted counter back to 0")
  }

  test("stopword mass lands in other buckets: rare-term cost flat under 4× skew") {
    // every doc carries a universal stopword; the rare term lives in
    // 2 docs. Quadrupling the STOPWORD mass must not change what a
    // rare-term query reads — term-hash bucketing isolates the skew.
    val stop = "the"
    val rare = "zyzzyva"
    assert(Search.tokBucket(stop) != Search.tokBucket(rare),
      "fixture precondition: the two terms hash to different buckets")
    def corpus(stopReps: Int) = (0L until 200L).map { i =>
      val body = Seq.fill(stopReps)(stop) ++ Seq(s"u${i}a", s"u${i}b") ++
        (if (i < 2) Seq(rare) else Seq.empty)
      (i, body.mkString(" "))
    }.toDF("doc_id", "text")
    val r1 = java.nio.file.Files.createTempDirectory("graftskew1")
      .resolve("idx").toString
    val r2 = java.nio.file.Files.createTempDirectory("graftskew2")
      .resolve("idx").toString
    Search.buildSearchIndexOf(corpus(10), r1)
    Search.buildSearchIndexOf(corpus(40), r2)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) { bytesRead.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (b1, b2) = try {
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val s0 = bytesRead.get()
      Search.searchWithIndex(spark, r1, Seq(rare), 5).collect()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val s1 = bytesRead.get()
      Search.searchWithIndex(spark, r2, Seq(rare), 5).collect()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      (s1 - s0, bytesRead.get() - s1)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(f"rare-term bytes: base $b1%,d vs 4x-stopword $b2%,d")
    assert(b2 < b1 * 3 / 2,
      s"rare-term query read $b2 bytes under 4× stopword mass vs $b1 — " +
        "the skewed term's bucket is not isolated")
    // both rankings agree on the rare docs, of course
    assert(Search.searchWithIndex(spark, r2, Seq(rare), 5)
      .collect().map(_.getLong(1)).toSet == Set(0L, 1L))
  }

  test("index segments view drives the compaction decision") {
    val root = java.nio.file.Files.createTempDirectory("graftsegs")
      .resolve("idx").toString
    Search.buildSearchIndexOf(
      Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text"), root)
    Search.appendToSearchIndex(spark, root,
      Seq((2L, "alpha delta")).toDF("doc_id", "text"), epoch = "e1")
    Search.deleteFromSearchIndex(spark, root, Seq(0L).toDF("doc_id"), "d1")
    def segs() = Search.indexSegments(spark, root).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val before = segs()
    assert(before.keySet == Set("base", "e1"), s"two epochs: $before")
    assert(before("base") == ((1L, 1L, 4L)),
      s"base: 1 live + 1 tombstoned doc, 4 postings rows: $before")
    assert(before("e1") == ((1L, 0L, 2L)))
    Search.compactSearchIndex(spark, root)
    val after = segs()
    assert(after.keySet == Set("base") && after("base") == ((2L, 0L, 4L)),
      s"compaction collapses epochs and purges the deleted doc: $after")
  }

  test("index serving prunes postings partitions to the query's buckets") {
    val root = java.nio.file.Files.createTempDirectory("graftsearchidx2")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val plan = Search.searchWithIndex(spark, root, Search.QueryTerms, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"expected a pruned postings scan in:\n$plan")
    // and the term row-filter reaches parquet
    assert(plan.contains("PushedFilters"), s"expected pushed filters:\n$plan")
  }

  test("index serving physically reads fewer bytes than a full postings scan") {
    val root = java.nio.file.Files.createTempDirectory("graftidxbytes")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) { bytesRead.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (prunedBytes, fullBytes) = try {
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b0 = bytesRead.get()
      // a single-term query opens one of 64 bucket partitions
      Search.searchWithIndex(spark, root, Seq("dup"), 5).collect()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b1 = bytesRead.get()
      spark.read.parquet(s"${Search.indexRoot(spark, root)}/postings")
        .queryExecution.toRdd.foreach(_ => ())
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      (b1 - b0, bytesRead.get() - b1)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(f"search index bytes read: pruned $prunedBytes%,d vs full $fullBytes%,d")
    assert(prunedBytes < fullBytes * 3 / 4,
      s"pruned term lookup read $prunedBytes bytes, full scan $fullBytes — no physical pruning")
  }

  test("a half-deleted index refuses loudly instead of mis-ranking") {
    val root = java.nio.file.Files.createTempDirectory("graftidxbroken")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    // simulate a partial delete: doclen gone, postings remain
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(s"${Search.indexRoot(spark, root)}/doclen"))
    val e = intercept[IllegalStateException] {
      Search.searchWithIndex(spark, root, Search.QueryTerms, 5)
    }
    assert(e.getMessage.contains("doclen"))
  }

  test("build-then-append equals one whole build; replayed append is idempotent") {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, sfDir).select("doc_id", "text")
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 =!= 0)
    val whole = java.nio.file.Files.createTempDirectory("graftidxw")
      .resolve("idx").toString
    val grown = java.nio.file.Files.createTempDirectory("graftidxg")
      .resolve("idx").toString
    Search.buildSearchIndexOf(docs, whole)
    Search.buildSearchIndexOf(half1, grown)
    Search.appendToSearchIndex(spark, grown, half2, epoch = "e1")
    val want = Search.searchWithIndex(spark, whole, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    val got = Search.searchWithIndex(spark, grown, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    assert(got == want, "appended index must rank like a whole rebuild")
    // replay the SAME epoch: dynamic partition overwrite replaces, not
    // duplicates — the at-least-once sink contract
    Search.appendToSearchIndex(spark, grown, half2, epoch = "e1")
    val replayed = Search.searchWithIndex(spark, grown, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    assert(replayed == want, "replaying an epoch must not change state")
  }

  test("term vectors reconstruct the document's token bag exactly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("grafttermvec")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val docId = 7L
    val tv = Search.termVectors(spark, root, docId).collect()
    val text = Tables.documents(spark, sfDir)
      .filter($"doc_id" === docId).head().getAs[String]("text")
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    // tf sums to the doc length; per-term tf matches the naive count;
    // positions index the actual tokens
    assert(tv.map(_.getLong(1)).sum == toks.length)
    tv.foreach { r =>
      val (tok, tf, pos) = (r.getString(0), r.getLong(1), r.getSeq[Int](2))
      assert(tf == toks.count(_ == tok))
      assert(pos.length == tf && pos.forall(p => toks(p) == tok))
    }
  }

  test("soft delete: instant exclusion with ES-merge stats semantics, purge at compaction") {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, sfDir).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graftidxdel")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    def fullRank(idx: String) = Search
      .searchWithIndex(spark, idx, Search.QueryTerms, 1000)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSeq
    val before = fullRank(root)
    val victims = Seq(before.head._1, before(2)._1)
    val phraseVictim = Search.phraseWithIndex(spark, root, Search.PhraseTerms)
      .head().getLong(0)
    Search.deleteFromSearchIndex(spark, root,
      (victims :+ phraseVictim).toDF("doc_id"), epoch = "d1")
    // instant exclusion, scores of survivors UNCHANGED (stats keep
    // counting tombstoned docs until the merge — Lucene semantics), so
    // the post-delete ranking is exactly the old one minus the victims
    val allVictims = victims :+ phraseVictim
    val after = fullRank(root)
    assert(after == before.filterNot(r => allVictims.contains(r._1)),
      "delete must remove victims and leave every other row untouched")
    assert(!Search.phraseWithIndex(spark, root, Search.PhraseTerms)
      .collect().map(_.getLong(0)).contains(phraseVictim))
    // replayed delete epoch: no change
    Search.deleteFromSearchIndex(spark, root,
      (victims :+ phraseVictim).toDF("doc_id"), epoch = "d1")
    assert(fullRank(root) == after)
    // compaction purges physically: no tombstone table survives, and
    // the index equals a whole rebuild WITHOUT the deleted docs —
    // statistics re-derived from survivors
    Search.compactSearchIndex(spark, root)
    assert(!new java.io.File(
      s"${Search.indexRoot(spark, root)}/tombstones").exists())
    val rebuilt = java.nio.file.Files.createTempDirectory("graftidxdelrb")
      .resolve("idx").toString
    Search.buildSearchIndexOf(
      docs.filter(!$"doc_id".isin((victims :+ phraseVictim): _*)), rebuilt)
    assert(fullRank(root) == fullRank(rebuilt),
      "post-merge index must be bit-identical to a rebuild without the deleted docs")
  }

  test("tombstoned docs are unservable through term vectors and MLT seeding") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("grafttombserve")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val victim = 7L
    Search.deleteFromSearchIndex(spark, root, Seq(victim).toDF("doc_id"), "d1")
    // term vectors: the deleted doc's indexed view (its text is
    // reconstructible from positions) must REFUSE, not return empty
    val e = intercept[IllegalStateException] {
      Search.termVectors(spark, root, victim)
    }
    assert(e.getMessage.contains("tombstoned"))
    // a live doc still serves
    assert(Search.termVectors(spark, root, 8L).count() > 0)
    // MLT seeded from the deleted doc: its terms must not leak through
    // the ranked result — empty, not deleted-content-derived
    assert(Search.moreLikeThisWithIndex(spark, root, victim,
      Search.MltTerms, Search.MltTopK).isEmpty)
  }

  test("tombstone epochs union on reuse instead of resurrecting earlier victims") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("grafttombreuse")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    def servedIds = Search.searchWithIndex(spark, root, Search.QueryTerms, 1000)
      .collect().map(_.getLong(1)).toSet
    val all = servedIds
    val Seq(v1, v2) = all.toSeq.sorted.take(2)
    Search.deleteFromSearchIndex(spark, root, Seq(v1).toDF("doc_id"), "same")
    assert(!servedIds.contains(v1))
    // a SECOND delete reusing the epoch string must not resurrect v1
    Search.deleteFromSearchIndex(spark, root, Seq(v2).toDF("doc_id"), "same")
    val after = servedIds
    assert(!after.contains(v1), "epoch reuse must not resurrect v1")
    assert(!after.contains(v2))
    // replaying one of the requests stays idempotent
    Search.deleteFromSearchIndex(spark, root, Seq(v2).toDF("doc_id"), "same")
    assert(servedIds == after)
  }

  test("epoch compaction is a pure re-layout: results unchanged, one epoch left") {
    import spark.implicits._
    val docs = Tables.documentsPar(spark, sfDir).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graftidxcompact")
      .resolve("idx").toString
    Search.buildSearchIndexOf(docs.filter($"doc_id" % 3 === 0), root)
    Search.appendToSearchIndex(spark, root,
      docs.filter($"doc_id" % 3 === 1), epoch = "e1")
    Search.appendToSearchIndex(spark, root,
      docs.filter($"doc_id" % 3 === 2), epoch = "e2")
    val before = Search.searchWithIndex(spark, root, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    val phraseBefore = Search.phraseWithIndex(spark, root, Search.PhraseTerms)
      .collect().map(_.toSeq).toSeq
    Search.compactSearchIndex(spark, root)
    val epochs = spark.read.parquet(s"${Search.indexRoot(spark, root)}/postings")
      .select($"epoch").distinct().collect().map(_.getString(0)).toSet
    assert(epochs == Set("base"), s"compaction must fold epochs, got $epochs")
    val after = Search.searchWithIndex(spark, root, Search.QueryTerms,
      Search.TopK).collect().map(_.toSeq).toSeq
    val phraseAfter = Search.phraseWithIndex(spark, root, Search.PhraseTerms)
      .collect().map(_.toSeq).toSeq
    assert(after == before && phraseAfter == phraseBefore,
      "compaction must not change any served result")
  }

  test("query cost tracks term df, not corpus breadth (the inverted-index contract)") {
    import spark.implicits._
    // two corpora, 10x apart in breadth, SAME rare-term df: the filler
    // docs never contain the probe term
    val rare = (0L until 20L).map(i => (i, "needle alpha beta gamma"))
    def filler(n: Int) = (1000L until (1000L + n)).map(i =>
      (i, "alpha beta gamma delta epsilon zeta"))
    val small = (rare ++ filler(200)).toDF("doc_id", "text")
    val big = (rare ++ filler(2000)).toDF("doc_id", "text")
    val smallIdx = java.nio.file.Files.createTempDirectory("graftidxsmall")
      .resolve("idx").toString
    val bigIdx = java.nio.file.Files.createTempDirectory("graftidxbig")
      .resolve("idx").toString
    Search.buildSearchIndexOf(small, smallIdx)
    Search.buildSearchIndexOf(big, bigIdx)
    def postingsRead(idx: String): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) { bytes.addAndGet(m.inputMetrics.bytesRead); () }
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
        val b0 = bytes.get()
        Search.searchWithIndex(spark, idx, Seq("needle"), 5).collect()
        org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
        bytes.get() - b0
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val (smallBytes, bigBytes) = (postingsRead(smallIdx), postingsRead(bigIdx))
    info(f"df-bound query bytes: small corpus $smallBytes%,d, 10x corpus $bigBytes%,d")
    // doclen DOES scale with the corpus (stats need N and sum dl); the
    // postings side must not — so the total read grows far slower than
    // the 10x corpus growth
    assert(bigBytes < smallBytes * 5,
      s"a 10x corpus must not cost 10x: $smallBytes -> $bigBytes")
  }

  test("driver-side and plan-side postings buckets agree") {
    import spark.implicits._
    val toks = Seq("dup", "vector", "merge", "slow", "scan", "the", "a")
    val planSide = toks.toDF("tok")
      .select($"tok", org.apache.spark.sql.functions.expr(
        s"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % ${Search.IndexBuckets}").cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    toks.foreach { t =>
      assert(Search.tokBucket(t) == planSide(t),
        s"bucket mismatch for '$t'")
    }
  }

  test("phrase served from positional postings equals the regex scan path") {
    val root = java.nio.file.Files.createTempDirectory("graftphraseidx")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val served = Search.phraseWithIndex(spark, root, Search.PhraseTerms)
      .collect().map(_.toSeq).toSeq
    val scanned = Search.matchPhrase(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == scanned,
      "positional-postings phrase match must equal the text-scan count")
    assert(served.nonEmpty)
  }

  test("fuzzy_match finds only tokens within the edit budget") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = Search.fuzzyMatch(spark, sfDir).collect()
    assert(rows.nonEmpty, "the misspelling must fuzzy-hit the fixture")
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      r.getString(2).split(',').foreach { t =>
        assert(lev(t, Search.FuzzyTerm) <= Search.FuzzyMaxDist,
          s"matched token '$t' outside the edit budget")
      }
    }
  }

  test("more_like_this excludes the source doc and ranks term-sharing docs") {
    val res = Search.moreLikeThis(spark, sfDir).collect()
    assert(res.length == Search.MltTopK)
    assert(res.forall(_.getLong(1) != Search.MltSourceDoc),
      "the source document must not retrieve itself")
    assert(res.map(_.getInt(0)).toSeq == (1 to Search.MltTopK),
      "ranks must be dense 1..k")
    // every result matched at least one of the source's keywords
    assert(res.forall(_.getLong(2) >= 1L))
  }

  test("percolate: stored-query conjunctions, streamed alerts equal batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // a hand-authored rule set — registries are user DATA, so tests
    // author one like an operator would (no literal rules in main)
    val rules: Seq[(Long, Seq[String])] = Seq(
      1L -> Seq("dup"),
      2L -> Seq("slow", "scan"),
      3L -> Seq("vector", "merge"),
      4L -> Seq("nosuchterm"))
    val docs = Seq(
      (1L, "dup value data"), // q1 only
      (2L, "slow scan merge vector"), // q2 (adjacency NOT required) + q3
      (3L, "slow merge"), // none (q2 needs scan, q3 needs vector)
      (4L, "nothing here")).toDF("doc_id", "text")
    val batch = Search.percolateOf(docs, rules).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 1L), (2L, 2L), (2L, 3L)),
      s"conjunction semantics: $batch")
    // the same projection runs statelessly on a stream
    val mem = MemoryStream[(Long, String)]
    val q = Search.percolateOf(mem.toDF().toDF("doc_id", "text"), rules)
      .writeStream.format("memory").queryName("graft_percolate_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, "dup value data"), (2L, "slow scan merge vector"),
        (3L, "slow merge"), (4L, "nothing here"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("graft_percolate_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "streamed alerts must equal the batch match set")
  }

  test("registry percolator refuses an ill-formed empty rule loudly") {
    import spark.implicits._
    val docs = Seq((1L, "dup value")).toDF("doc_id", "text")
    val badRegistry = Seq((9L, Seq.empty[String]), (1L, Seq("dup")))
      .toDF("query_id", "terms")
    val e = intercept[Exception] {
      Search.percolateWithRegistry(docs, badRegistry).collect()
    }
    assert(e.getMessage.contains("empty terms") ||
      Option(e.getCause).exists(_.getMessage.contains("empty terms")),
      s"expected the empty-rule refusal, got: ${e.getMessage}")
  }

  test("mlt served from the index equals the corpus-scan path bit-for-bit") {
    val root = java.nio.file.Files.createTempDirectory("graftmltidx")
      .resolve("idx").toString
    Search.buildSearchIndex(spark, sfDir, root)
    val served = Search.moreLikeThisWithIndex(spark, root,
      Search.MltSourceDoc, Search.MltTerms, Search.MltTopK)
      .collect().map(_.toSeq).toSeq
    val scanned = Search.moreLikeThis(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == scanned,
      "index-served MLT must reproduce the scan path exactly")
  }

  test("registry percolator agrees with the compiled percolator on the derived rules") {
    val docs = Tables.documentsPar(spark, sfDir).select("doc_id", "text")
    val registry = Search.derivedRegistry(docs)
    assert(registry.count() == Search.RegistryVocabTop - 1,
      "4 single rules + 1 pair rule")
    val compiled = Search.percolateOf(docs, Search.compileRegistry(registry))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val joined = Search.percolateWithRegistry(docs, registry).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(joined == compiled,
      "the table-driven registry must match the compiled predicates")
    assert(compiled.nonEmpty)
  }

  test("derivedRegistry on a degenerate corpus: no empty pair rule, both forms agree") {
    // exactly RegistrySingleRules distinct tokens: the pair aggregate
    // would otherwise emit a rule with an EMPTY terms array — dropped
    // silently by the join form, refused loudly by percolateOf; the
    // registry must be well-formed so the two forms can't diverge
    val tiny = Seq((0L, "aa bb"), (1L, "bb cc"), (2L, "aa cc dd"))
      .toDF("doc_id", "text")
    val registry = Search.derivedRegistry(tiny)
    assert(registry.filter(size(col("terms")) === 0).isEmpty,
      "a degenerate corpus must emit no empty-terms rule")
    assert(registry.count() == 4, "the 4 single rules survive")
    val compiled = Search.percolateOf(tiny, Search.compileRegistry(registry))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val joined = Search.percolateWithRegistry(tiny, registry).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(joined == compiled && compiled.nonEmpty,
      "both percolator forms must serve the degenerate registry identically")
  }

  test("compileRegistry refuses a registry-scale rule set loudly") {
    val big = (1L to (Search.MaxCompiledRules + 1).toLong)
      .map(i => (i, Seq(s"t$i"))).toDF("query_id", "terms")
    val e = intercept[IllegalStateException] {
      Search.compileRegistry(big)
    }
    assert(e.getMessage.contains("percolateWithRegistry"),
      "the refusal must name the scalable alternative")
    // empty rules refuse in the compiled form too (match-all hazard)
    val e2 = intercept[IllegalArgumentException] {
      Search.percolateOf(Seq((1L, "x")).toDF("doc_id", "text"),
        Seq(7L -> Seq.empty[String]))
    }
    assert(e2.getMessage.contains("query_id=7"))
  }

  test("significant_terms: query terms live only in the match set; high-coverage ones lead") {
    val rows = Search.significantTerms(spark, sfDir).collect()
    val byTok = rows.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // tautological signature: a doc containing a query term IS matched,
    // so every query-term occurrence lands in the foreground (c_b = 0)
    Search.QueryTerms.foreach { t =>
      assert(byTok(t)._2 == 0L, s"'$t' must never occur outside the match set")
    }
    // the high-df slice definers dominate the report (the rare term
    // 'dup' carries too few occurrences to beat frequent co-occurring
    // vocabulary — correct chi-square behavior, not a defect)
    val top2 = rows.take(2).map(_.getString(0)).toSet
    assert(top2 == Set("vector", "merge"),
      s"high-coverage query terms must lead, got $top2")
  }

  test("ann_filtered returns only the filter label and differs from unfiltered") {
    val filtered = graft.ops.Similarity.annFiltered(spark, sfDir).collect()
    assert(filtered.length == 10)
    assert(filtered.forall(_.getInt(1) == graft.ops.Similarity.AnnFilterLabel))
    val unfiltered = graft.ops.Similarity.annTopK(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(filtered.map(_.getLong(0)).toSet != unfiltered,
      "the metadata filter must actually change the result set")
  }

  test("rrf fusion join touches only pooled lists (bounded inputs)") {
    val plan = Search.hybridRrf(spark, sfDir)
      .queryExecution.executedPlan.toString
    // both modality lists are cut by TakeOrderedAndProject before the
    // fusion join — the corpus never reaches the full-outer join
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"both modality lists must be limit-cut before fusion:\n$plan")
  }

  // ------------------------------------------------ the index-family reader

  /** An index over the fixture corpus in three epochs (base, e1, e2). */
  private def threeEpochIndex(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
      .resolve("idx").toString
    val docs = Tables.documentsPar(spark, sfDir)
    Search.buildSearchIndexOf(docs.filter($"doc_id" % 3 === 0), root)
    Search.appendToSearchIndex(spark, root, docs.filter($"doc_id" % 3 === 1), "e1")
    Search.appendToSearchIndex(spark, root, docs.filter($"doc_id" % 3 === 2), "e2")
    root
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("served DSL requests over a multi-epoch index build with no Spark job") {
    import graft.ops.Dsl
    val root = threeEpochIndex("graftidxjobs")
    val terms = Search.QueryTerms
    val matchB = s"""{"query": {"match": {"text": "${terms.mkString(" ")}"}}, "size": 10}"""
    val boolB = s"""{"query": {"bool": {
      "must": [{"match": {"text": "${terms.head}"}}],
      "should": [{"match": {"text": "${terms(1)}"}}],
      "must_not": [{"match_phrase": {"text": "${Search.PhraseTerms.mkString(" ")}"}}],
      "filter": [{"range": {"n_chars": {"gte": 10}}}, {"term": {"lang": "en"}}]}},
      "size": 10}"""
    val phraseB = s"""{"query": {"match_phrase": {"text": "${Search.PhraseTerms.mkString(" ")}"}}, "size": 10}"""
    val aggB = s"""{"query": {"match": {"text": "${terms.head}"}}, "size": 0,
      "aggs": {"langs": {"terms": {"field": "lang", "size": 4}}}}"""
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    val built =
      try {
        val frames = Seq(matchB, boolB, phraseB).map(Dsl.searchDslFromIndexes(spark, Seq(root), _)) ++
          Seq(Dsl.dslAggsFromIndexes(spark, Seq(root), aggB),
            Dsl.msearchFromIndexes(spark, Seq(root), Seq(matchB, boolB, phraseB)))
        org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
        frames
      } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0,
      s"building served requests launched ${jobs.get} Spark jobs (listing or schema inference)")
    // the job-free relations still serve what the scan path computes
    val docs = Tables.documentsPar(spark, sfDir)
    Seq(matchB, boolB, phraseB).zip(built).foreach { case (b, df) =>
      assert(rows(df) == rows(Dsl.searchDslOf(docs, b)), s"served != scan for $b")
    }
    assert(rows(built(3)) == rows(Dsl.dslAggsOf(docs, aggB)), "served aggs != scan")
  }

  test("index reads are fresh: appends show on the next request, a re-append replaces its epoch") {
    val root = java.nio.file.Files.createTempDirectory("graftidxfresh")
      .resolve("idx").toString
    Search.buildSearchIndexOf(Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text"), root)
    def hits(term: String): Seq[Long] =
      Search.searchWithIndex(spark, root, Seq(term), 100)
        .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(hits("zeta").isEmpty)
    Search.appendToSearchIndex(spark, root,
      Seq((3L, "zeta beta"), (4L, "zeta zeta")).toDF("doc_id", "text"), "e1")
    assert(hits("zeta") == Seq(3L, 4L), "an append must be visible on the next request")
    // replaying epoch e1 with different rows REPLACES them: doc 4 is
    // gone, doc 5 is in, nothing duplicates
    Search.appendToSearchIndex(spark, root,
      Seq((3L, "zeta beta"), (5L, "zeta")).toDF("doc_id", "text"), "e1")
    assert(hits("zeta") == Seq(3L, 5L), "a re-append must replace its epoch's rows")
    assert(hits("beta") == Seq(1L, 2L, 3L))
    val dl = Search.indexTable(spark, Seq(Search.indexRoot(spark, root)), "doclen")
      .filter($"field" === Search.DefaultField)
    assert(dl.count() == 4 && dl.select($"doc_id").distinct().count() == 4,
      "one doclen row per doc after the replay")
  }

  test("index reads skip stray _SUCCESS, .crc, _temporary and ._COPYING_ entries") {
    val root = threeEpochIndex("graftidxstray")
    val before = rows(Search.searchWithIndex(spark, root, Search.QueryTerms, 20))
    val vroot = Search.indexRoot(spark, root)
    val garbage = "not parquet".getBytes("UTF-8")
    def put(rel: String): Unit = {
      val f = new java.io.File(vroot, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, garbage)
    }
    val b = Search.tokBucket(Search.QueryTerms.head)
    Seq("postings", "doclen", "docmeta", "stored").foreach { t =>
      val leaf = if (t == "postings") s"$t/epoch=e1/b=$b" else s"$t/epoch=e1"
      put(s"$leaf/_SUCCESS")
      put(s"$leaf/.part-00000-stray.parquet.crc")
      put(s"$leaf/part-00099-stray.parquet._COPYING_")
      put(s"$t/_temporary/0/epoch=e9/part-00000.parquet")
      put(s"$t/epoch=e1/_temporary/0/part-00000.parquet")
    }
    put(s"tombstones/_temporary/0/epoch=d9/part-00000.parquet")
    assert(rows(Search.searchWithIndex(spark, root, Search.QueryTerms, 20)) == before,
      "hidden entries must never reach a served read")
    assert(Search.indexTable(spark, Seq(vroot), "tombstones").count() == 0)
  }

  test("one index-family relation across roots equals the union of per-member reads") {
    val docs = Tables.documentsPar(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("graftidxroots")
    val dirs = (0 until 3).map { i =>
      val d = tmp.resolve(s"m$i").toString
      Search.buildSearchIndexOf(docs.filter($"doc_id" % 3 === i), d)
      d
    }
    Search.appendToSearchIndex(spark, dirs(1),
      Seq((900001L, "zeta beta")).toDF("doc_id", "text"), "e1")
    Search.deleteFromSearchIndex(spark, dirs(2),
      docs.filter($"doc_id" % 3 === 2).select($"doc_id").limit(2), "d1")
    val roots = dirs.map(Search.indexRoot(spark, _))
    Search.IndexFamilies.keys.toSeq.sorted.foreach { fam =>
      val one = Search.indexTable(spark, roots, fam)
      val union = roots.map(r => Search.indexTable(spark, Seq(r), fam)).reduce(_ union _)
      assert(rows(one) == rows(union), s"$fam: one relation != union of members")
      assert(one.schema == Search.IndexFamilies(fam).schema)
    }
    val b = Seq(Search.tokBucket("beta"), Search.tokBucket("zeta"))
    val pruned = Search.indexTable(spark, roots, "postings", Some(b))
    assert(rows(pruned) == rows(Search.indexTable(spark, roots, "postings")
      .filter($"b".isin(b: _*))), "a bucket-pruned listing drops no row of its buckets")
    val plan = pruned.filter($"tok" === "zeta").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("PushedFilters"),
      s"the pruned relation keeps both filters in the scan:\n$plan")
  }
}
