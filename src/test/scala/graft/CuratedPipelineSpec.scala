package graft

import graft.ops.{Classifier, Dedup, Select, TextAnalysis}
import graft.streaming.{CuratedModels, CuratedPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** One curated-stream record: the documents-table shape plus the
  * optional embedding/label an upstream featurizer attaches. */
final case class CuratedRec(doc_id: Long, source: String, lang: String,
    text: String, embedding: Array[Float], label: Int)

/** The round-9 composition e2e: every trained serving path — classifier
  * score, DSIR weight, mixture sample, funnel screen/append, PQ append
  * — driven as ONE streaming ingest pipeline, proven equal to the batch
  * serving calls on the same rows, idempotent under replay, and
  * refusing mixed-corpus-version model bundles.
  *
  * Uses a tmp COPY of the sf0.001 corpus so the per-corpus catalog
  * state (funnel tables, session-shared views) this spec creates and
  * MUTATES (stream appends!) cannot leak into suites that read sfDir. */
class CuratedPipelineSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Private corpus copy (documents + embeddings) for this suite. */
  private lazy val corpusDir: String = {
    val d = tmp("graftcurcorpus")
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(sfDir, f), Paths.get(d, f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    d
  }

  private lazy val modelsDir: String = {
    val d = tmp("graftmodels")
    CuratedModels.materializeAll(spark, corpusDir, d)
    d
  }

  // Deterministic candidate text from the corpus word pool (pool words
  // keep the classifier features in-distribution; random ORDER keeps
  // shingle jaccard vs any corpus doc far below the 0.1 near-dup bar).
  private val pool = Vector("the", "a", "fast", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "small", "hash", "join",
    "batch", "stream", "spark", "dup", "group", "query", "row", "data",
    "slow", "filter", "customer", "line", "value", "agg", "column",
    "big", "vector")

  private def mkText(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")

  /** The batch-side gate chain on one arrival frame against prior
    * signature state — the REFERENCE the streamed output must equal,
    * composed from the individually-verified serving functions. */
  private def expectedAccepted(m: CuratedModels, batch: DataFrame,
      priorSigs: DataFrame, epochId: Long): DataFrame = {
    import spark.implicits._
    val valid = batch.filter($"doc_id".isNotNull && $"source".isNotNull &&
      $"text".isNotNull && length(trim($"text")) > 0)
      .dropDuplicates("doc_id")
      .join(priorSigs.select($"doc_id"), Seq("doc_id"), "left_anti")
    val docs = valid.select($"doc_id", $"text")
    val dups = Dedup.incrementalAgainst(priorSigs, docs)
      .select($"new_id".as("doc_id")).distinct()
    val scored = Classifier.scoreWithModel(docs, m.classifier)
      .filter($"score" >= m.keepBar)
    val weighted = Select.sampleWithRatios(docs, m.ratios)
      .select($"doc_id", $"weight")
    val mixed = Select.sampleWithRates(
      valid.select($"doc_id", $"source"), m.rates).select($"doc_id")
    val cleaned = TextAnalysis.cleanExpr($"text")
    valid
      .join(dups, Seq("doc_id"), "left_anti")
      .join(scored, Seq("doc_id"))
      .join(weighted, Seq("doc_id"))
      .join(mixed, Seq("doc_id"), "left_semi")
      .withColumn("curated", TextAnalysis.scrubExpr(cleaned))
      .select($"doc_id", $"source", $"lang", $"curated",
        size(TextAnalysis.toks($"curated")).cast("long").as("n_tokens"),
        $"score", $"weight", lit(epochId).as("epoch_id"))
  }

  /** Comparable row set; epoch_id read back from a partitioned dir may
    * infer as int, so every integral column is normalized via cast. */
  private def rowsOf(df: DataFrame): Set[(Long, String, String, String, Long, Double, Long, Long)] =
    df.selectExpr("doc_id", "source", "lang", "curated",
      "cast(n_tokens as bigint)", "score", "cast(weight as bigint)",
      "cast(epoch_id as bigint)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getDouble(5), r.getLong(6),
        r.getLong(7))).toSet

  test("materializeAll + load round-trips one corpus version") {
    val m = CuratedModels.load(spark, modelsDir)
    assert(m.corpus == corpusDir)
    assert(m.pqDir.contains(s"$modelsDir/pq"))
    assert(m.classifier.count() == 5)
    assert(!m.keepBar.isNaN)
    assert(m.ratios.count() > 0 && m.rates.count() == 20)
    assert(m.unigramCounts.count() > 0)
  }

  test("load refuses a mixed-version model bundle in one place") {
    CuratedModels.load(spark, modelsDir) // bundle is self-consistent
    val idFile = Paths.get(modelsDir, "dsir", CuratedModels.CorpusIdName)
    val orig = Files.readAllBytes(idFile)
    Files.write(idFile, "/some/other/corpus".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalStateException] {
        CuratedModels.load(spark, modelsDir)
      }
      assert(e.getMessage.contains("mixed-version"))
      assert(e.getMessage.contains("dsir"))
    } finally { Files.write(idFile, orig); () }
    CuratedModels.load(spark, modelsDir) // restored bundle loads again
  }

  test("streamed curation equals batch serving, maintains every artifact, and replays idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = CuratedModels.load(spark, modelsDir)
    val outDir = tmp("graftcurout")
    val dlqDir = tmp("graftcurdlq")
    val ckpt = tmp("graftcurckpt")
    val alertsDir = tmp("graftcuralerts")

    // ---- battery construction (batch serving calls pick rows that
    // exercise every gate both ways; the STREAM then re-decides them)
    val rnd = new scala.util.Random(42)
    // shuffled corpus twins: word ORDER destroyed (novel shingles — not
    // near-dups of their originals), token BAG preserved — every
    // classifier feature is a bag statistic, so a twin scores EXACTLY
    // its original's score and the corpus' top decile clears the
    // persisted bar by construction (the rest provides fail coverage)
    val corpusRows = Tables.documents(spark, corpusDir)
      .select($"doc_id", $"source", $"lang", $"text").collect()
    val cands = corpusRows.zipWithIndex.map { case (r, i) =>
      (920000L + i, r.getString(1), r.getString(2),
        rnd.shuffle(r.getString(3).split(' ').toSeq).mkString(" "))
    }.toSeq.toDF("doc_id", "source", "lang", "text").localCheckpoint()
    val candScores = Classifier.scoreWithModel(
      cands.select($"doc_id", $"text"), m.classifier)
    val passBar = candScores.filter($"score" >= m.keepBar)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val passDsir = Select.sampleWithRatios(
      cands.select($"doc_id", $"text"), m.ratios)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val passMix = Select.sampleWithRates(
      cands.select($"doc_id", $"source"), m.rates)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val passAll = (passBar & passDsir & passMix).toSeq.sorted
    assert(passAll.size >= 3,
      s"battery too weak: bar=${passBar.size} dsir=${passDsir.size} " +
        s"mix=${passMix.size} all=${passAll.size} keepBar=${m.keepBar} " +
        s"scores=${candScores.agg(min($"score"), max($"score")).head()}")
    // stream battery: some fully-accepted, some failing each gate
    val pickIds = (passAll.take(6) ++
      (passBar -- passDsir).take(4) ++ (passDsir -- passBar).take(4) ++
      (passBar & passDsir).diff(passMix).take(2)).toSet
    val picked = cands.filter($"doc_id".isin(pickIds.toSeq: _*))
      .collect().map(r => CuratedRec(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), null, 0))
    val corpusText7 = Tables.documents(spark, corpusDir)
      .filter($"doc_id" === 7).select($"text").head().getString(0)
    val emb0 = Tables.embeddings(spark, corpusDir)
      .filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).toArray
    val withEmbId = passAll.take(6).head
    val batch1 = picked.map(r =>
      if (r.doc_id == withEmbId) r.copy(embedding = emb0, label = 3) else r) ++ Seq(
      CuratedRec(929001L, "src0", "en", "", null, 0), // blank → DLQ
      CuratedRec(929002L, "src0", "en", corpusText7, null, 0), // corpus dup
      CuratedRec(929003L, "src0", "en", null, null, 0)) // null text → DLQ

    // batch 2: a near-dup of a batch-1 arrival (funnel currency), one
    // genuinely fresh candidate, and a REPLAYED batch-1 doc_id
    val nearDupOf = picked.head
    val freshCand = cands.filter(!$"doc_id".isin(pickIds.toSeq: _*))
      .filter($"doc_id".isin(passAll.drop(6).take(1): _*))
    val fresh2 = if (freshCand.isEmpty)
      cands.filter(!$"doc_id".isin(pickIds.toSeq: _*)).limit(1) else freshCand
    val fresh2Rec = fresh2.collect().map(r => CuratedRec(r.getLong(0),
      r.getString(1), r.getString(2), r.getString(3), null, 0)).head
    val batch2 = Seq(
      CuratedRec(929100L, nearDupOf.source, "en",
        nearDupOf.text.split(' ').drop(1).mkString(" "), null, 0),
      fresh2Rec,
      picked(1)) // replay of an admitted doc_id → screened, no re-admit

    // ---- expected state, computed BEFORE the stream mutates anything
    val sigs0 = Dedup.funnelSignatures(spark, corpusDir, m.funnelDir)
      .localCheckpoint(eager = true)
    def df(rs: Seq[CuratedRec]): DataFrame =
      rs.toDF("doc_id", "source", "lang", "text", "embedding", "label")
    val exp1 = expectedAccepted(m, df(batch1), sigs0, 0L).localCheckpoint()
    val b1Valid = df(batch1)
      .filter($"text".isNotNull && length(trim($"text")) > 0)
      .select($"doc_id", $"text")
    val sigs1 = sigs0.unionByName(Dedup.signatures(b1Valid))
      .localCheckpoint(eager = true)
    // (the replayed doc_id screens out inside expectedAccepted: its
    // signature is already in sigs1 — same registry the stream uses)
    val exp2 = expectedAccepted(m, df(batch2), sigs1, 1L).localCheckpoint()
    val pqBefore = spark.read.parquet(m.pqDir.get).count()

    // ---- drive the stream: two micro-batches through ONE query
    val mem = MemoryStream[CuratedRec]
    val q = CuratedPipeline.startCurated(spark, mem.toDF(), modelsDir,
      outDir, dlqDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      alertsDir = Some(alertsDir))
    try {
      mem.addData(batch1.toSeq)
      q.processAllAvailable()
      mem.addData(batch2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // ---- equality with the batch reference, epoch by epoch
    val out = spark.read.parquet(outDir).localCheckpoint()
    assert(rowsOf(out.filter($"epoch_id" === 0L)) == rowsOf(exp1),
      "epoch 0 curated output must equal the batch serving result")
    assert(rowsOf(out.filter($"epoch_id" === 1L)) == rowsOf(exp2),
      "epoch 1 curated output must equal the batch serving result")
    assert(exp1.count() >= 3) // the battery precondition made this real
    // corpus dup and stream-arrival near-dup both screened
    assert(out.filter($"doc_id".isin(929002L, 929100L)).isEmpty)
    // replayed doc_id admitted exactly once
    assert(out.filter($"doc_id" === picked(1).doc_id).count() <= 1)

    // ---- DLQ carries the invalid rows with the routing reason
    val dlq = spark.read.parquet(dlqDir)
      .select($"doc_id", $"reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dlq == Set((929001L, "invalid_document"), (929003L, "invalid_document")))

    // ---- funnel registry: corpus ∪ every valid arrival, exactly once
    val sigIds = Dedup.funnelSignatures(spark, corpusDir, m.funnelDir)
      .groupBy($"doc_id").count().localCheckpoint()
    assert(sigIds.filter($"count" > 1).isEmpty, "no doc signed twice")
    val gotIds = sigIds.select($"doc_id").collect().map(_.getLong(0)).toSet
    val baseIds = sigs0.select($"doc_id").collect().map(_.getLong(0)).toSet
    val wantIds = baseIds ++
      batch1.filter(r => r.text != null && r.text.trim.nonEmpty).map(_.doc_id) ++
      Set(929100L, fresh2Rec.doc_id)
    assert(gotIds == wantIds, s"funnel registry diverged: ${gotIds.diff(wantIds)} / ${wantIds.diff(gotIds)}")

    // ---- PQ index: the embedding-bearing arrival encoded under the
    // persisted codebooks, exactly once, with vec-0's exact codes
    val pq = spark.read.parquet(m.pqDir.get).localCheckpoint()
    assert(pq.count() == pqBefore + 1)
    val codes = pq.filter($"vec_id".isin(0L, withEmbId))
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(codes(withEmbId) == codes(0L),
      "twin arrival must encode to vec 0's codes under the persisted codebooks")

    // ---- percolator alerts: every VALID arrival probed against the
    // stored query registry, independent of admission (the corpus-dup
    // arrival 929002 still alerts — it ARRIVED, even though curation
    // screened it), epoch-keyed
    val alerts = spark.read.parquet(alertsDir)
      .select($"doc_id", $"query_id", $"epoch_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expAlerts = (Seq((df(batch1), 0L), (df(batch2), 1L)).flatMap {
      case (bdf, ep) =>
        val valid = bdf
          .filter($"text".isNotNull && length(trim($"text")) > 0)
          .dropDuplicates("doc_id")
        graft.ops.Search.percolateWithRegistry(valid, m.percolator)
          .collect().map(r => (r.getLong(0), r.getLong(1), ep)) ++
          graft.ops.Dsl.percolateDslOf(
            valid.withColumn("n_chars", length($"text")),
            CuratedModels.DslRuleSeed)
            .collect().map(r => (r.getLong(0), r.getLong(1), ep))
    }).toSet
    assert(alerts == expAlerts,
      s"alerts diverged: ${alerts.diff(expAlerts)} / ${expAlerts.diff(alerts)}")
    // the DSL rules (ids ≥ 100) add alerting power a term list cannot
    // express — at least one body rule (range+match / phrase / keyword
    // pair) must actually fire on this battery, or the wiring proof
    // above is vacuous
    assert(alerts.exists(_._2 >= 100L),
      s"no DSL percolator rule fired on the battery: $alerts")

    // ---- search index: every first-seen valid arrival queryable; the
    // stream-maintained index must rank exactly like one whole build
    // over corpus ∪ arrivals (the append=rebuild guarantee, end to end
    // through the stream)
    val idxDir = m.searchIndexDir.get
    val arrivalRows = (batch1 ++ batch2)
      .filter(r => r.text != null && r.text.trim.nonEmpty)
      .filter(r => gotIds.contains(r.doc_id) && !baseIds.contains(r.doc_id))
      .map(r => (r.doc_id, r.text, r.lang, r.source)).distinct.toSeq
    val unionDocs = Tables.documents(spark, corpusDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .unionByName(arrivalRows.toDF("doc_id", "text", "lang", "source"))
    val wholeIdx = tmp("graftcurwholeidx") + "/idx"
    graft.ops.Search.buildSearchIndexOf(unionDocs, wholeIdx)
    val servedStream = graft.ops.Search.searchWithIndex(spark, idxDir,
      graft.ops.Search.QueryTerms, graft.ops.Search.TopK)
      .collect().map(_.toSeq).toSeq
    val servedWhole = graft.ops.Search.searchWithIndex(spark, wholeIdx,
      graft.ops.Search.QueryTerms, graft.ops.Search.TopK)
      .collect().map(_.toSeq).toSeq
    assert(servedStream == servedWhole,
      "stream-maintained search index must rank like a whole rebuild")
    // the doc-values table is stream-maintained too: facets served
    // from the streamed index equal the whole-rebuild facets (the
    // arrival batches' lang/source landed in docmeta)
    assert(graft.ops.Search.facetsWithIndex(spark, idxDir,
        graft.ops.Search.QueryTerms).collect().map(_.toSeq).toSeq ==
      graft.ops.Search.facetsWithIndex(spark, wholeIdx,
        graft.ops.Search.QueryTerms).collect().map(_.toSeq).toSeq,
      "stream-maintained doc-values facets must equal the whole rebuild")
    val idxRowsBefore = spark.read.parquet(s"${graft.ops.Search.indexRoot(spark, idxDir)}/postings").count()

    // ---- replay: the SAME batch through the batch seam changes nothing
    val outRows = rowsOf(out)
    CuratedPipeline.curateBatch(spark, m, df(batch2), 1L, outDir, dlqDir,
      Some(alertsDir))
    assert(rowsOf(spark.read.parquet(outDir)) == outRows)
    val alertsAfter = spark.read.parquet(alertsDir)
      .select($"doc_id", $"query_id", $"epoch_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(alertsAfter == expAlerts, "replay must not duplicate alerts")
    assert(spark.read.parquet(m.pqDir.get).count() == pqBefore + 1)
    assert(spark.read.parquet(s"${graft.ops.Search.indexRoot(spark, idxDir)}/postings").count() == idxRowsBefore,
      "replaying a batch must not grow the search index")
    val sigIds2 = Dedup.funnelSignatures(spark, corpusDir, m.funnelDir)
      .groupBy($"doc_id").count()
    assert(sigIds2.filter($"count" > 1).isEmpty)
    assert(sigIds2.count() == wantIds.size)
  }

  test("drift metrics move when the stream's language mix shifts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tmp("graftdriftout")
    val dlqDir = tmp("graftdriftdlq")
    val ckpt = tmp("graftdriftckpt")
    val rnd = new scala.util.Random(7)
    val mem = MemoryStream[CuratedRec]
    val q = CuratedPipeline.startCurated(spark, mem.toDF(), modelsDir,
      outDir, dlqDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val batchStats = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def drain(): Unit = {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.asScala.getOrElse("curate_metrics", null)))
        .filter(r => r.getAs[Long]("n_received") > 0)
        .drop(batchStats.size)
        .foreach(r => batchStats +=
          ((r.getAs[Double]("fertility"), r.getAs[Double]("oov_rate"))))
    }
    try {
      // batch 1: in-coverage text (the corpus never wrote 'x' or 'z',
      // so pool words are fully covered by the trained pieces)
      mem.addData((0 until 10).map(i =>
        CuratedRec(940000L + i, "src0", "en", mkText(rnd, 60), null, 0)))
      drain()
      // batch 2: a language-mix shift — words built on the UNSEEN
      // characters x/z; the trained unigram model must flag them
      mem.addData((0 until 10).map(i =>
        CuratedRec(941000L + i, "src0", "en",
          mkText(rnd, 30) + " zyzzx xylzz zzxx " + mkText(rnd, 3), null, 0)))
      drain()
    } finally q.stop()
    assert(batchStats.size == 2, s"expected 2 observed batches, got $batchStats")
    val (fert1, oov1) = batchStats(0)
    val (fert2, oov2) = batchStats(1)
    assert(oov1 == 0.0, s"in-coverage batch must have zero OOV, got $oov1")
    assert(oov2 > 0.0, s"shifted batch must surface OOV drift, got $oov2")
    assert(fert2 > fert1,
      s"uncovered words fragment to characters: fertility $fert2 !> $fert1")
  }

  // LAST on purpose: this test MUTATES the shared bundle's search and
  // PQ indexes (that is its point).
  test("deleteCurated forgets a document across output, search index, and PQ") {
    import spark.implicits._
    val m = CuratedModels.load(spark, modelsDir)
    val victim = 7L
    // synthetic curated output: victim alone in epoch 99 (the
    // emptied-partition case) and mixed with others in epoch 0
    val outDir = tmp("graftdelout")
    Seq((victim, "src0", "en", "t", 1L, 0.5, 1L, 0L),
      (11L, "src0", "en", "t", 1L, 0.5, 1L, 0L),
      (victim, "src0", "en", "t", 1L, 0.5, 1L, 99L),
      (12L, "src1", "en", "t", 1L, 0.5, 1L, 5L))
      .toDF("doc_id", "source", "lang", "curated", "n_tokens", "score",
        "weight", "epoch_id")
      .write.mode("overwrite").partitionBy("epoch_id").parquet(outDir)
    val pqBefore = spark.read.parquet(m.pqDir.get).count()
    assert(spark.read.parquet(m.pqDir.get)
      .filter($"vec_id" === victim).count() == 1,
      "precondition: the victim is indexed")

    CuratedPipeline.deleteCurated(spark, m, outDir, Seq(victim), "gdpr1")

    val out = spark.read.parquet(outDir)
      .select($"doc_id", $"epoch_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((11L, 0L), (12L, 5L)),
      s"victim rows must vanish, others stay: $out")
    assert(!new java.io.File(s"$outDir/epoch_id=99").exists(),
      "an emptied partition must be deleted, not left stale")
    // search: tombstoned — victim absent from every served ranking
    val served = graft.ops.Search.searchWithIndex(spark,
      m.searchIndexDir.get, graft.ops.Search.QueryTerms, 1000)
      .collect().map(_.getLong(1))
    assert(!served.contains(victim))
    // PQ: the victim's code row is gone, everything else intact
    val pq = spark.read.parquet(m.pqDir.get)
    assert(pq.filter($"vec_id" === victim).isEmpty)
    assert(pq.count() == pqBefore - 1)
    assert(new java.io.File(s"${m.pqDir.get}/_codebooks").exists(),
      "the quantizer identity must survive the purge")
    // replay converges: nothing changes
    CuratedPipeline.deleteCurated(spark, m, outDir, Seq(victim), "gdpr1")
    assert(spark.read.parquet(outDir).count() == 2)
    assert(spark.read.parquet(m.pqDir.get).count() == pqBefore - 1)
  }

  test("curated epochs inline no per-epoch value in generated code; a replay rewrites the same rows") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val m = CuratedModels.load(spark, modelsDir)
    val (outDir, dlqDir, alertsDir) = (tmp("graftcgout"), tmp("graftcgdlq"), tmp("graftcgalerts"))
    // shuffled corpus twins (see the streamed-curation test), three per
    // corpus document; every epoch takes the same branches: an arrival
    // that clears every gate, two that do not, one of them with an
    // embedding, and one invalid row
    val rnd = new scala.util.Random(7)
    val corpusRows = Tables.documents(spark, corpusDir)
      .select($"source", $"lang", $"text").collect()
    val cands = (0 until 3).flatMap(k => corpusRows.zipWithIndex.map { case (r, i) =>
        (970000L + k * corpusRows.length + i, r.getString(0), r.getString(1),
          rnd.shuffle(r.getString(2).split(' ').toSeq).mkString(" "))
      }).toDF("doc_id", "source", "lang", "text").localCheckpoint()
    val accepted = Classifier.scoreWithModel(cands.select($"doc_id", $"text"), m.classifier)
      .filter($"score" >= m.keepBar).select($"doc_id")
      .join(Select.sampleWithRatios(cands.select($"doc_id", $"text"), m.ratios), "doc_id")
      .join(Select.sampleWithRates(cands.select($"doc_id", $"source"), m.rates), "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(accepted.length >= 6, s"battery too weak: ${accepted.length} accepted twins")
    val rejected = cands.select($"doc_id").collect().map(_.getLong(0)).toSet
      .diff(accepted.toSet).toSeq.sorted
    val embs = Tables.embeddings(spark, corpusDir).select($"embedding")
      .limit(6).collect().map(_.getSeq[Float](0).toArray)
    val byId = cands.collect().map(r => r.getLong(0) -> r).toMap
    def rec(id: Long, emb: Array[Float]): CuratedRec = {
      val r = byId(id)
      CuratedRec(id, r.getString(1), r.getString(2), r.getString(3), emb, 0)
    }
    val batches = (0 until 6).map(e => Seq(rec(accepted(e), null),
      rec(rejected(2 * e), embs(e)), rec(rejected(2 * e + 1), null),
      CuratedRec(969000L + e, "src0", "en", " ", null, 0))
      .toDF("doc_id", "source", "lang", "text", "embedding", "label")
      .localCheckpoint(eager = true))
    def curate(e: Int): Unit =
      CuratedPipeline.curateBatch(spark, m, batches(e), e.toLong, outDir, dlqDir, Some(alertsDir))
    // A generated class is named after its whole-stage codegen id, which
    // adaptive execution assigns in stage-completion order; unnamed
    // classes leave only the per-epoch values to tell epochs apart. An
    // inlined per-epoch value compiles in every epoch. A data shape seen
    // for the first time compiles once, in whichever epoch brings it: a
    // join whose broadcast side was empty in the earlier epochs and is
    // not now generates other code (an empty hashed relation). So some
    // epoch after the first must compile nothing at all.
    val byStageId = "spark.sql.codegen.useIdInClassName"
    val deltas = try {
      spark.conf.set(byStageId, "false")
      (0 until 6).map { e =>
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        curate(e)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
    } finally spark.conf.unset(byStageId)
    assert(deltas.drop(1).contains(0L),
      s"every epoch compiled generated code (per epoch: $deltas): a per-epoch value was inlined")
    def rows(dir: String): Set[Seq[Any]] =
      spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val (out, dlq, alerts) = (rows(outDir), rows(dlqDir), rows(alertsDir))
    // the near-dup screen against the funnel may still drop a twin
    assert(out.nonEmpty && out.map(_.head).subsetOf(accepted.take(6).toSet), out)
    assert(dlq.size == 6)
    curate(5)
    assert(rows(outDir) == out && rows(dlqDir) == dlq && rows(alertsDir) == alerts)
  }
}
