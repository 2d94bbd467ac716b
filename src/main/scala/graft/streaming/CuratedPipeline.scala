package graft.streaming

import graft.Tables
import graft.ops.{Classifier, Dedup, Pq, Search, Select, TextAnalysis, Unigram}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The trained serving bundle of one corpus version — every model the
  * engine trains, loaded under ONE manifest so a mixed-version serve
  * (funnel from corpus v1, classifier from v2) is refused in one
  * place. Fields are the per-family artifacts in their serving form:
  * the model FRAMES are driver-light (5-row weights, B-row ratios,
  * D-row rates, piece-space-bounded vocab) and enter batch plans by
  * broadcast; the funnel and PQ index stay on disk and are probed /
  * appended in place.
  *
  * @param corpus    the corpus directory every family was trained on
  * @param funnelDir durable dedup funnel ([[graft.ops.Dedup.persistFunnel]])
  * @param classifier (feature, weight) rows ([[Classifier.materializeModel]])
  * @param keepBar    trained keep threshold ([[Classifier.keepBarRow]])
  * @param ratios     DSIR bucket ratios ([[Select.materializeRatios]])
  * @param rates      mixture acceptance rates ([[Select.materializeMixRates]])
  * @param unigramCounts trained piece vocabulary ([[Unigram.materializeModel]])
  * @param pqDir      persisted IVF-PQ index ([[Pq.persistPqIndex]]), when present
  * @param searchIndexDir persisted inverted index
  *                       ([[graft.ops.Search.buildSearchIndex]]), when present
  */
final case class CuratedModels(
    corpus: String,
    funnelDir: String,
    classifier: DataFrame,
    keepBar: Double,
    ratios: DataFrame,
    rates: DataFrame,
    unigramCounts: DataFrame,
    pqDir: Option[String],
    searchIndexDir: Option[String],
    percolator: DataFrame,
    percolatorDsl: DataFrame)

object CuratedModels {

  /** Manifest file name at the models root. */
  val ManifestName = "models.manifest"

  /** Per-artifact identity marker: a text file holding the corpus dir
    * the artifact was trained on. Underscore-prefixed so parquet
    * readers over the same directory treat it as hidden metadata. */
  val CorpusIdName = "_corpus.id"

  private val ParquetFamilies =
    Seq("classifier", "classifier_bar", "dsir", "mix", "unigram",
      "percolator", "percolator_dsl")

  /** The authored DSL alert rules seeded into a fresh bundle — full ES
    * query bodies (range+match power a term list cannot express),
    * stored as DATA (query_id, body) an operator edits between bundle
    * versions. Ids offset by 100 so they never collide with the
    * derived term registry's 1..N. */
  val DslRuleSeed: Seq[(Long, String)] =
    graft.ops.Dsl.PercolateRules.map { case (id, b) => (100L + id, b) }

  private def writeText(path: java.nio.file.Path, text: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, text.getBytes("UTF-8"))
    ()
  }

  private def readText(path: java.nio.file.Path): Option[String] =
    if (java.nio.file.Files.exists(path))
      Some(new String(java.nio.file.Files.readAllBytes(path), "UTF-8").trim)
    else None

  /** Train EVERY serving family on the corpus at `dir` and persist the
    * bundle under `modelsDir` — the one per-corpus-version build job a
    * production deployment schedules (each family's own materialize
    * already follows the train-once/serve-forever convention; this
    * composes them and stamps the shared manifest). Layout:
    *
    *   modelsDir/models.manifest   corpus dir + the family list
    *   modelsDir/classifier        (feature, weight) parquet + _corpus.id
    *   modelsDir/classifier_bar    1-row (th) parquet + _corpus.id
    *   modelsDir/dsir              (b, r_b) parquet + _corpus.id
    *   modelsDir/mix               (source, rate) parquet + _corpus.id
    *   modelsDir/unigram           counts/ + segments/ parquet + _corpus.id
    *   modelsDir/funnel            bucketed funnel tables + funnel.meta
    *   modelsDir/pq                IVF-PQ lists + _codebooks + _corpus.id
    *   modelsDir/searchidx         inverted index (postings + doclen) + _corpus.id
    *
    * @param withPq also build the IVF-PQ index (needs an embeddings
    *               table beside the documents) */
  def materializeAll(spark: SparkSession, dir: String, modelsDir: String,
      withPq: Boolean = true): Unit = {
    import spark.implicits._
    val root = java.nio.file.Paths.get(modelsDir)
    // the manifest is the bundle's validity bit: DELETE it before the
    // first family write and restamp it LAST, so a crash anywhere in
    // the retrain leaves a bundle load() refuses outright ("no
    // manifest") instead of a half-retrained mix whose per-family
    // markers still agree with the OLD manifest — the silent
    // mixed-corpus serve the manifest exists to prevent
    java.nio.file.Files.deleteIfExists(root.resolve(ManifestName))
    Classifier.materializeModel(spark, dir, s"$modelsDir/classifier")
    Classifier.keepBarRow(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$modelsDir/classifier_bar")
    Select.materializeRatios(spark, dir, s"$modelsDir/dsir")
    Select.materializeMixRates(spark, dir, s"$modelsDir/mix")
    Unigram.materializeModel(spark, dir, s"$modelsDir/unigram")
    // the percolator RULES are bundle data, not compiled code — the
    // alert registry lives in a table an operator edits between bundle
    // versions (the models.manifest discipline applied to the one
    // serving family whose "model" is authored rather than trained);
    // bootstrapped from the corpus vocabulary — rules are data end to
    // end, no literal rule constants anywhere (Search.derivedRegistry)
    Search.sharedRegistry(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$modelsDir/percolator")
    // the DSL rule bodies are the same data-not-code discipline with
    // authored (not derived) content: seeded here, edited in place by
    // operators between bundle versions
    DslRuleSeed.toDF("query_id", "body")
      .coalesce(1).write.mode("overwrite").parquet(s"$modelsDir/percolator_dsl")
    Dedup.persistFunnel(spark, dir, s"$modelsDir/funnel")
    if (withPq) Pq.persistPqIndex(spark, dir, s"$modelsDir/pq")
    Search.buildSearchIndex(spark, dir, s"$modelsDir/searchidx")
    // identity markers AFTER the writes (overwrite modes clear the dirs)
    ParquetFamilies.foreach(f =>
      writeText(root.resolve(f).resolve(CorpusIdName), dir))
    if (withPq) writeText(root.resolve("pq").resolve(CorpusIdName), dir)
    writeText(root.resolve("searchidx").resolve(CorpusIdName), dir)
    val families = ParquetFamilies ++ Seq("funnel", "searchidx") ++
      (if (withPq) Seq("pq") else Nil)
    writeText(root.resolve(ManifestName),
      (s"corpus=$dir" +: families.map(f => s"family.$f=$f"))
        .mkString("", "\n", "\n"))
  }

  /** Load a bundle persisted by [[materializeAll]], verifying that
    * EVERY family was trained on the manifest's corpus — the
    * cross-family version gate: per-family identity checks
    * (funnel.meta, the _corpus.id markers) already refuse serving a
    * *different path* individually, but only a shared manifest can
    * refuse a *mixed* bundle, where each artifact is self-consistent
    * yet they disagree with each other (classifier retrained on v2
    * while the funnel still indexes v1 — acceptance decisions and the
    * dedup registry would silently describe different corpora). */
  def load(spark: SparkSession, modelsDir: String): CuratedModels = {
    val root = java.nio.file.Paths.get(modelsDir)
    val manifest = readText(root.resolve(ManifestName)).getOrElse(
      throw new IllegalStateException(
        s"no $ManifestName at $modelsDir — run materializeAll first"))
      .linesIterator.flatMap { l =>
        val i = l.indexOf('=')
        if (i < 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
      }.toMap
    val corpus = manifest.getOrElse("corpus",
      throw new IllegalStateException(s"$ManifestName missing corpus="))
    val families = manifest.keys.collect {
      case k if k.startsWith("family.") => k.stripPrefix("family.")
    }.toSet
    // the refusal: every family's own identity must equal the manifest's
    families.foreach { f =>
      val recorded =
        if (f == "funnel")
          readText(root.resolve("funnel").resolve("funnel.meta"))
            .flatMap(_.linesIterator.collectFirst {
              case l if l.startsWith("corpus=") => l.stripPrefix("corpus=") })
        else readText(root.resolve(f).resolve(CorpusIdName))
      if (!recorded.contains(corpus))
        throw new IllegalStateException(
          s"mixed-version models at $modelsDir: family $f was trained on " +
            s"${recorded.getOrElse("<unknown>")} but the manifest corpus is " +
            s"$corpus — re-run materializeAll for one corpus version")
    }
    val bar = spark.read.parquet(s"$modelsDir/classifier_bar")
      .head().getDouble(0)
    CuratedModels(
      corpus = corpus,
      funnelDir = s"$modelsDir/funnel",
      classifier = spark.read.parquet(s"$modelsDir/classifier"),
      keepBar = bar,
      ratios = spark.read.parquet(s"$modelsDir/dsir"),
      rates = spark.read.parquet(s"$modelsDir/mix"),
      unigramCounts = spark.read.parquet(s"$modelsDir/unigram/counts"),
      pqDir = if (families.contains("pq")) Some(s"$modelsDir/pq") else None,
      searchIndexDir = if (families.contains("searchidx"))
        Some(s"$modelsDir/searchidx") else None,
      percolator = spark.read.parquet(s"$modelsDir/percolator"),
      percolatorDsl = spark.read.parquet(s"$modelsDir/percolator_dsl"))
  }
}

/** The north-star ingest dataflow: the reference's Pulsar→ES pipeline
  * (SURVEY §3.1) upgraded to the trained curation surface. ONE
  * foreachBatch per micro-batch runs the full serving chain —
  * validate → classifier-score → DSIR-weight → mixture-sample →
  * near-dup screen — and maintains every durable artifact in place
  * (curated output, DLQ, percolator alerts, dedup funnel, PQ index,
  * full-text search index), with observed
  * metrics (ingest counters + tokenizer-drift signals) riding the
  * stream for Health's Prometheus surface.
  *
  * Idempotence: the funnel's signature table doubles as the admission
  * registry — each batch anti-joins its doc_ids against it FIRST, and
  * the funnel append is the LAST mutation of the batch, so a replayed
  * epoch (crash before the checkpoint commit) re-screens to exactly
  * the rows whose admission never committed. Sink-by-sink:
  *   - curated output + DLQ partition by epoch_id and write with
  *     dynamic partition overwrite (the [[IngestPipeline.writeBatch]]
  *     convention) — a replay rewrites its own partitions;
  *   - the PQ append anti-joins arrival vec_ids against the probed
  *     cell partitions, so a replay after a crash BETWEEN the PQ
  *     append and the funnel append cannot double-insert codes;
  *   - the funnel append itself orders signatures before postings;
  *     its partial-failure window is repaired by
  *     [[graft.ops.Dedup.refreshFunnel]], which re-derives every
  *     downstream component from signatures (the documented
  *     maintenance split).
  */
object CuratedPipeline {

  /** A curated-stream record is admissible when it has a key, a source
    * (the mixture's domain), and non-blank text. Everything else —
    * including rows whose embedding is absent — flows; invalid rows
    * route to the DLQ with the raw payload for post-correction replay
    * (the parse_dlq convention). */
  private def validPred: Column =
    col("doc_id").isNotNull && col("source").isNotNull &&
      col("text").isNotNull && length(trim(col("text"))) > 0

  /** Run the full curation chain on ONE batch of documents and commit
    * every sink — the shared core of [[startCurated]] and the batch
    * seam tests drive directly (replaying a batch through this function
    * must leave all durable state unchanged).
    *
    * @param batch (doc_id, source, lang, text) plus optional
    *              (embedding, label) for PQ maintenance
    */
  def curateBatch(spark: SparkSession, m: CuratedModels, batch: DataFrame,
      epochId: Long, outDir: String, dlqDir: String,
      alertsDir: Option[String] = None): Unit = {
    import spark.implicits._
    val b = batch.localCheckpoint()
    // DLQ side-output: replay-stable (invalid rows are never admitted,
    // so a replayed epoch rewrites the same partition identically)
    b.filter(!validPred)
      .select($"doc_id", $"source", $"text",
        lit("invalid_document").as("reason"), lit(epochId).as("epoch_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch_id").parquet(dlqDir)
    // one writer per key per batch (appendToFunnel's new-ids contract
    // must hold within the batch too) — with a DETERMINISTIC survivor:
    // dropDuplicates keeps a partition-order-dependent row, so a batch
    // carrying one doc_id with two payloads (producer retry with an
    // edited message) could re-decide differently on replay and break
    // the epoch-rewrites-itself-identically guarantee. Rank by the
    // payload itself instead (string casts make the array column
    // orderable); ties beyond that are byte-identical rows. EVERY
    // per-doc sink of the batch (alerts, admission, index) derives
    // from this ONE deduped frame so their survivors agree.
    val dupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(b.columns.filter(_ != "doc_id").sorted
        .map(c => col(c).cast("string").asc_nulls_first): _*)
    val dedupedValid = b.filter(validPred)
      .withColumn("graft_dup_rk", row_number().over(dupW))
      .filter(col("graft_dup_rk") === 1).drop("graft_dup_rk")
      .localCheckpoint()
    // percolator alerts: every VALID arrival probed against the RULE
    // REGISTRY in the bundle (the ES watcher loop, in its data-driven
    // form — rules are a table, not compiled predicates, so the
    // registry grows without replanning). Fires on ARRIVAL, before and
    // independent of admission screening, because an alert cares that
    // a matching document showed up, not whether curation kept it;
    // epoch-keyed dynamic overwrite + the deterministic survivor above
    // keep replays idempotent
    alertsDir.foreach { ad =>
      val termAlerts = Search.percolateWithRegistry(dedupedValid, m.percolator)
      // DSL rules: full query bodies from the bundle, compiled into
      // the same stateless probe — range/bool/phrase alerting power.
      // The registry pull is the compileRegistry small-set fast path,
      // bounded loudly; arrivals are enriched with the indexed length
      // field so range rules on it see the corpus convention
      val dslRules = m.percolatorDsl
        .limit(Search.MaxCompiledRules + 1).collect()
      if (dslRules.length > Search.MaxCompiledRules)
        throw new IllegalStateException(
          s"curateBatch: percolator_dsl exceeds ${Search.MaxCompiledRules} " +
            "rules — the compiled probe is the small-registry fast path")
      val alerts =
        if (dslRules.isEmpty) termAlerts
        else termAlerts.unionByName(graft.ops.Dsl.percolateDslOf(
          dedupedValid.withColumn("n_chars", length($"text")),
          dslRules.map(r => (r.getLong(0), r.getString(1))).toSeq))
      alerts
        .withColumn("epoch_id", lit(epochId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id").parquet(ad)
    }
    // replay screen: the funnel's signature doc_ids are the registry of
    // every document ever admitted — snapshot the genuinely-new rows
    // BEFORE any sink mutates
    val sigs = Dedup.funnelSignatures(spark, m.corpus, m.funnelDir)
    val fresh = dedupedValid
      .join(sigs.select($"doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (!fresh.isEmpty) {
      val docs = fresh.select($"doc_id", $"text")
      // near-dup screen against the CURRENT funnel (corpus + every
      // prior arrival): first-arrival-wins, the streaming analogue of
      // the batch pipeline's cluster-loser anti join
      val dups = Dedup.incrementalAgainst(sigs, docs)
        .select($"new_id".as("doc_id")).distinct()
      val scored = Classifier.scoreWithModel(docs, m.classifier)
        .filter($"score" >= m.keepBar)
      val weighted = Select.sampleWithRatios(docs, m.ratios)
        .select($"doc_id", $"weight")
      val mixed = Select.sampleWithRates(
        fresh.select($"doc_id", $"source"), m.rates).select($"doc_id")
      val cleaned = TextAnalysis.cleanExpr($"text")
      fresh
        .join(dups, Seq("doc_id"), "left_anti")
        .join(scored, Seq("doc_id"))
        .join(weighted, Seq("doc_id"))
        .join(mixed, Seq("doc_id"), "left_semi")
        .withColumn("curated", TextAnalysis.scrubExpr(cleaned))
        .select($"doc_id", $"source", $"lang", $"curated",
          size(TextAnalysis.toks($"curated")).cast("long").as("n_tokens"),
          $"score", $"weight", lit(epochId).as("epoch_id"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id").parquet(outDir)
      // PQ maintenance: encode arrivals that carry an embedding under
      // the PERSISTED codebooks and append to their cells — screened
      // against the probed partitions so a replay after a partial
      // failure cannot double-insert. (The bucket list is a
      // driver-sized collect by construction — bounded by the
      // micro-batch's distinct cells — and it IS the
      // partition-pruning predicate: only those cell partitions are
      // listed or read, never the whole index.) The index covers every
      // embedding-bearing arrival, accepted or not — the streaming
      // continuation of persistPqIndex over the corpus embeddings
      // table, which likewise indexes the full table, not the curated
      // subset.
      m.pqDir.foreach { pq =>
        if (fresh.columns.contains("embedding")) {
          val lbl =
            if (fresh.columns.contains("label"))
              coalesce(col("label").cast("int"), lit(0))
            else lit(0)
          val embB = fresh.filter($"embedding".isNotNull)
            .select($"doc_id".as("vec_id"), $"embedding", lbl.as("label"))
          if (!embB.isEmpty) {
            val bkts = embB
              .select(graft.ops.Similarity.lshBucket($"embedding").as("b"))
              .distinct().collect().map(_.getLong(0)).toSeq
            val existing = spark.read.parquet(pq)
              .filter($"bucket".isin(bkts: _*)).select($"vec_id")
            Pq.appendToPqIndex(spark, pq,
              embB.join(existing, Seq("vec_id"), "left_anti"))
          }
        }
      }
    }
    // search-index maintenance: every first-seen valid arrival becomes
    // queryable — the streaming continuation of buildSearchIndex over
    // the corpus (like the PQ index, coverage is arrivals, not the
    // curated subset: retrieval wants the rejected docs findable too,
    // e.g. for audit queries). The new-doc screen is the INDEX'S OWN
    // doclen (docs already indexed under OTHER epochs), NOT the
    // funnel-screened `fresh`: the funnel append below is two jobs
    // (signatures then postings) whose partial visibility after a
    // crash would shrink a replayed `fresh`, and the epoch's dynamic
    // partition overwrite would then rewrite doclen/postings with only
    // the remaining subset — already-indexed docs losing their doclen
    // row (unrankable) while untouched postings buckets keep orphans.
    // doclen-of-other-epochs only changes when another epoch commits,
    // so a replay recomputes the identical set and the epoch rewrites
    // itself regardless of funnel commit progress. (Consequence,
    // documented: a doc purged from the index and later genuinely
    // re-sent is re-indexed — a fresh arrival of content the operator
    // again possesses, while funnel-retained signatures still keep it
    // out of the curated output.)
    m.searchIndexDir.foreach { idx =>
      // resolve the index version ONCE for both the screen and the
      // append — compaction concurrent with an in-flight batch is the
      // operator's quiesce responsibility (compactSearchIndex doc)
      val root = Search.indexRoot(spark, idx)
      val already = Search.indexTable(spark, Seq(root), "doclen")
        .filter($"epoch" =!= s"e$epochId").select($"doc_id")
      // carry the doc-values fields so the index serves facets over
      // curated batches too (Search.DocValueFields)
      val idxDocs = dedupedValid.select($"doc_id", $"text", $"lang", $"source")
        .join(already, Seq("doc_id"), "left_anti")
      if (!idxDocs.isEmpty)
        Search.appendToSearchIndex(spark, root, idxDocs, epoch = s"e$epochId")
    }
    if (!fresh.isEmpty) {
      // the admission commit point — LAST, so every earlier sink has
      // committed before a doc_id starts screening as already-admitted
      Dedup.appendToFunnel(spark, m.corpus, m.funnelDir,
        fresh.select($"doc_id", $"text"))
    }
  }

  /** Remove rows bearing `victimIds` from a partitioned parquet table
    * by rewriting only the partitions that contain them. Dynamic
    * partition overwrite replaces the affected partitions whose
    * survivor set is nonempty; a partition EMPTIED by the purge must
    * be deleted explicitly (dynamic overwrite skips partitions absent
    * from the written data — the stale-partition trap). Re-running
    * the same purge converges: affected partitions re-derive from the
    * current table state, so already-purged rows simply stop being
    * affected. Survivors are snapshotted (localCheckpoint) BEFORE any
    * mutation so the rewrite never reads what it is replacing. */
  private def purgeRows(spark: SparkSession, tableDir: String,
      partCol: String, idCol: String, victimIds: DataFrame): Unit = {
    val t = spark.read.parquet(tableDir)
    val victims = victimIds.select(col("vid").as(idCol))
    val affected = t.join(victims, idCol).select(col(partCol))
      .distinct().collect().map(_.get(0))
    if (affected.nonEmpty) {
      val surv = t.filter(col(partCol).isin(affected: _*))
        .join(victims, Seq(idCol), "left_anti")
        .localCheckpoint()
      val survParts = surv.select(col(partCol)).distinct()
        .collect().map(_.get(0)).toSet
      if (!surv.isEmpty)
        surv.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol).parquet(tableDir)
      val hconf = spark.sessionState.newHadoopConf()
      affected.filterNot(survParts).foreach { p =>
        val dir = new org.apache.hadoop.fs.Path(s"$tableDir/$partCol=$p")
        dir.getFileSystem(hconf).delete(dir, true)
        ()
      }
    }
  }

  /** Right-to-be-forgotten across the serving artifacts: remove the
    * given doc_ids from the curated output (epoch-partition rewrite),
    * tombstone them in the full-text index (instantly unservable;
    * bytes leave at the next [[graft.ops.Search.compactSearchIndex]]),
    * and drop their code rows from the PQ index (cell-partition
    * rewrite). The dedup funnel's signatures are RETAINED by design:
    * they are 60-bit hashes carrying no recoverable text, and keeping
    * them means a re-ingest of the deleted content is screened as
    * already-seen rather than silently re-admitted — erasure removes
    * the content, not the fact that curation decided on it. Each step
    * converges under replay (tombstones are epoch-keyed overwrite;
    * the partition purges re-derive from current state). */
  def deleteCurated(spark: SparkSession, m: CuratedModels, outDir: String,
      docIds: Seq[Long], epoch: String): Unit = {
    import spark.implicits._
    val vids = docIds.toDF("vid").localCheckpoint()
    m.searchIndexDir.foreach { idx =>
      graft.ops.Search.deleteFromSearchIndex(spark, idx,
        vids.select($"vid".as("doc_id")), epoch)
    }
    purgeRows(spark, outDir, "epoch_id", "doc_id", vids)
    m.pqDir.foreach { pq =>
      purgeRows(spark, pq, "bucket", "vec_id", vids)
    }
  }

  /** Assemble and start the curated pipeline: load the bundle (refusing
    * mixed corpus versions — [[CuratedModels.load]]), attach the
    * observed ingest + tokenizer-drift metrics, and drive
    * [[curateBatch]] per micro-batch. Returns the running query;
    * callers own its lifecycle.
    *
    * Drift metrics (`curate_metrics`): alongside the reference-shaped
    * counters (n_received/n_valid/n_dlq), each batch reports the
    * arriving text measured against the TRAINED unigram tokenizer —
    * `fertility` (pieces per word) and `oov_rate` (words containing a
    * character outside the model's coverage, [[Unigram.nOovWordsCol]]).
    * These are the signals a pipeline operator actually watches: a
    * language-mix shift shows up as fertility/OOV drift at ingest
    * time, long before a retrain surfaces it. Health's Prometheus
    * exposition picks them up as `graft_observed_*` families
    * automatically. The model map enters the stream plan as ONE
    * broadcast row (stateless stream-static cross join — the
    * tokenCountWithModel serving shape), and the metrics live in the
    * CollectMetrics aggregates only, so the per-batch sink sees the
    * original columns. */
  def startCurated(
      spark: SparkSession,
      source: DataFrame,
      modelsDir: String,
      outDir: String,
      dlqDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      alertsDir: Option[String] = None): StreamingQuery = {
    val m = CuratedModels.load(spark, modelsDir)
    val one = Unigram.modelRow(m.unigramCounts)
    val nw = Unigram.nWordsCol(col("text"))
    val np = Unigram.nPiecesCol(col("text"), col("m"))
    val noov = Unigram.nOovWordsCol(col("text"), col("m"))
    source
      .crossJoin(broadcast(one))
      .observe("curate_metrics",
        count(lit(1)).as("n_received"),
        sum(when(validPred, 1L).otherwise(0L)).as("n_valid"),
        sum(when(!validPred, 1L).otherwise(0L)).as("n_dlq"),
        sum(when(validPred, nw)).as("n_words"),
        sum(when(validPred, np)).as("n_pieces"),
        sum(when(validPred, noov)).as("n_oov_words"),
        (sum(when(validPred, np)).cast("double") /
          sum(when(validPred, nw)).cast("double")).as("fertility"),
        (sum(when(validPred, noov)).cast("double") /
          sum(when(validPred, nw)).cast("double")).as("oov_rate"))
      .drop("m")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        curateBatch(spark, m, batch, epochId, outDir, dlqDir, alertsDir)
      }
      .start()
  }
}
