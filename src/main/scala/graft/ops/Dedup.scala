package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines over the
  * `documents` fixture — the north-star extension surface (SURVEY §7.2.5).
  *
  * All hash functions are md5 hex strings so the DuckDB oracle computes
  * bit-identical values (Spark's xxhash64/murmur and DuckDB's hash() are
  * engine-specific; md5 is standardized). Minima over hex strings are
  * lexicographic — a valid uniform order for minhash purposes.
  *
  * Execution shape (this matters at any scale, and 40× at 100 TB): the
  * shingle set is EXPLODED to (doc_id, shingle) rows once, and every
  * hash is computed in a codegen'd projection over those rows, then
  * reduced with a map-side-combining min/sum aggregate keyed by doc_id.
  * The tempting alternative — per-doc array lambdas
  * (`transform(shingles, md5)` × NumHashes) — evaluates interpreted,
  * re-evaluates the shingle pipeline per hash column, and benched 40×
  * slower at sf0.1. Explode + partial agg is also exactly the shape that
  * distributes: shuffle carries only (doc_id, min-digest) pairs.
  *
  * Scale notes:
  * - exact dedup: one hash-partitioned aggregate on the digest; the
  *   whole funnel shuffles ids and 60-bit hashes only, never text
  *   (jaccard's shingle sets are hashed before the groupBy).
  * - LSH candidates: self-equi-join on (band, key) buckets — O(Σ bucket²)
  *   instead of O(n²), with the [[MaxBucketSize]] boilerplate cap
  *   enforced before the join.
  * - clusters: pointer-doubling min-label propagation, O(log n) rounds.
  * - nothing collects to the driver; no crossJoin anywhere.
  */
object Dedup {

  /** Normalized text: lower, trim, whitespace collapsed — the canonical
    * form hashed for exact dedup (matches common LLM-corpus practice). */
  private def norm(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  private def toks(c: Column): Column = split(norm(c), " ")

  /** Distinct word-2-gram shingles, built argument-position-only (zip of
    * the token array with its shift) so each base expression evaluates
    * once per row. 2-grams (not the usual 3–5) because the fixture's
    * 31-word vocabulary makes 3-gram sets nearly disjoint and 1-gram sets
    * nearly identical; the mechanism is n-independent. Docs with < 2
    * tokens shingle to the empty set. */
  private def shingles(c: Column): Column = {
    val t = toks(c)
    array_distinct(array_compact(
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y))))
  }

  /** Exploded (doc_id, sh) rows — the hot-path layout (see class doc).
    * explode_outer keeps shingle-less docs as a null row so their
    * signature aggregates to null rather than the doc vanishing.
    * Takes the documents frame as input so the same funnel runs on any
    * corpus (tests drive it with synthetic frames). */
  private def shingleRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode_outer(shingles(col("text"))).as("sh"))

  /** The fixture documents table, scan-parallelized (see Tables.par): the
    * md5-per-shingle partial aggregation is the hot stage of the whole
    * dedup funnel and must not run on one core. */
  private def docsPar(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsPar(spark, dir)

  /** Exact dedup: normalize → digest → keep the smallest doc_id per
    * digest. Output is the per-digest group (keeper + multiplicity) so
    * the oracle can check group structure, not just survivor count. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsPar(spark, dir)
      .select($"doc_id", md5(norm($"text")).as("digest"))
      .groupBy($"digest")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  val dedupExactSql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
      |       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Number of minhash functions; banded into pairs for LSH. */
  val NumHashes = 8

  /** Signature aggregate: min over the exploded shingle rows of the
    * first 60 bits of md5(j ':' shingle) as a long — codegen'd md5,
    * map-side-combined min. Longs (not hex strings) on purpose: a
    * primitive agg buffer keeps this a HashAggregate; min(string) would
    * fall back to SortAggregate and sort every exploded row. Truncating
    * the digest to 15 hex chars preserves lexicographic = numeric order
    * and loses nothing for minhash purposes. */
  private def mhAggExprs: Seq[Column] = (0 until NumHashes).map { j =>
    min(conv(substring(md5(concat(lit(s"$j:"), col("sh"))), 1, 15), 16, 10)
      .cast("long")).as(s"mh$j")
  }

  private def sigOf(docs: DataFrame): DataFrame =
    shingleRowsOf(docs).groupBy(col("doc_id")).agg(mhAggExprs.head, mhAggExprs.tail: _*)

  /** Per-document minhash signature (one row per doc, NumHashes columns):
    * what you'd persist next to the corpus at scale. */
  def minhashSig(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sigOf(docsPar(spark, dir)).orderBy($"doc_id")
  }

  private def minhashSqlExprs: Seq[String] =
    (0 until NumHashes).map { j =>
      s"list_aggregate(list_transform(toks, t -> ('0x' || substr(md5('$j:' || t), 1, 15))::BIGINT), 'min') AS mh$j"
    }

  /** Shared DuckDB CTE text: (doc_id, toks = distinct 2-gram shingles). */
  private val duckShingleFrom: String =
    """FROM (SELECT doc_id,
      |          list_distinct(list_transform(range(1, len(toks0)), i -> toks0[i] || ' ' || toks0[i + 1])) AS toks
      |        FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks0
      |              FROM documents))""".stripMargin

  val minhashSigSql: String =
    s"""SELECT doc_id, ${minhashSqlExprs.mkString(",\n       ")}
       |$duckShingleFrom
       |ORDER BY doc_id""".stripMargin

  /** The DuckDB band-bucket expression: one struct per band, exploded via
    * UNNEST in the select list (DuckDB's lateral-unnest form). */
  private def duckBands: String =
    (0 until NumHashes / 2)
      .map(b => s"{band: ${b}, key: md5(mh${2 * b} || '|' || mh${2 * b + 1})}")
      .mkString(", ")

  /** Cap on LSH bucket size. Buckets larger than this are dropped before
    * the self-join: at corpus scale one boilerplate bucket (cookie
    * banners, license headers) makes the O(bucket²) candidate stage
    * explode; docs that common are better handled by exact dedup anyway.
    * Far above any fixture bucket (~10 docs per exact-dup family), so
    * registered query outputs are unchanged. */
  val MaxBucketSize = 1000

  private def bandExprs: Seq[Column] = (0 until NumHashes / 2).map { b =>
    struct(lit(b).as("band"),
      md5(concat_ws("|", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("key"))
  }

  /** (doc_id, band, key) bucket rows of a signature frame.
    * private[graft]: tests audit fixture bucket sizes against the cap. */
  private[graft] def bucketsOf(sigDf: DataFrame): DataFrame =
    sigDf.select(col("doc_id"), explode(array(bandExprs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Remove buckets over `cap` members. The oversized set is found with
    * one map-side-combined count on (band, key) — its result is tiny
    * (only pathological buckets) so the removal is a broadcast
    * anti-join: no extra shuffle of the bucket rows. */
  private def dropOversized(buckets: DataFrame, cap: Int): DataFrame = {
    val oversized = buckets.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_n")).filter(col("bucket_n") > cap)
      .select(col("band"), col("key"))
    buckets.join(broadcast(oversized), Seq("band", "key"), "left_anti")
  }

  private def cappedBuckets(sigDf: DataFrame, cap: Int): DataFrame =
    dropOversized(bucketsOf(sigDf), cap)

  /** LSH candidate pairs over an arbitrary documents frame (doc_id,
    * text) — the funnel's test/reuse entry point. The raw bucket rows
    * are materialized once (localCheckpoint): without it the cap
    * histogram and each self-join side re-run the whole shingle→minhash
    * pipeline (4× in the physical plan; Spark does not dedupe common
    * subtrees across join sides). eager=false: the checkpoint
    * materializes on the frame's FIRST action, not at construction —
    * building the plan (for .explain, or a caller that never runs it)
    * stays free. */
  /** Candidate pairs from capped bucket rows: self-equi-join on
    * (band, key), id-ordered, distinct. */
  private def pairsFromBuckets(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  def lshPairsOf(docs: DataFrame, cap: Int = MaxBucketSize): DataFrame =
    pairsFromBuckets(
      dropOversized(bucketsOf(sigOf(docs)).localCheckpoint(eager = false), cap))

  /** LSH candidate pairs: band the signature into NumHashes/2 bands of 2
    * rows; docs sharing any band key are candidates. Self-equi-join on
    * (band, key) — shuffles only (band, key, doc_id) triples, with the
    * [[MaxBucketSize]] boilerplate guard applied before the join.
    * Consumes [[sharedSigSets]] — the one signature build per corpus
    * that the whole funnel shares. */
  def lshPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pairsFromBuckets(cappedBuckets(sharedSigSets(spark, dir), MaxBucketSize))
      .orderBy($"id_a", $"id_b")
  }

  // The oracle mirrors the MaxBucketSize cap (QUALIFY on a windowed
  // count per bucket) so the cap's SEMANTICS are oracle-checked, not
  // just inert while fixture buckets stay small (ADVICE r3): a fixture
  // whose bucket crosses the cap now changes both engines identically.
  val lshPairsSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, ${minhashSqlExprs.mkString(", ")}
       |  $duckShingleFrom),
       |buckets0 AS (SELECT doc_id, UNNEST([$duckBands]) AS bk FROM sig),
       |buckets AS (SELECT doc_id, bk.band AS band, bk.key AS key FROM buckets0
       |            QUALIFY COUNT(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucketSize)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM buckets a JOIN buckets b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** Candidate verification: exact 2-gram-shingle jaccard for the LSH
    * candidate pairs, thresholded at 0.1 (2-gram jaccard tops out ~0.2 in
    * the fixture). |A∩B| and |A∪B| are exact ints so the double ratio is
    * bit-identical across engines. Shingle sets are rebuilt per keeper
    * from the exploded rows (sorted for determinism) and joined to the
    * candidate list — broadcast-able when candidates are few. */
  /** One pass builds signatures AND 60-bit-hashed shingle sets — the
    * signature table the whole funnel consumes.
    *
    * The set elements are 60-bit md5 hashes of the shingles, not the
    * shingle strings: |A∩B| and |A∪B| are unchanged (both engines hash
    * identically; a cross-engine-identical collision would need two
    * distinct shingles sharing 60 md5 bits IN THE SAME DOC PAIR —
    * negligible), while the groupBy shuffle and the per-pair intersects
    * carry 8-byte longs instead of text. With this the whole dedup
    * funnel shuffles ids and hashes only — never document text. */
  private def sigSetsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val shHash = conv(substring(md5($"sh"), 1, 15), 16, 10).cast("long")
    shingleRowsOf(docs).filter($"sh".isNotNull)
      .groupBy($"doc_id")
      .agg(mhAggExprs.head, (mhAggExprs.tail :+ collect_set(shHash).as("tokset")): _*)
      .withColumn("n", size($"tokset"))
  }

  /** Session-shared signature table for the corpus at `dir` — ONE
    * shingle→minhash pass per corpus, consumed by lsh_pairs, the
    * jaccard verify, and everything downstream of it (clusters, edit
    * distance, curation). Materialized via localCheckpoint, NOT persist:
    * same MEMORY_AND_DISK blocks and the same lineage cut, but no
    * CacheManager entry pinned for the session's lifetime — r2's
    * persist-without-unpersist leaked an entry per caller. Checkpoint
    * blocks are dropped by the ContextCleaner once the consuming plans
    * are garbage-collected; eager=false defers materialization to the
    * first consumer's first action. */
  /** CORPUS-VERSION CONTRACT: the shared tables ([[sharedSigSets]],
    * [[sharedJaccardPairs]], [[sharedClusters]]) are [[Tables.shared]]
    * memos, keyed by corpus PATH and built once per session — a session
    * that rewrites the corpus directory in place must call
    * [[Tables.invalidate]] before reading again, or it will be served
    * the signatures of the old bytes. This mirrors what the
    * materializations stand in for at 100 TB: tables persisted NEXT TO
    * a corpus version, refreshed when the corpus is (immutable
    * versioned corpus dirs make invalidation structural). */
  def sharedSigSets(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "sigsets")(Seq(
      if (bootstrapFromConf(spark, dir))
        spark.table(funnelTableName(dir, "signatures"))
      else sigSetsOf(docsPar(spark, dir)).localCheckpoint(eager = false))).head

  /** Session-shared df-capped posting table (doc_id, 60-bit gram) — the
    * containment funnel's analogue of [[sharedSigSets]]: built once per
    * (session, corpus), consumed by dedup_containment AND
    * containment_incremental (three plan consumers each: two self-join
    * sides + the size aggregate). Bootstraps from a persisted funnel
    * like the other shared tables. */
  def sharedPostings(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "postings")(Seq(
      if (bootstrapFromConf(spark, dir))
        spark.table(funnelTableName(dir, "postings"))
      else postingsOfSigs(sharedSigSets(spark, dir))
        .localCheckpoint(eager = false))).head

  // ---------------------------------------------------------------------
  // Durable funnel: signatures/postings/pairs/clusters as BUCKETED
  // parquet tables persisted next to the corpus. The session-shared
  // localCheckpoints above are the right shape WITHIN a session; at
  // 100 TB the funnel is corpus METADATA — built once per corpus
  // version, read by every later job — so it belongs on disk, bucketed
  // by its join key so downstream joins plan shuffle-free (StorageSpec
  // pins that bucketed joins elide the Exchange). A fresh session
  // pointed at the funnel (conf `spark.graft.funnel.dir`, or
  // [[bootstrapFunnel]]) serves the whole dedup surface with ZERO
  // passes over the corpus text — DedupSpec proves it by DELETING the
  // corpus before the bootstrapped consumer runs.
  // ---------------------------------------------------------------------

  /** Conf key: directory of a persisted funnel to bootstrap the shared
    * tables from instead of rebuilding per session. */
  val FunnelDirConf = "spark.graft.funnel.dir"

  /** (component, bucket column, shared-view memo) of each persisted
    * funnel table. `boilerplate` has no session view — it exists for
    * [[containmentAgainst]] callers, so arrival batches drop the same
    * grams the corpus postings dropped. */
  private val FunnelComponents = Seq(
    ("signatures", "doc_id", Some("sigsets")),
    ("postings", "g", Some("postings")),
    ("boilerplate", "g", None),
    ("pairs", "id_a", Some("jaccard_pairs")),
    ("clusters", "doc_id", Some("clusters")))

  private def funnelTableName(dir: String, comp: String): String =
    "graft_funnel_" + comp + "_" + graft.Tables.viewSuffix(dir)

  /** Build the whole dedup funnel for the corpus at `dir` and persist it
    * under `outDir` as bucketed parquet — signatures and clusters
    * bucketed+sorted by doc_id, postings and boilerplate by gram, pairs
    * by id_a, so every downstream join on those keys plans without an
    * Exchange. One corpus pass builds everything (signatures feed
    * postings, pairs, clusters). A `funnel.meta` marker records the
    * source corpus and bucket count; [[bootstrapFunnel]] validates it so
    * a funnel can never silently serve a different corpus. */
  def persistFunnel(spark: SparkSession, dir: String, outDir: String,
      numBuckets: Int = 32): Unit = {
    val sigs = sigSetsOf(docsPar(spark, dir)).localCheckpoint(eager = false)
    writeFunnelComponent(spark, dir, outDir, numBuckets)(sigs, "signatures", "doc_id")
    val derived = writeDerived(spark, dir, outDir, sigs, numBuckets)
    writeFunnelMeta(outDir, dir, numBuckets, ("signatures" -> sigs) +: derived)
  }

  private def writeFunnelComponent(spark: SparkSession, dir: String,
      outDir: String, numBuckets: Int)(
      df: DataFrame, comp: String, bucketCol: String): Unit = {
    val tbl = funnelTableName(dir, comp)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    df.write.mode("overwrite").option("path", s"$outDir/$comp")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(tbl)
  }

  /** Derive boilerplate/postings/pairs/clusters from a signature table
    * and write them bucketed under `outDir` — the ONE definition of
    * "downstream of signatures", shared by [[persistFunnel]] (fresh
    * sigs) and [[refreshFunnel]] (the durable signature table), so a
    * refresh is from-scratch-equivalent by construction (and proven
    * bit-identical component-wise in DedupSpec). */
  private def writeDerived(spark: SparkSession, dir: String, outDir: String,
      sigs: DataFrame, numBuckets: Int): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val write = writeFunnelComponent(spark, dir, outDir, numBuckets) _
    val grams = gramsOfSigs(sigs)
    val boiler = boilerplateOfGrams(grams, MaxGramDf)
    val postings = grams.join(broadcast(boiler), Seq("g"), "left_anti")
    val pairs = jaccardOfSigSets(sigs, MaxBucketSize)
      .localCheckpoint(eager = false) // consumed by the write AND clusters
    val clusters = clustersOf(pairs.select($"id_a", $"id_b"))
    write(postings, "postings", "g")
    write(boiler, "boilerplate", "g")
    write(pairs, "pairs", "id_a")
    write(clusters, "clusters", "doc_id")
    Seq("postings" -> postings, "boilerplate" -> boiler,
      "pairs" -> pairs, "clusters" -> clusters)
  }

  /** Marker carries corpus identity, bucket count AND each component's
    * schema DDL: bootstrap must not depend on parquet schema inference
    * (a legitimately EMPTY component — e.g. boilerplate on a clean
    * corpus — has no files to infer from). */
  private def writeFunnelMeta(outDir: String, dir: String, numBuckets: Int,
      comps: Seq[(String, DataFrame)]): Unit = {
    val schemas = comps.map { case (comp, df) => s"schema.$comp=${df.schema.toDDL}" }
    val meta = (Seq(s"corpus=$dir", s"buckets=$numBuckets") ++ schemas)
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "funnel.meta"), meta.getBytes("UTF-8"))
    ()
  }

  /** The periodic-rebuild half of [[appendToFunnel]]'s maintenance
    * split: re-derive every downstream component (boilerplate, postings,
    * pairs, clusters) from the APPENDED durable signature table — NO
    * corpus re-scan; per-doc signatures are append-complete, so the
    * derived state after append+refresh is bit-identical to a
    * [[persistFunnel]] from scratch over the grown corpus (DedupSpec
    * proves component-wise equality). This is what catches up the
    * contract debts appends accrue: grams that crossed the df cap
    * through arrivals join the boilerplate set, new cross-corpus pairs
    * appear, and clusters re-converge — the compaction-time job
    * ([[graft.streaming.Maintenance.compactDay]]'s analogue for the
    * dedup surface), scheduled per corpus version, costing O(signatures)
    * instead of O(corpus text). */
  def refreshFunnel(spark: SparkSession, dir: String, outDir: String): Unit = {
    if (!bootstrapFunnel(spark, dir, outDir))
      throw new IllegalStateException(
        s"no funnel for corpus $dir at $outDir — run persistFunnel first")
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "funnel.meta")), "UTF-8")
    val numBuckets = "buckets=(\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
    // localCheckpoint BEFORE the writes: sigs feeds three derivations
    // whose writes drop/recreate sibling tables mid-job — the snapshot
    // keeps every consumer on the one pre-refresh signature state
    val sigs = spark.table(funnelTableName(dir, "signatures"))
      .localCheckpoint(eager = true)
    val derived = writeDerived(spark, dir, outDir, sigs, numBuckets)
    writeFunnelMeta(outDir, dir, numBuckets, ("signatures" -> sigs) +: derived)
    derived.foreach { case (comp, _) =>
      spark.catalog.refreshTable(funnelTableName(dir, comp)) }
    // re-point the session-shared views at the rewritten tables
    bootstrapFunnel(spark, dir, outDir)
    ()
  }

  /** Register the funnel persisted at `outDir` into THIS session's
    * catalog (external bucketed tables over the existing files — the
    * bucket spec lives in the catalog, so a fresh session must re-state
    * it; with a shared metastore this step is the metastore's job) and
    * point the session-shared views at them. Returns false — without
    * touching the session — if `outDir` holds no funnel or one built
    * from a different corpus path. */
  def bootstrapFunnel(spark: SparkSession, dir: String, outDir: String): Boolean = synchronized {
    val metaPath = java.nio.file.Paths.get(outDir, "funnel.meta")
    if (!java.nio.file.Files.exists(metaPath)) return false
    val meta = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
      .linesIterator.flatMap { l =>
        val i = l.indexOf('=')
        if (i < 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
      }.toMap
    // a funnel must never silently serve a different corpus
    if (!meta.get("corpus").contains(dir)) return false
    val numBucketsOpt = meta.get("buckets").flatMap(_.toIntOption)
    if (numBucketsOpt.isEmpty) return false
    val numBuckets = numBucketsOpt.get
    FunnelComponents.foreach { case (comp, bucketCol, memo) =>
      val tbl = funnelTableName(dir, comp)
      if (!spark.catalog.tableExists(tbl)) {
        // schema from the marker, NOT parquet inference: an empty
        // component (boilerplate on a clean corpus) has no files
        val schemaDdl = meta.getOrElse("schema." + comp,
          throw new IllegalStateException(s"funnel.meta missing schema.$comp"))
        spark.sql(
          s"""CREATE TABLE $tbl ($schemaDdl) USING PARQUET
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
             |INTO $numBuckets BUCKETS
             |LOCATION '$outDir/$comp'""".stripMargin)
      }
      memo.foreach(Tables.register(spark, dir, _, spark.table(tbl)))
    }
    true
  }

  /** Append an arrival batch's signatures and postings to a persisted
    * funnel — the ingest-time maintenance step that keeps the durable
    * funnel CURRENT without a corpus rebuild. New docs' signature rows
    * and df-screened posting rows append to the bucketed tables (Spark
    * validates the append against the table's bucket spec, so the
    * shuffle-free join layout is preserved); batch grams are anti-joined
    * against the PERSISTED boilerplate list so the posting table keeps
    * counting the same capped gram universe the corpus was built with.
    *
    * Contract notes, both the standard posting-list maintenance split:
    * - df statistics refresh only at the next full [[persistFunnel]]
    *   (a gram that becomes boilerplate through arrivals keeps serving
    *   until the periodic rebuild re-derives the cap set — cheap appends
    *   now, re-derivation at compaction, like
    *   [[graft.streaming.Maintenance.compactDay]] does for the index);
    * - pairs/clusters are NOT appended: batch-vs-corpus pair results
    *   come from [[incrementalAgainst]]/[[containmentAgainst]] probing
    *   these tables, and re-clustering the world is a backfill job, not
    *   an ingest step (see [[dedupIncremental]]).
    * Caller guarantees batch doc_ids are new (same as any ingest
    * append); replays are screened upstream by the pipeline's
    * idempotent sink keys. */
  def appendToFunnel(spark: SparkSession, dir: String, outDir: String,
      batch: DataFrame): Unit = {
    if (!bootstrapFunnel(spark, dir, outDir))
      throw new IllegalStateException(
        s"no funnel for corpus $dir at $outDir — run persistFunnel first")
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "funnel.meta")), "UTF-8")
    val numBuckets = "buckets=(\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
    val sigs = sigSetsOf(batch).localCheckpoint(eager = false)
    val boiler = spark.table(funnelTableName(dir, "boilerplate"))
    val newPostings = gramsOfSigs(sigs).join(broadcast(boiler), Seq("g"), "left_anti")
    sigs.write.mode("append").format("parquet")
      .bucketBy(numBuckets, "doc_id").sortBy("doc_id")
      .saveAsTable(funnelTableName(dir, "signatures"))
    newPostings.write.mode("append").format("parquet")
      .bucketBy(numBuckets, "g").sortBy("g")
      .saveAsTable(funnelTableName(dir, "postings"))
    // drop cached file listings so every consumer (incl. the shared
    // views pointing at these tables) sees the appended rows
    spark.catalog.refreshTable(funnelTableName(dir, "signatures"))
    spark.catalog.refreshTable(funnelTableName(dir, "postings"))
  }

  /** The durable funnel's LIVE signature table for corpus `dir`,
    * bootstrapped from `funnelDir` — reads the catalog table directly
    * (appends made by [[appendToFunnel]] are visible immediately after
    * its refreshTable), unlike [[sharedSigSets]]' per-session
    * localCheckpoint snapshot. This is the arrival-screen surface of
    * the curated ingest pipeline: the signature doc_id set doubles as
    * the registry of every document ever admitted, so a replayed
    * micro-batch anti-joins itself away here. Throws when no funnel
    * for this corpus exists at `funnelDir` (the [[appendToFunnel]]
    * contract — screening against silently-rebuilt in-session state
    * would break the durable-registry semantics). */
  def funnelSignatures(spark: SparkSession, dir: String,
      funnelDir: String): DataFrame = {
    if (!bootstrapFunnel(spark, dir, funnelDir))
      throw new IllegalStateException(
        s"no funnel for corpus $dir at $funnelDir — run persistFunnel first")
    spark.table(funnelTableName(dir, "signatures"))
  }

  /** The persisted boilerplate gram list of a bootstrapped funnel, for
    * [[containmentAgainst]] callers (None when no funnel is registered —
    * then the corpus was built in-session and arrival batches see no
    * boilerplate beyond the df cap already applied to the postings). */
  def funnelBoilerplate(spark: SparkSession, dir: String): Option[DataFrame] = {
    val tbl = funnelTableName(dir, "boilerplate")
    if (spark.catalog.tableExists(tbl)) Some(spark.table(tbl)) else None
  }

  /** Try a conf-directed funnel bootstrap for `dir`: reads
    * [[FunnelDirConf]] and registers the funnel when its marker matches
    * this corpus. Called by the shared accessors before rebuilding. */
  private def bootstrapFromConf(spark: SparkSession, dir: String): Boolean =
    spark.conf.getOption(FunnelDirConf) match {
      case Some(fd) =>
        try bootstrapFunnel(spark, dir, fd)
        catch {
          case e: Exception =>
            // fall back to an in-session rebuild, but LOUDLY: a corrupt
            // funnel silently re-scanning 100 TB would be a cost bug
            System.err.println(
              s"[graft] funnel bootstrap from $fd failed (${e.getMessage}); rebuilding in session")
            false
        }
      case None => false
    }

  /** Public name for the signature table of an arbitrary documents
    * frame — what a production pipeline materializes next to the corpus
    * and hands to [[incrementalAgainst]] per arrival batch. */
  def signatures(docs: DataFrame): DataFrame = sigSetsOf(docs)

  /** Public name for the df-capped posting table of an arbitrary
    * documents frame — the containment analogue of [[signatures]]: what
    * production persists next to the corpus ([[persistFunnel]]) and
    * probes per arrival batch via [[containmentAgainst]]. */
  def postings(docs: DataFrame): DataFrame =
    postingsOfSigs(sigSetsOf(docs).localCheckpoint(eager = false))

  /** Shingles occurring in more than this many documents are dropped
    * from the containment posting join: at corpus scale one boilerplate
    * shingle ("all rights" × every license header) makes the posting
    * self-join O(df²) explode, and a gram that common carries no
    * containment signal anyway — the same reasoning as
    * [[MaxBucketSize]], applied per gram instead of per bucket. */
  val MaxGramDf = 100

  /** Candidate floor: pairs sharing fewer informative shingles than this
    * never reach the containment division. */
  val MinSharedShingles = 3

  /** Containment threshold: |A∩B| / min(|A|,|B|) over informative
    * shingles at which a pair is reported. */
  val ContainmentBar = 0.8

  /** CONTAINMENT near-dup detection — the asymmetric complement of the
    * resemblance (jaccard) funnel: a short document quoted whole inside
    * a much longer one has containment |A∩B|/|A| ≈ 1 while its jaccard
    * |A∩B|/|A∪B| is tiny (the union is dominated by the long doc), so
    * minhash-LSH — which estimates RESEMBLANCE — structurally misses it.
    * Real pipelines run both: resemblance for near-identical copies,
    * containment for quote-inclusion/aggregator pages.
    *
    * Candidate generation is therefore NOT the banded signature (its
    * collision probability tracks jaccard): it is the classic inverted
    * posting-list join on the shingle hashes themselves, with two caps
    * that bound the quadratic — grams above [[MaxGramDf]] documents are
    * dropped (boilerplate carries no signal; mirrored in the oracle via
    * QUALIFY), and pairs sharing fewer than [[MinSharedShingles]] grams
    * never reach the division. Both |A∩B| and the per-doc sizes are
    * counted over the SAME capped gram universe, so identical docs score
    * exactly 1.0 and the ratio is one IEEE division of exact ints —
    * bit-identical cross-engine.
    *
    * Shape at 100 TB: shuffles carry (60-bit gram, doc_id) pairs — 16
    * bytes/row, never text; the self-join cost is O(Σ df²) with
    * df ≤ [[MaxGramDf]]; per-doc sizes are one map-side-combined count
    * over the same posting rows. Consumes [[sharedSigSets]] — no new
    * pass over the corpus text. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentOfPostings(sharedPostings(spark, dir))

  /** Containment pairs for an arbitrary documents frame (tests); the
    * df cap is a parameter so DedupScaleSpec can measure the capped vs
    * uncapped forms against each other at binding scale. */
  def containmentOf(docs: DataFrame, maxDf: Int = MaxGramDf): DataFrame =
    containmentOfPostings(
      postingsOfSigs(sigSetsOf(docs).localCheckpoint(eager = false), maxDf)
        .localCheckpoint(eager = false))

  /** Exploded (doc_id, 60-bit gram hash) rows of a signature table. */
  private def gramsOfSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(col("tokset")).as("g"))

  /** Grams above the df cap — boilerplate carrying no containment
    * signal. Tiny result (only pathological hashes). */
  private def boilerplateOfGrams(grams: DataFrame, maxDf: Int): DataFrame =
    grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("g"))

  /** The df-capped inverted posting table (doc_id, g) of a signature
    * table — boilerplate removal is a broadcast anti-join, no extra
    * shuffle of the posting rows. */
  private def postingsOfSigs(sigs: DataFrame, maxDf: Int = MaxGramDf): DataFrame = {
    val grams = gramsOfSigs(sigs)
    grams.join(broadcast(boilerplateOfGrams(grams, maxDf)), Seq("g"), "left_anti")
  }

  private def containmentOfPostings(posting: DataFrame): DataFrame = {
    import posting.sparkSession.implicits._
    val sizes = posting.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = posting.as("a")
      .join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .filter($"inter" >= MinSharedShingles)
    pairs
      .join(sizes.select($"doc_id".as("id_a"), $"n".as("n_a")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"n".as("n_b")), "id_b")
      .withColumn("containment",
        $"inter".cast("double") / least($"n_a", $"n_b").cast("double"))
      .filter($"containment" >= ContainmentBar)
      .select($"id_a", $"id_b", $"inter", $"n_a", $"n_b", $"containment")
      .orderBy($"id_a", $"id_b")
  }

  val dedupContainmentSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS toks
       |  $duckShingleFrom),
       |g AS (SELECT doc_id, g FROM (SELECT doc_id, UNNEST(toks) AS g FROM sig)
       |      QUALIFY COUNT(*) OVER (PARTITION BY g) <= $MaxGramDf),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2
       |      HAVING COUNT(*) >= $MinSharedShingles)
       |SELECT p.id_a, p.id_b, p.inter, na.n AS n_a, nb.n AS n_b,
       |  CAST(p.inter AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) AS containment
       |FROM p
       |JOIN sizes na ON p.id_a = na.doc_id
       |JOIN sizes nb ON p.id_b = nb.doc_id
       |WHERE CAST(p.inter AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) >= $ContainmentBar
       |ORDER BY id_a, id_b""".stripMargin

  /** Incremental CONTAINMENT screening: an arrival batch probed against
    * a prebuilt df-capped corpus posting table — the quote-inclusion
    * analogue of [[incrementalAgainst]], and exactly the case that
    * arrives incrementally in production (aggregator pages quoting
    * corpus docs). The batch is shingled on the fly (it is batch-sized)
    * and its gram rows BROADCAST into the posting probe, so per-batch
    * cost is O(batch × df) with df ≤ [[MaxGramDf]] — never a corpus
    * scan. `boilerplate` is the corpus's dropped-gram list (persisted by
    * [[persistFunnel]], surfaced by [[funnelBoilerplate]]): applying it
    * to the batch keeps both sides counting the SAME capped gram
    * universe, so a batch doc identical to a corpus doc still scores
    * exactly 1.0. */
  def containmentAgainst(corpusPostings: DataFrame, batch: DataFrame,
      boilerplate: Option[DataFrame] = None): DataFrame =
    containmentAgainstGrams(corpusPostings,
      gramsOfSigs(sigSetsOf(batch).localCheckpoint(eager = false)),
      boilerplate)

  private def containmentAgainstGrams(corpusPostings: DataFrame,
      batchGrams0: DataFrame, boilerplate: Option[DataFrame]): DataFrame = {
    import corpusPostings.sparkSession.implicits._
    val batchGrams = boilerplate
      .fold(batchGrams0)(b => batchGrams0.join(broadcast(b), Seq("g"), "left_anti"))
      .select($"doc_id".as("new_id"), $"g")
      .localCheckpoint(eager = false) // two consumers: probe + batch sizes
    val shared = broadcast(batchGrams)
      .join(corpusPostings.select($"doc_id".as("old_id"), $"g"), "g")
      .groupBy($"new_id", $"old_id").agg(count(lit(1)).as("inter"))
      .filter($"inter" >= MinSharedShingles)
    val newSizes = batchGrams.groupBy($"new_id").agg(count(lit(1)).as("n_new"))
    val oldSizes = corpusPostings.groupBy($"doc_id").agg(count(lit(1)).as("n_old"))
    shared
      .join(broadcast(newSizes), "new_id")
      .join(oldSizes.select($"doc_id".as("old_id"), $"n_old"), "old_id")
      .withColumn("containment",
        $"inter".cast("double") / least($"n_new", $"n_old").cast("double"))
      .filter($"containment" >= ContainmentBar)
      .select($"new_id", $"old_id", $"inter", $"n_new", $"n_old", $"containment")
      .orderBy($"new_id", $"old_id")
  }

  /** Batch-SQL stand-in for [[containmentAgainst]] with an oracle:
    * doc_id ≡ 0 (mod 5) is the arrival batch (same SF-independent 20%
    * slice as [[dedupIncremental]]), the rest the corpus. Corpus
    * postings and boilerplate are computed over the CORPUS side only —
    * the batch must never shift the corpus's df statistics — and both
    * sides count the corpus-capped gram universe. Consumes
    * [[sharedSigSets]]: no new pass over the text. */
  def containmentIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = sharedSigSets(spark, dir)
    val isNew = col("doc_id") % 5 === 0
    val corpusGrams = gramsOfSigs(sig.filter(!isNew))
      .localCheckpoint(eager = false) // consumers: df stats + postings
    val boiler = boilerplateOfGrams(corpusGrams, MaxGramDf)
      .localCheckpoint(eager = false) // consumers: corpus + batch anti-joins
    val corpusPostings = corpusGrams.join(broadcast(boiler), Seq("g"), "left_anti")
      .localCheckpoint(eager = false) // consumers: probe + corpus sizes
    containmentAgainstGrams(corpusPostings, gramsOfSigs(sig.filter(isNew)),
      Some(boiler))
  }

  val containmentIncrementalSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS toks
       |  $duckShingleFrom),
       |g_all AS (SELECT doc_id, g FROM (SELECT doc_id, UNNEST(toks) AS g FROM sig)),
       |corpus AS (SELECT * FROM g_all WHERE doc_id % 5 != 0),
       |boiler AS (SELECT g FROM corpus GROUP BY g HAVING COUNT(*) > $MaxGramDf),
       |cp AS (SELECT * FROM corpus WHERE g NOT IN (SELECT g FROM boiler)),
       |batch AS (SELECT doc_id, g FROM g_all
       |          WHERE doc_id % 5 = 0 AND g NOT IN (SELECT g FROM boiler)),
       |nn AS (SELECT doc_id, COUNT(*) AS n_new FROM batch GROUP BY doc_id),
       |nold AS (SELECT doc_id, COUNT(*) AS n_old FROM cp GROUP BY doc_id),
       |p AS (SELECT b.doc_id AS new_id, c.doc_id AS old_id, COUNT(*) AS inter
       |      FROM batch b JOIN cp c ON b.g = c.g
       |      GROUP BY 1, 2
       |      HAVING COUNT(*) >= $MinSharedShingles)
       |SELECT p.new_id, p.old_id, p.inter, nn.n_new, nold.n_old,
       |  CAST(p.inter AS DOUBLE) / CAST(least(nn.n_new, nold.n_old) AS DOUBLE) AS containment
       |FROM p
       |JOIN nn ON p.new_id = nn.doc_id
       |JOIN nold ON p.old_id = nold.doc_id
       |WHERE CAST(p.inter AS DOUBLE) / CAST(least(nn.n_new, nold.n_old) AS DOUBLE) >= $ContainmentBar
       |ORDER BY new_id, old_id""".stripMargin

  /** Streaming-ingest near-dup screening: verified pairs of an arrival
    * batch against a PREBUILT corpus signature table ([[signatures]]).
    * The batch is signed on the fly (it is batch-sized) and its bucket
    * rows BROADCAST into the probe of the corpus bucket table, so
    * per-batch cost is O(batch + corpus buckets whose keys the batch
    * hits) — never a corpus scan. This is the foreachBatch screening
    * stage of a streaming corpus ingest (exercised end-to-end in
    * StreamingSpec); the batch-SQL stand-in with an oracle is
    * [[dedupIncremental]]. */
  def incrementalAgainst(corpusSigs: DataFrame, batch: DataFrame,
      cap: Int = MaxBucketSize): DataFrame = {
    import batch.sparkSession.implicits._
    val newSigs = sigSetsOf(batch).localCheckpoint(eager = false)
    val pairs = broadcast(bucketsOf(newSigs)).as("a")
      .join(dropOversized(bucketsOf(corpusSigs), cap).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    pairs
      .join(broadcast(newSigs.select($"doc_id".as("new_id"),
        $"tokset".as("set_a"), $"n".as("n_a"))), "new_id")
      .join(corpusSigs.select($"doc_id".as("old_id"),
        $"tokset".as("set_b"), $"n".as("n_b")), "old_id")
      .withColumn("inter", size(array_intersect($"set_a", $"set_b")))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"n_a" + $"n_b" - $"inter").cast("double"))
      .filter($"jaccard" >= 0.1)
      .select($"new_id", $"old_id", $"jaccard")
  }

  def dedupJaccardOf(docs: DataFrame, cap: Int = MaxBucketSize): DataFrame =
    jaccardOfSigSets(sigSetsOf(docs).localCheckpoint(eager = false), cap)

  /** The verify stage over a (materialized) signature table: bucket,
    * cap, pair, then exact jaccard from the hashed shingle sets. */
  private def jaccardOfSigSets(sigSets: DataFrame, cap: Int): DataFrame = {
    import sigSets.sparkSession.implicits._
    val pairs = pairsFromBuckets(cappedBuckets(sigSets, cap))
    val sets = sigSets.select($"doc_id", $"tokset", $"n")
    pairs
      .join(sets.select($"doc_id".as("id_a"), $"tokset".as("set_a"), $"n".as("n_a")), "id_a")
      .join(sets.select($"doc_id".as("id_b"), $"tokset".as("set_b"), $"n".as("n_b")), "id_b")
      .withColumn("inter", size(array_intersect($"set_a", $"set_b")))
      // |A∪B| = |A|+|B|-|A∩B|: avoids materializing the union array per pair
      .withColumn("uni", $"n_a" + $"n_b" - $"inter")
      .withColumn("jaccard", $"inter".cast("double") / $"uni".cast("double"))
      .filter($"jaccard" >= 0.1)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Session-shared materialization of the jaccard-verified pair frame
    * for the corpus at `dir` — the table a production pipeline would
    * persist next to the corpus (dedupJaccardOf's own scaladoc calls it
    * that). FOUR registered queries consume the identical frame
    * (dedup_jaccard, dedup_editdist, dedup_clusters, corpus_curate);
    * without sharing, each re-runs the whole shingle→minhash→LSH→
    * intersect funnel from raw text (r3 paid ~2-3 s × 3 redundant
    * materializations at sf0.1). The frame is localCheckpoint'ed
    * (eager=false — materializes on its first consumer's first action)
    * and registered as a SESSION-SCOPED temp view keyed by the corpus
    * path: session-scoped state instead of a global map (nothing pins a
    * SparkSession), no CacheManager entry (the r2 persist leak), and the
    * checkpoint blocks die with the session. */
  def sharedJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // read first: it may bootstrap ALL funnel views, this one included
    val sigs = sharedSigSets(spark, dir)
    Tables.shared(spark, dir, "jaccard_pairs")(Seq(
      jaccardOfSigSets(sigs, MaxBucketSize).localCheckpoint(eager = false))).head
  }

  def dedupJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedJaccardPairs(spark, dir).orderBy($"id_a", $"id_b")
  }

  /** Session-shared cluster labels over [[sharedJaccardPairs]] — same
    * rationale and mechanism as the pair sharing: the label propagation
    * runs its O(log n) rounds EAGERLY at construction (each round is a
    * checkpointed materialization), so both consumers (dedup_clusters,
    * corpus_curate) re-paid ~2 s of rounds even with the pairs cached.
    * In production this is the cluster-assignment table materialized
    * next to the pair table. */
  def sharedClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // read first: it may bootstrap ALL funnel views, this one included
    val pairs = sharedJaccardPairs(spark, dir)
    Tables.shared(spark, dir, "clusters")(Seq(
      clustersOf(pairs.select($"id_a", $"id_b")))).head
  }

  val dedupJaccardSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, ${minhashSqlExprs.mkString(", ")},
       |    list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS toks
       |  $duckShingleFrom),
       |buckets0 AS (SELECT doc_id, UNNEST([$duckBands]) AS bk FROM sig),
       |buckets AS (SELECT doc_id, bk.band AS band, bk.key AS key FROM buckets0
       |            QUALIFY COUNT(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucketSize),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(sa.toks, sb.toks))) AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sig sa ON sa.doc_id = id_a
       |JOIN sig sb ON sb.doc_id = id_b
       |WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.toks, sb.toks))) AS DOUBLE) >= 0.1
       |ORDER BY id_a, id_b""".stripMargin

  /** Incremental dedup: verify a NEW ARRIVAL BATCH against the existing
    * corpus — the production shape of LSH dedup, where the corpus's
    * signature/bucket table is already materialized and each ingest
    * batch is checked against it (re-clustering the world per batch, as
    * [[dedupClusters]] does, is a backfill job, not an ingest step).
    * "New" here = doc_id ≡ 0 (mod 5), a scale-factor-independent 20%
    * stand-in for an arrival batch.
    *
    * Shape at 100 TB: the batch's bucket rows are tiny next to the
    * corpus's, so the candidate join broadcasts the batch side and
    * touches only corpus buckets whose keys the batch hits — cost scales
    * with the BATCH, not the corpus. The bucket-size cap is applied on
    * the combined bucket table (same guard, same semantics as
    * [[lshPairs]]); the jaccard verify is the same hashed-set intersect,
    * shuffling ids and 60-bit longs only. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = sharedSigSets(spark, dir)
    val b = cappedBuckets(sig, MaxBucketSize)
    val isNew = col("doc_id") % 5 === 0
    val pairs = b.filter(isNew).as("a")
      .join(b.filter(!isNew).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    val sets = sig.select($"doc_id", $"tokset", $"n")
    pairs
      .join(sets.select($"doc_id".as("new_id"), $"tokset".as("set_a"), $"n".as("n_a")), "new_id")
      .join(sets.select($"doc_id".as("old_id"), $"tokset".as("set_b"), $"n".as("n_b")), "old_id")
      .withColumn("inter", size(array_intersect($"set_a", $"set_b")))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"n_a" + $"n_b" - $"inter").cast("double"))
      .filter($"jaccard" >= 0.1)
      .select($"new_id", $"old_id", $"jaccard")
      .orderBy($"new_id", $"old_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, ${minhashSqlExprs.mkString(", ")},
       |    list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS toks
       |  $duckShingleFrom),
       |buckets0 AS (SELECT doc_id, UNNEST([$duckBands]) AS bk FROM sig),
       |buckets AS (SELECT doc_id, bk.band AS band, bk.key AS key FROM buckets0
       |            QUALIFY COUNT(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucketSize),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0)
       |SELECT new_id, old_id,
       |  CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(sa.toks, sb.toks))) AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sig sa ON sa.doc_id = new_id
       |JOIN sig sb ON sb.doc_id = old_id
       |WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.toks, sb.toks))) AS DOUBLE) >= 0.1
       |ORDER BY new_id, old_id""".stripMargin

  /** SimHash bits (16). bit_j votes +1/-1 per distinct token by the top
    * bit of md5(j ':' token); the doc's bit is 1 iff the vote sum is
    * positive. Integer votes — no FP, bit-identical across engines. */
  val SimHashBits = 16

  /** Per-doc 16-bit simhash, via exploded distinct-token rows (codegen'd
    * md5 + map-side-combined sums; see class doc). Near-dup lookup at
    * scale = group by simhash (or by simhash with one band of bits
    * masked, for 1-bit tolerance). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tokRows = docsPar(spark, dir)
      .select($"doc_id", explode_outer(array_distinct(toks($"text"))).as("tok"))
    val voteAggs = (0 until SimHashBits).map { j =>
      sum(when($"tok".isNull, lit(null)).otherwise(
        when(substring(md5(concat(lit(s"$j:"), $"tok")), 1, 1)
          .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)))
        .as(s"v$j")
    }
    val bitSum = (0 until SimHashBits)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tokRows.groupBy($"doc_id").agg(voteAggs.head, voteAggs.tail: _*)
      .select($"doc_id", bitSum.as("simhash"))
      .orderBy($"doc_id")
  }

  val dedupSimhashSql: String = {
    val bitExprs = (0 until SimHashBits).map { j =>
      s"""CASE WHEN list_sum(list_transform(toks, t ->
         |  CASE WHEN strpos('89abcdef', substr(md5('$j:' || t), 1, 1)) > 0 THEN 1 ELSE -1 END)) > 0
         |  THEN ${1L << j} ELSE 0 END""".stripMargin
    }
    s"""SELECT doc_id, CAST(${bitExprs.mkString(" + ")} AS BIGINT) AS simhash
       |FROM (SELECT doc_id,
       |        list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS toks
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Duplicate clusters: connected components over the jaccard-verified
    * pair graph — the final step of LSH dedup (each transitive group
    * keeps cluster_id = its smallest doc_id; survivors = one doc per
    * cluster). Oracle: recursive-CTE transitive closure in DuckDB.
    *
    * Algorithm: min-label propagation with POINTER DOUBLING — each round
    * first takes the min over neighbors' labels (one hop), then replaces
    * every label by its label's label (label = L[L[id]]), doubling the
    * distance information travels. Rounds needed are O(log diameter),
    * not O(diameter) — r2's plain propagation took 53 s on chains the
    * fixture happens to contain and would blow up on long-chain
    * components at corpus scale.
    *
    * Cost per round is ONE materialization: the fixpoint flag is computed
    * inside the same projection and the frame is localCheckpoint'ed
    * (eager) — the follow-up `changed` count only scans the checkpointed
    * blocks, it does not re-execute the round (r2 ran the round's plan
    * for the checkpoint AND a second action for the check).
    * localCheckpoint also truncates lineage so round N's plan doesn't
    * replay rounds 1..N-1, and — unlike persist — pins nothing in the
    * CacheManager.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedClusters(spark, dir).orderBy($"doc_id")
  }

  /** Connected components of an undirected (id_a, id_b) pair frame —
    * see [[dedupClusters]] for the algorithm. Public so tests can drive
    * it with synthetic graphs (chains, stars) independent of the
    * jaccard funnel. */
  def clustersOf(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.toDF("id_a", "id_b")
    val edges = p.union(p.select($"id_b", $"id_a"))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = edges.select($"src".as("id")).distinct()
      .withColumn("label", $"id")
      .localCheckpoint()
    var converged = false
    var i = 0
    val maxRounds = 25 // covers diameters up to ~2^25 with doubling
    while (!converged && i < maxRounds) {
      // hop: min over own + neighbors' labels
      val prop = edges
        .join(labels.select($"id".as("src"), $"label".as("srcLabel")), "src")
        .groupBy($"dst".as("id")).agg(min($"srcLabel").as("nbrMin"))
      val hopped = labels.join(prop, Seq("id"), "left")
        .select($"id", $"label".as("old"),
          least($"label", coalesce($"nbrMin", $"label")).as("label"))
      // double: label := label(label). Labels are always vertex ids and
      // monotonically non-increasing, so the lookup shortcuts chains.
      val next = hopped.as("h")
        .join(labels.select($"id".as("lid"), $"label".as("llabel")),
          $"label" === $"lid", "left")
        .select($"h.id".as("id"), $"h.old".as("old"),
          least($"h.label", coalesce($"llabel", $"h.label")).as("label"))
        .select($"id", $"label", ($"label" < $"old").as("chg"))
        .localCheckpoint() // the round's single materialization
      val changed = next.filter($"chg").count() // scans cached blocks only
      labels = next.select($"id", $"label")
      converged = changed == 0
      i += 1
    }
    // Surface non-convergence instead of silently returning partial
    // clusters that would diverge from the oracle's transitive closure
    // (ADVICE r2). Unreachable for any graph with diameter < 2^maxRounds.
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxRounds rounds")
    labels.select($"id".as("doc_id"), $"label".as("cluster_id"))
  }

  /** The recursive-CTE connected-components closure over a pair query,
    * as a WITH-clause CTE list ending in `clusters(doc_id, cluster_id)`.
    * Shared by [[dedupClustersSql]] and Curate's composed oracle so the
    * closure semantics cannot drift between the two. */
  def clustersSqlCtes(pairsSql: String): String =
    s"""jp AS ($pairsSql),
       |edges AS (SELECT id_a AS a, id_b AS b FROM jp UNION SELECT id_b, id_a FROM jp),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  val dedupClustersSql: String = {
    val jacc = dedupJaccardSql.replace("ORDER BY id_a, id_b", "")
    s"""WITH RECURSIVE ${clustersSqlCtes(jacc)}
       |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin
  }
}
