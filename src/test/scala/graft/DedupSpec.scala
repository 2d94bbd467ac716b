package graft

import graft.ops.{Dedup, Relational, TrainPrep}
import org.apache.spark.sql.functions._

/** Semantics of the dedup family beyond what the oracle can express. */
class DedupSpec extends SparkSpec {

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    import spark.implicits._
    val once = Dedup.dedupExact(spark, sfDir)
    // re-dedup the survivors' digests: every group must stay a group of 1
    val twice = once.groupBy($"digest").agg(count(lit(1)).as("n"))
    assert(twice.filter($"n" > 1).count() == 0)
  }

  test("exact dedup keeps exactly one row per digest and covers all docs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).count()
    val agg = Dedup.dedupExact(spark, sfDir)
      .agg(sum($"n_copies").as("total"), count(lit(1)).as("groups")).head()
    assert(agg.getAs[Long]("total") == docs)
  }

  test("exact dedup is replay-safe: doubling the input changes no survivors") {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val doubled = d.union(d)
    val survivors = doubled
      .select($"doc_id", md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("digest"))
      .groupBy($"digest").agg(min($"doc_id").as("keep_id"))
    val baseline = Dedup.dedupExact(spark, sfDir).select($"digest", $"keep_id")
    assert(survivors.except(baseline).count() == 0)
    assert(baseline.except(survivors).count() == 0)
  }

  test("lsh_pairs is symmetric-free and ordered (id_a < id_b, no dups)") {
    import spark.implicits._
    val p = Dedup.lshPairs(spark, sfDir)
    assert(p.filter($"id_a" >= $"id_b").count() == 0)
    assert(p.count() == p.distinct().count())
  }

  test("jaccard-verified pairs are a subset of LSH candidates with scores in [0,1]") {
    import spark.implicits._
    val verified = Dedup.dedupJaccard(spark, sfDir)
    val candidates = Dedup.lshPairs(spark, sfDir)
    assert(verified.select("id_a", "id_b")
      .except(candidates.select("id_a", "id_b")).count() == 0)
    assert(verified.filter($"jaccard" < 0.1 || $"jaccard" > 1.0).count() == 0)
  }

  test("LSH bucket-size cap drops boilerplate buckets before the self-join") {
    import spark.implicits._
    // 20 identical "boilerplate" docs: all 4 bands collide -> one bucket
    // of 20 per band; plus a small 2-doc duplicate family under the cap.
    val boiler = (1 to 20).map(i =>
      (100 + i, "identical cookie banner boilerplate text appears on every single page"))
    val smallFam = Seq(
      (1, "the quick brown fox jumps over the lazy dog"),
      (2, "the quick brown fox jumps over the lazy dog"))
    val docs = (smallFam ++ boiler).toDF("doc_id", "text")
    val uncapped = Dedup.lshPairsOf(docs, cap = 1000)
    val capped = Dedup.lshPairsOf(docs, cap = 5)
    // uncapped: the boilerplate family alone contributes C(20,2) pairs
    assert(uncapped.filter($"id_a" >= 100).count() == 20 * 19 / 2)
    // capped: oversized buckets gone -> no boilerplate pairs, so the
    // candidate stage is O(sum capped-bucket^2), not O(boilerplate^2)
    assert(capped.filter($"id_a" >= 100).count() == 0)
    // the under-cap family is untouched
    assert(capped.filter($"id_a" === 1 && $"id_b" === 2).count() == 1)
  }

  test("fixture LSH buckets stay far below the MaxBucketSize cap") {
    import spark.implicits._
    // The oracle SQL mirrors the cap (QUALIFY windowed count), so both
    // engines drop the same buckets whatever the fixture holds; this
    // additionally pins that the registered queries exercise the
    // no-drop path — every fixture bucket sits well under the cap, so a
    // fixture drift toward cap-sized buckets is caught here, not as a
    // silent behavior change.
    val maxBucket = Dedup.bucketsOf(Dedup.minhashSig(spark, sfDir))
      .groupBy($"band", $"key").agg(count(lit(1)).as("n"))
      .agg(max($"n")).head().getLong(0)
    assert(maxBucket <= Dedup.MaxBucketSize / 10,
      s"fixture max bucket $maxBucket within 10x of cap ${Dedup.MaxBucketSize}")
  }

  test("invalidate drops the shared materializations so a rewritten corpus re-reads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftinv").toString
    def write(n: Int): Unit =
      (0L until n.toLong)
        .map(i => (i, s"alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu unique token $i"))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(4)
    assert(Dedup.sharedSigSets(spark, dir).count() == 4)
    write(7)
    // documented corpus-version contract: without invalidation the session
    // keeps serving the signatures of the old bytes
    assert(Dedup.sharedSigSets(spark, dir).count() == 4)
    Tables.invalidate(spark, dir)
    assert(Dedup.sharedSigSets(spark, dir).count() == 7,
      "invalidate did not force a re-read of the rewritten corpus")
    Tables.invalidate(spark, dir) // idempotent on absent views
  }

  test("a second funnel consumer triggers zero new file-scan stages (shared materialization)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    // force the shared signature/pair/cluster materializations once
    Dedup.dedupJaccard(spark, sfDir).count()
    Dedup.sharedClusters(spark, sfDir).count()
    val rdds = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        rdds.synchronized { rdds ++= s.stageInfo.rddInfos.map(_.name) }; ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a SECOND consumer of the shared cluster table: must be served
      // entirely from the checkpointed blocks — no parquet re-scan, no
      // shingle/minhash recompute (those would surface as FileScanRDDs)
      Dedup.dedupClusters(spark, sfDir).count()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val scans = rdds.synchronized { rdds.filter(n => n != null && n.contains("FileScan")) }
      assert(scans.isEmpty, s"second consumer re-scanned files: $scans")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("containment flags a short doc quoted inside a long one where jaccard misses it") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " +
      "unrelated filler one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty twentyone twentytwo twentythree twentyfour"
    val docs = Seq(1L -> short, 2L -> long).toDF("doc_id", "text")
    val cont = Dedup.containmentOf(docs).collect()
    assert(cont.length == 1, cont.mkString(", "))
    val r = cont.head
    // every shingle of the short doc is in the long one -> containment 1.0
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Double]("containment") == 1.0)
    // ...while resemblance is tiny: the union is dominated by the long
    // doc, so the jaccard funnel's verify threshold would pass it over
    val inter = r.getAs[Long]("inter").toDouble
    val union = (r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).toDouble - inter
    assert(inter / union < 0.3, s"fixture not asymmetric enough: j=${inter / union}")
  }

  test("containment drops boilerplate grams above the df cap from the posting join") {
    import spark.implicits._
    // 150 docs sharing one boilerplate shingle ("all rights"): df=150 over
    // the MaxGramDf cap -> that gram must not generate O(150^2) candidates
    val boiler = (1 to 150).map(i => (i.toLong, s"all rights unique$i alone$i"))
    val out = Dedup.containmentOf(boiler.toDF("doc_id", "text")).collect()
    assert(out.isEmpty, s"boilerplate gram crossed the posting cap: ${out.length} pairs")
  }

  test("sharedJaccardPairs returns the same frame content across calls") {
    // the session-scoped temp view must be a pure materialization: a
    // second call (different consumer) sees bit-identical pairs
    val a = Dedup.sharedJaccardPairs(spark, sfDir)
    val b = Dedup.sharedJaccardPairs(spark, sfDir)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    assert(a.count() == Dedup.dedupJaccard(spark, sfDir).count())
  }

  test("clustersOf converges on a 16-chain and a star to min-label components") {
    import spark.implicits._
    // chain 0-1-2-...-15 (diameter 15: plain propagation needs 15 rounds,
    // pointer doubling O(log)) plus a disjoint star centered at 100
    val chain = (0L until 15L).map(i => (i, i + 1))
    val star = (101L to 105L).map(i => (100L, i))
    val labels = Dedup.clustersOf((chain ++ star).toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 15L).foreach(i => assert(labels(i) == 0L, s"chain node $i"))
    (100L to 105L).foreach(i => assert(labels(i) == 100L, s"star node $i"))
  }

  test("clustersOf matches brute-force union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 30
      val edges = (1 to 40)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // reference union-find: merging larger root under smaller keeps the
      // final root = min member of each component
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.clustersOf(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("simhash values fit in 16 bits and identical docs collide") {
    import spark.implicits._
    val sh = Dedup.dedupSimhash(spark, sfDir)
    assert(sh.filter($"simhash" < 0 || $"simhash" >= (1 << 16)).count() == 0)
  }

  test("pii scrub masks emails and urls and counts them") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("contact bob@example.com or https://ex.com/a?b=1 today")
      .toDF("text")
      .select(graft.ops.TextAnalysis.scrubExpr($"text").as("s"),
        size(regexp_extract_all($"text", lit(graft.ops.TextAnalysis.EmailPattern), lit(0))).as("ne"),
        size(regexp_extract_all($"text", lit(graft.ops.TextAnalysis.UrlPattern), lit(0))).as("nu"))
    val r = df.head()
    assert(r.getString(0) == "contact <EMAIL> or <URL> today", r.getString(0))
    assert(r.getInt(1) == 1 && r.getInt(2) == 1)
  }

  test("dataset_split is deterministic, total, and near 80/10/10") {
    import spark.implicits._
    val s = graft.ops.TrainPrep.datasetSplit(spark, sfDir)
    val total = Tables.documents(spark, sfDir).count()
    assert(s.count() == total)
    // re-derivation yields the identical assignment (hash-keyed, no state)
    assert(s.except(graft.ops.TrainPrep.datasetSplit(spark, sfDir)).count() == 0)
    val frac = s.filter($"split" === "train").count().toDouble / total
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac far from 0.8")
  }

  test("stratified_sample is deterministic, a subset, and near its per-stratum rates") {
    import spark.implicits._
    val s = graft.ops.TrainPrep.stratifiedSample(spark, sfDir)
    // re-derivation yields the identical sample (hash-keyed predicate)
    assert(s.except(graft.ops.TrainPrep.stratifiedSample(spark, sfDir)).count() == 0)
    // strictly a subset of the corpus
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"lang")
    assert(s.select("doc_id", "lang").except(docs).count() == 0)
    // per-stratum rates land near target (hash-uniformity, wide tolerance)
    val byLang = docs.groupBy($"lang").count()
      .join(s.groupBy($"lang").count().withColumnRenamed("count", "kept"), "lang")
      .select($"lang", ($"kept".cast("double") / $"count").as("frac"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val enTarget = graft.ops.TrainPrep.SampleRatePct.toMap.apply("en") / 100.0
    val defTarget = graft.ops.TrainPrep.DefaultRatePct / 100.0
    assert(math.abs(byLang("en") - enTarget) < 0.15, s"en frac ${byLang("en")}")
    byLang.filterNot(_._1 == "en").foreach { case (l, f) =>
      assert(math.abs(f - defTarget) < 0.15, s"$l frac $f far from $defTarget")
    }
  }

  test("quality_histogram partitions the corpus and bins match the scores") {
    import spark.implicits._
    val h = graft.ops.TextAnalysis.qualityHistogram(spark, sfDir)
    // bins partition the corpus: counts sum to the doc total
    assert(h.agg(sum($"n_docs")).head().getLong(0) ==
      Tables.documents(spark, sfDir).count())
    // every doc's score falls inside its bin's [lo, lo+0.05) interval
    val scored = graft.ops.TextAnalysis.textQuality(spark, sfDir)
      .select($"doc_id", $"quality_score",
        floor($"quality_score" * 20).as("bin"))
    val joined = scored.join(h, "bin")
    assert(joined.filter($"quality_score" < $"bin_lo" ||
      $"quality_score" >= $"bin_lo" + 0.05).count() == 0)
    // n_langs never exceeds the corpus's language count
    val nLangs = Tables.documents(spark, sfDir).select($"lang").distinct().count()
    assert(h.filter($"n_langs" > nLangs).count() == 0)
  }

  test("pack_shards: shards are contiguous per language and near the token budget") {
    import spark.implicits._
    val p = graft.ops.TrainPrep.packShards(spark, sfDir)
    val budget = graft.ops.TrainPrep.ShardTokenBudget
    // every shard except a language's last holds >= budget - max(doc) tokens;
    // no shard exceeds budget + its own last doc
    val shards = p.groupBy($"lang", $"shard_id")
      .agg(sum($"n_tokens").as("toks"), max($"n_tokens").as("maxDoc"))
    val lastIds = shards.groupBy($"lang").agg(max($"shard_id").as("last"))
    val full = shards.join(lastIds, "lang").filter($"shard_id" < $"last")
    assert(full.filter($"toks" + $"maxDoc" < budget).count() == 0,
      "non-final shard left more than one doc of budget unused")
    assert(shards.filter($"toks" - $"maxDoc" > budget).count() == 0,
      "shard exceeds budget by more than its final doc")
  }

  test("persisted funnel serves a fresh session with the corpus text GONE") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftfunnel")
    val dir = root.resolve("corpus").toString
    val funnelDir = root.resolve("funnel").toString
    // small corpus with one exact-dup family and one near-dup pair
    val docs = (0L until 12L).map { i =>
      val t =
        if (i < 3) "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        else if (i == 3) "alpha beta gamma delta epsilon zeta eta theta iota mu"
        else s"unique document number $i with its own words entirely token$i extra$i filler$i"
      (i, t)
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length($"text").cast("long"))
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // expected results, computed in THIS session from the corpus bytes
    val expSigs = Dedup.sharedSigSets(spark, dir).count()
    val expJacc = Dedup.dedupJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expClus = Dedup.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expCont = Dedup.dedupContainment(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.persistFunnel(spark, dir, funnelDir, numBuckets = 4)
    // drop the catalog entries (external tables — files survive): the
    // fresh session must re-register from funnel.meta alone, the true
    // fresh-deployment path (exercises the recorded-schema DDL, incl.
    // the legitimately EMPTY boilerplate component)
    val suffix = graft.Tables.viewSuffix(dir)
    Seq("signatures", "postings", "boilerplate", "pairs", "clusters")
      .foreach(c => spark.sql(s"DROP TABLE IF EXISTS graft_funnel_${c}_$suffix"))
    // DELETE the corpus text: the only way a consumer can answer now is
    // from the persisted funnel — a single corpus scan would throw
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(dir))
    // fresh session state: new catalog, no shared views, no funnel tables
    val s2 = spark.newSession()
    s2.conf.set(Dedup.FunnelDirConf, funnelDir)
    assert(Dedup.sharedSigSets(s2, dir).count() == expSigs)
    val gotJacc = Dedup.dedupJaccard(s2, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotClus = Dedup.dedupClusters(s2, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotCont = Dedup.dedupContainment(s2, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJacc == expJacc, s"jaccard drift: $gotJacc vs $expJacc")
    assert(gotClus == expClus, s"cluster drift: $gotClus vs $expClus")
    assert(gotCont == expCont, s"containment drift: $gotCont vs $expCont")
    // the funnel tables are BUCKETED by their join key: signatures ⋈
    // clusters on doc_id plans as SMJ with no shuffle on either side
    val prevBroadcast = s2.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Dedup.sharedSigSets(s2, dir).select($"doc_id", $"n")
        .join(Dedup.sharedClusters(s2, dir), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed funnel join still shuffles:\n$plan")
      // inner join restricts to docs in the pair graph = the cluster rows
      assert(joined.count() == gotClus.size.toLong)
    } finally s2.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    // cleanup of this corpus's catalog entries in the main session
    Tables.invalidate(spark, dir)
  }

  test("appendToFunnel: arrival batches extend the durable funnel in place") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftfunnelapp")
    val dir = root.resolve("corpus").toString
    val funnelDir = root.resolve("funnel").toString
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet purple"))
      .toDF("doc_id", "text")
    corpus.withColumn("lang", lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.persistFunnel(spark, dir, funnelDir, numBuckets = 2)
    // arrival batch: 10 near-dups corpus doc 0; 11 is novel
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "totally fresh words appear nowhere else in this corpus"))
      .toDF("doc_id", "text")
    Dedup.appendToFunnel(spark, dir, funnelDir, batch)
    // a fresh session bootstrapping from the funnel sees corpus + batch
    val s2 = spark.newSession()
    s2.conf.set(Dedup.FunnelDirConf, funnelDir)
    assert(Dedup.sharedSigSets(s2, dir).count() == 5)
    // a LATER arrival probing the funnel finds near-dups against the
    // APPENDED doc — the reason the funnel must stay current
    val probe = s2.createDataFrame(
      Seq((20L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    val hits = Dedup.incrementalAgainst(Dedup.sharedSigSets(s2, dir), probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((20L, 10L)),
      s"probe missed the appended near-dup: $hits")
    assert(hits.contains((20L, 0L)), s"probe missed the corpus near-dup: $hits")
    // appending without a funnel fails loudly
    intercept[IllegalStateException] {
      Dedup.appendToFunnel(spark, "/nonexistent/corpus", funnelDir, batch)
    }
    Tables.invalidate(spark, dir)
  }

  test("refreshFunnel: append + refresh == persistFunnel from scratch, component-wise") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftfunnelref")
    val dirA = root.resolve("corpusA").toString
    val dirB = root.resolve("corpusB").toString
    val funnelA = root.resolve("funnelA").toString
    val funnelB = root.resolve("funnelB").toString
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet purple"))
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 0
      (11L, "totally fresh words appear nowhere else in this corpus"))
    def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(dirA, corpus)
    writeDocs(dirB, corpus ++ batch)
    Dedup.persistFunnel(spark, dirA, funnelA, numBuckets = 2)
    Dedup.appendToFunnel(spark, dirA, funnelA, batch.toDF("doc_id", "text"))
    // append keeps signatures/postings current but defers pair/cluster/df
    // re-derivation — the (0,10) near-dup pair is NOT in the table yet
    def pairsOf(dir: String): Set[(Long, Long)] =
      spark.table(s"graft_funnel_pairs_" + graft.Tables.viewSuffix(dir))
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairsOf(dirA).contains((0L, 10L)), "append unexpectedly re-derived pairs")
    Dedup.refreshFunnel(spark, dirA, funnelA)
    assert(pairsOf(dirA).contains((0L, 10L)),
      s"refresh missed the appended near-dup pair: ${pairsOf(dirA)}")
    // ground truth: a from-scratch funnel over the grown corpus
    Dedup.persistFunnel(spark, dirB, funnelB, numBuckets = 2)
    // component-wise equality, array sets normalized (collect_set order
    // is nondeterministic by contract; set content is what's compared).
    // Read through the registered tables — the real consumer path, and
    // an empty component (boilerplate here) has no files to infer from.
    def normed(dir: String, comp: String): Seq[String] = {
      val raw = spark.table(
        "graft_funnel_" + comp + "_" + graft.Tables.viewSuffix(dir))
      val cols = raw.schema.fields.map { f =>
        if (f.dataType.typeName == "array") array_sort(col(f.name)).as(f.name)
        else col(f.name)
      }
      raw.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    for (comp <- Seq("signatures", "postings", "boilerplate", "pairs", "clusters"))
      assert(normed(dirA, comp) == normed(dirB, comp),
        s"component $comp differs between append+refresh and from-scratch")
    Tables.invalidate(spark, dirA)
    Tables.invalidate(spark, dirB)
  }

  test("bootstrapFunnel refuses a funnel built from a different corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftfunnelmm")
    val dir = root.resolve("corpus").toString
    val funnelDir = root.resolve("funnel").toString
    Seq((1L, "some words here for the corpus"), (2L, "other words there"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.persistFunnel(spark, dir, funnelDir, numBuckets = 2)
    val s2 = spark.newSession()
    assert(!Dedup.bootstrapFunnel(s2, "/some/other/corpus", funnelDir),
      "funnel served a corpus it was not built from")
    assert(Dedup.bootstrapFunnel(s2, dir, funnelDir))
    Tables.invalidate(spark, dir)
  }

  test("containmentAgainst flags an arrival doc quoting a corpus doc") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet purple"))
      .toDF("doc_id", "text")
    val posting = Dedup.postings(corpus).localCheckpoint()
    val batch = Seq(
      // 10 quotes corpus doc 0 whole inside a longer page — containment
      // ≈ 1.0 on the short side while jaccard stays far below any bar
      (10L, "alpha beta gamma delta epsilon zeta eta theta " +
        "plus a very long unrelated tail one after another going on and on " +
        "with more and more filler words stretching the union far out"),
      (11L, "completely novel words sharing nothing with the corpus at all"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentAgainst(posting, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment")))
    assert(got.map(t => (t._1, t._2)).toSet == Set((10L, 0L)), got.mkString(", "))
    assert(got.head._3 == 1.0, s"whole-quote containment should be exactly 1.0: ${got.head}")
  }

  test("temperature_sample: tail language kept whole, composition tracks the mix weights") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val kept = TrainPrep.temperatureSample(spark, sfDir)
    // deterministic subset of the corpus
    assert(kept.select($"doc_id").except(docs.select($"doc_id")).count() == 0)
    val k1 = kept.select($"doc_id").collect().map(_.getLong(0)).toSet
    val k2 = TrainPrep.temperatureSample(spark, sfDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2, "sample is not deterministic")
    // the most-boosted (rate 1.0) language keeps EVERY doc — subsampling
    // cannot up-weight, so the tail anchors the rescale
    val rates = kept.select($"lang", $"rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val anchor = rates.maxBy(_._2)
    assert(anchor._2 == 1.0, s"max rate is ${anchor._2}, want 1.0")
    val nAnchor = docs.filter($"lang" === anchor._1).count()
    assert(kept.filter($"lang" === anchor._1).count() == nAnchor)
    // per-language kept fraction ≈ its rate (hash uniformity); with the
    // fixture's per-language counts a ±0.15 absolute band is ~4 sigma
    val nBy = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBy = kept.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rates.foreach { case (l, r) =>
      val got = keptBy.getOrElse(l, 0L).toDouble / nBy(l)
      assert(math.abs(got - r) < 0.15, f"$l kept $got%.2f of docs, rate $r%.2f")
    }
  }

  test("temperature_mix flattens the language head and boosts the tail") {
    import spark.implicits._
    val rows = graft.ops.TrainPrep.temperatureMix(spark, sfDir).collect()
    val w = rows.map(_.getAs[Double]("w")).sum
    assert(math.abs(w - 1.0) < 1e-9, s"weights must sum to 1, got $w")
    val byShare = rows.sortBy(_.getAs[Double]("p"))
    // α < 1 ⇒ boost is strictly decreasing in natural share
    val boosts = byShare.map(_.getAs[Double]("boost"))
    assert(boosts.zip(boosts.tail).forall { case (a, b) => a >= b },
      s"boost not monotone-decreasing in share: ${byShare.map(r =>
        (r.getString(0), r.getAs[Double]("p"), r.getAs[Double]("boost"))).mkString(", ")}")
    assert(boosts.head > 1.0 && boosts.last < 1.0,
      s"tail should up-weight (>1) and head down-weight (<1): ${boosts.mkString(", ")}")
  }

  test("approx_percentile within 10% of exact percentile") {
    import spark.implicits._
    val approx = graft.ops.TimeWindows.aggApproxPercentile(spark, sfDir)
    val exact = graft.ops.Temporal.aggPercentile(spark, sfDir)
    approx.join(exact, "event_type").collect().foreach { r =>
      val (ap, ep) = (r.getAs[Double]("p50_approx"), r.getAs[Double]("p50"))
      assert(math.abs(ap - ep) / ep <= 0.10, s"${r.getString(0)}: p50 approx $ap vs $ep")
    }
  }

  test("approx_count_distinct within configured rsd of exact") {
    import spark.implicits._
    val approx = Relational.aggHll(spark, sfDir)
    val exact = Tables.events(spark, sfDir)
      .groupBy($"event_type").agg(count_distinct($"user_id").as("n_exact"))
    val joined = approx.join(exact, "event_type")
      .select($"event_type", $"n_users_approx", $"n_exact").collect()
    joined.foreach { r =>
      val a = r.getAs[Long]("n_users_approx").toDouble
      val e = r.getAs[Long]("n_exact").toDouble
      assert(math.abs(a - e) / e <= 0.10, s"${r.getString(0)}: approx $a vs exact $e")
    }
  }
}
