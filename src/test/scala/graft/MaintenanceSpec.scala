package graft

import graft.ops.{Dedup, Ingest, Similarity}
import graft.streaming.{IngestPipeline, Maintenance}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Index compaction and the streaming near-dup screening stage — the
  * two maintenance/ingest pieces a long-running corpus pipeline needs
  * beyond the per-query operators. */
class MaintenanceSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def json(uuid: String, ms: Long): String =
    s"""{"identifier":"i","name":"n","uuid":"$uuid","type":"t","ingestion_time":$ms}"""

  test("compactDay rewrites a day's epoch files losslessly; alias repoints") {
    import spark.implicits._
    val (indexDir, dlqDir) = (tmp("cidx"), tmp("cdlq"))
    // three epochs of the same day → three epoch_id directories
    val day = "2023-11-14" // 1700000000000L
    (0 until 3).foreach { epoch =>
      val batch = Seq(json(s"u$epoch-a", 1700000000000L + epoch),
        json(s"u$epoch-b", 1700000000000L + epoch))
        .toDF("value")
        .withColumn("rec", from_json($"value", graft.model.Schemas.ingestion))
        .withColumn("valid", lit(true))
      IngestPipeline.writeBatch(batch, epoch.toLong, indexDir, dlqDir)
    }
    val before = spark.read.parquet(indexDir)
      .filter($"persist_date" === day)
    val beforeFiles = before.inputFiles.length
    assert(beforeFiles >= 3, s"expected ≥3 epoch files, got $beforeFiles")

    val outDir = tmp("cout")
    val n = Maintenance.compactDay(spark, indexDir, day, outDir)
    val after = spark.read.parquet(outDir)
    assert(after.inputFiles.length == n, "file count != reported count")
    assert(after.inputFiles.length < beforeFiles, "compaction did not reduce files")
    // lossless: same (uuid, epoch_id) multiset — provenance column kept
    assert(before.select($"uuid", $"epoch_id")
      .exceptAll(after.select($"uuid", $"epoch_id")).count() == 0)
    assert(after.select($"uuid", $"epoch_id")
      .exceptAll(before.select($"uuid", $"epoch_id")).count() == 0)

    // the date-pinned alias repoints to the compacted dir atomically and
    // serves identical rows
    Ingest.pointIndexAlias(spark, "cmp_alias", outDir, day)
    assert(spark.table("cmp_alias").count() == before.count())

    // multi-file path: a tiny byte target forces several files, and
    // range partitioning must give them DISJOINT event-time spans (the
    // min/max pruning the compaction exists to enable)
    val outDir2 = tmp("cout2")
    val n2 = Maintenance.compactDay(spark, indexDir, day, outDir2,
      targetBytes = 2048)
    assert(n2 > 1, s"expected multi-file compaction, got $n2 files")
    val ranges = spark.read.parquet(outDir2)
      .select($"ingestion_time", input_file_name().as("f"))
      .groupBy($"f")
      .agg(min($"ingestion_time").as("lo"), max($"ingestion_time").as("hi"))
      .collect()
      .map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      .sortBy(_._1)
    assert(ranges.length == n2)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file time ranges overlap: $ranges")
      case _ => ()
    }
  }

  test("compactDay rejects a malformed date") {
    intercept[IllegalArgumentException] {
      Maintenance.compactDay(spark, "/tmp/x", "2023-1-1'; DROP", "/tmp/y")
    }
  }

  test("streaming ingest screens arrival batches against the corpus signatures") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus of three docs; signatures materialized once (the table a
    // production pipeline persists next to the corpus)
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet purple"))
      .toDF("doc_id", "text")
    val sigs = Dedup.signatures(corpus).localCheckpoint()

    val mem = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.incrementalAgainst(sigs, batch)
          .collect().foreach(r => flagged.synchronized {
            flagged += ((r.getLong(0), r.getLong(1))); () })
        ()
      }
      .start()
    // 10: near-dup of corpus doc 0 (one token changed); 11: novel text
    mem.addData((10L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "completely different words with no overlap here at all"))
    q.awaitTermination(60000)

    assert(flagged.toSet == Set((10L, 0L)),
      s"expected only (10,0) flagged, got $flagged")
  }

  test("streaming ingest screens arrival batches for CONTAINMENT against corpus postings") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus postings materialized once — the table persistFunnel writes
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet purple"))
      .toDF("doc_id", "text")
    val posting = Dedup.postings(corpus).localCheckpoint()

    val mem = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.containmentAgainst(posting, batch)
          .collect().foreach(r => flagged.synchronized {
            flagged += ((r.getLong(0), r.getLong(1))); () })
        ()
      }
      .start()
    // 10: quotes corpus doc 0 whole inside a much longer page (the case
    // resemblance-LSH misses — jaccard is tiny, containment is 1.0);
    // 11: novel text
    mem.addData(
      (10L, "alpha beta gamma delta epsilon zeta eta theta " +
        "plus a very long unrelated tail one after another going on and on " +
        "with more and more filler words stretching the union far out"),
      (11L, "completely different words with no overlap here at all"))
    q.awaitTermination(60000)

    assert(flagged.toSet == Set((10L, 0L)),
      s"expected only (10,0) flagged, got $flagged")
  }

  test("streaming ingest keeps the trained ANN index current via appendToIndex") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // index + quantizer persisted once from the corpus (the per-version
    // build); each arrival micro-batch then appends under the PERSISTED
    // quantizer — the ingest-time half of the ANN maintenance split
    val idx = tmp("graftstreamidx")
    val emb = graft.Tables.embeddings(spark, sfDir)
    Similarity.persistIndexTrained(spark, sfDir, idx,
      Similarity.kmeansFit(emb).localCheckpoint())
    val before = spark.read.parquet(idx).count()
    val mem = MemoryStream[(Long, Array[Float])]
    // arrival: an exact twin of vector 0 under a fresh id — added
    // BEFORE start so the AvailableNow trigger is guaranteed to see it
    val v0 = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).toArray
    mem.addData((100000L, v0))
    val q = mem.toDS().toDF("vec_id", "embedding")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.appendToIndex(spark, idx, batch)
      }
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(idx).count() == before + 1)
    // a probe of the twin's cell finds both copies at cosine exactly 1.0
    val qc = emb.filter($"vec_id" === 0)
      .select(graft.functions.VecQuant.vecQuantize($"embedding")).head()
      .getSeq[Byte](0).toArray
    val cell = spark.read.parquet(idx).filter($"vec_id" === 100000L)
      .select($"cluster".cast("long")).head().getLong(0)
    val hits = Similarity.searchIndexTrained(spark, idx, qc, Seq(cell), k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.map(_._1).toSeq == Seq(0L, 100000L),
      s"cell probe missed the streamed arrival: ${hits.toSeq}")
    assert(hits.forall(_._2 == 1.0))
  }

  test("streaming ingest keeps the IVF-PQ index current via appendToPqIndex") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same maintenance split as the int8 index above, for the PQ
    // layout: codebooks persisted once beside the lists, arrival
    // micro-batches encode under them and append to their cell
    val idx = tmp("graftstreampq")
    graft.ops.Pq.persistPqIndex(spark, sfDir, idx)
    val before = spark.read.parquet(idx).count()
    val emb = graft.Tables.embeddings(spark, sfDir)
    val v3 = emb.filter($"vec_id" === 3)
      .select($"embedding").head().getSeq[Float](0).toArray
    val mem = MemoryStream[(Long, Array[Float], Int)]
    mem.addData((200000L, v3, 9))
    val q = mem.toDS().toDF("vec_id", "embedding", "label")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Pq.appendToPqIndex(spark, idx, batch)
      }
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(idx).count() == before + 1)
    // the streamed twin carries vec 3's exact codes, and a probe of its
    // bucket serves it
    val stored = spark.read.parquet(idx)
      .filter($"vec_id".isin(3L, 200000L))
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(stored(200000L) == stored(3L),
      "streamed twin must encode to the original's codes under the persisted codebooks")
    val tb = emb.filter($"vec_id" === 3)
      .select(graft.ops.Similarity.lshBucket($"embedding")).head().getLong(0)
    val hits = graft.ops.Pq.searchPqIndex(spark, idx, v3, Seq(tb), k = 4)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(200000L), s"bucket probe missed the streamed arrival: $hits")
  }

  test("streaming ingest keeps the durable dedup funnel current via appendToFunnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // funnel persisted once from the corpus; each arrival micro-batch
    // is screened against it AND appended into it — the ingest-time
    // half of the funnel's append/refresh split, symmetric with the
    // ANN appendToIndex e2e above: every durable artifact this engine
    // trains (funnel, ANN index, classifier model, DSIR ratios) stays
    // current from inside a stream
    val root = Files.createTempDirectory("graftstreamfunnel")
    val dir = root.resolve("corpus").toString
    val funnelDir = root.resolve("funnel").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "red orange yellow green blue indigo violet purple"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Dedup.persistFunnel(spark, dir, funnelDir, numBuckets = 2)
    val mem = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // batch 1: near-dup of corpus doc 0 + a novel doc; batch 2 arrives
    // AFTER 10 is in the funnel and near-dups it — catching that pair
    // is exactly why the funnel must stay current between batches
    mem.addData((10L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "totally fresh words appear nowhere else in this corpus"))
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        val s2 = spark.newSession()
        s2.conf.set(Dedup.FunnelDirConf, funnelDir)
        Dedup.incrementalAgainst(Dedup.sharedSigSets(s2, dir), b)
          .collect().foreach(r => flagged.synchronized {
            flagged += ((r.getLong(0), r.getLong(1))); () })
        Dedup.appendToFunnel(spark, dir, funnelDir, b)
        ()
      }
      .start()
    q.awaitTermination(60000)
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((20L, "alpha beta gamma delta epsilon zeta eta iota"))
    val q2 = mem2.toDF().toDF("doc_id", "text").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        val s2 = spark.newSession()
        s2.conf.set(Dedup.FunnelDirConf, funnelDir)
        Dedup.incrementalAgainst(Dedup.sharedSigSets(s2, dir), b)
          .collect().foreach(r => flagged.synchronized {
            flagged += ((r.getLong(0), r.getLong(1))); () })
        Dedup.appendToFunnel(spark, dir, funnelDir, b)
        ()
      }
      .start()
    q2.awaitTermination(60000)
    val got = flagged.toSet
    // batch 1: only (10, 0) — 11 is novel; batch 2: 20 near-dups BOTH
    // the original corpus doc and the batch-1 arrival now in the funnel
    assert(got.contains((10L, 0L)), s"first batch missed (10,0): $got")
    assert(!got.exists(_._1 == 11L), s"novel doc wrongly flagged: $got")
    assert(got.contains((20L, 0L)) && got.contains((20L, 10L)),
      s"second batch must hit corpus AND appended docs: $got")
  }

  test("search-index readers keep a consistent view across a concurrent compaction") {
    import spark.implicits._
    import graft.ops.Search
    val root = Files.createTempDirectory("graftidxconcur").resolve("idx").toString
    val docs = graft.Tables.documentsPar(spark, sfDir).select($"doc_id", $"text")
    Search.buildSearchIndexOf(docs.filter($"doc_id" % 2 === 0), root)
    Search.appendToSearchIndex(spark, root,
      docs.filter($"doc_id" % 2 =!= 0), epoch = "e1")
    // an in-flight reader: resolves the CURRENT version at plan time...
    val reader = Search.searchWithIndex(spark, root, Search.QueryTerms, Search.TopK)
    val v1 = Search.indexRoot(spark, root)
    val expected = reader.collect().map(_.toSeq).toSeq
    // ...then compaction commits a NEW version and repoints the alias
    // (a pure re-layout here — no tombstones — so both versions serve
    // the same ranking; stats re-derivation under tombstones is the
    // soft-delete test's business)
    Search.compactSearchIndex(spark, root)
    val v2 = Search.indexRoot(spark, root)
    assert(v1 != v2, "compaction must commit a new version dir")
    // the pre-compaction reader still scans v1's files to completion --
    // the retained previous generation (Lucene's keep-until-release)
    assert(reader.collect().map(_.toSeq).toSeq == expected,
      "a reader resolved before the repoint must keep its view")
    // a new reader resolves v2 and sees the same results
    assert(Search.searchWithIndex(spark, root, Search.QueryTerms, Search.TopK)
      .collect().map(_.toSeq).toSeq == expected)
    // a SECOND compaction prunes v1 (one-generation retention): only
    // v2, v3 and the pointer remain
    Search.compactSearchIndex(spark, root)
    val kids = new java.io.File(root).listFiles.map(_.getName).toSet
    assert(!kids.contains(v1.split('/').last),
      s"v1 must be reclaimed after the next maintenance pass: $kids")
    assert(kids.contains(v2.split('/').last) && kids.contains(Search.CurrentPointer))
    // a crash mid-compaction (simulated: orphan version dir with no
    // pointer update) must leave the index serving untouched
    val orphan = new java.io.File(root, "v9999999999")
    orphan.mkdirs()
    assert(Search.searchWithIndex(spark, root, Search.QueryTerms, Search.TopK)
      .collect().map(_.toSeq).toSeq == expected)
  }

  test("follower sync: epoch-delta replication, tombstone swap, compaction fallback") {
    import spark.implicits._
    import graft.ops.Search
    val base = Files.createTempDirectory("graftccr")
    val primary = base.resolve("primary").toString
    val follower = base.resolve("follower").toString
    def serve(dir: String) =
      Search.searchWithIndex(spark, dir, Seq("alpha"), 10)
        .collect().map(_.toSeq).toSeq
    Search.buildSearchIndexOf(Seq(
      (0L, "alpha beta"), (1L, "beta gamma"), (2L, "alpha gamma"))
      .toDF("doc_id", "text"), primary)
    // bootstrap: first sync adopts a full copy
    Search.syncIndex(spark, primary, follower)
    assert(serve(follower) == serve(primary), "bootstrap must replicate")
    // incremental: append an epoch + delete a doc on the primary only
    Search.appendToSearchIndex(spark, primary,
      Seq((7L, "alpha alpha")).toDF("doc_id", "text"), epoch = "e1")
    Search.deleteFromSearchIndex(spark, primary, Seq(0L).toDF("doc_id"), "d1")
    assert(serve(follower) != serve(primary), "follower must lag pre-sync")
    Search.syncIndex(spark, primary, follower)
    assert(serve(follower) == serve(primary),
      "epoch-delta sync must converge append AND delete")
    // tombstone epoch REUSE unions victims — the name-match trap a
    // delta copy would miss; the full swap must carry it
    Search.deleteFromSearchIndex(spark, primary, Seq(2L).toDF("doc_id"), "d1")
    Search.syncIndex(spark, primary, follower)
    assert(serve(follower) == serve(primary),
      "a reused (unioned) tombstone epoch must replicate")
    // primary compaction rewrites history → follower full-resyncs
    Search.compactSearchIndex(spark, primary)
    Search.syncIndex(spark, primary, follower)
    assert(serve(follower) == serve(primary),
      "post-compaction sync must fall back to full resync")
    assert(Search.indexStats(spark, follower).collect().map(_.toSeq).toSeq ==
      Search.indexStats(spark, primary).collect().map(_.toSeq).toSeq,
      "follower statistics must equal the primary's after resync")
  }

  test("follower tombstones commit by pointer: no resurrection window, local deletes write through") {
    import spark.implicits._
    import graft.ops.Search
    val base = Files.createTempDirectory("grafttombptr")
    val primary = base.resolve("primary").toString
    val follower = base.resolve("follower").toString
    def servedIds(dir: String): Set[Long] =
      Search.searchWithIndex(spark, dir, Seq("alpha"), 10)
        .collect().map(_.getLong(1)).toSet
    Search.buildSearchIndexOf(Seq(
      (0L, "alpha beta"), (1L, "alpha gamma"), (2L, "alpha delta"))
      .toDF("doc_id", "text"), primary)
    Search.syncIndex(spark, primary, follower)
    Search.deleteFromSearchIndex(spark, primary, Seq(0L).toDF("doc_id"), "d1")
    Search.syncIndex(spark, primary, follower)
    assert(servedIds(follower) == Set(1L, 2L))
    // the synced set is pointer-committed: the _tombstones file names
    // a generation dir — the atomic-flip mechanism, so no crash
    // window ever has neither set visible
    val fRoot = Search.indexRoot(spark, follower)
    assert(new java.io.File(fRoot, Search.TombPointer).exists,
      "sync must commit tombstones through the generation pointer")
    // a crashed sync's orphan generation (copied, pointer never
    // flipped) must not affect serving — and the next sync must not
    // reuse its name
    new java.io.File(fRoot, "tombstones_g0000000099").mkdirs()
    assert(servedIds(follower) == Set(1L, 2L),
      "an uncommitted generation dir must be invisible")
    // a LOCAL delete on the synced follower writes through the
    // pointer — a write to the flat path would be shadowed (invisible
    // to every query), silently un-deleting nothing
    Search.deleteFromSearchIndex(spark, follower, Seq(1L).toDF("doc_id"), "lo")
    assert(servedIds(follower) == Set(2L),
      "local deletes on a synced follower must bite immediately")
    // repeated syncs retain ONE superseded generation (in-flight
    // reader discipline) and reclaim everything older
    Search.deleteFromSearchIndex(spark, primary, Seq(2L).toDF("doc_id"), "d2")
    Search.syncIndex(spark, primary, follower)
    Search.syncIndex(spark, primary, follower)
    val gens = new java.io.File(fRoot).listFiles.map(_.getName)
      .filter(n => n == "tombstones" || n.startsWith("tombstones_g")).toSet
    assert(gens.size <= 2,
      s"sync must reclaim generations beyond current+previous: $gens")
    // the follower mirrors the PRIMARY's set after a sync (CCR
    // semantics): d1+d2 tombstone {0,2}; the local-only "lo" delete
    // is superseded by the replacement, so doc 1 serves again
    assert(servedIds(follower) == Set(1L),
      "sync must replace the follower's set with the primary's")
  }

  test("daily-index rollover: new day's index joins the alias; yesterday's bytes untouched") {
    import spark.implicits._
    import graft.ops.Search
    def day(d: Int, n: Int) = (0 until n).map(i =>
      (d * 100L + i, s"dup vector merge doc $i of day $d word$i",
        "en", s"src$d", 40L + i))
    val days = Seq(day(1, 6), day(2, 5), day(3, 4))
      .map(_.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val base = tmp("daily")
    val dirs = (1 to 3).map(d => s"$base/idx-d$d")
    // ingest days 1-2: one index per day, alias spans both
    days.take(2).zip(dirs).foreach { case (df, out) =>
      Search.buildSearchIndexOf(df, out)
    }
    val alias = s"$base/alias"
    Search.writeAlias(spark, alias, dirs.take(2))
    // the alias search must equal ONE index over the same docs,
    // bit-for-bit — the merged-statistics contract
    val combined12 = tmp("comb12")
    Search.buildSearchIndexOf(days(0).unionByName(days(1)), combined12)
    val q = Seq("dup", "vector")
    assert(Search.searchAlias(spark, alias, q, 10).collect().toSeq ==
      Search.searchWithIndex(spark, combined12, q, 10).collect().toSeq)
    // snapshot day-1/2 bytes (path → mtime) before the rollover
    def filesOf(dir: String): Map[String, Long] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(p, true)
      val m = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val s = it.next()
        m(s.getPath.toString) = s.getModificationTime }
      m.toMap
    }
    val before = dirs.take(2).map(filesOf)
    // ROLLOVER: day 3 lands as its own index; the alias repoints
    // atomically to include it
    Search.buildSearchIndexOf(days(2), dirs(2))
    Search.writeAlias(spark, alias, dirs)
    assert(Search.readAlias(spark, alias) == dirs)
    val combinedAll = tmp("comball")
    Search.buildSearchIndexOf(days.reduce(_ unionByName _), combinedAll)
    assert(Search.searchAlias(spark, alias, q, 20).collect().toSeq ==
      Search.searchWithIndex(spark, combinedAll, q, 20).collect().toSeq,
      "post-rollover alias search must equal the full-corpus index")
    // yesterday's indices were never rewritten — every file identical
    assert(dirs.take(2).map(filesOf) == before,
      "a rollover must not touch prior days' index bytes")
    // paging holds across the alias too
    val cur = Search.searchCursorAcross(spark, dirs, q, 5)
    assert(cur.isDefined)
    val page2 = Search.searchAfterAcrossIndexes(spark, dirs, q, 5,
      cur.get._1, cur.get._2, 5).collect().map(_.getLong(1)).toSeq
    val top10 = Search.searchWithIndex(spark, combinedAll, q, 10)
      .collect().map(_.getLong(1)).toSeq
    assert(page2 == top10.drop(5),
      "keyset page 2 across the alias must equal ranks 6-10 of the corpus")
    intercept[IllegalStateException](
      Search.readAlias(spark, s"$base/no_such_alias"))
  }

  test("overlapping member indices refuse loudly instead of double-counting stats") {
    import spark.implicits._
    import graft.ops.Search
    val docs = Seq((1L, "dup vector a"), (2L, "dup vector b"),
      (3L, "merge c")).toDF("doc_id", "text")
    val (a, b) = (tmp("ovlA"), tmp("ovlB"))
    Search.buildSearchIndexOf(docs, a)
    Search.buildSearchIndexOf(docs.filter($"doc_id" <= 2), b)
    val e = intercept[Exception](
      Search.searchAcrossIndexes(spark, Seq(a, b),
        Seq("dup", "vector"), 5).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("overlap")),
      s"expected the disjointness guard to fire, got: ${chain(e)}")
    // disjoint members still serve fine
    val c = tmp("ovlC")
    Search.buildSearchIndexOf(docs.filter($"doc_id" === 3), c)
    assert(Search.searchAcrossIndexes(spark, Seq(b, c),
      Seq("dup", "vector"), 5).collect().nonEmpty)
  }

  test("snapshot → mutate → restore returns the index to its snapshot state") {
    import spark.implicits._
    import graft.ops.Search
    val base = Files.createTempDirectory("graftsnap")
    val root = base.resolve("idx").toString
    val snap = base.resolve("snap").toString
    val docs = Seq(
      (0L, "alpha beta"), (1L, "beta gamma"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    Search.buildSearchIndexOf(docs, root)
    val before = Search.searchWithIndex(spark, root, Seq("alpha"), 10)
      .collect().map(_.toSeq).toSeq
    val statsBefore = Search.indexStats(spark, root)
      .collect().map(_.toSeq).toSeq
    Search.snapshotIndex(spark, root, snap)
    // mutate every way an index mutates: append new docs, delete one
    Search.appendToSearchIndex(spark, root,
      Seq((7L, "alpha alpha alpha")).toDF("doc_id", "text"), epoch = "e1")
    Search.deleteFromSearchIndex(spark, root, Seq(0L).toDF("doc_id"), "d1")
    assert(Search.searchWithIndex(spark, root, Seq("alpha"), 10)
      .collect().map(_.toSeq).toSeq != before, "the mutations must bite")
    Search.restoreIndex(spark, snap, root)
    assert(Search.searchWithIndex(spark, root, Seq("alpha"), 10)
      .collect().map(_.toSeq).toSeq == before,
      "restore must return serving to the snapshot state bit-for-bit")
    assert(Search.indexStats(spark, root).collect().map(_.toSeq).toSeq
      == statsBefore, "index statistics must restore too")
    // snapshots are immutable: a second snapshot to the same path refuses
    val e = intercept[IllegalStateException] {
      Search.snapshotIndex(spark, root, snap)
    }
    assert(e.getMessage.contains("immutable"))
    // a partial (markerless) snapshot must never restore
    val partial = base.resolve("partial").toString
    new java.io.File(partial).mkdirs()
    val e2 = intercept[IllegalStateException] {
      Search.restoreIndex(spark, partial, root)
    }
    assert(e2.getMessage.contains(Search.SnapshotMarker))
  }

  test("a highlighted served request built before a compaction keeps its version's hits and fragments") {
    import spark.implicits._
    import graft.ops.{Dsl, Search}
    val root = Files.createTempDirectory("graftidxhl").resolve("idx").toString
    val docs = graft.Tables.documentsPar(spark, sfDir).select($"doc_id", $"text")
    Search.buildSearchIndexOf(docs.filter($"doc_id" % 2 === 0), root)
    Search.appendToSearchIndex(spark, root,
      docs.filter($"doc_id" % 2 =!= 0), epoch = "e1")
    val body = s"""{"query": {"match": {"text": "${Search.QueryTerms.mkString(" ")}"}},
      "highlight": {"fields": {"text": {}}}, "size": 10}"""
    def served = Dsl.searchDslFromIndexes(spark, Seq(root), body)
    // tombstone the top hit: the compaction purges it and re-derives
    // the statistics, so the two versions hold different bytes
    val top = served.collect().head.getAs[Long]("doc_id")
    Search.deleteFromSearchIndex(spark, root, Seq(top).toDF("doc_id"), "d1")
    val expected = served.collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty && expected.forall(r => r.last != null),
      s"every hit carries a fragment: $expected")
    val inFlight = served // resolved and built on the pre-compaction version
    val v1 = Search.indexRoot(spark, root)
    Search.compactSearchIndex(spark, root)
    assert(Search.indexRoot(spark, root) != v1, "compaction commits a new version")
    assert(inFlight.collect().map(_.toSeq).toSeq == expected,
      "a request built before the repoint must serve its own version's hits and fragments")
  }
}
