package graft

import graft.ops.{Dedup, Similarity}

/** ANN quality beyond the oracle's exact-value checks: the recall cost of
  * the IVF/LSH pruning vs brute-force ground truth (VERDICT r2 item 9 —
  * the tradeoff the IVF comment claims, measured). */
class SimilaritySpec extends SparkSpec {

  test("ann_ivf recall@5 vs brute-force ground truth is measured and bounded") {
    val truth = Similarity.annTopK(spark, sfDir)
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.annIvf(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = truth.intersect(ivf).size / 5.0
    val probed = (0 to Similarity.ProbeRadius)
      .map(i => choose(Similarity.NumPlanes, i)).sum
    info(f"ann_ivf recall@5 = $recall%.2f " +
      f"(multi-probe radius ${Similarity.ProbeRadius}: " +
      f"$probed of ${1 << Similarity.NumPlanes} inverted lists)")
    // Fixture neighbors sit at cosine ≈ 0.4 (θ ≈ 66°): single-bucket
    // recall measured 0.2; Hamming-radius-1 multi-probe recovers the
    // majority of the true top-5 while still scanning ~5/16 of the
    // corpus. Fixture is fixed/seeded so this is deterministic.
    assert(recall >= 0.6, f"recall@5 $recall%.2f below the measured bound")
  }

  private def choose(n: Int, k: Int): Int =
    if (k == 0) 1 else n * choose(n - 1, k - 1) / k

  test("int8-quantized IVF: recall vs fp32 ground truth and score error bounded") {
    import spark.implicits._
    // fp32 brute-force ground truth (same query vec_id 0, top-5)
    val truthRows = Similarity.annTopK(spark, sfDir)
      .limit(5).select("vec_id", "score").collect()
    val truth = truthRows.map(_.getLong(0)).toSet
    val got = Similarity.annIvfQuantized(spark, sfDir)
      .select("vec_id", "score").collect()
    val recall = truth.intersect(got.map(_.getLong(0)).toSet).size / 5.0
    info(f"ann_ivf_quantized recall@5 vs fp32 brute force = $recall%.2f")
    // quantized IVF loses recall two ways: bucket pruning (same as
    // ann_ivf, measured 0.6-0.8 at radius 1) and int8 score error; the
    // error term must not cost MORE than pruning alone does
    val fp32Ivf = Similarity.annIvf(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recallFp32 = truth.intersect(fp32Ivf).size / 5.0
    assert(recall >= recallFp32 - 0.21,
      f"int8 scoring lost more than one of five vs fp32 IVF: $recall%.2f vs $recallFp32%.2f")
    // per-vector int8 on 64 dims: cosine error is small — compare the
    // quantized scores of the overlap against their fp32 scores
    val fp32Scores = Similarity.annIvf(spark, sfDir)
      .select("vec_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { r =>
      fp32Scores.get(r.getLong(0)).foreach { s =>
        val err = math.abs(r.getDouble(1) - s)
        assert(err <= 0.02, f"vec ${r.getLong(0)}: int8 cosine error $err%.4f > 0.02")
      }
    }
  }

  test("persisted IVF index: search reads ONLY the probed partitions and matches the query path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graftivf").toString
    Similarity.persistIndex(spark, sfDir, idx)
    // the query vector's bucket and codes, as a serving caller has them
    val q = Tables.embeddings(spark, sfDir).filter($"vec_id" === 0)
      .select(Similarity.lshBucket($"embedding").as("bucket"),
        graft.functions.VecQuant.vecQuantize($"embedding").as("codes"))
      .head()
    val (qb, qc) = (q.getLong(0), q.getSeq[Byte](1).toArray)
    // k = 6: the index contains the query vector itself (score 1.0);
    // drop it after the cut to compare the 5 true neighbors
    val search = Similarity.searchIndex(spark, idx, qc, qb, k = 6)
      .filter($"vec_id" =!= 0)
    // partition pruning is in the PLAN: the scan's FileIndex keeps only
    // the probed buckets (5 of 16 at radius 1)
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"no partition filter on the index scan:\n$plan")
    // and physical: actual bytes read off the index (task input metrics)
    // stay well under a full scan's — the unprobed inverted lists are
    // never opened (5 of 16 partitions at radius 1)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) { bytesRead.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (prunedBytes, fullBytes, got) = try {
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b0 = bytesRead.get()
      val gotRows = search.collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b1 = bytesRead.get()
      spark.read.parquet(idx).queryExecution.toRdd.foreach(_ => ())
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      (b1 - b0, bytesRead.get() - b1, gotRows)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(f"index bytes read: pruned $prunedBytes%,d vs full $fullBytes%,d")
    assert(prunedBytes < fullBytes * 3 / 4,
      s"pruned search read $prunedBytes bytes, full scan $fullBytes — no physical pruning")
    // same candidates, same scores as the in-query quantized IVF path
    val want = Similarity.annIvfQuantized(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got == want, s"index search diverges from query path: $got vs $want")
  }

  test("two-stage rerank recovers the fp32 IVF ranking exactly") {
    // the int8 coarse stage only has to get the true top-5 into its
    // 20-candidate pool; the fp32 rerank then reproduces annIvf's exact
    // result — the point of the two-stage pattern (cheap scan, exact top)
    val rerank = Similarity.annIvfRerank(spark, sfDir)
      .select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val fp32 = Similarity.annIvf(spark, sfDir)
      .select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rerank.toSeq == fp32.toSeq,
      s"rerank diverged from fp32 IVF: ${rerank.toSeq} vs ${fp32.toSeq}")
  }

  test("vec_quantize codes are int8-ranged, exact on the argmax, zero-safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // element values chosen away from exact .5 code boundaries: a half
    // would flip on one ulp of the scale division (both engines compute
    // it identically, but the hand-written expectation here would not)
    val df = Seq(
      (1L, Array(0.4f, -1.0f, 0.25f, 0.1f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector -> all-zero codes
      (3L, Array(-3.0f, 1.2f, 3.0f, -0.75f)))
      .toDF("id", "v")
      .select($"id", graft.functions.VecQuant.vecQuantize($"v").as("q"),
        graft.functions.VecQuant.quantScale($"v").as("scale"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Byte](1).toArray, r.getDouble(2))).sortBy(_._1)
    val (_, q1, s1) = df(0)
    // 0.4*127=50.8->51, 0.25*127=31.75->32, 0.1*127=12.7->13
    assert(q1.sameElements(Array[Byte](51, -127, 32, 13)), q1.mkString(","))
    assert(s1 == 1.0 / 127.0)
    val (_, q2, s2) = df(1)
    assert(q2.sameElements(Array[Byte](0, 0, 0, 0)) && s2 == 0.0)
    val (_, q3, _) = df(2)
    // argmax elements always hit exactly +/-127; nothing exceeds int8
    assert(q3.sameElements(Array[Byte](-127, 51, 127, -32)), q3.mkString(","))
  }

  test("vec_dotq is exact integer arithmetic and SQL-registered") {
    import spark.implicits._
    val r = spark.sql(
      """SELECT vec_dotq(CAST(array(127, -127, 1) AS array<tinyint>),
        |                CAST(array(127, 127, 2) AS array<tinyint>)) AS d,
        |       vec_dotq(CAST(array(1, 2) AS array<tinyint>),
        |                CAST(array(1) AS array<tinyint>)) AS mism""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 127L * 127 - 127L * 127 + 2)
    assert(r.isNullAt(1), "length mismatch must yield NULL, not a prefix dot")
  }

  test("multi-probe radius sweep: recall@5 vs scan fraction, monotone") {
    val truth = Similarity.annTopK(spark, sfDir)
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSet
    val sweep = (0 to 2).map { r =>
      val got = Similarity.annIvfAt(spark, sfDir, r)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = truth.intersect(got).size / 5.0
      val lists = (0 to r).map(i => choose(Similarity.NumPlanes, i)).sum
      info(f"radius $r: recall@5 = $recall%.2f, " +
        f"scans $lists/${1 << Similarity.NumPlanes} inverted lists")
      r -> recall
    }.toMap
    // Monotone by construction: a larger radius scores a SUPERSET of
    // candidates, and any candidate that displaces a true top-5 member
    // under exact scoring must itself be in the true top-5 — so recall
    // can only rise with radius. The sweep records where it saturates.
    assert(sweep(1) >= sweep(0), s"radius-1 recall below radius-0: $sweep")
    assert(sweep(2) >= sweep(1), s"radius-2 recall below radius-1: $sweep")
    assert(sweep(2) >= 0.6, s"radius-2 recall unexpectedly low: $sweep")
  }

  test("ann_ivf scores only the probed buckets (candidate set shrinks)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.bit_count
    val total = Tables.embeddings(spark, sfDir).count() - 1 // minus query vec
    val bucketed = Tables.embeddings(spark, sfDir)
      .withColumn("bucket", Similarity.lshBucket($"embedding"))
    val qBucket = bucketed.filter($"vec_id" === 0).select($"bucket").head().getLong(0)
    val candidates = bucketed.filter($"vec_id" =!= 0 &&
      bit_count($"bucket".bitwiseXOR(qBucket)) <= Similarity.ProbeRadius).count()
    info(s"ann_ivf candidates: $candidates of $total vectors")
    assert(candidates < total, "bucket pruning did not shrink the candidate set")
  }

  test("semantic_dedup: total, nonempty drop set, greedy-first member always kept") {
    val res = Similarity.semanticDedup(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(res.length == n, "one verdict row per vector")
    assert(res.map(_.getAs[Long]("vec_id")).distinct.length == n)
    val dropped = res.filterNot(_.getAs[Boolean]("keep"))
    info(s"semantic_dedup: ${dropped.length} of ${res.length} dropped " +
      s"at cosine >= ${Similarity.SemanticBar}")
    assert(dropped.nonEmpty, "fixture near-duplicates should be dropped")
    assert(dropped.length < res.length, "must not drop everything")
    // the greedy sweep ranks by (centroid cosine ASC, vec_id ASC); the
    // first-ranked member of every cluster has no earlier neighbor, so
    // it can never be dropped — the diversity-keeping anchor survives
    res.groupBy(_.getAs[Int]("cluster")).values.foreach { ms =>
      val first = ms.minBy(r => (r.getAs[Double]("cscore"), r.getAs[Long]("vec_id")))
      assert(first.getAs[Boolean]("keep"),
        s"cluster anchor ${first.getAs[Long]("vec_id")} was dropped")
    }
  }

  test("semantic_dedup drop rule matches an independent exists-earlier-neighbor formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val emb = Tables.embeddings(spark, sfDir)
    val verdict = Similarity.semanticDedup(spark, sfDir)
    // recompute drops as a LEFT SEMI join (vs the distinct+left-join
    // route inside semanticDedup): b is dropped iff SOME earlier-ranked
    // same-cluster a is >= bar similar
    val assigned = verdict.join(emb, "vec_id")
      .select($"vec_id", $"cluster", $"cscore", $"embedding",
        Similarity.dotD($"embedding", $"embedding").as("n2"))
    val droppedSemi = assigned.as("b").join(assigned.as("a"),
        $"a.cluster" === $"b.cluster" &&
          ($"a.cscore" < $"b.cscore" ||
            ($"a.cscore" === $"b.cscore" && $"a.vec_id" < $"b.vec_id")) &&
          (Similarity.dotD($"a.embedding", $"b.embedding") /
            sqrt($"a.n2" * $"b.n2")) >= Similarity.SemanticBar,
        "left_semi")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val droppedMain = verdict.filter(!$"keep")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(droppedSemi == droppedMain)
  }

  test("kmeans: trained centroids match-or-beat label centroids on within-cluster cosine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.avg
    // the metric both quantizers are graded on: mean cosine of each
    // vector to its ASSIGNED centroid (what Lloyd's sweeps optimize)
    val trained = Similarity.kmeansAssign(spark, sfDir)
      .agg(avg($"cscore")).head().getDouble(0)
    val supervised = Similarity.sharedAssignments(spark, sfDir)
      .agg(avg($"cscore")).head().getDouble(0)
    info(f"mean within-cluster cosine: trained $trained%.4f vs label $supervised%.4f")
    assert(trained >= supervised,
      f"trained quantizer ($trained%.4f) lost to label centroids ($supervised%.4f)")
    // and the trained cells are balanced — no empty or catch-all cell
    // (the coalesce keeps empty cells deterministic, but the fixture
    // should not produce one)
    val sizes = Similarity.kmeansAssign(spark, sfDir)
      .groupBy($"cluster").count().collect().map(_.getLong(1))
    assert(sizes.length == Similarity.KmeansK, s"expected ${Similarity.KmeansK} cells")
    assert(sizes.min > 0 && sizes.max < 500 / 2,
      s"degenerate cell sizes: ${sizes.mkString(",")}")
  }

  test("trained IVF index: search prunes to the probed cells and matches brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graftivftr").toString
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.kmeansFit(emb).localCheckpoint()
    Similarity.persistIndexTrained(spark, sfDir, idx, cents)
    // the serving caller's side: quantize the query, pick its nprobe=3
    // nearest cells against the (collected, k-row) centroid table
    val qv = emb.filter($"vec_id" === 0)
      .select(graft.functions.VecQuant.vecQuantize($"embedding").as("codes"),
        $"embedding").head()
    val qc = qv.getSeq[Byte](0).toArray
    val qe = qv.getSeq[Float](1).toArray
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    val probe = cents.collect()
      .map(r => (r.getLong(0), cos(qe, r.getSeq[Float](1).toArray)))
      .sortBy(-_._2).take(3).map(_._1).toSeq
    val search = Similarity.searchIndexTrained(spark, idx, qc, probe, k = 6)
      .filter($"vec_id" =!= 0)
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"no partition filter on the trained index scan:\n$plan")
    // ground truth: int8 cosine over exactly the probed cells' members
    // query vector stays in the pool (as it does in the index); both
    // paths cut top-6 FIRST, then drop it
    val assigned = Similarity.kmeansAssign(spark, sfDir)
      .filter($"cluster".isin(probe: _*))
      .select($"vec_id")
    val dq = graft.functions.VecQuant.vecDotQ _
    val qcLit = typedlit(qc.toSeq)
    val want = emb.join(assigned, "vec_id")
      .withColumn("codes", graft.functions.VecQuant.vecQuantize($"embedding"))
      .select($"vec_id", (dq($"codes", qcLit).cast("double") /
        sqrt(dq($"codes", $"codes").cast("double") * dq(qcLit, qcLit).cast("double"))).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(6).filter($"vec_id" =!= 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val got = search.collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got == want, s"trained index search diverges from brute force: $got vs $want")
    // the quantizer persisted beside the lists round-trips bit-exactly —
    // serving and appends assign against the index's OWN centroids
    val loaded = Similarity.loadCentroids(spark, idx).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val orig = cents.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(loaded == orig, "persisted centroids diverge from the trained quantizer")
    // and the index scan never sees the _centroids dir (underscore-hidden)
    assert(!spark.read.parquet(idx).columns.contains("cv"))
  }

  test("appendToIndex: arrivals land in their quantizer cell and probes find them") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graftivfapp").toString
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.persistIndexTrained(spark, sfDir, idx, Similarity.kmeansFit(emb).localCheckpoint())
    val before = spark.read.parquet(idx).count()
    // arrival: an exact copy of vector 0 under a fresh id — the easiest
    // ground truth (same codes, same cell, cosine exactly 1.0)
    val batch = emb.filter($"vec_id" === 0)
      .select(lit(100000L).as("vec_id"), $"embedding")
    Similarity.appendToIndex(spark, idx, batch)
    assert(spark.read.parquet(idx).count() == before + 1)
    // the appended vector's cell is the one the persisted quantizer
    // assigns vector 0 to — probe exactly it
    val q = emb.filter($"vec_id" === 0)
      .select(graft.functions.VecQuant.vecQuantize($"embedding").as("codes")).head()
    val qc = q.getSeq[Byte](0).toArray
    // partition-column inference types `cluster` INT on read-back
    val cell = spark.read.parquet(idx).filter($"vec_id" === 100000L)
      .select($"cluster".cast("long")).head().getLong(0)
    val hits = Similarity.searchIndexTrained(spark, idx, qc, Seq(cell), k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // identical codes ⇒ cosine exactly 1.0 for both the original and the
    // appended twin; ties break by vec_id, so 0 then 100000
    assert(hits.map(_._1).toSeq == Seq(0L, 100000L), s"probe missed the arrival: ${hits.toSeq}")
    assert(hits.forall(_._2 == 1.0), s"twin scores not exactly 1: ${hits.toSeq}")
  }

  test("semantic dedup under the trained quantizer: total, drops present, anchors kept") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val res = Similarity.semanticDedupOf(emb, Similarity.kmeansFit(emb)).collect()
    assert(res.length == emb.count().toInt, "one verdict row per vector")
    val dropped = res.filterNot(_.getAs[Boolean]("keep"))
    info(s"trained semantic dedup: ${dropped.length} of ${res.length} dropped")
    assert(dropped.nonEmpty && dropped.length < res.length)
    res.groupBy(_.getAs[Long]("cluster")).values.foreach { ms =>
      val first = ms.minBy(r => (r.getAs[Double]("cscore"), r.getAs[Long]("vec_id")))
      assert(first.getAs[Boolean]("keep"),
        s"cluster anchor ${first.getAs[Long]("vec_id")} was dropped")
    }
  }

  test("kmeans sweep: objective improves over the seed and has settled by the fixed budget") {
    val emb = Tables.embeddings(spark, sfDir)
    val traj = (0 to Similarity.KmeansIters)
      .map(i => i -> Similarity.kmeansObjectiveAt(emb, i))
    info("mean within-cluster cosine by sweep: " +
      traj.map { case (i, o) => f"$i:$o%.4f" }.mkString(", "))
    val (seed, fin) = (traj.head._2, traj.last._2)
    assert(fin > seed, f"training never improved the seed ($seed%.4f -> $fin%.4f)")
    // the fixed budget is justified by convergence, not luck: the last
    // sweep moves the objective by < 5% of the total training gain
    val prev = traj(Similarity.KmeansIters - 1)._2
    assert(math.abs(fin - prev) < 0.05 * (fin - seed),
      f"objective still moving at the budget: $prev%.4f -> $fin%.4f (seed $seed%.4f)")
  }

  test("kmeansFit degrades deterministically when the corpus has fewer vectors than K") {
    import spark.implicits._
    // 4 vectors, K = 10: the hash-order seed sample yields 4 cells;
    // training and assignment stay total and deterministic — the guard
    // for tiny corpora/partitions, not an error path
    val emb = (0 until 4).map { i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j + 1).toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansFit(emb)
    assert(cents.count() == 4, "expected one cell per available seed")
    val res = Similarity.semanticDedupOf(emb, cents).collect()
    assert(res.length == 4, "assignment must stay total")
    assert(res.map(_.getAs[Long]("vec_id")).distinct.length == 4)
  }

  test("Similarity.invalidate: an in-place corpus rewrite serves fresh assignments") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftseminv")
    val dir = root.resolve("corpus").toString
    def writeEmb(seed: Int): Unit =
      (0 until 20).map { i =>
        (i.toLong, Array.tabulate(8)(j => (seed + i * 8 + j).toFloat / 100f), i % 2)
      }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeEmb(0)
    val before = Similarity.sharedAssignments(spark, dir)
      .select($"vec_id", $"cscore").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    writeEmb(1000) // rewrite IN PLACE — the contract violation invalidate exists for
    // by contract the shared view still serves the OLD bytes (that is
    // exactly why invalidate must exist)
    val stale = Similarity.sharedAssignments(spark, dir)
      .select($"vec_id", $"cscore").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stale == before, "shared view unexpectedly re-read the rewritten corpus")
    // Tables.invalidate is the one corpus-rewrite entry point — it must
    // drop the semantic assignment view too (ADVICE r6)
    Tables.invalidate(spark, dir)
    val after = Similarity.sharedAssignments(spark, dir)
      .select($"vec_id", $"cscore").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after != before, "post-invalidate assignments still reflect the old bytes")
  }

  test("assignment views of distinct dirs that sanitize identically do not collide") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftsemcol")
    // sf0.1 and sf0_1 both sanitize to sf0_1 — the md5 disambiguator in
    // the view name must keep them apart (ADVICE r6)
    val dirA = root.resolve("sf0.1").toString
    val dirB = root.resolve("sf0_1").toString
    def writeEmb(dir: String, off: Int): Unit =
      (0 until 10).map { i =>
        (i.toLong, Array.tabulate(4)(j => (i * 4 + j + 1 + off).toFloat), i % 2)
      }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // cosine is scale-invariant, so differ by an additive offset
    writeEmb(dirA, 0)
    writeEmb(dirB, 37)
    val a = Similarity.sharedAssignments(spark, dirA)
      .select($"vec_id", $"cscore").collect().map(_.getDouble(1)).toSeq
    val b = Similarity.sharedAssignments(spark, dirB)
      .select($"vec_id", $"cscore").collect().map(_.getDouble(1)).toSeq
    assert(a != b, "colliding view names served one corpus's assignments for the other")
    Tables.invalidate(spark, dirA)
    Tables.invalidate(spark, dirB)
  }

  test("semantic_incremental screens every batch vector against the corpus slice only") {
    import spark.implicits._
    val res = Similarity.semanticIncremental(spark, sfDir).collect()
    val expected = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" % 5 === 0).count()
    assert(res.length == expected, "one verdict per batch vector")
    res.foreach { r =>
      assert(r.getAs[Boolean]("is_dup") == (r.getAs[Long]("n_dups") > 0))
    }
    val flagged = res.count(_.getAs[Boolean]("is_dup"))
    info(s"semantic_incremental: $flagged of ${res.length} batch vectors " +
      s"have a corpus-side semantic duplicate")
    assert(flagged > 0, "fixture batch should hit corpus duplicates")
    assert(flagged < res.length, "must not flag everything")
  }

  test("semantic_pairs: bars respected, both classes mined, canonical order") {
    val rows = Similarity.semanticPairs(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, cos, t) =
        (r.getLong(0), r.getLong(1), r.getDouble(3), r.getString(4))
      assert(a < b)
      if (t == "positive") assert(cos >= Similarity.SemanticBar)
      else { assert(t == "hard_negative"); assert(cos < Similarity.SemHardNegHi) }
    }
    val types = rows.map(_.getString(4)).toSet
    assert(types == Set("positive", "hard_negative"),
      s"fixture must mine both classes, got $types")
  }

  test("matryoshka and hamming two-stage ANN recover most of the brute-force top-10") {
    val truth = Similarity.annTopK(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val mrl = Similarity.annMatryoshka(spark, sfDir).collect()
    val ham = Similarity.annHamming(spark, sfDir).collect()
    assert(mrl.length == 10 && ham.length == 10)
    // scores descend; emitted score is the full-dim cosine in both
    Seq(mrl.map(_.getDouble(2)), ham.map(_.getDouble(3))).foreach { s =>
      assert(s.sameElements(s.sortBy(-(_: Double))))
    }
    ham.foreach { r =>
      val h = r.getInt(2)
      assert(h >= 0 && h <= 64, s"hamming distance out of range: $h")
    }
    val mrlRecall = mrl.map(_.getLong(0)).count(truth) / 10.0
    val hamRecall = ham.map(_.getLong(0)).count(truth) / 10.0
    info(f"recall@10 vs brute force: matryoshka $mrlRecall%.1f, hamming $hamRecall%.1f")
    assert(mrlRecall >= 0.5 && hamRecall >= 0.5,
      s"coarse stages must recover most of the true top-10: $mrlRecall / $hamRecall")
  }

  test("density_sample flattens over-dense clusters and keeps sparse ones whole") {
    import spark.implicits._
    // one dense cluster (200 members), one at the cap (32), one sparse (5)
    val assign = ((0L until 200L).map(i => (i, 0)) ++
      (200L until 232L).map(i => (i, 1)) ++
      (232L until 237L).map(i => (i, 2))).toDF("vec_id", "cluster")
    val kept = Similarity.densitySampleOf(assign).collect()
    val byCluster = kept.groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    // clusters at or under the cap keep EVERY member (rate 1.0)
    assert(byCluster.getOrElse(1, 0) == 32, "cap-sized cluster kept whole")
    assert(byCluster.getOrElse(2, 0) == 5, "sparse cluster kept whole")
    // the dense cluster downsamples to ~Cap expected survivors
    val dense = byCluster.getOrElse(0, 0)
    info(s"dense cluster: $dense of 200 kept (expectation ${Similarity.DensityCap})")
    assert(dense < 200 / 2, "dense cluster must be heavily downsampled")
    assert(dense > 0, "but not emptied")
    // rates emitted are the acceptance probabilities
    kept.filter(_.getInt(1) == 0).foreach { r =>
      assert(math.abs(r.getDouble(2) - Similarity.DensityCap / 200.0) < 1e-12)
    }
    // deterministic: same input, same sample
    val again = Similarity.densitySampleOf(assign).collect()
    assert(again.map(_.getLong(0)).toSeq == kept.map(_.getLong(0)).toSeq)
  }
}
