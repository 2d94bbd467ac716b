package graft

import graft.ops.{Pq, Similarity}
import org.apache.spark.sql.functions.lit

/** Product-quantization quality beyond the oracle's exact-value checks:
  * the trained budget is justified by a measured reconstruction-error
  * trajectory, and the two-stage rerank provably recovers the fp32
  * ranking of the probed lists from [[Pq.PqM]]-byte codes. */
class PqSpec extends SparkSpec {

  test("pq sweep: reconstruction error descends and has settled by the fixed budget") {
    val emb = Tables.embeddings(spark, sfDir)
    val traj = (0 to Pq.PqIters)
      .map(i => i -> Pq.pqObjectiveAt(emb, i))
    info("mean subvector sq reconstruction error by sweep: " +
      traj.map { case (i, o) => f"$i:$o%.5f" }.mkString(", "))
    val (seed, fin) = (traj.head._2, traj.last._2)
    assert(fin < seed, f"training never improved the seed ($seed%.5f -> $fin%.5f)")
    // fixed budget justified by convergence: the last sweep moves the
    // error by < 5% of the total training gain (the kmeans convention)
    val prev = traj(Pq.PqIters - 1)._2
    assert(math.abs(fin - prev) < 0.05 * (seed - fin),
      f"error still moving at the budget: $prev%.5f -> $fin%.5f (seed $seed%.5f)")
  }

  test("pq codebooks have the full M x Ks x subdim shape") {
    val rows = Pq.pqCodebooks(spark, sfDir)
    assert(rows.count() == Pq.PqM.toLong * Pq.PqKs * Pq.PqSubDim,
      "every (sub, cluster, pos) cell must be populated")
    val bySub = rows.groupBy("sub").count().collect()
    assert(bySub.length == Pq.PqM)
    assert(bySub.forall(_.getLong(1) == Pq.PqKs.toLong * Pq.PqSubDim))
  }

  test("ann_ivf_pq recall@5 vs the fp32 probed ranking is measured and bounded") {
    // fp32 exact scoring over the SAME probed lists (annIvf) is the
    // apples-to-apples ground truth: the delta isolates what the
    // PqM-byte codes cost, not what the coarse probe costs.
    val truth = Similarity.annIvf(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val adc = Pq.annIvfPq(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = truth.intersect(adc).size / 5.0
    info(f"ann_ivf_pq recall@5 vs fp32-on-probed-lists = $recall%.2f " +
      f"(${Pq.PqM} bytes/vector vs 256)")
    // ADC's job is the SHORTLIST, not the final ranking: quantization
    // noise scrambles the fixture's weak cosine gaps (rank-1 sits at
    // 0.33, rank-50 at 0.08), so raw ADC top-5 recall is low — the
    // rerank test below pins that the top-PqRerankC shortlist contains
    // the whole fp32 top-5, which is the property two-stage PQ serves
    // on. Measured: 0.2 at M=16, Ks=16.
    assert(recall >= 0.2, f"ADC recall@5 $recall%.2f below the measured bound")
  }

  test("nprobe sweep: ADC and rerank recall@5 vs global fp32 truth, pinned per radius") {
    // the IVF recall knob measured on the PQ path: sweep the probe
    // radius from single-list to all-lists and record what the ADC
    // shortlist alone and the two-stage serve each recover of the
    // GLOBAL brute-force fp32 top-5 (not just the probed lists) — the
    // curve an operator tunes nprobe against.
    val truth = Similarity.annTopK(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val curve = (0 to Similarity.NumPlanes).map { r =>
      val adc = Pq.annIvfPqAt(spark, sfDir, r)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val rr = Pq.annPqRerankAt(spark, sfDir, r)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (r, truth.intersect(adc).size / 5.0, truth.intersect(rr).size / 5.0)
    }
    info("radius -> (ADC recall@5, rerank recall@5) vs global fp32: " +
      curve.map { case (r, a, rr) => f"$r:($a%.2f,$rr%.2f)" }.mkString(", "))
    // measured, not assumed: raw ADC top-5 recall is NOT monotone in
    // nprobe (0.40 at radius 0 -> 0.20 at radius 1 on the fixture) —
    // every probed list adds quantization-noise competitors that crowd
    // the weak true neighbors out of a codes-only top-5. The SERVED
    // (reranked) path is what must grow with nprobe: the wider probe
    // only ever adds candidates the fp32 refine stage scores exactly.
    assert(curve.sliding(2).forall { case Seq((_, _, r1), (_, _, r2)) =>
      r2 >= r1 },
      s"served recall must be monotone in the probe radius: $curve")
    // the serving bar: some nprobe reaches >= 0.8 on the SERVED
    // (reranked) path...
    val servedOk = curve.find(_._3 >= 0.8).map(_._1)
    assert(servedOk.nonEmpty, s"no radius reaches served recall 0.8: $curve")
    // ...and at that radius the refine stage is still fp32-EXACT on the
    // probed lists (quantization never degrades what was probed)
    val r8 = servedOk.get
    val probedTruth = Similarity.annIvfAt(spark, sfDir, r8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val reranked = Pq.annPqRerankAt(spark, sfDir, r8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(reranked == probedTruth,
      s"radius-$r8 rerank $reranked diverged from fp32 probed ranking $probedTruth")
  }

  test("multi-probe serving: searchPqIndexAt derives the probe ball driver-side") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpqmp")
    val idx = root.resolve("pqindex").toString
    Pq.persistPqIndex(spark, sfDir, idx)
    val emb = Tables.embeddings(spark, sfDir)
    val q0 = emb.filter($"vec_id" === 0)
      .select($"embedding", Similarity.lshBucket($"embedding").as("b")).head()
    val query = q0.getAs[Seq[Float]]("embedding").toArray
    // the driver-side bucket replays lshBucket's fold bit-for-bit
    assert(Similarity.bucketOf(query) == q0.getAs[Long]("b"))
    // radius-form search == explicit-probe-set search, any radius
    (0 to Similarity.NumPlanes).foreach { r =>
      val viaRadius = Pq.searchPqIndexAt(spark, idx, query, r, k = 6)
        .collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
      val viaSet = Pq.searchPqIndex(spark, idx, query,
        Similarity.probeSet(q0.getAs[Long]("b"), r), k = 6)
        .collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
      assert(viaRadius == viaSet, s"radius $r: $viaRadius != $viaSet")
    }
  }

  test("ann_pq_rerank recovers the fp32 probed top-5 exactly") {
    val truth = Similarity.annIvf(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val reranked = Pq.annPqRerank(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // The refine stage scores PqRerankC candidates at fp32, so ranking
    // equality holds whenever ADC's top-C contains the true top-5 —
    // the property that makes two-stage PQ serve exact-quality results
    // from codes; measured, not assumed.
    assert(reranked == truth,
      s"rerank $reranked diverged from fp32 probed ranking $truth")
  }

  test("persisted IVF-PQ index serves the registered query's results exactly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpqidx")
    val idx = root.resolve("pqindex").toString
    Pq.persistPqIndex(spark, sfDir, idx)
    val emb = Tables.embeddings(spark, sfDir)
    val q0 = emb.filter($"vec_id" === 0)
      .select($"embedding", Similarity.lshBucket($"embedding").as("b")).head()
    val query = q0.getAs[Seq[Float]]("embedding").toArray
    val qb = q0.getAs[Long]("b")
    val probes = (0L until (1L << Similarity.NumPlanes))
      .filter(b => java.lang.Long.bitCount(b ^ qb) <= Similarity.ProbeRadius)
    val served = Pq.searchPqIndex(spark, idx, query, probes, k = 6)
    // the probed partitions are the only ones read — partition pruning
    // in the plan, the searchIndex contract
    val scan = served.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"expected pruned scan in:\n$scan")
    // the index stores the whole corpus including the query vector
    // (vec 0) while the registered query excludes it — search one
    // deeper, drop vec 0, and the top-5 must match ann_ivf_pq
    // bit-for-bit (same codes, same driver-side LUT arithmetic)
    val want = Pq.annIvfPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val got = served.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .filterNot(_._1 == 0L).take(5).toSeq
    assert(got == want, s"served ranking diverged:\n$got\nvs\n$want")
    // and physical: actual bytes read off the index stay under a full
    // scan's — the unprobed partitions are never opened (the
    // searchIndex measurement, applied to the PQ layout)
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
      Pq.searchPqIndex(spark, idx, query, probes, k = 6).collect()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val b1 = bytesRead.get()
      spark.read.parquet(idx).queryExecution.toRdd.foreach(_ => ())
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      (b1 - b0, bytesRead.get() - b1)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(f"pq index bytes read: pruned $prunedBytes%,d vs full $fullBytes%,d")
    assert(prunedBytes < fullBytes * 3 / 4,
      s"pruned search read $prunedBytes bytes, full scan $fullBytes — no physical pruning")
  }

  test("index append: arrivals encode under the persisted codebooks and are served") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpqapp")
    val idx = root.resolve("pqindex").toString
    Pq.persistPqIndex(spark, sfDir, idx)
    val emb = Tables.embeddings(spark, sfDir)
    // append a twin of vec 7 under a fresh id: the persisted quantizer
    // must give it exactly vec 7's codes (quantizer identity — the
    // _codebooks contract), and a probe of its bucket must return it
    val twinSrc = emb.filter($"vec_id" === 7)
    val batch = twinSrc.select(lit(900001L).as("vec_id"), $"embedding", $"label")
    Pq.appendToPqIndex(spark, idx, batch)
    val stored = spark.read.parquet(idx)
    val codesOf = stored.filter($"vec_id".isin(7L, 900001L))
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(codesOf(900001L) == codesOf(7L),
      "identical vectors must encode to identical codes under the persisted codebooks")
    val tb = twinSrc.select(Similarity.lshBucket($"embedding")).head().getLong(0)
    val q7 = twinSrc.head().getAs[Seq[Float]]("embedding").toArray
    val hits = Pq.searchPqIndex(spark, idx, q7, Seq(tb), k = 4)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(900001L), s"appended twin not served from its cell: $hits")
  }

  test("ADC scores agree with an independent full-vector reconstruction") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpqrec")
    val idx = root.resolve("pqindex").toString
    Pq.persistPqIndex(spark, sfDir, idx)
    val books = Pq.loadCodebooks(spark, idx).collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cluster")) ->
        r.getSeq[Float](2).toArray).toMap
    val emb = Tables.embeddings(spark, sfDir)
    val query = emb.filter($"vec_id" === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    def flatDot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qn2 = flatDot(query, query)
    // for every served row: rebuild x-hat by concatenating its
    // codewords and recompute the cosine with a FLAT fold — a
    // different association order than the per-subspace partial sums,
    // so agreement is an independent confirmation that the ADC score
    // is the cosine of the query with the reconstruction
    val served = Pq.annIvfPq(spark, sfDir).collect()
    val codesOf = spark.read.parquet(idx)
      .filter($"vec_id".isin(served.map(_.getLong(0)): _*))
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    served.foreach { r =>
      val codes = codesOf(r.getLong(0))
      val xhat = (0 until Pq.PqM).flatMap(m => books((m, codes(m)))).toArray
      val want = flatDot(query, xhat) / math.sqrt(flatDot(xhat, xhat) * qn2)
      val got = r.getDouble(2)
      assert(math.abs(got - want) < 1e-12,
        s"vec ${r.getLong(0)}: ADC $got vs reconstruction $want")
    }
  }

  test("pq views invalidate with the corpus (Dedup.invalidate contract)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpqinv")
    val dir = root.resolve("corpus").toString
    def writeEmb(seed: Int): Unit =
      (0 until 20).map { i =>
        (i.toLong,
          Array.tabulate(64)(j => ((i * 64 + j) % 7 + seed).toFloat),
          i % 3)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeEmb(1)
    val first = Pq.pqCodebooks(spark, dir).collect()
    writeEmb(5)
    graft.Tables.invalidate(spark, dir)
    val second = Pq.pqCodebooks(spark, dir).collect()
    assert(!first.sameElements(second),
      "rewritten corpus must retrain the codebooks, not serve the stale view")
  }
}
