package graft

import graft.streaming.IngestPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming assembly (SURVEY §7.2.4): MemoryStream-driven pipeline
  * with validate/DLQ split, idempotent keyed sink, checkpointing, and
  * watermarked dedup — the reference's dataflow semantics (at-least-once
  * + idempotent doc id ⇒ effectively once). */
class StreamingSpec extends SparkSpec {

  private def json(uuid: String, id: String = "i1", ms: Long = 1700000000000L): String =
    s"""{"identifier":"$id","name":"n","uuid":"$uuid","type":"t","ingestion_time":$ms,
       |"tags":[{"type":"k","value":"v"}]}""".stripMargin.replace("\n", "")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("pipeline splits valid records from DLQ and indexes by uuid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val (indexDir, dlqDir, ckDir) = (tmp("idx"), tmp("dlq"), tmp("ck"))

    mem.addData(json("u1"), json("u2"), "not json at all", json("u1"), """{"half":true}""")
    val q = IngestPipeline.start(spark, mem.toDF(), indexDir, dlqDir, ckDir)
    q.awaitTermination(60000)

    val idx = spark.read.parquet(indexDir)
    assert(idx.select("uuid").distinct().count() == 2) // u1 deduped in-batch
    assert(idx.count() == 2)
    assert(idx.columns.contains("persist_date"), "daily partition column missing")
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() == 2) // both malformed payloads routed to DLQ

    // observed metrics (≈ reference Prometheus counters) summed per batch
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest_metrics")))
    assert(metrics.nonEmpty, "no observed metrics reported")
    assert(metrics.map(_.getAs[Long]("n_received")).sum == 5)
    assert(metrics.map(_.getAs[Long]("n_valid")).sum == 3)
    assert(metrics.map(_.getAs[Long]("n_dlq")).sum == 2)
  }

  test("replayed records do not duplicate survivors (at-least-once + keyed sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val (indexDir, dlqDir, ckDir) = (tmp("idx2"), tmp("dlq2"), tmp("ck2"))

    mem.addData(json("u1", ms = 1700000000000L))
    IngestPipeline.start(spark, mem.toDF(), indexDir, dlqDir, ckDir).awaitTermination(60000)
    // second delivery of the same uuid (a Pulsar redelivery): lands as a
    // second physical row; last-writer-wins read resolves to one record
    mem.addData(json("u1", ms = 1700000005000L))
    IngestPipeline.start(spark, mem.toDF(), indexDir, dlqDir, ckDir).awaitTermination(60000)

    val idx = spark.read.parquet(indexDir)
    assert(idx.count() == 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"uuid").orderBy($"ingestion_time".desc)
    val resolved = idx.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    assert(resolved.count() == 1)
    assert(resolved.head().getAs[java.sql.Timestamp]("ingestion_time").getTime == 1700000005000L)
  }

  test("replaying the same epoch rewrites its partitions — physical no-dup") {
    import spark.implicits._
    val (indexDir, dlqDir) = (tmp("idx3"), tmp("dlq3"))
    val batch = IngestPipeline.parse(
      Seq(json("r1"), json("r2"), "garbage").toDF("value"))
    IngestPipeline.writeBatch(batch, 7L, indexDir, dlqDir)
    val once = spark.read.parquet(indexDir).count()
    // at-least-once replay of epoch 7 (e.g. commit-log loss after write):
    // dynamic partition overwrite rewrites (persist_date, epoch_id=7)
    IngestPipeline.writeBatch(batch, 7L, indexDir, dlqDir)
    assert(spark.read.parquet(indexDir).count() == once,
      "replayed epoch appended instead of rewriting")
    assert(once == 2)
    assert(spark.read.parquet(dlqDir).count() == 1, "DLQ replay duplicated")
    // a NEW epoch with different content appends (different partition)
    IngestPipeline.writeBatch(
      IngestPipeline.parse(Seq(json("r3")).toDF("value")), 8L, indexDir, dlqDir)
    assert(spark.read.parquet(indexDir).count() == 3)
  }

  test("event-time outliers are quarantined to the DLQ, not stale partitions") {
    import spark.implicits._
    val (indexDir, dlqDir) = (tmp("qidx"), tmp("qdlq"))
    val now = System.currentTimeMillis()
    val batch = IngestPipeline.parse(Seq(
      json("fresh1", ms = now),
      json("old1", ms = 0L), // epoch-0 default — the classic bogus clock
      json("future1", ms = now + 400L * 24 * 3600 * 1000), // > maxFutureDays ahead
      "garbage").toDF("value"))
    IngestPipeline.writeBatch(batch, 1L, indexDir, dlqDir)
    // only the fresh record reaches the index — outliers would land in
    // persist_date partitions the date-pinned alias view never serves
    val idx = spark.read.parquet(indexDir)
    assert(idx.count() == 1 && idx.head().getAs[String]("uuid") == "fresh1")
    // outliers are auditable in the DLQ with their routing reason
    val dlq = spark.read.parquet(dlqDir)
    val reasons = dlq.groupBy($"reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons == Map("parse_failure" -> 1L, "event_time_outlier" -> 2L), reasons.toString)
  }

  test("one batch clock: a record at each freshness bound lands in exactly one sink") {
    import spark.implicits._
    val (indexDir, dlqDir) = (tmp("bidx"), tmp("bdlq"))
    val now = java.time.Instant.parse("2026-03-01T12:00:00.123Z")
    val dayMs = 24L * 3600 * 1000
    val bounds = Seq(
      "past" -> (now.toEpochMilli - IngestPipeline.MaxEventAgeDays * dayMs),
      "future" -> (now.toEpochMilli + IngestPipeline.MaxEventFutureDays * dayMs))
    // each bound itself and 1 ms either side of it
    val records = for ((name, b) <- bounds; d <- Seq(-1L, 0L, 1L)) yield s"$name$d" -> (b + d)
    val batch = IngestPipeline.parse(
      records.map { case (u, ms) => json(u, ms = ms) }.toDF("value"))
    IngestPipeline.writeBatch(batch, 3L, indexDir, dlqDir, now = now)
    val idx = spark.read.parquet(indexDir)
    val indexed = idx.select($"uuid").as[String].collect().toSeq
    val quarantined = spark.read.parquet(dlqDir)
      .select(get_json_object($"value", "$.uuid")).as[String].collect().toSeq
    assert((indexed ++ quarantined).sorted == records.map(_._1).sorted,
      s"indexed $indexed, quarantined $quarantined")
    assert(quarantined.toSet == Set("past-1", "future1"), quarantined.toString)
    // the index stamps the same clock the bounds were drawn from
    assert(idx.select($"persist_time").distinct().as[java.sql.Timestamp]
      .collect().map(_.toInstant).toSeq == Seq(now))
  }

  test("epochs after the first compile no generated code") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val (indexDir, dlqDir) = (tmp("cgidx"), tmp("cgdlq"))
    val now = System.currentTimeMillis()
    def batch(e: Int) = IngestPipeline.parse(Seq(json(s"cg$e-a", ms = now),
      json(s"cg$e-b", ms = now), json(s"cg$e-old", ms = 0L), "garbage").toDF("value"))
    IngestPipeline.writeBatch(batch(1), 1L, indexDir, dlqDir)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    IngestPipeline.writeBatch(batch(2), 2L, indexDir, dlqDir)
    IngestPipeline.writeBatch(batch(3), 3L, indexDir, dlqDir)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0,
      "a later epoch compiled generated code: a per-epoch value was inlined")
    assert(spark.read.parquet(indexDir).count() == 6)
    assert(spark.read.parquet(dlqDir).count() == 6)
  }

  test("a failed sink write fails the epoch after every write ended; the replay leaves one copy") {
    import spark.implicits._
    val indexDir = tmp("fpidx")
    // a regular file where the DLQ root should be
    val badDlq = Files.createTempFile("fpdlq", ".file").toString
    val batch = IngestPipeline.parse(Seq(json("fp1"), json("fp2"), "garbage").toDF("value"))
    val sc = spark.sparkContext
    val e = intercept[Exception] {
      IngestPipeline.writeBatch(batch, 5L, indexDir, badDlq)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(String.valueOf(_)).mkString(" <- ")
    assert(chain.contains(badDlq), chain)
    org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"write jobs still running after writeBatch threw: ${sc.statusTracker.getActiveJobIds.toSeq}")
    IngestPipeline.writeBatch(batch, 5L, indexDir, tmp("fpdlq"))
    val idx = spark.read.parquet(indexDir)
    assert(idx.count() == 2 && idx.select($"uuid").distinct().count() == 2)
  }

  test("health reports a crashed stream via the termination listener") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.Health.clearFailures(spark)
    // install at boot, before the stream starts — a listener added after
    // termination misses the event (the reference wires probes in main)
    graft.streaming.Health.install(spark)
    val mem = MemoryStream[String]
    mem.addData(json("hboom"))
    val explodingSink = new graft.streaming.Sink {
      override def write(b: org.apache.spark.sql.DataFrame, e: Long): Unit =
        throw new RuntimeException("sink exploded")
    }
    val q = IngestPipeline.startWith(spark,
      graft.streaming.FrameSource(mem.toDF()), explodingSink, tmp("hfck"))
    intercept[Exception] { q.awaitTermination(60000) }
    // termination events are delivered async; poll briefly
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var s = graft.streaming.Health.status(spark)
    while (s.status == "ok" && System.nanoTime() < deadline) {
      Thread.sleep(100); s = graft.streaming.Health.status(spark)
    }
    assert(s.status == "error", "crashed stream not surfaced")
    assert(s.lastError.contains("sink exploded"), s.lastError)
    // a supervised RESTART recovers status to ok (like the reference's
    // live probes); lastError stays visible as the sticky info field
    val mem2 = MemoryStream[String]
    mem2.addData(json("hok"))
    val q2 = IngestPipeline.start(spark, mem2.toDF(),
      tmp("hidx2"), tmp("hdlq2"), tmp("hck2"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      q2.processAllAvailable()
      var s2 = graft.streaming.Health.status(spark)
      val dl2 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (s2.status == "error" && System.nanoTime() < dl2) {
        Thread.sleep(100); s2 = graft.streaming.Health.status(spark)
      }
      assert(s2.status == "ok", "restart did not recover health status")
      assert(s2.lastError.contains("sink exploded"), "sticky lastError lost")
    } finally q2.stop()
    graft.streaming.Health.clearFailures(spark)
  }

  test("health HTTP endpoint answers 200 when live and 500 after a crash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.Health.clearFailures(spark)
    val server = graft.streaming.HealthServer.start(spark, 0) // ephemeral port
    try {
      val port = graft.streaming.HealthServer.boundPort(server)
      def get(path: String): (Int, String) = {
        val c = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("GET")
        val code = c.getResponseCode
        // CORS parity with the reference's cors.AllowAll mux (main.go:90)
        assert(c.getHeaderField("Access-Control-Allow-Origin") == "*",
          s"missing CORS header on $path")
        val is = if (code >= 400) c.getErrorStream else c.getInputStream
        val body = try scala.io.Source.fromInputStream(is).mkString finally is.close()
        c.disconnect()
        (code, body)
      }
      // live stream → 200 + the HealthStatus JSON on both endpoints
      val mem = MemoryStream[String]
      mem.addData(json("hs1"))
      val q = IngestPipeline.start(spark, mem.toDF(),
        tmp("hsidx"), tmp("hsdlq"), tmp("hsck"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      try {
        q.processAllAvailable()
        val (c1, b1) = get("/health")
        assert(c1 == 200 && b1.contains("\"status\":\"ok\""), s"$c1 $b1")
        assert(b1.contains("\"sparkVersion\""), b1)
        assert(get("/ready")._1 == 200)
      } finally q.stop()
      // crashed stream → 500 with the error in the body (reference
      // main.go:366-380 returns 500 + the encoded status on probe failure)
      val mem2 = MemoryStream[String]
      mem2.addData(json("hs2"))
      val boom = new graft.streaming.Sink {
        override def write(b: org.apache.spark.sql.DataFrame, e: Long): Unit =
          throw new RuntimeException("http sink exploded")
      }
      val q2 = IngestPipeline.startWith(spark,
        graft.streaming.FrameSource(mem2.toDF()), boom, tmp("hsck2"))
      intercept[Exception] { q2.awaitTermination(60000) }
      // termination events are delivered async; poll the endpoint itself
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var r = get("/health")
      while (r._1 == 200 && System.nanoTime() < deadline) {
        Thread.sleep(100); r = get("/health")
      }
      assert(r._1 == 500, s"expected 500, got ${r._1}: ${r._2}")
      assert(r._2.contains("http sink exploded"), r._2)
    } finally { server.stop(0); graft.streaming.Health.clearFailures(spark) }
  }

  test("metrics endpoint serves Prometheus exposition counters for a live stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.Health.clearFailures(spark)
    val server = graft.streaming.HealthServer.start(spark, 0)
    try {
      val port = graft.streaming.HealthServer.boundPort(server)
      def get(path: String): (Int, String, String) = {
        val c = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("GET")
        val code = c.getResponseCode
        assert(c.getHeaderField("Access-Control-Allow-Origin") == "*",
          s"missing CORS header on $path")
        val ct = Option(c.getContentType).getOrElse("")
        val is = if (code >= 400) c.getErrorStream else c.getInputStream
        val body = try scala.io.Source.fromInputStream(is).mkString finally is.close()
        c.disconnect()
        (code, body, ct)
      }
      val mem = MemoryStream[String]
      mem.addData(json("pm1"), "bad payload")
      val q = IngestPipeline.start(spark, mem.toDF(),
        tmp("pmidx"), tmp("pmdlq"), tmp("pmck"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      try {
        q.processAllAvailable()
        val (code, body, ct) = get("/metrics")
        assert(code == 200, s"$code $body")
        assert(ct.startsWith("text/plain"), ct)
        // exposition-format families: # HELP/# TYPE headers then samples
        assert(body.contains("# TYPE graft_up gauge"), body)
        assert(body.contains("graft_up 1"), body)
        assert(body.contains("# TYPE graft_active_streams gauge"), body)
        // the reference's message counters (metrics.go:9-41) ride the
        // stream's observed metrics: received/valid/dlq with stream
        // labels, each the last batch's value — a gauge
        assert(body.contains("# TYPE graft_observed_ingest_metrics_n_received gauge"), body)
        val received = body.linesIterator
          .find(l => l.startsWith("graft_observed_ingest_metrics_n_received{") &&
            l.contains(q.id.toString))
        assert(received.exists(_.endsWith(" 2")), s"received sample: $received\n$body")
        val dlq = body.linesIterator
          .find(l => l.startsWith("graft_observed_ingest_metrics_n_dlq{") &&
            l.contains(q.id.toString))
        assert(dlq.exists(_.endsWith(" 1")), s"dlq sample: $dlq\n$body")
        // the last batch's phase durations, one sample per phase
        assert(body.contains("# TYPE graft_stream_last_batch_duration_seconds gauge"), body)
        assert(body.linesIterator.exists(l =>
          l.startsWith("graft_stream_last_batch_duration_seconds{") &&
            l.contains(q.id.toString) && l.contains("phase=\"addBatch\"")), body)
      } finally q.stop()
      // with no active stream the page still serves (scrapes never 500 on
      // quiet systems); graft_up stays 1 because nothing failed
      val (code2, body2, _) = get("/metrics")
      assert(code2 == 200 && body2.contains("graft_active_streams 0"), body2)
    } finally { server.stop(0); graft.streaming.Health.clearFailures(spark) }
  }

  test("metrics endpoint counts each stream's ingest totals over its batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.Health.install(spark)
    val mem = MemoryStream[String]
    val q = IngestPipeline.start(spark, mem.toDF(),
      tmp("totidx"), tmp("totdlq"), tmp("totck"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      mem.addData(json("tot1"), json("tot2"), "bad payload")
      q.processAllAvailable()
      mem.addData(json("tot3"), "bad again", "and again")
      q.processAllAvailable()
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      val batches = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest_metrics")))
      assert(batches.size == 2, q.recentProgress.mkString("\n"))
      def sum(f: String): Long = batches.map(_.getAs[Long](f)).sum
      val mine = graft.streaming.Health.status(spark).info.find(_.id == q.id.toString).get
      assert(mine.totals.contains(graft.streaming.Health.IngestTotals(6L, 3L, 3L)), mine)
      assert((sum("n_received"), sum("n_valid"), sum("n_dlq")) == ((6L, 3L, 3L)))
      val body = graft.streaming.Health.prometheusText(spark)
      for ((name, v) <- Seq("received" -> 6, "valid" -> 3, "dlq" -> 3)) {
        val family = s"graft_stream_${name}_total"
        assert(body.contains(s"# TYPE $family counter"), body)
        val sample = body.linesIterator.find(l => l.startsWith(s"$family{") && l.contains(q.id.toString))
        assert(sample.exists(_.endsWith(s" $v")), s"$family sample: $sample\n$body")
      }
    } finally q.stop()
  }

  test("health status mirrors the reference HealthStatus shape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.Health.clearFailures(spark)
    val mem = MemoryStream[String]
    mem.addData(json("h1"), "bad payload")
    val q = IngestPipeline.start(spark, mem.toDF(), tmp("hidx"), tmp("hdlq"), tmp("hck"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      val s = graft.streaming.Health.status(spark)
      assert(s.status == "ok")
      assert(s.numActiveStreams >= 1)
      assert(s.sparkVersion == spark.version)
      assert(s.lastError.isEmpty)
      val mine = s.info.find(_.id == q.id.toString).get
      assert(mine.isActive && mine.batchId >= 0)
      // observed metrics (≈ Prometheus counters) surface per stream
      assert(mine.observed.get("ingest_metrics.n_received").contains("2"))
      assert(mine.observed.get("ingest_metrics.n_dlq").contains("1"))
      val jsonOut = graft.streaming.Health.statusJson(spark)
      assert(jsonOut.contains("\"status\":\"ok\"") &&
        jsonOut.contains("\"ingest_metrics.n_received\":\"2\""))
    } finally q.stop()
    assert(graft.streaming.Health.status(spark).numActiveStreams == 0)
  }

  test("connector seam: FileSource -> ParquetIndexSink end-to-end") {
    import graft.streaming.{FileSource, ParquetIndexSink}
    val srcDir = tmp("src")
    val (indexDir, dlqDir, ckDir) = (tmp("fidx"), tmp("fdlq"), tmp("fck"))
    Files.writeString(java.nio.file.Path.of(srcDir, "payloads.txt"),
      Seq(json("f1"), json("f2"), "not json").mkString("\n"))
    val q = IngestPipeline.startWith(spark,
      FileSource(srcDir), ParquetIndexSink(indexDir, dlqDir), ckDir)
    q.awaitTermination(60000)
    assert(spark.read.parquet(indexDir).select("uuid").distinct().count() == 2)
    assert(spark.read.parquet(dlqDir).count() == 1)
  }

  test("a file-source trigger over more than 32 files lists them on the driver") {
    import graft.streaming.{FileSource, ParquetIndexSink}
    import spark.implicits._
    val srcDir = tmp("lsrc")
    val (indexDir, dlqDir, ckDir) = (tmp("lidx"), tmp("ldlq"), tmp("lck"))
    // 40 files (Spark lists more than 32 paths in a job by default); one
    // valid record each, and every fourth file adds a malformed one
    (0 until 40).foreach { i =>
      val lines = json(s"ls$i") +: (if (i % 4 == 0) Seq(s"garbage $i") else Nil)
      Files.writeString(java.nio.file.Path.of(srcDir, f"part-$i%02d.txt"),
        lines.mkString("\n"))
    }
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val threshold = spark.conf.get(key)
    val source = FileSource(srcDir)
    source.read(spark)
    assert(spark.conf.get(key) == threshold, "reading the source changed the caller's conf")
    val sc = spark.sparkContext
    val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files and directories"))
          .foreach(listings.add(_))
    }
    org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    val q = try {
      val q = IngestPipeline.startWith(spark, source, ParquetIndexSink(indexDir, dlqDir), ckDir)
      q.awaitTermination(60000)
      org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
      q
    } finally sc.removeSparkListener(listener)
    assert(listings.isEmpty, s"listing jobs ran: ${listings.toArray.mkString("; ")}")
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "expected one trigger")
    assert(spark.read.parquet(indexDir).select($"uuid").as[String].collect().toSet ==
      (0 until 40).map(i => s"ls$i").toSet)
    assert(spark.read.parquet(dlqDir).select($"value").as[String].collect().toSet ==
      (0 until 40 by 4).map(i => s"garbage $i").toSet)
    assert(spark.conf.get(key) == threshold)
  }

  test("dropDuplicatesWithinWatermark dedupes the stream with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(json("a"), json("a"), json("b"), json("a"))
    val out = tmp("dd")
    val q = IngestPipeline.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dd_out")
      .option("checkpointLocation", tmp("ddck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("dd_out").select("uuid").distinct().count() == 2)
    assert(spark.table("dd_out").count() == 2)
  }

  test("stream-static join enriches records with dimension attributes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(json("e1", id = "A"), json("e2", id = "C"))
    val dim = Seq(("A", "tier1"), ("B", "tier2")).toDF("identifier", "tier")
    val q = IngestPipeline.enrichStream(mem.toDF(), dim)
      .writeStream.format("memory").queryName("en_out")
      .option("checkpointLocation", tmp("enck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("en_out")
      .select($"uuid", $"tier").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out == Map("e1" -> Some("tier1"), "e2" -> None), s"got $out")
  }

  test("stream-stream join correlates records within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (memL, memR) = (MemoryStream[String], MemoryStream[String])
    val base = 1700000000000L
    memL.addData(json("l1", id = "A", ms = base), json("l2", id = "B", ms = base))
    memR.addData(
      json("r1", id = "A", ms = base + 30000),  // within 60 s -> joins
      json("r2", id = "B", ms = base + 120000), // outside bound -> no pair
      json("r3", id = "C", ms = base))          // no left partner
    val q = IngestPipeline.correlateStreams(memL.toDF(), memR.toDF())
      .writeStream.format("memory").queryName("ss_out")
      .option("checkpointLocation", tmp("ssck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val pairs = spark.table("ss_out")
      .select($"l_uuid", $"r_uuid").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("l1", "r1")), s"got $pairs")
  }

  test("streaming session windows gap-merge per identifier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val base = 1700000000000L
    val gapMs = 6L * 3600 * 1000
    // A: two events 1 min apart (one session) + one 7 h later (second
    // session); B: one event
    mem.addData(
      json("s1", id = "A", ms = base), json("s2", id = "A", ms = base + 60000),
      json("s3", id = "A", ms = base + gapMs + 3600000), json("s4", id = "B", ms = base))
    val q = IngestPipeline.sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sc_out")
      .outputMode("complete")
      .option("checkpointLocation", tmp("scck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("sc_out")
      .select($"identifier", $"count").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(out == Seq(("A", 1L), ("A", 2L), ("B", 1L)), s"got $out")
  }

  test("event-time windowed counts aggregate by window and type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val base = 1700000000000L
    mem.addData(json("w1", ms = base), json("w2", ms = base + 1000),
      json("w3", ms = base + 120000)) // 2 minutes later → second window
    val q = IngestPipeline.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("wcck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // append mode emits only watermark-closed windows; with AvailableNow
    // the final watermark closes the first window (base + 2 min > base +
    // 10 min delay is false) — so assert on the state via complete rerun
    val counts = spark.table("wc_out")
    assert(counts.columns.toSet == Set("window", "type", "count"))
  }
}
