package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import graft.streaming.{Boot, BootConfig, FileSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** `ingest`: the reference's own job through the production assembly
  * `Boot.start`: a file-source topic, the as-fast-as-possible trigger,
  * batches capped at 1000 records. One generator thread writes seeded
  * JSON payloads, one reader thread polls the boot alias until each
  * record is visible.
  *
  * Phases: warm-up waves (set-up), a drain of a pre-written backlog
  * (capacity), then an open loop at a fixed rate (latency). */
object IngestWorkload {
  val MaxBatch = 1000
  /** Records per topic file. The file source caps a trigger by files, so
    * MaxBatch / RecordsPerFile files cap a batch at MaxBatch records. */
  val RecordsPerFile = 10
  /** Warm-up waves: a small first batch (the report's first-batch time),
    * then one full batch, so the drain that follows runs on warmed code. */
  val WarmWaves: Seq[Int] = Seq(300, MaxBatch)
  val Backlog = 4000
  /** Open-loop rate: the reference's per-replica ceiling of 200 docs/s
    * (1000 docs per 5 s window), below this engine's drain capacity on a
    * 4-core host, so the backlog stays bounded and latency does not grow
    * with run length. */
  val Rate = 200
  val Alias = "events"
  val PollPauseMs = 100L
  /** A traced run runs the open loop for twice its seconds, in four
    * phases: untraced (listeners detached), traced, traced, untraced. The
    * tracing overhead is the traced phases' latency against the untraced
    * ones', and the symmetric order cancels a drift over the run. The
    * records due in the last GuardS seconds of a phase are left out of
    * the comparison, as they may be served in the next phase. */
  val Phases: Seq[Boolean] = Seq(false, true, true, false)
  val GuardS = 1.0

  /** The engine's boot plus the benchmark's generator and reader around
    * it, over one directory tree. */
  private final class Rig(ctx: Ctx, spark: SparkSession, dir: Path, seed: Long) {
    Host.deleteTree(dir)
    val topic = Files.createDirectories(dir.resolve("topic"))
    val stage = Files.createDirectories(dir.resolve("stage"))
    val index = dir.resolve("index").resolve(Alias)
    val dlq = dir.resolve("dlq")
    val gen = new Gen.IngestGen(seed)
    val t = ctx.tracer

    // generator-side truth
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    val writeNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val due = new ConcurrentHashMap[String, java.lang.Long]() // fresh uuid -> due ns
    val outliers = ConcurrentHashMap.newKeySet[String]()
    @volatile var malformed = 0L
    @volatile var dups = 0L
    // reader-side observations
    val seen = new ConcurrentHashMap[String, java.lang.Long]()
    val epochOf = new ConcurrentHashMap[String, java.lang.Long]()
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val scrapes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val app: Boot.RunningApp = Boot.start(spark,
      BootConfig(sourceDir = topic.toString, indexDir = index.toString,
        dlqDir = dlq.toString, checkpointDir = dir.resolve("checkpoint").toString,
        alias = Alias, port = 0, maxBatchSize = MaxBatch),
      source = Some(FileSource(topic.toString, MaxBatch / RecordsPerFile)),
      trigger = Some(Trigger.ProcessingTime(0L)))

    private var seq = 0L
    /** Generates the next file's records, due at `dues` (ns), and stages
      * the file. */
    def stageNext(dues: Seq[Long]): Path = {
      val lines = dues.map { d =>
        val r = gen.next(System.currentTimeMillis() + (d - System.nanoTime()) / 1000000L)
        r.kind match {
          case Gen.Fresh => due.put(r.uuid, d)
          case Gen.Outlier => outliers.add(r.uuid)
          case Gen.Malformed => malformed += 1
          case Gen.Dup => dups += 1
        }
        r.payload
      }
      seq += 1
      val p = stage.resolve(f"r$seq%09d.json")
      Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      p
    }
    def stageNow(): Path = stageNext(Seq.fill(RecordsPerFile)(System.nanoTime()))
    /** Publishes a staged file to the topic atomically. */
    def publish(p: Path): Unit = {
      Files.move(p, topic.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      written.addAndGet(RecordsPerFile)
      writeNs.add(System.nanoTime())
    }

    // ------------------------------------------------------------ reader
    private val stop = new AtomicBoolean(false)
    @volatile var lastEpoch = -1L
    private def poll(n: Long): Unit = {
      val op = s"probe-$n"
      t.traceOp(op)
      val p0 = System.nanoTime()
      val (rows, _) = t.span(spark, "streaming.probe_read", 0L, op) {
        spark.table(Alias).filter(col("epoch_id") > lastEpoch)
          .select("epoch_id", "uuid").collect()
      }
      val now = System.nanoTime()
      probes.add((now - p0) / 1e9)
      rows.foreach { r =>
        val u = r.getString(1)
        seen.putIfAbsent(u, now)
        epochOf.putIfAbsent(u, r.getLong(0))
        lastEpoch = math.max(lastEpoch, r.getLong(0))
      }
      if (n % 10 == 0) {
        val s0 = System.nanoTime()
        val (_, _) = t.span(spark, "health.scrape", 0L, op) {
          val c = new java.net.URL(s"http://127.0.0.1:${app.healthPort}/metrics")
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          try { c.getInputStream.readAllBytes(); c.getResponseCode }
          finally c.disconnect()
        }
        scrapes.add((System.nanoTime() - s0) / 1e9)
      }
    }
    private val reader = new Thread(() => {
      var n = 0L
      while (!stop.get()) {
        try poll(n)
        catch { case _: Exception => () } // a probe racing a re-point retries
        n += 1
        // think time between probes: a probe is a Spark job, and probing
        // back to back kept about one core of four busy beside the stream
        Thread.sleep(PollPauseMs)
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()

    /** Waits until every fresh record due so far is visible, or timeout. */
    def awaitVisible(uuids: Iterable[String], timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!uuids.forall(seen.containsKey) && System.nanoTime() < end) Thread.sleep(5)
      uuids.forall(seen.containsKey)
    }

    def committedRows: Long = progress.asScala.map(_.numInputRows).sum
    def awaitCommitted(rows: Long, timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (committedRows < rows && System.nanoTime() < end) Thread.sleep(5)
      committedRows >= rows
    }

    def close(): Unit = {
      stop.set(true)
      reader.join(30000)
      try app.stop() finally spark.streams.removeListener(listener)
    }
  }

  private def startNs(p: StreamingQueryProgress, t: Tracer): Long =
    t.nsOfMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
  private def endNs(p: StreamingQueryProgress, t: Tracer): Long =
    startNs(p, t) + (dur(p, "triggerExecution") * 1e9).toLong

  /** Drains `n` pre-staged records; returns docs/s from publication of
    * the backlog to the commit of the epoch that consumed its last row. */
  private def drain(rig: Rig, n: Int, t: Tracer): Double = {
    val base = rig.committedRows
    val staged = (0 until n / RecordsPerFile).map(_ => rig.stageNow())
    val d0 = System.nanoTime()
    staged.foreach(rig.publish)
    if (!rig.awaitCommitted(base + n, 120))
      throw new IllegalStateException(s"drain of $n records did not commit")
    var acc = 0L
    val last = rig.progress.asScala.toSeq.find { p => acc += p.numInputRows; acc >= base + n }.get
    n / ((endNs(last, t) - d0) / 1e9)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val t = ctx.tracer
    val spark = ctx.session(Host.nproc)
    t.traceEpochs()
    val rig = new Rig(ctx, spark, ctx.work.resolve("ingest"), ctx.seed)
    var coldS = 0.0
    WarmWaves.zipWithIndex.foreach { case (size, w) =>
      val w0 = System.nanoTime()
      val before = rig.due.keySet.asScala.toSet
      (0 until size / RecordsPerFile).foreach(_ => rig.publish(rig.stageNow()))
      val wave = rig.due.keySet.asScala.toSet -- before
      if (!rig.awaitVisible(wave, 120))
        throw new IllegalStateException(s"warm-up wave $w never became visible")
      if (w == 0) coldS = (System.nanoTime() - w0) / 1e9
    }
    val setupS = ctx.sinceStart()
    val gc0 = Host.gcSeconds()
    val nProgress0 = rig.progress.size

    val c0 = System.nanoTime()
    val capacity = drain(rig, Backlog, t)
    val drained = rig.due.keySet.asScala.toSet
    rig.awaitVisible(drained, 60)
    out.info("drain_phase_s") = f"${(System.nanoTime() - c0) / 1e9}%.3f"

    // open loop: record k is due at o0 + k / Rate, whatever the engine does
    val before = rig.due.keySet.asScala.toSet
    val phase = Rate * ctx.seconds / 2
    val total = if (t.on) Phases.size * phase else Rate * ctx.seconds
    var lateMax = 0.0
    val o0 = System.nanoTime() + 20000000L
    var k = 0
    // a file is published when its last record falls due
    while (k < total) {
      if (t.on && k % phase == 0) {
        val ph = k / phase
        if (ph == 0 || Phases(ph) != Phases(ph - 1)) {
          if (Phases(ph)) t.attach(spark) else t.detach(spark)
        }
      }
      val dues = (k until k + RecordsPerFile).map(j => o0 + (j.toLong * 1000000000L) / Rate)
      val f = rig.stageNext(dues)
      val d = dues.last
      val now = System.nanoTime()
      if (d > now) Thread.sleep((d - now) / 1000000L, ((d - now) % 1000000L).toInt)
      lateMax = math.max(lateMax, (System.nanoTime() - d) / 1e9)
      rig.publish(f)
      k += RecordsPerFile
    }
    val open = rig.due.keySet.asScala.toSet -- before
    val a0 = System.nanoTime()
    rig.awaitVisible(open, 60)
    if (t.on && !Phases.last) t.attach(spark)
    out.info("open_loop_tail_s") = f"${(System.nanoTime() - a0) / 1e9}%.3f"
    val progressAll = rig.progress.asScala.toSeq
    val gcS = Host.gcSeconds() - gc0

    val lat = open.toSeq.flatMap(u => Option(rig.seen.get(u))
      .map(v => (v - rig.due.get(u)) / 1e9))
    val expected = rig.due.keySet.asScala.toSet
    val visible = rig.seen.keySet.asScala.toSet
    val missing = expected -- visible
    out.attempted = expected.size.toLong
    out.failed = missing.size.toLong

    val k0 = System.nanoTime()
    // checks through the alias, the whole index (every persist_date:
    // the alias serves only today's, where an outlier would not land)
    // and the DLQ
    val readable = spark.table(Alias).select("uuid").collect().map(_.getString(0)).toSet
    val indexed = spark.read.parquet(rig.index.toString).select("uuid")
      .collect().map(_.getString(0))
    val indexedSet = indexed.toSet
    out.check("ingest.all_valid_readable", (expected -- readable).isEmpty,
      s"${(expected -- readable).size} valid uuids not readable through the alias")
    out.check("ingest.no_invalid_indexed", (indexedSet -- expected).isEmpty,
      s"${(indexedSet -- expected).size} uuids indexed that are not valid fresh records")
    out.check("ingest.no_outlier_indexed", rig.outliers.asScala.forall(u => !indexedSet.contains(u)),
      "an event-time outlier reached the index")
    val dlq = spark.read.parquet(rig.dlq.toString).groupBy("reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.check("ingest.dlq_parse_failure",
      dlq.getOrElse("parse_failure", 0L) == rig.malformed,
      s"dlq parse_failure=${dlq.getOrElse("parse_failure", 0L)}, injected ${rig.malformed}")
    out.check("ingest.dlq_event_time_outlier",
      dlq.getOrElse("event_time_outlier", 0L) == rig.outliers.size.toLong,
      s"dlq event_time_outlier=${dlq.getOrElse("event_time_outlier", 0L)}, injected ${rig.outliers.size}")

    out.info("checks_s") = f"${(System.nanoTime() - k0) / 1e9}%.3f"
    val idxBytes = Host.dirBytes(rig.index)
    val rss = Host.peakRssMb()
    val p50 = Stats.median(lat)
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("latency_p50_s") = (p50, "s")
    out.e2e("throughput_per_s") = (capacity, "1/s")
    out.named("setup_s") = (setupS, "s")
    out.named("failed_share") = (out.failed.toDouble / math.max(out.attempted, 1L), "ratio")
    out.named("peak_rss_mb") = (rss, "MB")
    out.named("index_bytes_per_doc") = (idxBytes.toDouble / math.max(indexedSet.size, 1), "B")
    out.named("ingest_capacity_docs_per_s") = (capacity, "docs/s")
    out.named("ingest_latency_p50_s") = (p50, "s")
    if (Stats.beyond(lat, 0.99) >= 10)
      out.named("ingest_latency_p99_s") = (Stats.quantile(lat, 0.99), "s")
    out.named("ingest_first_batch_s") = (coldS, "s")
    out.info("open_loop_records") = total.toString
    out.info("latency_samples") = lat.size.toString
    out.info("generator_late_max_s") = f"$lateMax%.4f"
    out.info("dups") = rig.dups.toString

    if (t.on) {
      t.drain(spark)
      val data = progressAll.drop(nProgress0).filter(_.numInputRows > 0)
      val openEpochs = data.filter(p => startNs(p, t) >= o0)
      def p50Of(k: String) = Stats.median(openEpochs.map(dur(_, k)))
      // epoch spans, phases laid end to end in the order the micro-batch
      // runs them, reconstructed from the progress timestamps
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets")
      data.foreach { p =>
        val op = Tracer.epochOp(p.batchId)
        if (t.isTraced(op)) {
          val eid = t.newId()
          val s0 = startNs(p, t)
          t.add(eid, 0L, "streaming.epoch", op, s0, endNs(p, t))
          var cur = s0
          phases.foreach { ph =>
            val id = t.newId()
            val e = cur + (dur(p, ph) * 1e9).toLong
            t.add(id, eid, s"streaming.$ph", op, cur, e)
            if (ph == "addBatch") t.opParent.put(op, id)
            cur = e
          }
        }
      }
      t.settle()
      val byBatch = data.map(p => p.batchId -> p).toMap
      val queueWait = open.toSeq.flatMap { u =>
        Option(rig.epochOf.get(u)).flatMap(e => byBatch.get(e.longValue))
          .map(p => (startNs(p, t) - rig.due.get(u)) / 1e9)
      }
      val writes = rig.writeNs.asScala.map(_.longValue).toArray.sorted
      var consumed = progressAll.take(nProgress0).map(_.numInputRows).sum
      val backlog = data.map { p =>
        val s = startNs(p, t)
        val w = java.util.Arrays.binarySearch(writes, s)
        val files = if (w >= 0) w + 1 else -w - 1
        val b = files - consumed / RecordsPerFile
        consumed += p.numInputRows
        b.toDouble
      }
      // open-loop latency in the traced phases against the untraced ones
      val phaseS = phase.toDouble / Rate
      val window = phaseS - math.min(GuardS, phaseS / 2)
      def latIn(traced: Boolean) = open.toSeq.flatMap { u =>
        val d = rig.due.get(u).longValue
        val at = (d - o0) / 1e9
        val ph = (at / phaseS).toInt
        if (ph < Phases.size && Phases(ph) == traced && at - ph * phaseS < window)
          Option(rig.seen.get(u)).map(v => (v - d) / 1e9)
        else None
      }
      val overhead = Stats.median(latIn(true)) / Stats.median(latIn(false)) - 1.0
      // Spark counters only for epochs the listeners saw whole
      val ops = data.filter(p => t.attachedThroughout(startNs(p, t), endNs(p, t)))
        .map(p => Tracer.epochOp(p.batchId))
      Layers.record(out, t, ops, data.map(dur(_, "getBatch")),
        data.map(dur(_, "queryPlanning")), data.map(dur(_, "addBatch")), gcS, overhead)
      out.named("streaming.addBatch_s_p50") = (p50Of("addBatch"), "s")
      out.named("streaming.addBatch_s_p99") =
        (Stats.quantile(openEpochs.map(dur(_, "addBatch")), 0.99), "s")
      Seq("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
        .foreach(k => out.named(s"streaming.${k}_s_p50") = (p50Of(k), "s"))
      out.named("streaming.queue_wait_s_p50") = (Stats.median(queueWait), "s")
      out.named("streaming.backlog_files_max") = (if (backlog.isEmpty) 0.0 else backlog.max, "count")
      out.named("streaming.rows_per_batch_p50") =
        (Stats.median(openEpochs.map(_.numInputRows.toDouble)), "count")
      out.named("streaming.indexed_rows") = (indexed.length.toDouble, "count")
      out.named("streaming.dlq_rows") = (dlq.values.sum.toDouble, "count")
      out.named("streaming.useful_share") =
        (indexedSet.size.toDouble / rig.written.get, "ratio")
      out.named("streaming.probe_read_s_p50") =
        (Stats.median(rig.probes.asScala.map(_.doubleValue).toSeq), "s")
      out.named("health.scrape_s_p50") =
        (Stats.median(rig.scrapes.asScala.map(_.doubleValue).toSeq), "s")
      out.named("spark.gc_s") = (gcS, "s")
      out.named("trace.overhead_share") = (overhead, "ratio")
      val path = ctx.work.resolve(s"spans-ingest-s${ctx.seed}.jsonl")
      val (residual, count) = t.write(path, _ == "streaming.epoch")
      out.named("trace.self_residual_s") = (residual, "s")
      out.info("spans") = count.toString
      out.info("span_file") = path.toString
    }
    val z0 = System.nanoTime()
    rig.close()
    spark.stop()
    out.info("stop_s") = f"${(System.nanoTime() - z0) / 1e9}%.3f"

    if (t.on) {
      // the same drain on one core: the single-thread baseline
      val one = ctx.session(1)
      val rig1 = new Rig(ctx, one, ctx.work.resolve("ingest-1core"), ctx.seed)
      try {
        (0 until WarmWaves.head / RecordsPerFile).foreach(_ => rig1.publish(rig1.stageNow()))
        rig1.awaitCommitted(WarmWaves.head, 120)
        out.named("streaming.capacity_1core_docs_per_s") =
          (drain(rig1, Backlog / 2, t), "docs/s")
      } finally { rig1.close(); one.stop() }
    }
    out
  }
}
