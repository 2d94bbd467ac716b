package graft.streaming

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The reference's health/readiness surface (reference main.go:327-364):
  * `GET /health` builds `HealthStatus{app, status, goVersion,
  * numRoutines, lastError, info}` from live probes of both connections
  * (pulsar.go:113-116 `TopicPartitions`, es.go:215-218 cluster `Info`),
  * returning HTTP 500 with the error when either probe fails
  * (main.go:366-380).
  *
  * The Spark equivalent of "are my connections alive and moving" is the
  * session's active StreamingQuery set plus each query's last progress
  * and exception — a driver utility, not a relational operator
  * (SURVEY §3.2). [[statusJson]] serializes the same shape for a
  * readiness endpoint to return verbatim; [[status]] is the typed form
  * for programmatic checks. Observed metrics (the Prometheus-counter
  * analogue, metrics.go:9-41) ride along per stream.
  */
object Health {

  // Terminated-with-exception queries VANISH from spark.streams.active,
  // so an installed listener is the only way a health probe can ever
  // see a crashed pipeline (the reference surfaces exactly this as
  // HTTP 500). State is keyed per session in WEAK maps: the listener is
  // registered on (and so retained by) its own session, and once a
  // session becomes unreachable its entries — and the listener cycle —
  // are collectable; session churn does not grow the maps forever.
  // Start/failure events are ordered by a strictly-monotonic sequence
  // number, NOT wall-clock millis: a failure recorded in the same
  // millisecond as a query start would otherwise count as "recovered"
  // (ADVICE r3) — ties are impossible with an AtomicLong.
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private final case class Recorded(atSeq: Long, message: String)
  private val lastFailure = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Recorded]())
  private val lastStart = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Long]())
  // per active stream id: the ingest counters summed over every batch
  // reported since the listener was installed or the stream started
  private val totals = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, IngestTotals]]())
  private val installed = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Forget a recorded failure (after operator intervention, and so
    * test suites sharing one session don't leak state). */
  def clearFailures(spark: SparkSession): Unit = { lastFailure.remove(spark); () }

  /** Idempotently register the termination listener. Called from
    * [[status]], but call it at boot (like the reference wires its
    * probes in main) so failures BEFORE the first poll are captured. */
  def install(spark: SparkSession): Unit =
    if (installed.add(spark)) {
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit =
            { lastStart.put(spark, seq.incrementAndGet()); () }
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            Option(e.progress.observedMetrics.get("ingest_metrics")).foreach { row =>
              def n(f: String): Long =
                Option(row.getAs[java.lang.Long](f)).fold(0L)(_.longValue)
              totals.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
                .merge(e.progress.id.toString,
                  IngestTotals(n("n_received"), n("n_valid"), n("n_dlq")), _ + _)
              ()
            }
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
            Option(totals.get(spark)).foreach(_.remove(e.id.toString))
            e.exception.foreach(msg =>
              lastFailure.put(spark, Recorded(seq.incrementAndGet(), msg)))
          }
        })
    }

  /** Records an ingest stream received, decoded as valid, and routed to
    * the DLQ as malformed, summed over its batches (its
    * `ingest_metrics` observation). */
  final case class IngestTotals(received: Long, valid: Long, dlq: Long) {
    def +(o: IngestTotals): IngestTotals =
      IngestTotals(received + o.received, valid + o.valid, dlq + o.dlq)
  }

  /** Per-stream slice of the reference's `Info` field: identity,
    * liveness, last-batch throughput, the batch's observed metrics
    * flattened to `"<observation>.<column>" -> value`, and the batch's
    * phase durations (`StreamingQueryProgress.durationMs`: addBatch,
    * latestOffset, walCommit, commitOffsets, queryPlanning, getBatch,
    * triggerExecution), and an ingest stream's running totals, counted
    * from the first batch after [[install]]. */
  final case class StreamInfo(
      name: String,
      id: String,
      isActive: Boolean,
      batchId: Long,
      numInputRows: Long,
      observed: Map[String, String],
      durationsMs: Map[String, Long],
      totals: Option[IngestTotals])

  /** ≈ reference model.go:69-76 `HealthStatus`; goVersion → sparkVersion,
    * numRoutines → numActiveStreams. */
  final case class HealthStatus(
      app: String,
      status: String,
      sparkVersion: String,
      numActiveStreams: Int,
      lastError: String,
      info: Seq[StreamInfo])

  def status(spark: SparkSession, app: String = "graft"): HealthStatus = {
    install(spark)
    val qs = spark.streams.active.toSeq
    // A recorded crash drives status only until a query is (re)started
    // AFTER it — a supervised restart recovers to "ok" like the
    // reference's live probes, while lastError stays visible as the
    // sticky informational field (reference model.go:74 keeps it too).
    // Deliberately SESSION-level, not per-query-id (ADVICE r5): a
    // supervisor that restarts a crashed pipeline from a fresh
    // checkpoint gets a NEW query id, so per-id recovery would leave
    // health red forever after any successful replacement. The cost —
    // an unrelated stream's start also clears the flag — is acceptable
    // because a start that immediately crashes re-records the failure
    // on its termination event, and lastError stays sticky either way;
    // operators clear state explicitly via clearFailures.
    val recorded = Option(lastFailure.get(spark))
    val startedSince = Option(lastStart.get(spark))
      .exists(s => recorded.forall(_.atSeq < s))
    val activeErrors = qs.flatMap(q => q.exception.map(_.getMessage))
    val errors = activeErrors ++
      recorded.filterNot(_ => startedSince).map(_.message)
    val streamTotals = Option(totals.get(spark))
    val infos = qs.map { q =>
      val p = Option(q.lastProgress)
      val observed = p.map(_.observedMetrics.asScala.toMap.flatMap {
        case (obs, row) =>
          Option(row.schema).toSeq.flatMap(_.fieldNames.toSeq)
            .map(f => s"$obs.$f" -> String.valueOf(row.getAs[Any](f)))
      }).getOrElse(Map.empty[String, String])
      StreamInfo(Option(q.name).getOrElse(""), q.id.toString, q.isActive,
        p.map(_.batchId).getOrElse(-1L),
        p.map(_.numInputRows).getOrElse(0L),
        observed,
        p.map(_.durationMs.asScala.toMap.map { case (k, v) => k -> v.longValue })
          .getOrElse(Map.empty[String, Long]),
        streamTotals.flatMap(t => Option(t.get(q.id.toString))))
    }
    HealthStatus(
      app = app,
      status = if (errors.isEmpty) "ok" else "error",
      sparkVersion = spark.version,
      numActiveStreams = qs.count(_.isActive),
      // sticky: still reported after a recovery flips status back to ok
      lastError = (activeErrors ++ recorded.map(_.message)).headOption.getOrElse(""),
      info = infos)
  }

  /** The JSON a readiness endpoint would serve (reference
    * main.go:344-358 encodes HealthStatus the same way). */
  def statusJson(spark: SparkSession, app: String = "graft"): String =
    renderJson(status(spark, app))

  /** Prometheus text exposition (format version 0.0.4) of the same
    * probe the JSON endpoints serve — the reference's third HTTP route
    * (main.go:88 `r.Handle("/metrics", promhttp.Handler())`; counters
    * metrics.go:9-41). The observed ingest metrics riding each stream's
    * progress (n_received / n_valid / n_dlq — the analogue of the
    * reference's received/inserted/failed message counters) surface as
    * one gauge family per metric with `stream`/`id` labels, holding
    * the last batch's values (which can fall from one batch to the
    * next); their running sums are the true counters
    * `graft_stream_{received,valid,dlq}_total`. Liveness and
    * last-batch progress ride along as gauges, the last batch's phase
    * durations with a further `phase` label. Families are emitted
    * once with their `# HELP`/`# TYPE` header followed by every
    * stream's sample, as the exposition format requires. */
  def renderPrometheus(s: HealthStatus): String = {
    def sanitize(n: String): String = {
      val x = n.replaceAll("[^a-zA-Z0-9_]", "_")
      if (x.nonEmpty && x.head.isDigit) "_" + x else x
    }
    def lbl(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    def labels(i: StreamInfo, more: String = ""): String =
      s"""{stream=${lbl(i.name)},id=${lbl(i.id)}$more}"""
    val sb = new StringBuilder
    def family(name: String, typ: String, help: String,
        samples: Seq[(String, String)]): Unit =
      if (samples.nonEmpty) {
        sb ++= s"# HELP $name $help\n# TYPE $name $typ\n"
        samples.foreach { case (l, v) => sb ++= s"$name$l $v\n" }
      }
    family("graft_up", "gauge", "1 when the health probe reports ok, else 0.",
      Seq("" -> (if (s.status == "ok") "1" else "0")))
    family("graft_active_streams", "gauge", "Streaming queries currently active.",
      Seq("" -> s.numActiveStreams.toString))
    family("graft_stream_active", "gauge", "1 when the stream is active.",
      s.info.map(i => labels(i) -> (if (i.isActive) "1" else "0")))
    family("graft_stream_last_batch_id", "counter",
      "Last completed micro-batch id (-1 before first progress).",
      s.info.map(i => labels(i) -> i.batchId.toString))
    family("graft_stream_last_batch_input_rows", "gauge",
      "Input rows of the last micro-batch.",
      s.info.map(i => labels(i) -> i.numInputRows.toString))
    family("graft_stream_last_batch_duration_seconds", "gauge",
      "Time the last micro-batch spent in each phase.",
      for {
        i <- s.info
        (phase, ms) <- i.durationsMs.toSeq.sortBy(_._1)
      } yield labels(i, s",phase=${lbl(phase)}") -> (ms / 1000.0).toString)
    def total(name: String, help: String, get: IngestTotals => Long): Unit =
      family(name, "counter", help,
        s.info.flatMap(i => i.totals.map(t => labels(i) -> get(t).toString)))
    total("graft_stream_received_total",
      "Records the stream received, summed over its batches.", _.received)
    total("graft_stream_valid_total",
      "Records the stream decoded as valid, summed over its batches.", _.valid)
    total("graft_stream_dlq_total",
      "Malformed records the stream routed to the DLQ, summed over its batches.", _.dlq)
    // observed metrics, grouped into one family per metric name across
    // streams; only numeric values are representable in the format
    val observed = for {
      i <- s.info
      (k, v) <- i.observed.toSeq.sortBy(_._1)
      if scala.util.Try(v.toDouble).isSuccess
    } yield (s"graft_observed_${sanitize(k)}", labels(i), v)
    observed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, rows) =>
      family(name, "gauge",
        "Observed metric from the stream's last progress.",
        rows.map { case (_, l, v) => l -> v })
    }
    sb.result()
  }

  /** The Prometheus page a /metrics endpoint serves. */
  def prometheusText(spark: SparkSession, app: String = "graft"): String =
    renderPrometheus(status(spark, app))

  /** Serialize an already-probed status — [[HealthServer]] derives the
    * HTTP code and the body from ONE probe so they can't disagree. */
  def renderJson(s: HealthStatus): String = {
    def q(x: String): String = "\"" + x.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val infoJson = s.info.map { i =>
      val obs = i.observed.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      s"""{"name":${q(i.name)},"id":${q(i.id)},"isActive":${i.isActive},""" +
        s""""batchId":${i.batchId},"numInputRows":${i.numInputRows},"observed":$obs}"""
    }.mkString("[", ",", "]")
    s"""{"app":${q(s.app)},"status":${q(s.status)},""" +
      s""""sparkVersion":${q(s.sparkVersion)},""" +
      s""""numActiveStreams":${s.numActiveStreams},""" +
      s""""lastError":${q(s.lastError)},"info":$infoJson}"""
  }
}
