package graft.streaming

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, TimestampType}
import scala.jdk.CollectionConverters._

/** Running per-identifier counters maintained by [[IngestPipeline.runningCounts]]. */
final case class IdentifierStats(identifier: String, n_records: Long, n_tags: Long)

/** StatefulProcessor behind [[IngestPipeline.runningCountsTws]]: one
  * ValueState[IdentifierStats] per identifier, TTL-bounded when `ttl` is
  * non-null. A key read after its TTL lapsed sees no state (get returns
  * null) and restarts from zero — the same re-register contract the
  * flatMapGroupsWithState form implements with explicit timers. */
final class IdentifierStatsProcessor(ttl: java.time.Duration)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Int), IdentifierStats] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[IdentifierStats] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[IdentifierStats]("stats",
      org.apache.spark.sql.Encoders.product[IdentifierStats],
      if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

  override def handleInputRows(id: String, rows: Iterator[(String, Int)],
      timerValues: TimerValues): Iterator[IdentifierStats] = {
    val prev = Option(state.get()).getOrElse(IdentifierStats(id, 0L, 0L))
    var n = prev.n_records
    var t = prev.n_tags
    rows.foreach { r => n += 1; t += r._2 }
    val next = IdentifierStats(id, n, t)
    state.update(next)
    Iterator(next)
  }
}

/** The reference's streaming dataflow (reference main.go:93-202),
  * re-expressed as Structured Streaming:
  *
  *   Pulsar consumer + Avro decode  → readStream + from_json/from_avro
  *   parse-validate + DLQ routing   → null-check split inside the batch
  *   ToIndex projection/enrichment  → [[toIndex]]
  *   gobatch size/time window       → Trigger.ProcessingTime / AvailableNow
  *   bulk index, DocumentID=uuid    → foreachBatch: dedup-by-uuid + append
  *                                    parquet partitioned by persist_date
  *                                    (≈ daily rolling index, es.go:78-116)
  *   ack-after-success              → checkpointed offset commit after the
  *                                    batch write (at-least-once; replays
  *                                    are neutralized by the uuid key)
  *
  * In this zero-egress environment the source is any streaming DataFrame
  * with a `value` string column (MemoryStream in tests; a Pulsar/Kafka
  * connector in production is a drop-in because everything downstream is
  * a plain DataFrame transform) and the "index" is a parquet table.
  *
  * Delivery contract: checkpointed offsets give at-least-once; the sink
  * write is PHYSICALLY idempotent — partitions are keyed by epoch id and
  * written with dynamic partition overwrite, so a replayed epoch rewrites
  * its own partitions instead of appending duplicates (see [[writeBatch]]).
  * Cross-batch duplicate *records* (same uuid redelivered in a different
  * epoch) are a data property, resolved by the composable watermarked
  * [[dedupStream]] (bounded state — never an unbounded dedup) or at read
  * time by last-writer-wins per uuid (`dedup_by_key`). The per-batch
  * dedup shuffles only batch-sized data on the uuid key.
  */
object IngestPipeline {

  /** Decode the wire payload (JSON stand-in for the Avro bytes; S2) and
    * tag each record with parse success (P2). */
  def parse(raw: DataFrame): DataFrame =
    raw.withColumn("rec", from_json(col("value"), Schemas.ingestion))
      // from_json yields a non-null struct of nulls for malformed input;
      // required fields null ⇒ decode failure (reference main.go:150-152)
      .withColumn("valid",
        col("rec").isNotNull && col("rec.uuid").isNotNull &&
          col("rec.ingestion_time").isNotNull)

  /** The real Avro wire decode (S2): binary `value` column → struct via
    * the schema-specialized avro-core expression; decode failure ⇒ null
    * rec ⇒ DLQ. Same downstream contract as [[parse]].
    *
    * The reader schema resolves at assembly time like the reference's
    * boot (main.go:244): the DATA_SCHEMA-configured file when set
    * (Schemas.fromFile — S3's "schema from a path" seam), else the
    * embedded schema-as-code. Pass `schemaJson` to override both. */
  def parseAvro(raw: DataFrame,
      schemaJson: String = Schemas.resolveAvroSchema(
        graft.functions.AvroDecodeIngestion.SchemaJson)): DataFrame =
    raw.withColumn("rec",
      graft.functions.AvroDecodeIngestion.avroDecode(col("value"), schemaJson))
      .withColumn("valid", col("rec").isNotNull)

  /** P1 — the ToIndex projection/enrichment (reference model.go:28-44):
    * epoch-millis → timestamp, persist_time = `now`, daily partition
    * date (≈ index name es.go:79-81). `now` is the batch clock as a
    * column ([[writeBatch]] binds it once per batch). persist_date
    * derives from the record's EVENT time, not persist_time: the daily
    * layout is then deterministic under replay — the reference's
    * now()-based index naming would re-date a replay that crosses
    * midnight, leaving the original day's copy behind (the one hole in
    * [[writeBatch]]'s rewrite guarantee if the partition key were
    * wall-clock). */
  def toIndex(parsed: DataFrame, now: Column): DataFrame =
    parsed.select(
      col("rec.identifier").as("identifier"),
      col("rec.name").as("name"),
      col("rec.uuid").as("uuid"),
      col("rec.type").as("type"),
      timestamp_millis(col("rec.ingestion_time")).as("ingestion_time"),
      now.as("persist_time"),
      col("rec.tags").as("tags"))
      .withColumn("persist_date", date_format(col("ingestion_time"), "yyyy-MM-dd"))

  /** Event-time freshness window for [[writeBatch]]'s quarantine: a
    * record whose ingestion_time is more than MaxEventAgeDays behind or
    * MaxEventFutureDays ahead of the batch's wall clock is routed to the
    * DLQ (reason `event_time_outlier`) instead of the index. Since
    * persist_date derives from EVENT time (see [[toIndex]]), a bogus
    * timestamp — epoch-0 default, fat-fingered year — would otherwise
    * land in a partition the date-pinned alias view never serves,
    * invisible yet billed (ADVICE r3). Wide bounds on purpose: backfills
    * are legitimate; only clearly-bogus clocks quarantine. */
  val MaxEventAgeDays = 3650
  val MaxEventFutureDays = 30

  /** Write one micro-batch of parsed records to the index and DLQ sinks.
    *
    * Physical idempotence (K2 at the STORE, reference es.go:185
    * `DocumentID: a.Uuid`): both sinks partition by epoch_id and write
    * `overwrite` with `partitionOverwriteMode=dynamic`, so only the
    * partitions present in THIS batch are replaced — a replayed epoch
    * rewrites exactly its own output rather than appending a duplicate
    * copy (r2 relied on read-time last-writer-wins alone). The index side
    * additionally partitions by persist_date — derived from event time
    * (see [[toIndex]]), so a replayed record lands in the SAME partition
    * it originally wrote, even across midnight. Exactly-once against a
    * transactional table format would be a MERGE keyed on uuid; dynamic
    * partition overwrite is the parquet-only equivalent.
    *
    * The DLQ carries a `reason` column: `parse_failure` (malformed
    * payload) or `event_time_outlier` (valid payload, event time outside
    * the freshness window — see [[MaxEventAgeDays]]). Both keep the raw
    * `value` for replay after correction. One predicate routes every
    * row: a valid record inside the window goes to the index, every
    * other row to the DLQ, so each record lands in exactly one sink.
    *
    * Per-batch cost. The batch is persisted and built once; then the DLQ
    * write and the index write run concurrently, each on a sink thread
    * carrying the stream thread's Spark thread-locals (job group, so a
    * stopped query cancels them; job tags; the active session). The call
    * returns, or throws, only after both writes ended: the first failure
    * is rethrown with any other as suppressed, and a replay of the epoch
    * rewrites whatever a failed write left. `now` is the batch clock,
    * read once on the driver. It, the freshness bounds and the epoch id
    * enter the plans as [[Bridge.batchConstant]]s, never as literals, so
    * each epoch's generated code is the previous epoch's and compiles
    * nothing. */
  def writeBatch(batch: DataFrame, epochId: Long,
      indexDir: String, dlqDir: String,
      maxPastDays: Int = MaxEventAgeDays,
      maxFutureDays: Int = MaxEventFutureDays,
      now: java.time.Instant = java.time.Instant.now()): Unit = {
    val nowUs = DateTimeUtils.instantToMicros(now)
    val dayUs = 86400L * 1000000L
    def at(us: Long): Column = Bridge.batchConstant(us, TimestampType)
    val eventTs = timestamp_millis(col("rec.ingestion_time"))
    val indexed = col("valid") &&
      eventTs >= at(nowUs - maxPastDays * dayUs) &&
      eventTs <= at(nowUs + maxFutureDays * dayUs)
    val epoch = Bridge.batchConstant(epochId, LongType).as("epoch_id")
    val b = batch.persist()
    try {
      // built here, in one job, so that neither concurrent write's plan
      // starts a build of its own
      Bridge.buildCache(b)
      // DLQ side-output (K3/ST4): malformed payloads + event-time
      // outliers, with provenance and the routing reason
      val dlq = b.filter(!indexed)
        .select(col("value"),
          when(col("valid"), "event_time_outlier").otherwise("parse_failure").as("reason"),
          epoch)
      // idempotent upsert half (K2): one writer per uuid per batch
      val index = toIndex(b.filter(indexed), at(nowUs))
        .dropDuplicates("uuid")
        .withColumn("epoch_id", epoch)
      def overwrite(df: DataFrame, dir: String, parts: String*): () => Unit = () =>
        df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(parts: _*).parquet(dir)
      runAll(b.sparkSession, Seq(overwrite(dlq, dlqDir, "epoch_id"),
        overwrite(index, indexDir, "persist_date", "epoch_id")))
    } finally { b.unpersist(); () }
  }

  /** Threads the sink writes run on: daemon, created on demand and
    * retired after a minute idle. */
  private lazy val sinkThreads = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-epoch-sink")
    t.setDaemon(true)
    t
  }

  /** Run `tasks` concurrently, each with the calling thread's Spark
    * thread-locals, and wait for every one of them. Then rethrow the
    * failure that happened first, with the later ones as suppressed. */
  private def runAll(spark: SparkSession, tasks: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val running = tasks.map(task => SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], sinkThreads) {
      try task() catch { case e: Throwable => failures.add(e); throw e }
    })
    running.foreach(f => scala.util.Try(f.join()))
    failures.asScala.toList match {
      case first :: rest => rest.foreach(first.addSuppressed); throw first
      case Nil =>
    }
  }

  /** Assemble and start the pipeline. Returns the running query; callers
    * own its lifecycle (tests use Trigger.AvailableNow + awaitTermination).
    *
    * @param source  streaming DataFrame with a string `value` column
    * @param indexDir parquet "index" root (partitioned by persist_date,
    *                 epoch_id — see [[writeBatch]])
    * @param dlqDir  parquet DLQ root (malformed payloads + epoch id)
    * @param checkpointDir offset/commit log — the ack cursor (ST3)
    */
  def start(
      spark: SparkSession,
      source: DataFrame,
      indexDir: String,
      dlqDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWith(spark, FrameSource(source), ParquetIndexSink(indexDir, dlqDir),
      checkpointDir, trigger)

  /** Connector-agnostic assembly: any [[Source]] in, any [[Sink]] out —
    * the seam a production Pulsar→ES deployment plugs into (see
    * Connectors.scala). The pipeline between the seams is unchanged:
    * parse/validate split, observed metrics, checkpointed offsets. */
  def startWith(
      spark: SparkSession,
      source: Source,
      sink: Sink,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // observed metrics ≈ the reference's Prometheus counters
    // (metrics.go:9-41 received/indexed/error): per-batch counts surface
    // in StreamingQueryProgress.observedMetrics("ingest_metrics")
    val parsed = parse(source.read(spark))
      .observe("ingest_metrics",
        count(lit(1)).as("n_received"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("n_dlq"))
    parsed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink.write(batch, epochId)
      }
      .start()
  }

  /** Cross-batch streaming dedup (ST5): watermark-bounded state keyed by
    * uuid. Exposed separately because foreachBatch sinks and stateful ops
    * compose at the plan level, not inside the batch function. */
  def dedupStream(source: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    parse(source)
      .filter(col("valid"))
      .select(col("rec.uuid").as("uuid"),
        timestamp_millis(col("rec.ingestion_time")).as("ingestion_time"),
        col("value"))
      .withWatermark("ingestion_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("uuid")

  /** Custom keyed state (ST5 extension, SURVEY §2.11): per-identifier
    * running record/tag counters via flatMapGroupsWithState — the shape
    * for stateful logic the built-ins don't cover. State is per-key and
    * incremental (no history kept), so it scales with key cardinality —
    * and is BOUNDED in time when `stateTtl` is set: each update arms a
    * processing-time timeout, after which an idle key's state is dropped
    * (at 100 TB key churn — UUID-flavored identifiers — unbounded state
    * grows forever; production should always set a TTL). A key seen
    * again after expiry re-registers from zero. The default stays
    * NoTimeout because ProcessingTimeTimeout changes the query's idle
    * behavior — the engine keeps scheduling no-data batches to evaluate
    * pending timeouts — which callers (and tests built on
    * processAllAvailable quiescence) must opt into knowingly. */
  def runningCounts(source: DataFrame,
      stateTtl: Option[String] = None): org.apache.spark.sql.Dataset[IdentifierStats] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = source.sparkSession
    import spark.implicits._
    val recs = parse(source).filter(col("valid"))
      .select(col("rec.identifier").as("identifier"),
        coalesce(size(col("rec.tags")), lit(0)).as("n_tags"))
      .as[(String, Int)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    recs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        runningCountsUpdate(stateTtl))
  }

  /** [[runningCounts]] in Spark 4's transformWithState form — the
    * arbitrary-stateful-processing API that supersedes
    * flatMapGroupsWithState (SPARK-49564): typed per-key ValueState with
    * a DECLARATIVE TTL (TTLConfig) instead of hand-armed timeout timers,
    * so bounding state at 100 TB key churn is a config, not control
    * flow — and expiry is lazy (checked against the batch timestamp on
    * read, swept by RocksDB maintenance), so no no-data batches are
    * scheduled for it. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * ...state.RocksDBStateStoreProvider). Same output contract as
    * [[runningCounts]]. */
  def runningCountsTws(source: DataFrame,
      stateTtl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[IdentifierStats] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = source.sparkSession
    import spark.implicits._
    val recs = parse(source).filter(col("valid"))
      .select(col("rec.identifier").as("identifier"),
        coalesce(size(col("rec.tags")), lit(0)).as("n_tags"))
      .as[(String, Int)]
    recs.groupByKey(_._1)
      .transformWithState(new IdentifierStatsProcessor(stateTtl.orNull),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** The per-key state transition of [[runningCounts]], factored out so
    * the timeout path is unit-testable with TestGroupState (the
    * timeout's SCHEDULING is the engine's job and timing-dependent; the
    * TRANSITION — expired key drops state and a returning key restarts
    * from zero — is pure logic and tested deterministically). */
  private[graft] def runningCountsUpdate(stateTtl: Option[String])(
      id: String, rows: Iterator[(String, Int)],
      state: org.apache.spark.sql.streaming.GroupState[IdentifierStats]): Iterator[IdentifierStats] =
    if (state.hasTimedOut) {
      // expired idle key: drop state, emit nothing — the next record
      // for this key starts a fresh counter from zero
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(IdentifierStats(id, 0L, 0L))
      var n = prev.n_records
      var t = prev.n_tags
      rows.foreach { r => n += 1; t += r._2 }
      val next = IdentifierStats(id, n, t)
      state.update(next)
      stateTtl.foreach(state.setTimeoutDuration)
      Iterator(next)
    }

  /** Event-time windowed counts over the stream (ST1/ST2 extension —
    * the reference has processing-time batching only). */
  def windowedCounts(source: DataFrame, window_ : String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame =
    parse(source)
      .filter(col("valid"))
      .select(timestamp_millis(col("rec.ingestion_time")).as("ts"),
        col("rec.type").as("type"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), window_), col("type"))
      .count()

  /** Stream-static enrichment join (§2.5 in streaming form): decorate
    * each valid record with dimension attributes looked up by
    * identifier. The static side is a plain DataFrame — Catalyst plans
    * a broadcast join per micro-batch when it fits. Note the static
    * side's CONTENT is whatever its plan resolves to: a file-backed dim
    * caches its file listing at planning, so picking up a rewritten dim
    * directory needs a table format with snapshot refresh (or a query
    * restart) — don't overwrite plain parquet under a running query.
    * Left join: records without a dim row pass through with nulls
    * rather than being dropped. */
  def enrichStream(source: DataFrame, dim: DataFrame): DataFrame =
    parse(source)
      .filter(col("valid"))
      .select(col("rec.identifier").as("identifier"),
        col("rec.uuid").as("uuid"),
        timestamp_millis(col("rec.ingestion_time")).as("ingestion_time"))
      .join(dim, Seq("identifier"), "left")

  /** Watermarked STREAM-STREAM inner join (§2.5's hardest streaming
    * form): correlate two record streams on identifier within
    * `withinMs` of event time. Both sides carry watermarks and the join
    * condition bounds the time skew, so each side's buffered state is
    * watermark-expired — the state-bounding discipline that makes
    * stream-stream joins viable at scale (an unbounded-condition join
    * would buffer both streams forever). */
  def correlateStreams(left: DataFrame, right: DataFrame,
      withinMs: Long = 60000L, watermarkDelay: String = "10 minutes"): DataFrame = {
    def side(src: DataFrame, tag: String): DataFrame =
      parse(src).filter(col("valid"))
        .select(col("rec.identifier").as(s"${tag}_identifier"),
          col("rec.uuid").as(s"${tag}_uuid"),
          timestamp_millis(col("rec.ingestion_time")).as(s"${tag}_ts"))
        .withWatermark(s"${tag}_ts", watermarkDelay)
    side(left, "l").join(side(right, "r"),
      col("l_identifier") === col("r_identifier") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $withinMs MILLISECONDS") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinMs MILLISECONDS"))
  }

  /** Event-time SESSION windows over the stream, per identifier — the
    * streaming form of ops/Temporal.sessionWindows (ST1/ST5): gap-merged
    * session state is keyed and watermark-expired, so state is bounded
    * by (active keys × open sessions), never stream length. */
  def sessionCounts(source: DataFrame, gap: String = "6 hours",
      watermarkDelay: String = "10 minutes"): DataFrame =
    parse(source)
      .filter(col("valid"))
      .select(timestamp_millis(col("rec.ingestion_time")).as("ts"),
        col("rec.identifier").as("identifier"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("identifier"), session_window(col("ts"), gap))
      .count()
}
