package graft.streaming

import graft.model.Schemas
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Boot configuration — the reference's `.env` envelope (reference
  * .env:1-26, read at main.go:204-250). Only the knobs with a Spark
  * meaning survive; the rest map onto engine internals the way SURVEY
  * §2.1/§2.3/§2.4 records:
  *
  *   DATA_TOPIC          → source path (file-source stand-in for the topic)
  *   DATA_DLQ_TOPIC      → DLQ parquet root
  *   INDEX               → index parquet root; alias = last path segment
  *   SUBSCRIPTION_NAME   → checkpoint dir name (the subscription IS the
  *                         consumer cursor; Spark's cursor is the
  *                         checkpointed offset log — ST3)
  *   PORT                → health/readiness HTTP port (default 8002,
  *                         main.go:288-291)
  *   DATA_SCHEMA         → Avro reader-schema file (model.go:57-66)
  *   BATCH_MIN_TIME      → micro-batch trigger seconds (gobatch MinTime,
  *                         main.go:99-104; B1)
  *   MAX_BATCH_SIZE      → per-trigger intake cap (gobatch MaxItems →
  *                         maxFilesPerTrigger)
  *
  * Dropped knobs: thread counts (NUMBER_*_THREADS — Spark's task
  * scheduler owns parallelism), CHANNEL_SIZE/PULSAR_QUEUE_SIZE (stage
  * hand-off is internal, B2), RETRIES/INSERT_RETRY_DELAY (connector
  * config behind the Source/Sink seam, S4/K5), ES_* (sink connector
  * config).
  */
final case class BootConfig(
    sourceDir: String,
    indexDir: String,
    dlqDir: String,
    checkpointDir: String,
    alias: String,
    port: Int = 8002,
    dataSchemaPath: Option[String] = None,
    batchMinTimeSec: Int = 5,
    maxBatchSize: Int = 1000,
    /** Persisted dedup-funnel directory (GRAFT_FUNNEL_DIR, optional —
      * an extension knob, no reference analogue): when set, boot
      * forwards it to `spark.graft.funnel.dir` so the session's dedup
      * surface bootstraps from the durable funnel instead of re-scanning
      * the corpus (Dedup.persistFunnel/bootstrapFunnel). */
    funnelDir: Option[String] = None)

object BootConfig {

  /** Read the envelope from environment variables with the reference's
    * names and defaults (.env). Required: DATA_TOPIC, INDEX,
    * DATA_DLQ_TOPIC — missing ones throw at boot, as the reference's
    * handleError(err, fatal=true) path does. */
  def fromEnv(env: Map[String, String] = sys.env): BootConfig = {
    def need(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"missing required env var $k"))
    val indexDir = need("INDEX")
    BootConfig(
      sourceDir = need("DATA_TOPIC"),
      indexDir = indexDir,
      dlqDir = need("DATA_DLQ_TOPIC"),
      checkpointDir = indexDir + "/_checkpoint_" +
        env.getOrElse("SUBSCRIPTION_NAME", "data_subscription"),
      alias = indexDir.split('/').lastOption.filter(_.nonEmpty).getOrElse("index"),
      port = env.get("PORT").map(_.trim.toInt).getOrElse(8002),
      dataSchemaPath = env.get(Schemas.DataSchemaEnv),
      batchMinTimeSec = env.get("BATCH_MIN_TIME").map(_.trim.toInt).getOrElse(5),
      maxBatchSize = env.get("MAX_BATCH_SIZE").map(_.trim.toInt).getOrElse(1000),
      funnelDir = env.get("GRAFT_FUNNEL_DIR"))
  }
}

/** The §3.3 bootstrap — the reference's `main()` (main.go:204-325)
  * recomposed from the engine's pieces, in the reference's order:
  *
  *   1. config envelope            (setEnvironment + getenv block)
  *   2. reader-schema resolution   (ReadSchema(DATA_SCHEMA), fail-fast)
  *   3. create index + alias       (createIndex/addAlias, es.go:78-116 —
  *      exists-tolerant; the daily "index" is today's persist_date
  *      partition, the alias a date-pinned view over it)
  *   4. health endpoint            (initHandlers + HTTP server,
  *      main.go:284-304)
  *   5. start the pipeline         (batcher + consume/index workers,
  *      main.go:272-282 → one Structured Streaming query)
  *   6. graceful shutdown          (signal → drain → close,
  *      main.go:306-324 → RunningApp.stop / JVM shutdown hook)
  *
  * Library surface first (`start` returns a [[RunningApp]] the caller
  * owns — tests drive it end-to-end in-process); `main` wraps it with a
  * local session and a signal hook for the service form.
  */
object Boot {

  /** Everything `start` wired together; `stop()` tears it down in the
    * reference's drain order — stop intake (the query: its checkpointed
    * offsets are the ack cursor, so in-flight epochs either commit or
    * replay idempotently), then the health listener, never the reverse
    * (a health probe during drain should still be answerable, exactly
    * why the reference shuts HTTP down last, main.go:315-323). */
  final class RunningApp(
      val spark: SparkSession,
      val query: StreamingQuery,
      val server: com.sun.net.httpserver.HttpServer,
      val config: BootConfig) {
    def healthPort: Int = HealthServer.boundPort(server)
    def awaitTermination(): Unit = query.awaitTermination()
    def stop(): Unit = {
      try query.stop() finally server.stop(0)
    }
  }

  /** Point `alias` at the `date` partition of the index at `tableDir`,
    * tolerating a still-empty index dir: the relation is declared with
    * the index layout (Schemas.index) so no parquet footer needs to
    * exist yet — the reference aliases right after creating the (empty)
    * daily index the same way (es.go:92-116).
    *
    * The relation is listed on the driver, and only under
    * `persist_date=<date>` (Tables.listedParquet), so a re-point runs no
    * Spark job and never lists other days; the date filter stays on the
    * frame. Spark's own listing of the whole root would launch a
    * listing job on every re-point once a day holds more than 32 epoch
    * dirs, its work growing with the epoch count.
    *
    * A file-backed DataFrame freezes its file LISTING at read time, so
    * this view serves the files present NOW — which is why the running
    * pipeline re-points it at every epoch commit (see
    * [[AliasRefreshingSink]]): the index only changes at commits, so
    * per-commit re-pointing gives the alias the live-read semantics an
    * ES alias has, without any polling. */
  def pointBootAlias(spark: SparkSession, alias: String,
      tableDir: String, date: String): Unit = {
    require(date.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"date must be yyyy-MM-dd, got: $date")
    // partition columns persist_date then epoch_id, the writer's order
    // (IngestPipeline.writeBatch) and Schemas.index's
    val (parts, data) = Schemas.index.fields.toSeq
      .partition(f => f.name == "persist_date" || f.name == "epoch_id")
    graft.Tables.listedParquet(spark, Seq(tableDir), StructType(data),
      StructType(parts), pinned = Map("persist_date" -> Seq(date)))
      .filter(col("persist_date") === date)
      .createOrReplaceTempView(alias)
  }

  /** Decorates the index sink so the boot alias re-points after each
    * epoch commit — the moment (and the only moment) the file listing
    * under the alias can change. Driver-side, no Spark job: one listing
    * of today's epoch dirs per epoch. */
  private final case class AliasRefreshingSink(
      inner: Sink, spark: SparkSession, alias: String,
      tableDir: String, date: String) extends Sink {
    override def write(batch: org.apache.spark.sql.DataFrame, epochId: Long): Unit = {
      inner.write(batch, epochId)
      pointBootAlias(spark, alias, tableDir, date)
    }
  }

  /** Assemble and start the whole service. `source` defaults to the
    * config's file source; tests inject a [[FrameSource]] and an
    * AvailableNow trigger. Fail-fast boot: an unreadable DATA_SCHEMA,
    * an un-creatable index dir, or a busy port throws here, before any
    * stream starts (the reference log.Fatals the same way). */
  def start(
      spark: SparkSession,
      config: BootConfig,
      source: Option[Source] = None,
      trigger: Option[Trigger] = None): RunningApp = {
    // 2. resolve + validate the Avro reader schema (even though the
    // default pipeline parses the JSON stand-in, a configured broken
    // schema file must fail the BOOT, not the first record)
    Schemas.resolveAvroSchema(
      graft.functions.AvroDecodeIngestion.SchemaJson, config.dataSchemaPath)
    // 2b. forward the configured durable-funnel location: the session's
    // dedup surface then bootstraps from persisted bucketed tables
    // instead of re-scanning corpus text (graft.ops.Dedup.bootstrapFunnel)
    config.funnelDir.foreach(fd =>
      spark.conf.set(graft.ops.Dedup.FunnelDirConf, fd))
    // 3. create the index root (exists-tolerant, es.go:92-97) and point
    // the alias at today's partition (wall-clock at boot, es.go:79-81)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(config.indexDir))
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    pointBootAlias(spark, config.alias, config.indexDir, today)
    // 4. health endpoint up BEFORE the stream: a stream that crashes on
    // its first batch must be visible to the probe (HealthServer.start
    // installs the termination listener)
    val server = HealthServer.start(spark, config.port)
    try {
      // 5. the pipeline
      val src = source.getOrElse(
        FileSource(config.sourceDir, maxFilesPerTrigger = config.maxBatchSize))
      val query = IngestPipeline.startWith(spark, src,
        AliasRefreshingSink(ParquetIndexSink(config.indexDir, config.dlqDir),
          spark, config.alias, config.indexDir, today),
        config.checkpointDir,
        trigger.getOrElse(Trigger.ProcessingTime(s"${config.batchMinTimeSec} seconds")))
      new RunningApp(spark, query, server, config)
    } catch {
      // failed pipeline start must not leak the bound port
      case e: Throwable => server.stop(0); throw e
    }
  }

  /** Service entry point: env config, local session, signal-driven
    * graceful drain (main.go:306-324's SIGINT/SIGTERM → Shutdown). */
  def main(args: Array[String]): Unit = {
    val config = BootConfig.fromEnv()
    val spark = graft.SessionPosture(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors.toString))
      .getOrCreate()
    val app = start(spark, config)
    // SIGINT/SIGTERM → graceful drain; Spark's own hook stops the
    // SparkContext after ours stops the query and server
    Runtime.getRuntime.addShutdownHook(new Thread(() => app.stop()))
    app.awaitTermination()
  }
}
