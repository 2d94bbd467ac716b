package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** The production connector boundary (SURVEY §7.4.6).
  *
  * In the reference, the source is a Pulsar shared-subscription consumer
  * (reference pulsar.go:80-111) and the sink is an ES bulk indexer
  * (es.go:160-213) — process-boundary clients configured with
  * retry/backoff. In the engine those seams are: a streaming DataFrame
  * with a `value` column in, and a per-epoch idempotent batch write out.
  * These two traits make the drop-in claim concrete: a production
  * deployment implements [[Source]] with a Pulsar/Kafka connector read
  * and [[Sink]] with an elasticsearch writer (`es.mapping.id=uuid` ≈
  * the reference's DocumentID upsert) — no change to the pipeline
  * assembly in [[IngestPipeline.startWith]]. Connect-retry and backoff
  * (S4/K5) live INSIDE implementations as connector options, matching
  * SURVEY §2.1/§2.4's scoping of them as configuration, not operators.
  */
trait Source {
  /** An unbounded streaming DataFrame carrying at least a string
    * `value` column (the wire payload). */
  def read(spark: SparkSession): DataFrame
}

/** Per-epoch batch writer. Must be idempotent per epoch id: the
  * checkpointed offset log gives at-least-once delivery, so a crashed
  * commit replays the epoch (ST3). */
trait Sink {
  def write(batch: DataFrame, epochId: Long): Unit
}

/** File-based source: each line of `path` is one wire payload — the
  * zero-egress stand-in for a topic subscription. `maxFilesPerTrigger`
  * caps per-batch intake like the reference's gobatch MaxItems
  * (reference main.go:94-104).
  *
  * A trigger's files are listed on the driver. Spark's file stream
  * builds a file index over each micro-batch's files in `getBatch`, and
  * above 32 paths (`spark.sql.sources.parallelPartitionDiscovery.threshold`)
  * that index lists them in a Spark job of one task per file — a job on
  * every full trigger, only to stat files the source listed a moment
  * before. [[Bridge.driverListed]] raises the threshold to
  * `maxFilesPerTrigger` for this stream alone, so the driver listing is
  * bounded by the same cap, and the caller's session conf is unchanged. */
final case class FileSource(path: String, maxFilesPerTrigger: Int = 1000)
    extends Source {
  override def read(spark: SparkSession): DataFrame =
    Bridge.driverListed(spark, maxFilesPerTrigger)(
      _.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger).text(path))
}

/** An already-constructed streaming DataFrame (MemoryStream in tests,
  * or any connector's output a caller assembled directly). */
final case class FrameSource(df: DataFrame) extends Source {
  override def read(spark: SparkSession): DataFrame = df
}

/** The parquet "index": daily persist_date partitions + epoch-keyed
  * dynamic partition overwrite — see [[IngestPipeline.writeBatch]]. */
final case class ParquetIndexSink(indexDir: String, dlqDir: String)
    extends Sink {
  override def write(batch: DataFrame, epochId: Long): Unit =
    IngestPipeline.writeBatch(batch, epochId, indexDir, dlqDir)
}
