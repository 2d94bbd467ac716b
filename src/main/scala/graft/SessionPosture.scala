package graft

import org.apache.spark.sql.SparkSession

/** The confs every session of the engine runs with: the service
  * (`Boot.main`), the mains (Bench, Verify, Profile, ExplainAudit) and
  * the test session, so tests and benches measure the planner posture
  * production runs. Each builder keeps its own master, app name,
  * shuffle partitions and UI setting.
  *  - `canChangeCachedPlanOutputPartitioning`: AQE coalesces shuffle
  *    partitions inside cached plans too (default false). Shared frames
  *    (`Dsl.share`) are bucket- or candidate-grain; without
  *    it every cached frame materializes and is read at full shuffle
  *    width (measured: funnel_steps 366 tasks → 29,
  *    dsl_aggs_sampler_served 1021 → 189). AQE still targets its
  *    advisory byte size, so big cached frames keep their width.
  *  - `session.timeZone`: UTC, so dates and timestamps read alike on
  *    every host.
  *  - `spark.sql.extensions`: the graft functions ([[GraftExtensions]]).
  *  - `codegen.cache.maxEntries` (a static conf): one curated-pipeline
  *    epoch compiles about 200 classes, and Spark's default 100-entry
  *    cache evicted and recompiled them all every epoch. */
object SessionPosture {
  val Pairs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def apply(builder: SparkSession.Builder): SparkSession.Builder =
    Pairs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}
