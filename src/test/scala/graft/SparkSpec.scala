package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per forked test run;
  * getOrCreate dedupes across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // AQE-coalesce cached-plan output, like every main — see
    // Bench.scala; tests must exercise the same planner posture
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    .config("spark.sql.session.timeZone", "UTC")
    // one curated-pipeline epoch compiles about 200 classes; Spark's
    // default 100-entry codegen cache would evict and recompile them all
    // every epoch, and no compile count could tell an inlined per-epoch
    // value from an eviction (CuratedPipelineSpec)
    .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session for other suites; Spark stops with the JVM
    super.afterAll()
  }
}
