// Quick plan/job audit for pipeline_e2e: prints the formatted plan and
// counts Spark jobs submitted by one execution. Run via:
//   sbt -batch "Test/runMain graft.PlanCheckE2e"
package graft

object PlanCheckE2e {
  def main(args: Array[String]): Unit = {
    val spark = SessionPosture(org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.01"
    // warm the shared funnel (clusters) so the measured run is the
    // pipeline itself, as in the registered-suite steady state
    graft.ops.Dedup.sharedClusters(spark, dir).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    val df = graft.ops.Curate.pipelineE2e(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
    println("=== pipeline_e2e formatted plan ===")
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println(s"=== jobs submitted by one pipeline_e2e execution: ${jobs.get()} ===")
    spark.stop()
  }
}
