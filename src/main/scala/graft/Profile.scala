package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic main (optimization rounds): per-query phase attribution.
  * For each named query (args; default = a representative sample),
  * reports analysis+optimization+physical-planning time, first and
  * second execution time, and the number of Spark jobs the execution
  * fires — the numbers that separate driver-side constant overhead
  * (plan size, job count) from executor compute. Not part of the
  * driver contract.
  * Usage: runMain graft.Profile [sfDir] [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val b = SessionPosture(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
    // A/B experiment knob: SPARK_GRAFT_CONF="k=v;k=v" extra session
    // confs. Empty entries (trailing ';') are skipped; an entry
    // without '=' fails with ITS text, not a bare MatchError (ADVICE
    // r17).
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      _.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => b.config(k.trim, v.trim)
          case _ => sys.error(s"SPARK_GRAFT_CONF entry without '=': '$kv'")
        }
      })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Logs.quietBoundedWindows()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
          ()
        }
      })
    def snap(): (Int, Int, Int) = {
      org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)
      (jobs.get(), stages.get(), tasks.get())
    }
    // absorb one-time session startup
    try SparkEntry.entry(spark).queryExecution.toRdd.foreach(_ => ())
    catch { case _: Throwable => () }
    println(f"${"query"}%-34s ${"plan_s"}%7s ${"exec1_s"}%8s ${"exec2_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name: unknown query")
        case Some(fn) =>
          try {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val _ = df.queryExecution.executedPlan // force plan
            val tPlan = (System.nanoTime() - t0) / 1e9
            val (j0, s0, k0) = snap()
            val t1 = System.nanoTime()
            df.queryExecution.toRdd.foreach(_ => ())
            val tExec1 = (System.nanoTime() - t1) / 1e9
            val (j1, s1, k1) = snap()
            // second, fresh build of the same query (bench best-of-2 shape)
            val df2 = fn(spark, sfDir)
            val t2 = System.nanoTime()
            df2.queryExecution.toRdd.foreach(_ => ())
            val tExec2 = (System.nanoTime() - t2) / 1e9
            println(f"$name%-34s $tPlan%7.2f $tExec1%8.2f $tExec2%8.2f ${j1 - j0}%5d ${s1 - s0}%7d ${k1 - k0}%6d")
          } catch {
            case e: Throwable =>
              println(s"$name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
