package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Diagnostic main: prints the physical plan of each registered query
  * (args select a subset) so scan pruning / pushdown / join strategy /
  * codegen spans can be audited per round. `--summary` prints one
  * PLANS.md-ready line per query (operator counts) instead of the full
  * plan. Not part of the driver contract.
  * In a summary line, `cached=` counts reads of a shared frame's cache
  * (`InMemoryTableScan`) and `rdd=` counts RDD scans (`Scan
  * ExistingRDD`: an RDD wrap or a `localCheckpoint`), so every
  * materialization shows per query.
  * Each query is built after `Dsl.releasePersisted()`, so no query's
  * plan reads a frame that an earlier query of the same audit shared:
  * a query's plan is the same in a full audit and in an audit of it
  * alone.
  * Usage: runMain graft.ExplainAudit [sfDir] [--summary] [query ...] */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val summary = args.contains("--summary")
    // --formatted: the .explain("formatted") form (numbered operators +
    // per-operator details) the optimization rounds commit under plans/
    val formatted = args.contains("--formatted")
    // --executed: MATERIALIZE the query first, so the printed plan is
    // AQE's FINAL one (isFinalPlan=true) — the only place runtime
    // shuffle-stage reuse (ReusedExchange / table-cache hits) is
    // visible; the pre-execution plan shows duplicate subtrees even
    // when the runtime dedups them (r18)
    val executed = args.contains("--executed")
    val rest = args.drop(1)
      .filterNot(a => a == "--summary" || a == "--formatted" ||
        a == "--executed").toSeq
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    val spark = SessionPosture(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def count(s: String, needle: String): Int =
      s.sliding(needle.length).count(_ == needle)
    names.foreach { name =>
      graft.ops.Dsl.releasePersisted()
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      if (executed)
        try qe.toRdd.foreach(_ => ())
        catch { case e: Throwable =>
          System.err.println(s"[audit] $name execution failed: ${e.getMessage}")
        }
      val plan = qe.explainString(
        if (formatted) FormattedMode else SimpleMode)
      if (summary) {
        // shuffle exchanges exclude broadcast builds; codegen spans via
        // the stage markers in SimpleMode output
        val shuffles = count(plan, "Exchange ") - count(plan, "BroadcastExchange ")
        println(f"$name%-26s scans=${count(plan, "Scan parquet")}%d " +
          f"shuffles=$shuffles%d bcast=${count(plan, "BroadcastExchange")}%d " +
          f"bhj=${count(plan, "BroadcastHashJoin")}%d smj=${count(plan, "SortMergeJoin")}%d " +
          f"window=${count(plan, "Window")}%d agg=${count(plan, "HashAggregate")}%d " +
          f"sortAgg=${count(plan, "SortAggregate")}%d " +
          f"cached=${count(plan, "InMemoryTableScan")}%d " +
          f"rdd=${count(plan, "Scan ExistingRDD")}%d")
      } else {
        println(s"\n########## $name")
        println(plan)
      }
    }
    spark.stop()
  }
}
