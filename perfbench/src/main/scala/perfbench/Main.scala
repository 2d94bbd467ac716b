package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of a workload measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** The end-to-end metrics every workload reports (untraced runs). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The per-layer metrics every workload reports (traced runs). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own metrics, by the names its README table uses. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  def correct: Boolean = checks.forall(_._2)
}

/** Shared context of one benchmark run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val tracer: Tracer, val root: Path, val work: Path) {

  /** A local Spark session configured as the engine's own bench main
    * configures it. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logs.quietBoundedWindows()
    tracer.attach(s)
    s
  }

  /** Seconds since this process started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - Host.processStartMs) / 1000.0
}

/** Entry point: `--workload <ingest|search|batch> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file>`. Writes the result object
  * to `--result`, a full report and (traced) a span file beside it. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val traced = kv("trace") == "1"
    val work = Paths.get(kv("work")).toAbsolutePath
    val result = Paths.get(kv("result")).toAbsolutePath
    val root = Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize
    Files.createDirectories(work)

    val host = mutable.LinkedHashMap[String, String](
      "nproc" -> Host.nproc.toString,
      "loadavg_start" -> Host.loadavg(),
      "calib_cpu_s" -> f"${Host.calibCpu()}%.4f")
    val tracer = new Tracer(traced)
    val ctx = new Ctx(workload, seed, seconds, tracer, root, work)
    val self = Gen.selfCheck(seed)

    val out = workload match {
      case "ingest" => IngestWorkload.run(ctx)
      case "search" => SearchWorkload.run(ctx)
      case "batch" => BatchWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    self.foreach { case (n, ok, d) => out.check(n, ok, d) }
    host("loadavg_end") = Host.loadavg()

    val tag = s"$workload-s$seed-t${if (traced) 1 else 0}"
    val metrics = if (traced) out.layer else out.e2e
    println(s"perfbench $workload seed=$seed trace=${if (traced) 1 else 0} " +
      host.map { case (k, v) => s"$k=[$v]" }.mkString(" "))
    out.named.foreach { case (k, (v, u)) => println(f"  $k%-40s $v%14.6f $u") }
    out.checks.filterNot(_._2).foreach { case (n, _, d) =>
      println(s"  CHECK FAILED $n: $d")
    }
    println(s"  checks: ${out.checks.count(_._2)}/${out.checks.size} passed; " +
      s"attempted=${out.attempted} failed=${out.failed}")

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def obj(m: Iterable[(String, (Double, String))]): String =
      m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
        .mkString("{", ", ", "}")
    val line = s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": ${obj(metrics)}}"""
    Files.write(result, line.getBytes("UTF-8"))
    val report =
      s"""{"workload": ${str(workload)}, "seed": $seed, "trace": $traced,
         |"host": ${host.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")},
         |"result": $line,
         |"named": ${obj(out.named)},
         |"info": ${out.info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")},
         |"checks": ${out.checks.map { case (n, ok, d) => s"""{"name": ${str(n)}, "ok": $ok, "detail": ${str(d)}}""" }.mkString("[", ", ", "]")}}
         |""".stripMargin
    Files.write(work.resolve(s"report-$tag.json"), report.getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
  }
}
