package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.Dsl
import org.apache.spark.sql.{Row, SparkSession}

/** `batch`: a fixed pass over registered queries of the scan-path
  * operator library on the fixed tables under `perfbench/data`, timed on a
  * fresh session. A traced run passes again in the same session, once
  * untraced and once traced, for the steady per-module cost and the
  * tracing overhead. The seed is recorded but does not change the
  * inputs: the pins hold for one data set. */
object BatchWorkload {
  /** (module, query): one cheap pinned query for each module that fits
    * one run's time budget. */
  val Queries: Seq[(String, String)] = Seq(
    "Relational" -> "q1_agg",
    "Dedup" -> "minhash_sig",
    "TrainPrep" -> "pack_shards",
    "Dsl" -> "dsl_msearch",
    "Multimodal" -> "image_neardup",
    "TextAnalysis" -> "decontaminate")

  val DataDir = "perfbench/data/sf0.01"
  val PinFile = "perfbench/pins/batch_pins.json"

  private final case class Timed(pass: Int, module: String, query: String,
      build: Double, plan: Double, exec: Double, traced: Boolean) {
    def total: Double = build + plan + exec
  }

  // ---------------------------------------------------------------- pins

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Row count and an order-insensitive 64-bit hash of the rows, columns
    * taken in name order. */
  def digest(rows: Array[Row]): (Long, String) = {
    if (rows.isEmpty) return (0L, "0")
    val names = rows.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    var h = 0L
    rows.foreach { r =>
      val s = order.map(i => names(i) + "=" + canon(r.get(i))).mkString("\u0001")
      val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      h += (a.toLong << 32) | (b.toLong & 0xffffffffL)
    }
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }

  final case class Pin(rows: Long, hash: String)

  def loadPins(path: Path): Map[String, Pin] = {
    import org.json4s._
    val js = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(path), "UTF-8"))
    (js \ "queries") match {
      case JObject(fs) => fs.map { case (k, v) =>
        val JInt(rows) = v \ "rows"
        val JString(hash) = v \ "hash"
        k -> Pin(rows.toLong, hash)
      }.toMap
      case _ => Map.empty
    }
  }

  // ----------------------------------------------------------------- run

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val t = ctx.tracer
    val pins = loadPins(ctx.root.resolve(PinFile))
    val data = ctx.root.resolve(DataDir).toString
    val spark = ctx.session(Host.nproc)
    val setupS = ctx.sinceStart()
    val gc0 = Host.gcSeconds()
    val timed = mutable.ArrayBuffer.empty[Timed]
    val wl = t.newId()
    val wl0 = System.nanoTime()

    def pass(p: Int, traced: Boolean): Double = {
      val pid = t.newId()
      val p0 = System.nanoTime()
      Queries.foreach { case (module, q) =>
        val opKey = s"p$p-$q"
        if (traced) t.traceOp(opKey)
        Dsl.releasePersisted()
        val rid = t.newId()
        t.currentOp = opKey
        val t0 = System.nanoTime()
        try {
          val fn = SparkEntry.queries(q)
          val (df, _) = t.span(spark, "batch.build", rid, opKey)(fn(spark, data))
          val t1 = System.nanoTime()
          t.span(spark, "spark.plan", rid, opKey)(df.queryExecution.executedPlan)
          val t2 = System.nanoTime()
          val (rows, _) = t.span(spark, "spark.exec", rid, opKey)(df.collect())
          val t3 = System.nanoTime()
          t.add(rid, pid, s"batch.query.$q", opKey, t0, t3)
          timed += Timed(p, module, q, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
            (t3 - t2) / 1e9, traced)
          val (n, h) = digest(rows)
          pins.get(q) match {
            case Some(pin) =>
              out.check(s"batch.pin.$q.p$p", pin.rows == n && pin.hash == h,
                s"rows=$n hash=$h, pinned rows=${pin.rows} hash=${pin.hash}")
            case None => out.check(s"batch.pin.$q", ok = false, s"no pin (rows=$n hash=$h)")
          }
        } catch { case e: Exception =>
          out.failed += 1
          out.info(s"error.$opKey") = String.valueOf(e.getMessage).take(300)
        }
        out.attempted += 1
        t.drain(spark)
      }
      val p1 = System.nanoTime()
      t.add(pid, wl, s"batch.pass$p", "", p0, p1)
      (p1 - p0) / 1e9
    }

    val jobS = pass(1, traced = t.on)
    val fresh = timed.filter(_.pass == 1).map(_.total).toSeq
    // traced runs rerun the pass untraced (listeners detached), traced,
    // traced and untraced: the steady cost per module, and the tracing
    // overhead, with the symmetric order cancelling the warming between
    val reruns = if (!t.on) Nil else Seq(false, true, true, false).zipWithIndex.map {
      case (tr, j) =>
        tr -> (if (tr) pass(2 + j, traced = true) else t.untraced(spark)(pass(2 + j, traced = false)))
    }
    def rerunOf(tr: Boolean) = reruns.filter(_._1 == tr).map(_._2)
    val rerunS = Stats.median(rerunOf(false))
    t.add(wl, 0L, "workload.batch", "", wl0, System.nanoTime())
    val gcS = Host.gcSeconds() - gc0

    val rss = Host.peakRssMb()
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("latency_p50_s") = (Stats.median(fresh), "s")
    out.e2e("throughput_per_s") = (Queries.size / jobS, "1/s")
    out.named("setup_s") = (setupS, "s")
    out.named("failed_share") = (out.failed.toDouble / out.attempted, "ratio")
    out.named("peak_rss_mb") = (rss, "MB")
    out.named("batch_job_s") = (jobS, "s")
    out.info("data") = DataDir

    if (t.on) {
      t.drain(spark)
      t.settle()
      out.named("batch_rerun_s") = (rerunS, "s")
      val overhead = rerunOf(true).sum / rerunOf(false).sum - 1.0
      val tr = timed.filter(tt => tt.traced && tt.pass >= 2)
      val ops = tr.map(tt => s"p${tt.pass}-${tt.query}").toSeq
      Layers.record(out, t, ops, tr.map(_.build).toSeq, tr.map(_.plan).toSeq,
        tr.map(_.exec).toSeq, gcS, overhead)
      // per module: build/exec from the traced rerun, and the fresh pass
      Queries.map(_._1).distinct.foreach { m =>
        def med(f: Timed => Double, rows: Iterable[Timed]) = {
          val byPass = rows.filter(_.module == m).groupBy(_.pass)
            .values.map(_.map(f).sum).toSeq
          Stats.median(byPass)
        }
        out.named(s"batch.$m.build_s") = (med(_.build, tr), "s")
        out.named(s"batch.$m.exec_s") = (med(_.exec, tr), "s")
        out.named(s"batch.$m.first_pass_s") = (med(_.total, timed.filter(_.pass == 1)), "s")
      }
      // per pass: totals over the traced reruns, divided by their number
      val nPass = rerunOf(true).size.toDouble
      def tot(f: OpCounters => Long) = Layers.sum(t, ops)(f) / nPass
      out.named("batch.plan_s") = (tr.map(_.plan).sum / nPass, "s")
      out.named("batch.jobs") = (tot(_.jobs), "count")
      out.named("batch.stages") = (tot(_.stages), "count")
      out.named("batch.tasks") = (tot(_.tasks), "count")
      out.named("batch.input_bytes") = (tot(_.inputBytes), "B")
      out.named("batch.shuffle_bytes") = (tot(_.shuffleBytes), "B")
      out.named("batch.spill_bytes") = (tot(_.spillBytes), "B")
      out.named("batch.persist_blocks") = (tot(_.persistBlocks), "count")
      out.named("spark.gc_s") = (gcS, "s")
      out.named("trace.overhead_share") = (overhead, "ratio")
      val path = ctx.work.resolve(s"spans-batch-s${ctx.seed}.jsonl")
      val (residual, count) = t.write(path, _.startsWith("batch.query."))
      out.named("trace.self_residual_s") = (residual, "s")
      out.info("spans") = count.toString
      out.info("span_file") = path.toString
    }
    spark.stop()
    out
  }
}

/** Writes the batch pins from a `graft.Verify` dump, one parquet
  * directory per query under `<dump>`. Usage: `--pin <dump> --out <file>
  * --source <text>`; `source` records where the rows were checked. */
object PinMain {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-pin")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dump = java.nio.file.Paths.get(kv("pin"))
    val names = Files.list(dump).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    val entries = names.map { q =>
      val (n, h) = BatchWorkload.digest(
        spark.read.parquet(s"${kv("pin")}/$q").collect())
      s"""    "$q": {"rows": $n, "hash": "$h", "source": "${kv("source")}"}"""
    }
    val text =
      s"""{
         |  "data": "${BatchWorkload.DataDir}",
         |  "queries": {
         |${entries.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    Files.write(java.nio.file.Paths.get(kv("out")), text.getBytes("UTF-8"))
    spark.stop()
  }
}
