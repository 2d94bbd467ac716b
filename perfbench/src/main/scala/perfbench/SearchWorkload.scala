package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.ops.{Dsl, Search}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `search`: one closed-loop client against an index built during set-up
  * over a seeded Zipf corpus. Reads go through the served DSL entry
  * points, one per template in a fixed order; each block of reads holds
  * one bulk append of 200 marked docs (see [[Gen.op]]). */
object SearchWorkload {
  /** Corpus size, sized so that index build fits one run's time budget. */
  val CorpusDocs = 1000

  private final case class Done(op: Int, template: String, secs: Double,
      build: Double, plan: Double, exec: Double, traced: Boolean)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val t = ctx.tracer
    val spark = ctx.session(Host.nproc)
    import spark.implicits._
    val dir = ctx.work.resolve("search")
    Host.deleteTree(dir)
    val idx = dir.resolve("index").toString
    val n = CorpusDocs
    out.info("session_ready_s") = f"${ctx.sinceStart()}%.3f"

    val g0 = System.nanoTime()
    val corpus = Gen.corpus(ctx.seed, n).toSeq.toDF()
    val b0 = System.nanoTime()
    Search.buildSearchIndexOf(corpus, idx)
    val buildS = (System.nanoTime() - b0) / 1e9
    out.info("corpus_s") = f"${(b0 - g0) / 1e9}%.3f"
    val w0 = System.nanoTime()
    // warm-up: one match request, from a stream the measured phase
    // never draws from
    serve(spark, idx, "match", Gen.bodies(ctx.seed, n, "match", Gen.rng(ctx.seed, 7)))
      .collect()
    out.info("warmup_s") = f"${(System.nanoTime() - w0) / 1e9}%.3f"
    val setupS = ctx.sinceStart()

    val done = mutable.ArrayBuffer.empty[Done]
    val bulks = mutable.ArrayBuffer.empty[Double]
    // template -> (bodies, served rows, bulk batches appended before it)
    val firsts = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Seq[Any]], Int)]
    val batches = mutable.ArrayBuffer.empty[Seq[Gen.Doc]]
    val parse = mutable.ArrayBuffer.empty[Double]
    val hits = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    var i = 1
    val gc0 = Host.gcSeconds()
    val wl = t.newId()
    val wl0 = System.nanoTime()
    // at least one block (each template once, and one append), then
    // until the run's seconds are spent
    val minOps = Gen.BlockOps
    while (measured < ctx.seconds || i <= minOps) {
      val opKey = s"op-$i"
      Gen.op(ctx.seed, n, i) match {
        case Gen.Read(tp, bodies) =>
          /* One request: build, plan, execute; spans and Spark work are
           * recorded under `key` when it is traced. */
          def request(key: String): (Done, Array[org.apache.spark.sql.Row]) = {
            val rid = t.newId()
            t.currentOp = key
            val t0 = System.nanoTime()
            val (df, _) = t.span(spark, "dsl.build", rid, key)(serve(spark, idx, tp, bodies))
            val t1 = System.nanoTime()
            t.span(spark, "spark.plan", rid, key)(df.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            val (rows, _) = t.span(spark, "spark.exec", rid, key)(df.collect())
            val t3 = System.nanoTime()
            t.add(rid, wl, s"search.$tp", key, t0, t3)
            (Done(i, tp, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
              (t3 - t2) / 1e9, t.isTraced(key)), rows)
          }
          val t0 = System.nanoTime()
          try {
            val (d, rows) =
              if (!t.on) request(opKey)
              else {
                // traced runs serve each read twice, traced and untraced
                // (listeners detached), in alternating order: the pair's
                // ratio is the tracing overhead on the same request
                t.traceOp(opKey)
                bodies.foreach { b =>
                  val p0 = System.nanoTime(); Dsl.parseBody(b)
                  parse += (System.nanoTime() - p0) / 1e9
                }
                val k = Gen.readIndex(i)
                def twin() = t.untraced(spark)(request(s"$opKey-u"))
                val (tr, un) =
                  if (k % 2 == 0) { val u = twin(); (request(opKey), u) }
                  else { val r = request(opKey); (r, twin()) }
                pairs += tr._1.secs / un._1.secs
                hits += tr._2.length.toDouble
                tr
              }
            measured += d.secs
            done += d
            if (!firsts.contains(tp))
              firsts(tp) = (bodies, rows.map(_.toSeq).toSeq, batches.size)
          } catch { case e: Exception =>
            measured += (System.nanoTime() - t0) / 1e9
            out.failed += 1
            out.info(s"error.op$i") = s"$tp: ${String.valueOf(e.getMessage).take(300)}"
          }
          out.attempted += 1
        case Gen.Bulk(b, marker, ids) =>
          t.traceOp(opKey)
          val batch = ids.map(id => Gen.doc(ctx.seed, id, Some(marker)))
          val docs = batch.toDF()
          val rid = t.newId()
          t.currentOp = opKey
          val t0 = System.nanoTime()
          try {
            t.span(spark, "search.append", rid, opKey)(
              Search.appendToSearchIndex(spark, idx, docs, s"b$b"))
            val t1 = System.nanoTime()
            t.add(rid, wl, "search.bulk", opKey, t0, t1)
            measured += (t1 - t0) / 1e9
            bulks += (t1 - t0) / 1e9
            batches += batch
            // read-your-write: the marker finds exactly this batch
            val got = Dsl.searchDslFromIndexes(spark, Seq(idx),
              s"""{"query": {"match": {"text": "$marker"}}, "size": ${ids.size + 50}}""")
              .collect().map(_.getAs[Long]("doc_id")).toSet
            out.check(s"search.append_visible.b$b", got == ids.toSet,
              s"marker $marker returned ${got.size} docs, want ${ids.size}")
          } catch { case e: Exception =>
            measured += (System.nanoTime() - t0) / 1e9
            out.failed += 1
            out.info(s"error.op$i") = s"bulk: ${String.valueOf(e.getMessage).take(300)}"
          }
          out.attempted += 1
      }
      t.drain(spark)
      i += 1
    }
    val wallS = (System.nanoTime() - wl0) / 1e9
    t.add(wl, 0L, "workload.search", "", wl0, System.nanoTime())
    val gcS = Host.gcSeconds() - gc0

    val c0 = System.nanoTime()
    // the first request of each template equals the scan path over the
    // corpus plus the batches appended before it, row for row; the scans
    // are checks, not measurements, so they run concurrently
    implicit val ec: ExecutionContext = ExecutionContext.global
    val scans = firsts.toSeq.map { case (tp, (bodies, _, nb)) =>
      tp -> Future {
        val docs = batches.take(nb).foldLeft(corpus)((d, b) => d.unionByName(b.toDF()))
        scan(docs, tp, bodies).collect().map(_.toSeq).toSeq
      }
    }
    scans.foreach { case (tp, f) =>
      val (bodies, rows, _) = firsts(tp)
      val want = Await.result(f, Duration.Inf)
      out.check(s"search.scan_equal.$tp", want == rows,
        s"served ${rows.size} rows != scan ${want.size} rows for ${bodies.mkString(" | ")}")
    }
    out.check("search.every_template_served", firsts.size == Gen.Templates.size,
      s"only ${firsts.keys.mkString(",")} ran")

    out.info("scan_checks_s") = f"${(System.nanoTime() - c0) / 1e9}%.3f"
    val reads = done.map(_.secs).toSeq
    val docsIndexed = n + batches.map(_.size).sum
    val idxBytes = Host.dirBytes(java.nio.file.Paths.get(idx))
    val rss = Host.peakRssMb()
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("latency_p50_s") = (Stats.median(reads), "s")
    out.e2e("throughput_per_s") = (out.attempted / measured, "1/s")

    out.named("setup_s") = (setupS, "s")
    out.named("failed_share") = (out.failed.toDouble / out.attempted, "ratio")
    out.named("peak_rss_mb") = (rss, "MB")
    out.named("index_bytes_per_doc") = (idxBytes.toDouble / docsIndexed, "B")
    out.named("search_latency_p50_s") = (Stats.median(reads), "s")
    if (Stats.beyond(reads, 0.9) >= 10)
      out.named("search_latency_p90_s") = (Stats.quantile(reads, 0.9), "s")
    out.named("bulk_latency_p50_s") = (Stats.median(bulks.toSeq), "s")
    out.named("search_index_build_s") = (buildS, "s")
    Gen.Templates.foreach { tp =>
      out.named(s"search.$tp.latency_p50_s") =
        (Stats.median(done.filter(_.template == tp).map(_.secs).toSeq), "s")
    }
    out.info("reads") = reads.size.toString
    out.info("bulks") = bulks.size.toString
    out.info("wall_s") = f"$wallS%.3f"
    out.info("p90_samples_beyond") = Stats.beyond(reads, 0.9).toString

    if (t.on) {
      t.drain(spark)
      t.settle()
      val tr = done.filter(_.traced)
      val ops = tr.map(d => s"op-${d.op}").toSeq
      val overhead = Stats.median(pairs.toSeq) - 1.0
      Layers.record(out, t, ops, tr.map(_.build).toSeq, tr.map(_.plan).toSeq,
        tr.map(_.exec).toSeq, gcS, overhead)
      val nOps = math.max(ops.size, 1).toDouble
      def per(f: OpCounters => Long) = Layers.sum(t, ops)(f) / nOps
      out.named("dsl.parse_s_p50") = (Stats.median(parse.toSeq), "s")
      out.named("dsl.build_s_p50") = (Stats.median(tr.map(_.build).toSeq), "s")
      out.named("spark.plan_s_p50") = (Stats.median(tr.map(_.plan).toSeq), "s")
      out.named("spark.exec_s_p50") = (Stats.median(tr.map(_.exec).toSeq), "s")
      out.named("spark.jobs_per_req") = (per(_.jobs), "count")
      out.named("spark.stages_per_req") = (per(_.stages), "count")
      out.named("spark.tasks_per_req") = (per(_.tasks), "count")
      out.named("spark.input_bytes_per_req") = (per(_.inputBytes), "B")
      out.named("spark.shuffle_bytes_per_req") = (per(_.shuffleBytes), "B")
      out.named("spark.persist_blocks_per_req") = (per(_.persistBlocks), "count")
      out.named("search.postings_rows_per_req") = (per(_.postingsRows), "count")
      out.named("search.hits_per_req") = (Stats.median(hits.toSeq), "count")
      out.named("dsl.build_jobs_per_req") =
        (t.childCount("dsl.build", "spark.job.") / nOps, "count")
      out.named("search.append_s_p50") = (Stats.median(t.durations("search.append")), "s")
      out.named("search.index_files") =
        (Host.parquetFiles(java.nio.file.Paths.get(idx)).toDouble, "count")
      out.named("spark.gc_s") = (gcS, "s")
      out.named("trace.overhead_share") = (overhead, "ratio")
      writeSpans(ctx, out)
    }
    spark.stop()
    out
  }

  private def writeSpans(ctx: Ctx, out: Outcome): Unit = {
    val path = ctx.work.resolve(s"spans-search-s${ctx.seed}.jsonl")
    val (residual, count) = ctx.tracer.write(path, _.startsWith("search."))
    out.named("trace.self_residual_s") = (residual, "s")
    out.info("spans") = count.toString
    out.info("span_file") = path.toString
  }

  private[perfbench] def serve(spark: SparkSession, idx: String, tp: String,
      bodies: Seq[String]): DataFrame = tp match {
    case "aggs" => Dsl.dslAggsFromIndexes(spark, Seq(idx), bodies.head)
    case "msearch" => Dsl.msearchFromIndexes(spark, Seq(idx), bodies)
    case _ => Dsl.searchDslFromIndexes(spark, Seq(idx), bodies.head)
  }

  private def scan(docs: DataFrame, tp: String, bodies: Seq[String]): DataFrame =
    tp match {
      case "aggs" => Dsl.dslAggsOf(docs, bodies.head)
      case "msearch" => Dsl.msearchOf(docs, bodies)
      case _ => Dsl.searchDslOf(docs, bodies.head)
    }
}
