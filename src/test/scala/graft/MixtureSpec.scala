package graft

import graft.ops.Select
import org.apache.spark.sql.DataFrame

/** Mixture-reweighting dynamics beyond the oracle's exact-value checks:
  * the Group-DRO tilt direction, its monotonicity in the sweep count,
  * the fixed point, and the materialized sample's composition shift. */
class MixtureSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: DataFrame = Tables.documentsPar(spark, sfDir)

  test("mix_weights: a proper distribution tilted toward the hard domains") {
    val rows = Select.mixWeights(spark, sfDir).collect()
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-9, s"weights must sum to 1, got $wsum")
    assert(rows.forall(_.getAs[Double]("weight") > 0.0))
    // natural share vs trained weight: the max-loss domain must sit
    // ABOVE its doc share, the min-loss domain below — the Group-DRO
    // direction, measured not asserted
    val n = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    val byLoss = rows.sortBy(_.getAs[Double]("loss"))
    val hard = byLoss.last
    val easy = byLoss.head
    val hardShare = hard.getAs[Long]("n_docs") / n
    val easyShare = easy.getAs[Long]("n_docs") / n
    info(f"hard ${hard.getAs[String]("source")}: share $hardShare%.3f -> " +
      f"w ${hard.getAs[Double]("weight")}%.3f; easy ${easy.getAs[String]("source")}: " +
      f"share $easyShare%.3f -> w ${easy.getAs[Double]("weight")}%.3f")
    assert(hard.getAs[Double]("weight") > hardShare,
      "max-loss domain must be upweighted past its natural share")
    assert(easy.getAs[Double]("weight") < easyShare,
      "min-loss domain must be downweighted below its natural share")
  }

  test("mix sweep: the hard domain's weight grows monotonically with the budget") {
    // MW with a fixed loss table drifts toward the max-loss domain —
    // the sweep count is a TEMPER knob (how hard to tilt), not a
    // convergence claim; DoReMi likewise fixes total reweighting steps.
    // Pin the monotone direction so the knob's meaning is tested.
    val traj = (0 to Select.MixSweeps).map { t =>
      val rows = Select.mixWeightRowsAt(docs, t).collect()
      rows.maxBy(_.getAs[Double]("loss")).getAs[Double]("w")
    }
    info("hard-domain weight by sweep: " +
      traj.zipWithIndex.map { case (w, i) => f"$i:$w%.4f" }.mkString(", "))
    traj.sliding(2).foreach { case Seq(a, b) =>
      assert(b > a, f"hard-domain weight must grow each sweep ($a%.5f -> $b%.5f)")
    }
  }

  test("mix fixed point: a single-domain corpus keeps weight 1 and samples whole") {
    val one = docs.filter($"source" === docs.select($"source").first().getString(0))
    val w = Select.mixWeightsOf(one).collect()
    assert(w.length == 1)
    assert(math.abs(w.head.getAs[Double]("weight") - 1.0) < 1e-12,
      "uniform excess must leave the trivial mixture unchanged")
    val kept = Select.mixSampleOf(one).count()
    assert(kept == one.count(),
      "rate 1.0 for the binding domain must keep every document")
  }

  test("serving path: persisted rates sample a STREAM bit-identically to the batch query") {
    val root = java.nio.file.Files.createTempDirectory("graftmixrates")
    val ratesDir = root.resolve("rates").toString
    Select.materializeMixRates(spark, sfDir, ratesDir)
    val rates = spark.read.parquet(ratesDir)
    val want = Select.mixSample(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rows = docs.select($"doc_id", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    mem.addData(rows.toSeq)
    val q = Select.sampleWithRates(
      mem.toDF.toDF("doc_id", "source"), rates)
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("mix_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == want,
      s"streamed keep set/rates diverged: ${got.size} vs ${want.size} docs")
  }

  test("anneal_schedule: warmup is the natural mix, anneal is the trained mix") {
    val rows = Select.annealSchedule(spark, sfDir).collect()
    val (warm, ann) = rows.partition(_.getString(0) == "warmup")
    assert(warm.length == ann.length && warm.nonEmpty)
    // warmup = natural composition: boost exactly 1 for every domain
    warm.foreach { r =>
      assert(r.getAs[Double]("boost") == 1.0,
        s"warmup boost must be 1.0 for ${r.getAs[String]("source")}")
    }
    // anneal phase = the registered mix_weights, value for value
    val trained = Select.mixWeights(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("weight")).toMap
    ann.foreach { r =>
      assert(r.getAs[Double]("weight") == trained(r.getAs[String]("source")),
        s"anneal weight diverged for ${r.getAs[String]("source")}")
    }
    // crossing the phase boundary boosts the hard domain
    val hard = ann.maxBy(_.getAs[Double]("loss"))
    assert(hard.getAs[Double]("boost") > 1.0,
      "the max-loss domain must be boosted in the anneal phase")
  }

  test("shared domain table invalidates with the corpus (Dedup.invalidate contract)") {
    val root = java.nio.file.Files.createTempDirectory("graftmixinv")
    val dir = root.resolve("corpus").toString
    def writeDocs(flip: Boolean): Unit = {
      val rows = (0 until 40).map { i =>
        val src = if (i % 2 == 0) "a" else "b"
        val text = if ((i % 2 == 0) ^ flip) "common common common common"
        else s"rare$i token$i word$i extra$i"
        (i.toLong, text, "en", src, text.length.toLong)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    writeDocs(flip = false)
    val first = Select.mixWeights(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    writeDocs(flip = true)
    graft.Tables.invalidate(spark, dir)
    val second = Select.mixWeights(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    // flipping which domain carries the rare text must flip the tilt
    assert(first("a") != second("a"),
      "rewritten corpus must re-derive the domain losses, not serve the stale view")
  }

  test("mix_sample: composition shifts toward the hard domain; binding domain kept whole") {
    val weights = Select.mixWeights(spark, sfDir).collect()
    val hardSrc = weights.maxBy(_.getAs[Double]("loss")).getAs[String]("source")
    val sample = Select.mixSample(spark, sfDir)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = docs.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rawShare = raw(hardSrc).toDouble / raw.values.sum
    val samShare = sample(hardSrc).toDouble / sample.values.sum
    info(f"hard domain $hardSrc: raw share $rawShare%.3f -> sampled $samShare%.3f")
    assert(samShare > rawShare,
      "resampling must shift composition toward the upweighted domain")
    // the binding domain (max w/n) has rate 1.0 — no doc of it is lost
    val binding = weights
      .maxBy(r => r.getAs[Double]("weight") / r.getAs[Long]("n_docs"))
      .getAs[String]("source")
    assert(sample(binding) == raw(binding),
      s"binding domain $binding must survive intact (rate 1.0)")
  }
}
