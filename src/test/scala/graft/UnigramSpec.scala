package graft

import graft.ops.Unigram
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer behavior beyond the oracle's exact-value
  * checks: a hand-checkable segmentation, the training effect on
  * fragmentation, structural bounds, determinism, and the
  * invalidation contract. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(texts: String*) =
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

  test("a dominant whole word survives as one piece; rare words fall to singles") {
    // "abcd" dominates: its substring counts make p(abcd) large, so
    // Viterbi keeps it whole; "zq" occurs once — its 2-gram falls
    // under the admission floor, so it must segment to singles
    val docs = docsOf(Array.fill(20)("abcd").mkString(" "), "abcd zq")
    val vocab = Unigram.trainedCounts(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab("abcd") == 21L, s"whole-word piece lost: $vocab")
    assert(!vocab.contains("zq"),
      "a below-floor 2-gram must never enter the inventory")
    assert(vocab.contains("z") && vocab.contains("q"),
      "character coverage: singles must always exist")
  }

  test("hard-EM training reduces corpus fragmentation (measured)") {
    val docs = Tables.documentsPar(spark, sfDir)
    def totalPieces(sweeps: Int): Long = {
      val cnt = Unigram.trainedCountsAt(docs, sweeps)
      // Σ freq·np over distinct words under that sweep's model
      Unigram.npUnder(docs, cnt)
        .agg(sum($"freq" * $"np")).head().getLong(0)
    }
    val seed = totalPieces(0)
    val fin = totalPieces(Unigram.UgSweeps)
    info(s"corpus piece count: seed-model $seed -> trained $fin")
    assert(fin <= seed,
      "re-estimation must not fragment the corpus it was fit on")
  }

  test("token counts respect word and character bounds") {
    val rows = Unigram.unigramTokenCount(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        "a word is at least one piece")
    }
    // vs character volume: pieces cannot outnumber word characters
    val chars = Tables.documentsPar(spark, sfDir)
      .select($"doc_id",
        length(regexp_replace(lower($"text"), "[^a-z]", "")).cast("long").as("nc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) <= chars(r.getLong(0)),
        s"doc ${r.getLong(0)}: more pieces than characters")
    }
  }

  test("fertility is at least one piece per word in every language") {
    val rows = Unigram.unigramFertility(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0,
        s"${r.getAs[String]("lang")}: fertility below 1")
    }
  }

  test("training is deterministic across runs") {
    val docs = Tables.documentsPar(spark, sfDir)
    val a = Unigram.trainedCounts(docs).collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val b = Unigram.trainedCounts(docs).collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("serving path: the persisted model token-counts a STREAM bit-identically") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graftugmodel").toString
    Unigram.materializeModel(spark, sfDir, out)
    val cnt = spark.read.parquet(s"$out/counts")
    val want = Unigram.unigramTokenCount(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Tables.documentsPar(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    mem.addData(rows.toSeq)
    val q = Unigram.tokenCountWithModel(mem.toDF.toDF("doc_id", "text"), cnt)
      .writeStream.format("memory").queryName("ug_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ug_stream").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want,
      s"streamed counts diverged: ${got.size} vs ${want.size} docs")
    // an out-of-vocabulary arrival still segments (at worst characters)
    val oov = Unigram.tokenCountWithModel(
      Seq((99L, "zzqx unknowable")).toDF("doc_id", "text"), cnt).head()
    assert(oov.getLong(1) == 2L)
    assert(oov.getLong(2) >= 2L && oov.getLong(2) <= "zzqxunknowable".length,
      s"OOV fallback out of range: ${oov.getLong(2)}")
  }

  test("serving segments UNSEEN words with the trained pieces, not characters") {
    // Train on a corpus dominated by "abcd"; serve the never-seen word
    // "abcdabcd". Real Viterbi over the piece vocabulary finds the
    // 2-piece split [abcd, abcd]; the r8 word-table serving would have
    // fallen back to 8 single characters (ADVICE r8).
    val docs = docsOf(Array.fill(20)("abcd").mkString(" "))
    val cnt = Unigram.trainedCounts(docs)
    val row = Unigram.tokenCountWithModel(
      Seq((1L, "abcdabcd")).toDF("doc_id", "text"), cnt).head()
    assert(row.getLong(1) == 1L)
    assert(row.getLong(2) == 2L,
      s"expected the 2-piece Viterbi split, got ${row.getLong(2)} pieces")
    // and a word with an alien character still scores (epsilon path)
    val alien = Unigram.tokenCountWithModel(
      Seq((2L, "abxd")).toDF("doc_id", "text"), cnt).head()
    assert(alien.getLong(2) >= 2L && alien.getLong(2) <= 4L)
  }

  test("unigram views invalidate with the corpus (Dedup.invalidate contract)") {
    val root = java.nio.file.Files.createTempDirectory("graftuginv")
    val dir = root.resolve("corpus").toString
    def write(word: String): Unit =
      docsOf(Array.fill(10)(word).mkString(" "))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write("abcd")
    val first = Unigram.unigramVocab(spark, dir).collect().map(_.getString(0)).toSet
    write("wxyz")
    graft.Tables.invalidate(spark, dir)
    val second = Unigram.unigramVocab(spark, dir).collect().map(_.getString(0)).toSet
    assert(first.contains("abcd") && !second.contains("abcd") && second.contains("wxyz"),
      s"rewritten corpus must retrain the vocabulary: $first vs $second")
  }
}
