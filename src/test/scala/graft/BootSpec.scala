package graft

import graft.streaming.{Boot, BootConfig, FrameSource, IngestPipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** The §3.3 bootstrap composition (reference main.go:204-325): config
  * envelope → schema validation → index+alias → health endpoint →
  * pipeline → graceful drain, driven end-to-end in-process. */
class BootSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def json(uuid: String, ms: Long): String =
    s"""{"identifier":"i1","name":"n","uuid":"$uuid","type":"t","ingestion_time":$ms,"tags":[{"type":"k","value":"v"}]}"""

  test("BootConfig.fromEnv mirrors the reference env envelope") {
    val env = Map(
      "DATA_TOPIC" -> "/in/topicdir",
      "DATA_DLQ_TOPIC" -> "/out/dlq",
      "INDEX" -> "/out/myindex",
      "SUBSCRIPTION_NAME" -> "subA",
      "PORT" -> "9911",
      "BATCH_MIN_TIME" -> "7",
      "MAX_BATCH_SIZE" -> "42",
      "GRAFT_FUNNEL_DIR" -> "/warehouse/funnel")
    val c = BootConfig.fromEnv(env)
    assert(c.sourceDir == "/in/topicdir" && c.dlqDir == "/out/dlq")
    assert(c.indexDir == "/out/myindex" && c.alias == "myindex")
    assert(c.checkpointDir == "/out/myindex/_checkpoint_subA")
    assert(c.port == 9911 && c.batchMinTimeSec == 7 && c.maxBatchSize == 42)
    assert(c.funnelDir.contains("/warehouse/funnel"))
    // defaults (.env: PORT=8002, BATCH_MIN_TIME=5, MAX_BATCH_SIZE=1000)
    val d = BootConfig.fromEnv(Map(
      "DATA_TOPIC" -> "t", "DATA_DLQ_TOPIC" -> "d", "INDEX" -> "i"))
    assert(d.port == 8002 && d.batchMinTimeSec == 5 && d.maxBatchSize == 1000)
    assert(d.checkpointDir == "i/_checkpoint_data_subscription")
    assert(d.funnelDir.isEmpty)
    // missing required var fails the boot, not the first batch
    val e = intercept[IllegalArgumentException] {
      BootConfig.fromEnv(Map("DATA_TOPIC" -> "t", "INDEX" -> "i"))
    }
    assert(e.getMessage.contains("DATA_DLQ_TOPIC"))
  }

  test("the shared session carries every session posture pair") {
    SessionPosture.Pairs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k: ${spark.conf.get(k)}, not $v")
    }
  }

  test("alias over a freshly-created empty index dir answers (zero rows)") {
    val dir = tmp("emptyidx")
    Boot.pointBootAlias(spark, "empty_alias", dir, "2026-01-01")
    assert(spark.table("empty_alias").count() == 0)
    intercept[IllegalArgumentException] {
      Boot.pointBootAlias(spark, "bad", dir, "not-a-date")
    }
  }

  test("re-pointing the alias over 40 epochs of a day runs no Spark job") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = tmp("fortyidx")
    val now = java.time.Instant.parse("2026-02-02T10:00:00Z")
    val day = "2026-02-02"
    val dayBefore = now.toEpochMilli - 24L * 3600 * 1000
    IngestPipeline.writeBatch(IngestPipeline.parse(Seq(json("a1", now.toEpochMilli),
      json("a2", now.toEpochMilli), json("other_day", dayBefore)).toDF("value")),
      0L, dir, tmp("fortydlq"), now = now)
    // epochs 1-39 of the same day: copies of epoch 0's files
    val e0 = java.nio.file.Paths.get(dir, s"persist_date=$day", "epoch_id=0")
    val files = { val l = Files.list(e0); try l.iterator().asScala.toList finally l.close() }
      .filter(_.getFileName.toString.endsWith(".parquet"))
    (1 until 40).foreach { e =>
      val d = Files.createDirectories(e0.resolveSibling(s"epoch_id=$e"))
      files.foreach(f => Files.copy(f, d.resolve(f.getFileName)))
    }
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      Boot.pointBootAlias(spark, "forty_alias", dir, day)
      org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"re-pointing the alias launched ${jobs.get} Spark jobs")
    // the alias serves exactly what a full read filtered to the day does
    val cols = graft.model.Schemas.index.fields.toSeq
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(cols.map(f => $"${f.name}".cast(f.dataType)): _*)
        .collect().map(_.toString).toSeq.sorted
    val alias = rows(spark.table("forty_alias"))
    assert(alias.size == 80)
    assert(alias == rows(spark.read.parquet(dir).filter($"persist_date" === day)))
  }

  test("boot composes schema, alias, health, pipeline, and drains cleanly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a rotated-but-equivalent schema file, exercising DATA_SCHEMA
    val schemaFile = Files.createTempFile("boot", ".avsc")
    Files.writeString(schemaFile,
      graft.functions.AvroDecodeIngestion.SchemaJson)
    val (srcDir, idxDir, dlqDir) = (tmp("bootsrc"), tmp("bootidx") + "/sub", tmp("bootdlq"))
    val config = BootConfig(
      sourceDir = srcDir, indexDir = idxDir, dlqDir = dlqDir,
      checkpointDir = idxDir + "/_checkpoint_test", alias = "boot_index",
      port = 0, dataSchemaPath = Some(schemaFile.toString),
      batchMinTimeSec = 1)
    val mem = MemoryStream[String]
    val now = System.currentTimeMillis()
    mem.addData(json("b1", now), json("b2", now), "garbage")
    val app = Boot.start(spark, config, source = Some(FrameSource(mem.toDF())))
    try {
      app.query.processAllAvailable()
      // index written, DLQ routed
      assert(spark.read.parquet(idxDir).count() == 2)
      assert(spark.read.parquet(dlqDir).count() == 1)
      // the alias serves TODAY's partition (records carry now())
      assert(spark.table("boot_index").select("uuid").distinct().count() == 2)
      // the health endpoint answers 200 on the ephemeral port
      val url = new java.net.URL(s"http://127.0.0.1:${app.healthPort}/health")
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    } finally app.stop()
    // graceful drain: query stopped, port released
    assert(!app.query.isActive)
    intercept[java.io.IOException] {
      val c = new java.net.URL(s"http://127.0.0.1:${app.healthPort}/health")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setConnectTimeout(2000); c.getResponseCode
    }
  }

  test("default boot drains a file-source topic dir (AvailableNow)") {
    val (srcDir, idxDir, dlqDir) = (tmp("fsrc"), tmp("fidx"), tmp("fdlq"))
    val now = System.currentTimeMillis()
    Files.writeString(java.nio.file.Paths.get(srcDir, "payloads.txt"),
      json("f1", now) + "\n" + json("f2", now) + "\nnot json\n")
    val config = BootConfig(
      sourceDir = srcDir, indexDir = idxDir, dlqDir = dlqDir,
      checkpointDir = idxDir + "/_ck", alias = "file_boot_index", port = 0)
    val app = Boot.start(spark, config,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    try app.query.awaitTermination(120000) finally app.stop()
    assert(spark.read.parquet(idxDir).select("uuid").distinct().count() == 2)
    assert(spark.read.parquet(dlqDir).count() == 1)
    assert(spark.table("file_boot_index").count() == 2)
  }

  test("a broken DATA_SCHEMA file fails the boot before any stream starts") {
    val bad = Files.createTempFile("badboot", ".avsc")
    Files.writeString(bad, "{not avro")
    val config = BootConfig(
      sourceDir = tmp("s"), indexDir = tmp("i"), dlqDir = tmp("d"),
      checkpointDir = tmp("c"), alias = "x", port = 0,
      dataSchemaPath = Some(bad.toString))
    intercept[Exception] { Boot.start(spark, config) }
    assert(spark.streams.active.isEmpty, "no stream may start on failed boot")
  }
}
