package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The per-corpus memo ([[Tables.shared]], [[Tables.built]],
  * [[Tables.invalidate]]): concurrent first reads and the scope of a
  * corpus-rewrite invalidation. */
class MemoSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("concurrent first reads of one memo build it once and read the same rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftmemo").toString
    val builds = new AtomicInteger()
    def read() = Tables.shared(spark, dir, "memo_probe") {
      builds.incrementAndGet()
      Thread.sleep(200) // hold the build open while the other readers arrive
      Seq(spark.range(20).select(($"id" * 3).as("v")))
    }.head
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ =>
        pool.submit(() => { start.await(); rows(read()) }))
      start.countDown()
      val got = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(builds.get == 1, s"the build ran ${builds.get} times")
      val serial = rows(read())
      assert(builds.get == 1, "a serial read after the first rebuilt the memo")
      assert(serial == (0 until 20).map(i => s"[${i * 3}]").sorted)
      got.foreach(r => assert(r == serial))
    } finally {
      pool.shutdown()
      Tables.invalidate(spark, dir)
    }
  }

  test("invalidate drops every memo of one dir and nothing of another") {
    val root = java.nio.file.Files.createTempDirectory("graftmemoinv")
    // sf0.1 and sf0_1 sanitize to the same name; only the md5 part of
    // the view suffix keeps their memos apart
    val dirA = root.resolve("sf0.1").toString
    val dirB = root.resolve("sf0_1").toString
    val suffixA = Tables.viewSuffix(dirA)
    val suffixB = Tables.viewSuffix(dirB)
    assert(suffixA != suffixB)
    val keys = Seq("", "#daily", "#ann")
    // builds per memo: the artifact keys, plus " one" and " two+three"
    // for the two view groups
    val builds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def readAll(dir: String): Unit = {
      Tables.shared(spark, dir, "memo_one") {
        builds(dir + " one") += 1
        Seq(spark.range(1).toDF())
      }
      Tables.shared(spark, dir, "memo_two", "memo_three") {
        builds(dir + " two+three") += 1
        Seq(spark.range(2).toDF(), spark.range(3).toDF())
      }
      keys.foreach(k => Tables.built(spark, dir + k)(builds(dir + k) += 1))
    }
    def views(suffix: String): Set[String] =
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_") &&
          t.name.endsWith("_" + suffix))
        .map(_.name).toSet
    val names = Set("memo_one", "memo_two", "memo_three")
    try {
      readAll(dirA)
      readAll(dirB)
      assert(views(suffixA) == names.map(n => s"graft_${n}_$suffixA"))
      val viewsB = views(suffixB)
      assert(viewsB == names.map(n => s"graft_${n}_$suffixB"))
      Tables.invalidate(spark, dirA)
      assert(views(suffixA).isEmpty, s"views of $dirA left: ${views(suffixA)}")
      assert(views(suffixB) == viewsB)
      readAll(dirA)
      readAll(dirB)
      (keys ++ Seq(" one", " two+three")).foreach { k =>
        assert(builds(dirA + k) == 2, s"$dirA$k did not rebuild after invalidate")
        assert(builds(dirB + k) == 1, s"$dirB$k rebuilt though only $dirA was invalidated")
      }
    } finally {
      Tables.invalidate(spark, dirA)
      Tables.invalidate(spark, dirB)
    }
  }
}
