package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts one operation (request, query or epoch) caused in Spark. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskCpuNs = 0L
  var persistBlocks = 0L
  var postingsRows = 0L
}

/** Spans kept in memory and written once at the end of the run, plus a
  * benchmark-owned SparkListener and QueryExecutionListener that count
  * the Spark work each operation caused.
  *
  * Attribution: before each call into a layer the benchmark sets the
  * local properties [[OpKey]] and [[SpanKey]] on the calling thread;
  * Spark copies local properties onto every job the call launches,
  * including jobs from its own helper threads. Streaming epochs are
  * keyed by the `streaming.sql.batchId` property Spark sets itself.
  *
  * When `on` is false nothing is attached and every call is a no-op
  * apart from running its body, so untraced runs pay nothing. A traced
  * run takes its untraced baseline inside [[untraced]], with the
  * listeners detached and no span recorded. */
final class Tracer(val on: Boolean) {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  /** Maps a listener's epoch-ms timestamp onto this tracer's clock. */
  def nsOfMs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
  def nsOfMs(ms: Double): Long = nano0 + ((ms - wall0) * 1e6).toLong

  final case class Span(id: Long, parent: Long, name: String, op: String,
      start: Long, end: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** Ops whose Spark work is recorded; others are run but not counted. */
  private val traced = ConcurrentHashMap.newKeySet[String]()
  val counters = new ConcurrentHashMap[String, OpCounters]()

  def newId(): Long = ids.incrementAndGet()

  /** Records a span, unless the listeners are detached. */
  def add(id: Long, parent: Long, name: String, op: String,
      start: Long, end: Long): Unit =
    if (live) spans.add(Span(id, parent, name, op, start, end))

  /** Marks `op` as traced: its spans and Spark work are recorded. */
  def traceOp(op: String): Unit = if (on) traced.add(op)
  @volatile private var epochsTraced = false
  /** Marks every streaming epoch as traced. */
  def traceEpochs(): Unit = if (on) epochsTraced = true
  def isTraced(op: String): Boolean =
    on && (traced.contains(op) || epochsTraced && op.startsWith(Tracer.EpochPrefix))

  /** Runs `body` as span `name` under `parent`, attributing the Spark
    * jobs it launches to this span. Returns the body's value and the
    * span's id (0 when not recorded: the op is not traced, or the
    * listeners are detached). */
  def span[A](spark: SparkSession, name: String, parent: Long, op: String)(
      body: => A): (A, Long) =
    if (!isTraced(op) || !live) (body, 0L)
    else {
      val sc = spark.sparkContext
      val id = newId()
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevOp = sc.getLocalProperty(OpKey)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(OpKey, op)
      val t0 = System.nanoTime()
      try (body, id)
      finally {
        add(id, parent, name, op, t0, System.nanoTime())
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(OpKey, prevOp)
      }
    }

  // ------------------------------------------------------------ listeners

  private final case class JobRec(op: String, parent: Long, startMs: Long,
      var endMs: Long, execId: Long)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  /** Rows scanned from index postings per query execution, from the
    * QueryExecutionListener; keyed by the QueryExecution itself. */
  private val qePostings = new ConcurrentHashMap[QueryExecution, java.lang.Long]()
  /** SQL execution id -> its QueryExecution, from execution-end events. */
  private val execQe = new ConcurrentHashMap[Long, QueryExecution]()
  /** Parent span for jobs that carry no span property (streaming epochs,
    * whose phase spans are built after the fact), keyed by op. */
  val opParent = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var currentOp: String = ""

  private def opOf(props: java.util.Properties): (String, Long) = {
    if (props == null) return ("", 0L)
    val op = Option(props.getProperty(OpKey)).getOrElse {
      Option(props.getProperty("streaming.sql.batchId"))
        .map(b => Tracer.epochOp(b.toLong)).getOrElse("")
    }
    val parent = Option(props.getProperty(SpanKey)).map(_.toLong).getOrElse(0L)
    (op, parent)
  }

  private def c(op: String): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (op, parent) = opOf(e.properties)
      if (isTraced(op)) {
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .map(_.toLong).getOrElse(-1L)
        jobs.put(e.jobId, JobRec(op, parent, e.time, e.time, exec))
        e.stageIds.foreach(s => stageOp.put(s, op))
        c(op).synchronized(c(op).jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val k = c(op); k.synchronized(k.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val m = e.taskMetrics
        val k = c(op)
        k.synchronized {
          k.tasks += 1
          if (m != null) {
            k.inputBytes += m.inputMetrics.bytesRead
            k.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            k.taskCpuNs += m.executorCpuTime
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.ExecutionEnd.qe(end)
          .foreach(q => execQe.put(end.executionId, q))
      case _ => ()
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val op = currentOp
      if (e.blockUpdatedInfo.blockId.isRDD &&
          e.blockUpdatedInfo.storageLevel.isValid && isTraced(op)) {
        val k = c(op); k.synchronized(k.persistBlocks += 1)
      }
    }
  }

  private object Helper extends AdaptiveSparkPlanHelper

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val rows = Helper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("/postings")) =>
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      qePostings.put(qe, rows.sum)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  @volatile private var live = false
  /** (attach, detach) times of the listeners, ns; an open one ends at
    * Long.MaxValue. */
  private val attachedSpans = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
    attachedSpans.add(Array(System.nanoTime(), Long.MaxValue))
    live = true
  }

  /** Detaches the listeners once every event posted so far is handled. */
  def detach(spark: SparkSession): Unit = if (on) {
    drain(spark)
    live = false
    spark.sparkContext.removeSparkListener(Listener)
    spark.listenerManager.unregister(QeListener)
    attachedSpans.asScala.filter(_(1) == Long.MaxValue).foreach(_(1) = System.nanoTime())
  }

  /** Runs `body` as the untraced baseline of a traced run: listeners
    * detached, no spans. Its events are drained before the listeners
    * come back, so none of them is counted. */
  def untraced[A](spark: SparkSession)(body: => A): A =
    if (!on) body
    else {
      detach(spark)
      try body
      finally { drain(spark); attach(spark) }
    }

  /** Whether the listeners were attached throughout [start, end] (ns). */
  def attachedThroughout(start: Long, end: Long): Boolean =
    attachedSpans.asScala.exists(a => a(0) <= start && end <= a(1))

  /** Waits until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.graftbench.BenchBridge.drainListeners(spark.sparkContext)

  /** Folds finished jobs into spans and SQL executions into counters.
    * Call after [[drain]]. */
  def settle(): Unit = if (on) {
    val done = jobs.asScala.toSeq.sortBy(_._1)
    done.foreach { case (id, j) =>
      val parent = if (j.parent != 0L) j.parent
        else Option(opParent.get(j.op)).map(_.longValue).getOrElse(0L)
      add(newId(), parent, s"spark.job.$id", j.op, nsOfMs(j.startMs),
        nsOfMs(j.endMs))
      jobs.remove(id)
    }
    done.filter(_._2.execId >= 0).map { case (_, j) => j.execId -> j.op }
      .distinct.foreach { case (e, op) =>
        Option(execQe.remove(e)).flatMap(q => Option(qePostings.remove(q)))
          .foreach { rows =>
            val k = c(op)
            k.synchronized(k.postingsRows += rows)
          }
      }
    execQe.clear()
    qePostings.clear()
  }

  // -------------------------------------------------------------- output

  /** Writes the spans as JSON lines with each span's self time. Children
    * are clipped to their parent and to the previous sibling, so that
    * self times over any subtree sum to the root's attributed time.
    * Returns the largest |Σ self − wall| over the spans `roots` selects
    * (requests, epochs, queries), against their raw wall time, in
    * seconds, and the number of spans written. */
  def write(path: java.nio.file.Path, roots: String => Boolean): (Double, Int) = {
    settle()
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    var residual = 0.0
    def walk(s: Span, lo: Long, hi: Long): Long = {
      val kids = byParent.getOrElse(s.id, Nil).sortBy(k => (k.start, k.id))
      var cursor = lo
      var covered = 0L
      var selfSum = 0L
      kids.foreach { k =>
        val a = math.max(math.max(k.start, cursor), lo)
        val b = math.max(math.min(k.end, hi), a)
        covered += b - a
        selfSum += walk(k, a, b)
        cursor = b
      }
      val self = (hi - lo) - covered
      if (roots(s.name))
        residual = math.max(residual, math.abs(self + selfSum - (s.end - s.start)) / 1e9)
      out.println(
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""op":"${s.op}","start_us":${(s.start - nano0) / 1000},""" +
          s""""end_us":${(s.end - nano0) / 1000},""" +
          s""""attr_start_us":${(lo - nano0) / 1000},""" +
          s""""attr_end_us":${(hi - nano0) / 1000},""" +
          s""""self_us":${self / 1000.0}}""")
      self + selfSum
    }
    val ids = all.map(_.id).toSet
    all.filter(s => s.parent == 0L || !ids.contains(s.parent))
      .sortBy(_.start).foreach(r => walk(r, r.start, r.end))
    out.close()
    (residual, all.size)
  }

  /** Durations (s) of recorded spans named `name`. */
  def durations(name: String): Seq[Double] =
    spans.asScala.toSeq.filter(_.name == name).map(s => (s.end - s.start) / 1e9)

  /** Number of spans named `childPrefix`* whose parent span is named
    * `parentName`. Call after [[settle]]. */
  def childCount(parentName: String, childPrefix: String): Long = {
    val all = spans.asScala.toSeq
    val parents = all.filter(_.name == parentName).map(_.id).toSet
    all.count(s => s.name.startsWith(childPrefix) && parents.contains(s.parent))
  }
}

object Tracer {
  val EpochPrefix = "epoch-"
  def epochOp(batchId: Long): String = s"$EpochPrefix$batchId"
}
