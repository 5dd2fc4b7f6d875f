package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job of a timed call: `callSite` is Spark's short call site
  * ("collect at CommitLog.scala:612"), `site` the module it names. */
final case class JobRec(id: Int, call: Long, start: Long, end: Long,
    callSite: String, site: String, stageIds: Seq[Int])
final case class StageRec(id: Int, tasks: Int, runMs: Long,
    inputBytes: Long, shuffleWriteBytes: Long)
final case class QeRec(phasesMs: Map[String, Long], filesRead: Long)

/** One timed call into a layer's public function, with the Spark work it
  * caused. `start`/`end` are wall-clock ms (the clock job events use). */
final case class CallRec(id: Long, op: Long, layer: String, name: String,
    start: Long, end: Long, nanos: Long, fsBytesWritten: Long,
    jobs: Seq[JobRec], stages: Seq[StageRec], qes: Seq[QeRec],
    analysisMs: Long) {
  def jobIntervals: Seq[(Long, Long)] = jobs.map(j => (j.start, j.end))
  def driverGapMs: Long = Stats.driverGap(start, end, jobIntervals)
  def ms: Double = nanos / 1e6
}

/** One op: its latency (without its untimed checks), and whether its
  * answer was right. */
final case class OpRec(id: Long, kind: String, start: Long, end: Long,
    nanos: Long, ok: Boolean, error: Option[String])

/** Listener state. Untraced, it keeps only counts of the jobs started
  * inside timed calls and the parquet bytes their stages read; traced, it
  * also keeps every job, stage and executed query for attribution. A job
  * belongs to a call through the `lakebench.call` local property, which
  * Spark copies onto every job the calling thread (or a broadcast /
  * subquery thread it spawns) submits. */
final class BenchListener(traced: Boolean) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val timedJobs = new AtomicLong
  val timedInputBytes = new AtomicLong
  private val timedStages = ConcurrentHashMap.newKeySet[Int]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val pendingQes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  // SQL execution id -> the call site of the action that started it
  private val execCallSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced =>
      execCallSite.put(s.executionId, s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val call = Option(e.properties)
      .flatMap(p => Option(p.getProperty(BenchListener.CallProp)))
    call.foreach { c =>
      timedJobs.incrementAndGet()
      e.stageIds.foreach(timedStages.add)
      if (traced) {
        // adaptive execution submits query stages from a pool thread, whose
        // stack names no module; such a job takes the call site of the
        // action whose SQL execution it belongs to
        val own = e.stageInfos.sortBy(-_.stageId).headOption
          .map(_.name).getOrElse("")
        val callSite =
          if (Stats.siteOf(own) != "other") own
          else Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .flatMap(id => Option(execCallSite.get(id.toLong)))
            .getOrElse(own)
        jobs.put(e.jobId, JobRec(e.jobId, c.toLong, e.time, e.time, callSite,
          Stats.siteOf(callSite), e.stageIds))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (traced) jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (timedStages.contains(si.stageId)) {
      val m = si.taskMetrics
      val input = if (m == null) 0L else m.inputMetrics.bytesRead
      timedInputBytes.addAndGet(input)
      if (traced && m != null)
        stages.put(si.stageId, StageRec(si.stageId, si.numTasks,
          m.executorRunTime, input, m.shuffleWriteMetrics.bytesWritten))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    if (traced) {
      val files = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      pendingQes.add(QeRec(phases, files))
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def reset(): Unit = {
    timedJobs.set(0L); timedInputBytes.set(0L); timedStages.clear()
    jobs.clear(); stages.clear(); pendingQes.clear(); execCallSite.clear()
  }

  /** Executed queries delivered since the last call, oldest first. */
  def takeQes(): Seq[QeRec] = {
    val out = ArrayBuffer[QeRec]()
    var q = pendingQes.poll()
    while (q != null) { out += q; q = pendingQes.poll() }
    out.toSeq
  }
}

object BenchListener {
  val CallProp = "lakebench.call"
}

object Tracer {
  /** Analysis time recorded on a lazy frame's own query execution. */
  def analysisMs(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.tracker.phases.get("analysis").map(_.durationMs)
      .getOrElse(0L)
}

/** Times ops and the layer calls inside them for a single closed-loop
  * client. An op's latency is its wall time minus its `untimed` blocks
  * (the correctness checks); a call's latency is the layer function's
  * wall time. With tracing on, each call is bracketed by listener-bus
  * drains (not timed) so its jobs and executed queries are complete
  * when it is recorded. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val listener = new BenchListener(traced)
  sc.addSparkListener(listener)
  spark.listenerManager.register(listener)

  val ops = ArrayBuffer[OpRec]()
  val calls = ArrayBuffer[CallRec]()
  private var nextId = 0L
  private var curOp = -1L
  private var untimedNs = 0L
  var drainNs = 0L

  private def newId(): Long = { nextId += 1; nextId }

  /** Id of the op running now. */
  def currentOp: Long = curOp

  /** Forget everything recorded so far (after the warm-up pass). */
  def reset(): Unit = {
    BenchBus.drain(sc)
    ops.clear(); calls.clear(); drainNs = 0L
    listener.reset()
  }

  /** Run one op; `body` returns whether the op's answer was correct. An
    * exception fails the op and is recorded, never rethrown: a failing
    * op counts against `ops_ok_frac` and the stream goes on. */
  def op(kind: String)(body: => Boolean): OpRec = {
    val id = newId()
    curOp = id
    untimedNs = 0L
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, err) =
      try (body, None)
      catch { case scala.util.control.NonFatal(e) =>
        (false, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .linesIterator.nextOption().getOrElse(""))) }
    val nanos = System.nanoTime() - t0 - untimedNs
    curOp = -1L
    val rec = OpRec(id, kind, start, System.currentTimeMillis(), nanos,
      ok, err)
    ops += rec
    rec
  }

  /** Set during the warm-up pass, which skips answer checks. */
  var warming = false

  /** An untimed answer check. */
  def check(f: => Boolean): Boolean = warming || untimed(f)

  /** Work inside an op that is not part of its latency. */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    untimed(BenchBus.drain(sc))
    drainNs += System.nanoTime() - t0
  }

  /** Mark op `id` as having returned a wrong answer, found after it ran. */
  def markWrong(id: Long): Unit = {
    val i = ops.indexWhere(_.id == id)
    if (i >= 0) ops(i) = ops(i).copy(ok = false)
  }

  /** One call into `layer`'s public function `name`. Its Spark jobs are
    * tagged with the call's id; traced, the call is timed and recorded with
    * its jobs, stages and executed queries, and a returned lazy frame's
    * analysis time is read off its query execution. */
  def call[A](layer: String, name: String)(f: => A): A = {
    def tagged: A = {
      sc.setLocalProperty(BenchListener.CallProp, newId().toString)
      try f finally sc.setLocalProperty(BenchListener.CallProp, null)
    }
    if (!traced) return tagged
    drain()
    listener.takeQes()
    val fs0 = FsCounters.bytesWritten()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = tagged
    val nanos = System.nanoTime() - t0
    val end = System.currentTimeMillis()
    val fsBytes = FsCounters.bytesWritten() - fs0
    val id = nextId
    drain()
    untimed {
      val js = listener.jobs.values.asScala.filter(_.call == id)
        .toSeq.sortBy(_.id)
      val st = js.flatMap(_.stageIds)
        .flatMap(s => Option(listener.stages.get(s)))
      calls += CallRec(id, curOp, layer, name, start, end, nanos, fsBytes,
        js, st, listener.takeQes(), out match {
          case d: org.apache.spark.sql.DataFrame => Tracer.analysisMs(d)
          case _ => 0L
        })
    }
    out
  }
}

/** Bytes written through Hadoop's local filesystem by this JVM: data
  * files, commit manifests, checkpoints, sidecars and snapshot copies
  * all go through it (shuffle files do not). */
object FsCounters {
  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Total bytes and file count under a local directory. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .foldLeft((0L, 0L)) { case ((b, n), p) =>
        (b + java.nio.file.Files.size(p), n + 1) }
    finally s.close()
  }

  def fileSize(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
  }
}
