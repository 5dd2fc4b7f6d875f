package lakebench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: warm up, build the starting state several times,
  * run the workload's op stream, check the answers, print one JSON line.
  *
  * `lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --dir <scratch dir> [--spans <file>]`
  *
  * The lake lives under `--dir`; traced runs write their spans to
  * `--spans`. Peak RSS is measured by the launcher, outside this JVM. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = a.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toInt
    val traced = arg("--trace") == "1"
    val dir = arg("--dir")

    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val w: Workload = workload match {
        case "commit_ingest" => new CommitIngest(spark, seed)
        case "commit_scan" => new CommitScan(spark, seed)
        case "dataset_delta" => new DatasetDelta(spark, seed)
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      }
      val result = run(spark, w, seed, seconds, traced, dir,
        a.get("--spans"))
      println(result)
    } finally spark.stop()
  }

  private def rngFor(seed: Long, round: Int): Random =
    new Random(seed * 1000003L + round)

  private def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Int,
      traced: Boolean, dir: String, spansOut: Option[String]): String = {
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t = new Tracer(spark, traced)
    // warm-up: one untimed round on a small state, so JIT and codegen are
    // done before set-up and the stream are timed
    t.warming = true
    val warmupS = secondsOf {
      w.build(s"$dir/warm", small = true)
      w.round(0, rngFor(seed, -1), t)
    }
    t.warming = false
    t.reset()
    w.takeBatches()
    rmrf(s"$dir/warm")

    // set-up, several times on fresh roots; the last state is measured
    var buildBytes = 0L
    val setupS = (0 until SetupReps).map { i =>
      if (i > 0) rmrf(s"$dir/rep${i - 1}")
      w.takeBatches()
      val fs0 = FsCounters.bytesWritten()
      val s = secondsOf(w.build(s"$dir/rep$i"))
      buildBytes = FsCounters.bytesWritten() - fs0
      s
    }
    val buildBatches = w.takeBatches()

    val (_, files0) = FsCounters.du(w.tableRoot)
    val fs0 = FsCounters.bytesWritten()
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val rounds = w.rounds(seconds)
    (0 until rounds).foreach(r => w.round(r, rngFor(seed, r), t))
    val streamBytes = FsCounters.bytesWritten() - fs0
    val gc = gcMs() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val streamBatches = w.takeBatches()
    org.apache.spark.BenchBus.drain(spark.sparkContext)

    w.checkStream(t)
    val ops = t.ops.toSeq
    val unexpected = unexpectedFailures(w, ops)
    val finalOk = w.finalCheck() && unexpected.isEmpty
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[lakebench] session at $sessionS%.1f s, checks done at $up%.1f s")
    System.err.println(f"[lakebench] warm-up $warmupS%.1f s, set-up " +
      setupS.map(x => f"$x%.1f").mkString("/") + f" s, stream " +
      f"${t.ops.map(_.nanos).sum / 1e9}%.1f s over $rounds rounds")
    val (duBytes, files1) = FsCounters.du(w.tableRoot)
    val (liveBytes, liveFiles) = w.liveData
    val (writtenBytes, baseBytes) =
      if (w.writeAmpOverBuild) (buildBytes, onceWritten(buildBatches, dir))
      else (streamBytes, onceWritten(streamBatches, dir))
    ops.filterNot(_.ok).groupBy(_.kind).foreach { case (k, os) =>
      System.err.println(s"[lakebench] ${os.size} $k op(s) failed: " +
        os.head.error.getOrElse("wrong answer"))
    }
    System.err.println("[lakebench] ms by op kind: " + ops.groupBy(_.kind)
      .map { case (k, os) => s"$k " + os.map(o => f"${o.nanos / 1e6}%.0f")
        .mkString("/") }.mkString(", "))
    unexpected.foreach(o => System.err.println(
      s"[lakebench] unexpected failure of ${o.kind} op ${o.id}: ${o.error.get}"))
    val e2e = Report.Run(
      setupS = Stats.median(setupS),
      warmupS = warmupS,
      ops = ops,
      jobs = t.listener.timedJobs.get,
      inputBytes = t.listener.timedInputBytes.get,
      spaceAmp = duBytes.toDouble / liveBytes,
      writeAmp = writtenBytes.toDouble / baseBytes,
      streamBytes = streamBytes,
      filesCreated = files1 - files0,
      liveFiles = liveFiles,
      gcMs = gc,
      heapPeakMb = heapPeakMb,
      drainMs = t.drainNs / 1e6)
    val metrics =
      if (traced) Report.perLayer(w, t, e2e) else Report.endToEnd(e2e)
    spansOut.filter(_ => traced).foreach(Report.writeSpans(t, _))
    Report.json(correct = finalOk, attempted = ops.size,
      failed = ops.count(!_.ok), metrics)
  }

  /** Ops that threw an exception the workload does not document as a
    * known defect; any of them makes the run incorrect. */
  def unexpectedFailures(w: Workload, ops: Seq[OpRec]): Seq[OpRec] =
    ops.filter(o => o.error.exists(!w.knownFailure(o.kind, _)))

  /** The base of write amplification: bytes the batches take when each is
    * written once as zstd parquet (untimed). */
  private def onceWritten(batches: Seq[DataFrame], dir: String): Long =
    batches.zipWithIndex.map { case (df, i) =>
      val out = s"$dir/base/$i"
      df.write.option("compression", "zstd").parquet(out)
      FsCounters.du(out)._1
    }.sum

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
}
