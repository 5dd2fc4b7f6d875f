package graft.lake

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Deterministic ceilings on the Spark jobs a lake verb spends, so a
  * cost regression shows without a timing run. A listener records every
  * job the measured call starts (tagged through a thread-local property,
  * which SQL executions carry to their pool threads, so other threads'
  * jobs never count) under the call site Spark names it by. A "sidecar
  * job" is a `collect` issued from FileStats.scala: one read of the
  * `_stats` sidecar by a prune. Bracketed counts are the ones measured
  * before the touched-file probe and the single-shard sidecar write
  * lost their extra shuffle, before optimize packed whole files without
  * a shuffle, and before a sidecar append read the bloom width from
  * the sidecar's footer schema instead of a `head` over its rows. The
  * upsert and merge totals were one higher (6 and 8) while the batch
  * key-range probe ran as a global aggregate.
  *
  * Ceilings may only be tightened. Raising one needs its cause written
  * in CHANGES.md.
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Tag = "graft.jobBudget"

  /** The call sites of the jobs `f` starts. Adaptive execution submits
    * query stages from a pool thread whose stack names no source file
    * of ours; such a job takes the call site of the action whose SQL
    * execution it belongs to. */
  private def jobSites(f: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val execSite = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSite.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag))
          jobs.add(e.stageInfos.sortBy(-_.stageId).headOption
            .map(_.name).getOrElse("") ->
            e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try { f; TestBus.drain(sc) }
    finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.map { case (own, exec) =>
      if (own.contains(".scala:") || exec == null) own
      else Option(execSite.get(exec)).getOrElse(own)
    }
  }

  private def sidecarJobs(sites: Seq[String]): Int =
    sites.count(_.startsWith("collect at FileStats.scala"))

  /** Jobs of a touched-file probe (`SchemaTools.distinctStrings`),
    * the shuffles that adaptive execution runs for its inputs included. */
  private def probeJobs(sites: Seq[String]): Int =
    sites.count(_.startsWith("collect at SchemaTools.scala"))

  /** Three single-file appends of contiguous id bands, every file
    * log-spanned, under a trusted sidecar with a bloom on `id`. */
  private def spannedLog(prefix: String): CommitLog = {
    val dir = TestSpark.tempDir(prefix)
    val log = CommitLog(spark, dir).init()
    Seq(0L, 100L, 200L).foreach(lo => log.append(spark.range(lo, lo + 100)
      .select(col("id"), (col("id") * 3).as("x")).coalesce(1)))
    log.buildStats(bloomCols = Seq("id"), bloomBits = 1 << 13)
    val r = log.resolve(None)
    assert(r.data.forall(r.spanOf.contains) &&
      FileStats.trusted(spark, dir), "fixture: all spanned, trusted")
    log
  }

  test("readFiltered / candidateDataFiles planning on a fully " +
      "log-spanned table: 0 jobs for a range, 1 for a point probe") {
    val log = spannedLog("jbspan")
    val range = "id BETWEEN 110 AND 120"
    val point = "id = 150"
    assert(jobSites(log.candidateDataFiles(range)).isEmpty)
    assert(jobSites(log.candidateDataFiles(point)).size <= 1)
    assert(sidecarJobs(jobSites(log.readFiltered(range))) == 0)
    assert(sidecarJobs(jobSites(log.readFiltered(point))) <= 1)
    assert(log.candidateDataFiles(point).map(_.size).contains(1))
  }

  test("mixed span coverage: one sidecar job per prune") {
    val (log, _) = CommitLogSpec.mixedCoverage(spark)
    Seq("id BETWEEN 120 AND 260", "id = 150", "id IN (5, 350)")
      .foreach { p =>
        assert(sidecarJobs(jobSites(log.candidateDataFiles(p))) <= 1, p)
        assert(sidecarJobs(jobSites(log.readFiltered(p))) <= 1, p)
      }
  }

  test("an upsert's candidate pruning reads no sidecar") {
    val log = spannedLog("jbups")
    val batch = spark.range(150, 160)
      .select(col("id"), (col("id") * 5).as("x"))
    assert(sidecarJobs(jobSites(log.upsert(batch, Seq("id")))) == 0)
    assert(log.read().filter($"id" === 155).select("x").as[Long]
      .collect().toSeq == Seq(775L))
  }

  test("CommitLog deleteWhere, upsert and merge: one touched-file " +
      "probe job, plus the key side's own shuffle") {
    import CommitLog.{MergeClause, MergeInsert, MergeUpdate}
    val log = spannedLog("jbrow")
    def batch(lo: Long) = spark.range(lo, lo + 10)
      .select(col("id"), (col("id") * 5).as("x"))
    val del = jobSites(log.deleteWhere("id BETWEEN 150 AND 159"))
    assert(probeJobs(del) == 1 && del.size <= 2, del) // [2, 3]
    // keys 95..104 straddle two files
    val ups = jobSites(log.upsert(batch(95), Seq("id")))
    assert(probeJobs(ups) == 2 && ups.size <= 5, ups) // [3, 7]
    val mrg = jobSites(log.merge(batch(250), Seq("id"),
      matched = Seq(MergeClause(None, MergeUpdate(Seq("x" -> "__s_x")))),
      notMatched = Seq(MergeClause(None,
        MergeInsert(Seq("id" -> "__s_id", "x" -> "__s_x")))),
      notMatchedBySource = Nil))
    assert(probeJobs(mrg) == 2 && mrg.size <= 7, mrg) // [3, 9]
    assert(log.read().filter($"id".isin(95, 104, 155, 255)).select("x")
      .as[Long].collect().sorted.toSeq == Seq(475L, 520L, 1275L))
  }

  test("append, optimize and setProperties: per-verb job ceilings") {
    val dir = TestSpark.tempDir("jbverbs")
    val plain = CommitLog(spark, dir).init()
    def band(lo: Long) = spark.range(lo, lo + 100)
      .select(col("id"), (col("id") * 3).as("x")).coalesce(1)
    plain.append(band(0))
    // sidecar-free: the stage write; spans come from the footers
    val app = jobSites(plain.append(band(100)))
    assert(app.size <= 1, app)
    assert(jobSites(plain.setProperties(Map("k" -> "v"))).isEmpty)
    // the first append after buildStats also extends the sidecar; the
    // bloom width comes from the sidecar's footer schema, not a `head`
    val log = spannedLog("jbverbs2")
    val ext = jobSites(log.append(band(300)))
    assert(ext.size <= 3, ext) // [4]
    // a pack of whole files: one write job, no shuffle
    val opt = jobSites(log.optimize(targetFiles = 1))
    assert(opt.size <= 1, opt) // [2]
    assert(log.read().count() == 400 && log.liveFiles().size == 1)
  }

  test("optimize(targetFiles = 3) on 9 files: one job, 3 live files") {
    val log = CommitLog(spark, TestSpark.tempDir("jbpack")).init()
    (0 until 9).foreach(i => log.append(spark.range(i * 100L, i * 100L + 100)
      .select(col("id"), (col("id") * 3).as("x")).coalesce(1)))
    assert(log.liveFiles().size == 9, "fixture: 9 single-file appends")
    val sites = jobSites(log.optimize(targetFiles = 3))
    assert(sites.size == 1, sites)
    assert(log.liveFiles().size == 3 && log.read().count() == 900)
  }

  test("buildStats with a bloom column: at most 2 write jobs") {
    val log = spannedLog("jbbuild")
    val sites = jobSites(log.buildStats(bloomCols = Seq("id"),
      bloomBits = 1 << 13))
    // [3]: a single-shard sidecar no longer repartitions by file
    assert(sites.count(_.startsWith("parquet at FileStats.scala")) <= 2,
      sites)
    assert(log.candidateDataFiles("id = 150").map(_.size).contains(1))
  }

  test("RowOps.deleteWhere on a flat dataset: one touched-file probe " +
      "job") {
    val dir = TestSpark.tempDir("jbrowops") + "/ds"
    spark.range(0, 400, 1, 4).select(col("id"), (col("id") % 7).as("v"))
      .write.parquet(dir)
    val sites = jobSites(RowOps.deleteWhere(spark, dir,
      "id BETWEEN 150 AND 159"))
    assert(probeJobs(sites) == 1, sites) // [2]
    assert(spark.read.parquet(dir).count() == 390)
  }

  test("LakeReader.filter(...).load() over a trusted sidecar: one " +
      "sidecar job") {
    val dir = TestSpark.tempDir("jblr") + "/ds"
    spark.range(0, 400, 1, 4).select(col("id"), (col("id") % 7).as("v"))
      .write.parquet(dir)
    FileStats.build(spark, dir, bloomCols = Seq("id"))
    val reader = LakeReader(spark, dir).filter("id = 150")
    assert(sidecarJobs(jobSites(reader.load())) <= 1)
    assert(reader.load().inputFiles.length == 1)
  }

  test("LakeReader pipeline load on a hive-partitioned dataset plans " +
      "with 0 jobs") {
    val dir = TestSpark.tempDir("jbhive") + "/ds"
    spark.range(400).select(col("id"), (col("id") % 7).as("v"),
      (col("id") % 3).as("p")).write.partitionBy("p").parquet(dir)
    val reader = LakeReader(spark, dir).filter("v > 2")
      .distinctOn(Seq("v")).sort(Seq("v"))
    assert(jobSites(reader.load()).isEmpty)
    assert(reader.load().columns.toSeq == Seq("id", "v", "p"))
    assert(reader.load().select("v").as[Long].collect().toSeq ==
      Seq(3L, 4L, 5L, 6L))
  }

  test("a Delta write served by a trusted key sidecar: at most 2 jobs " +
      "outside KeySidecar and 2 inside it") {
    val dir = TestSpark.tempDir("jbdelta") + "/ds"
    def batch(lo: Long) = spark.range(lo, lo + 200)
      .select(col("id"), (col("id") % 4).as("p"), (col("id") * 3).as("x"))
    val w = LakeWriter(spark, dir, WriteMode.Delta(subset = Seq("id")),
      partitionBy = Seq("p"))
    w.write(batch(0))
    assert(w.keySidecar.trusted, "fixture: trusted key sidecar")
    val sites = jobSites(w.write(batch(100)))
    val inSidecar = sites.count(_.contains("KeySidecar.scala"))
    assert(inSidecar <= 2, sites)
    assert(sites.size - inSidecar <= 2, sites)
    assert(spark.read.parquet(dir).count() == 300)
  }

  test("DynamicPruning.prunedFactScan: one sidecar job") {
    val dir = TestSpark.tempDir("jbdfp") + "/fact"
    spark.range(0, 2000, 1, 8)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .write.parquet(dir)
    FileStats.build(spark, dir, bloomCols = Seq("k"))
    val dim = Seq(120L, 130L, 1800L).toDF("dk")
    assert(sidecarJobs(jobSites(DynamicPruning.prunedFactScan(
      spark, dir, dim, Seq("k" -> "dk")))) <= 1)
  }
}
