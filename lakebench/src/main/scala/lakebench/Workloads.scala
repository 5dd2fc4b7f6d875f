package lakebench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{CommitLog, LakeManager, TimeFly, WriteMode}

/** A workload: a starting state built from the seed, then a closed loop
  * with one client running rounds, each a fixed multiset of ops; the seed
  * sets keys, predicates, versions, values and (where the work allows)
  * op order. Every call into the lake goes through [[Tracer.call]]. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  def opsPerRound: Int
  /** Seconds one round takes on a 4-core host; with the run length it
    * fixes the number of rounds, so parent and change run the same ops. */
  def nominalRoundSeconds: Double

  /** Build the starting state under `root`; timed as set-up. A `small`
    * state (same shape, fewer rows and versions) hosts the warm-up. */
  def build(root: String, small: Boolean = false): Unit
  /** One round of ops. */
  def round(r: Int, rng: Random, t: Tracer): Unit
  /** Answer checks deferred to the end of the stream (untimed). */
  def checkStream(t: Tracer): Unit = ()
  /** Untimed end-of-stream verdict: the table matches the model and no op
    * gave a wrong answer other than a documented defect's. */
  def finalCheck(): Boolean

  def tableRoot: String
  /** Bytes and count of the data files a read at the tip would scan. */
  def liveData: (Long, Long)
  /** Rows the stream wrote; a read-only stream reports its build's. */
  def rowsWritten: Long
  /** Whether write amplification is taken over the build, for a stream
    * that writes nothing. */
  def writeAmpOverBuild: Boolean = false

  /** Whether an op's exception is a documented defect of the lake: the op
    * counts as failed but leaves the run correct. Any other exception
    * makes the run incorrect. */
  def knownFailure(kind: String, error: String): Boolean = false

  private val batches = mutable.ArrayBuffer[DataFrame]()
  /** Records a batch as it is handed to the lake; the base of write
    * amplification writes each recorded batch once. */
  protected def batch(df: DataFrame): DataFrame = { batches += df; df }
  /** The batches recorded since the last call. */
  def takeBatches(): Seq[DataFrame] = {
    val out = batches.toList
    batches.clear()
    out
  }

  def rounds(seconds: Int): Int =
    math.max(math.ceil(20.0 / opsPerRound).toInt,
      math.ceil(seconds / nominalRoundSeconds).toInt)

  protected def sumSizes(paths: Seq[String]): Long =
    paths.map(FsCounters.fileSize(spark, _)).sum
}

/** Write path: a seeded verb mix on one commit-log table. */
final class CommitIngest(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  import CommitIngest._
  val name = "commit_ingest"
  val opsPerRound = 11
  val nominalRoundSeconds = 6.0

  private var root = ""
  private var lm: LakeManager = _
  private var log: CommitLog = _
  private var model = new RangeModel
  private var baseRows = BaseRows
  private var nextId = 0L
  private var variant = 0
  private var rows = 0L

  def tableRoot: String = s"$root/li"

  def build(r: String, small: Boolean): Unit = {
    root = r
    baseRows = if (small) BaseRows / 10 else BaseRows
    lm = LakeManager(spark, root).init()
    log = lm.addCommitLog("li")
    log.append(batch(Gen.rows(spark, 0, baseRows, seed, 0, 4)))
    log.buildStats(Seq("l_orderkey"))
    model = new RangeModel
    model.put(0, baseRows, 0)
    nextId = baseRows
    variant = 0
    rows = 0L
  }

  private def write(t: Tracer, verb: String, lo: Long, hi: Long)(
      f: DataFrame => Any): Unit = {
    variant += 1
    val v = variant
    t.op(verb) {
      t.call("CommitLog", verb)(f(batch(Gen.rows(spark, lo, hi, seed, v))))
      model.put(lo, hi, v)
      nextId = nextId.max(hi)
      rows += hi - lo
      true
    }
  }

  /** A round in fixed order; the seed moves key offsets and row values
    * but not how many rows or files a verb touches, so runs on different
    * seeds do the same work. Each append lands as one file: the upsert
    * rewrites part of the round's first batch, the merge half-matches its
    * second, and the delete cuts orders out of the base table. Compaction
    * and a stats rebuild alternate at the end of the rounds. Appends are
    * seven of the eleven ops. That mix is chosen, not taken from a
    * measured workload: it keeps the median and the tail inside the append
    * cluster and never on the edge between it and the heavier verbs
    * (which `ops_per_s` and the per-verb layer metrics carry). */
  def round(r: Int, rng: Random, t: Tracer): Unit = {
    append(t)
    val first = nextId - BatchRows
    val off = rng.nextLong(BatchRows / 2)
    write(t, "upsert", first + off, first + off + BatchRows / 2)(
      log.upsert(_, Gen.Keys))
    append(t)
    val lo = nextId - BatchRows / 2
    write(t, "merge", lo, lo + BatchRows)(src =>
      log.merge(src, Gen.Keys, MatchedUpdateAll, NotMatchedInsertAll, Nil))
    append(t)
    val a = rng.nextLong(baseRows / Gen.RowsPerOrder - DeleteOrders)
    val b = a + DeleteOrders - 1
    t.op("deleteWhere") {
      t.call("CommitLog", "deleteWhere")(
        log.deleteWhere(s"l_orderkey BETWEEN $a AND $b"))
      model.remove(a * Gen.RowsPerOrder, (b + 1) * Gen.RowsPerOrder)
      true
    }
    (1 to 4).foreach(_ => append(t))
    if (r % 2 == 0)
      t.op("optimize") {
        t.call("CommitLog", "optimize")(log.optimize(targetFiles = 4)); true
      }
    else
      t.op("buildStats") {
        t.call("CommitLog", "buildStats")(log.buildStats(Seq("l_orderkey")))
        true
      }
  }

  private def append(t: Tracer): Unit =
    write(t, "append", nextId, nextId + BatchRows)(log.append)

  def finalCheck(): Boolean =
    Gen.checksum(log.read()) == Gen.checksum(model.expected(spark, seed))

  def liveData: (Long, Long) = {
    val files = log.filePaths(log.liveFiles())
    (sumSizes(files), files.size.toLong)
  }

  def rowsWritten: Long = rows
}

object CommitIngest {
  val BaseRows = 40000L
  val BatchRows = 2000L
  val DeleteOrders = 25L
  import CommitLog.{MergeClause, MergeInsert, MergeUpdate}
  private val ValueCols = Gen.Columns.filterNot(Gen.Keys.contains)
  val MatchedUpdateAll: Seq[MergeClause] =
    Seq(MergeClause(None, MergeUpdate(ValueCols.map(c => c -> s"__s_$c"))))
  val NotMatchedInsertAll: Seq[MergeClause] =
    Seq(MergeClause(None, MergeInsert(Gen.Columns.map(c => c -> s"__s_$c"))))
}

/** Read path: a standing table with more versions than the commit log's
  * resolve memo, queried through three front doors. */
final class CommitScan(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  import CommitScan._
  val name = "commit_scan"
  val opsPerRound: Int = Kinds.size * Doors.size
  val nominalRoundSeconds = 4.0

  private var root = ""
  private var lm: LakeManager = _
  private var log: CommitLog = _
  // a second handle for the untimed reference reads, so they never warm
  // the measured handle's memo
  private var refLog: CommitLog = _
  private var tip = 0L
  private var rows = 0L
  /** Answers awaiting their reference. */
  private val pending = mutable.ArrayBuffer[CommitScan.Answer]()

  def tableRoot: String = s"$root/li"

  def build(r: String, small: Boolean): Unit = {
    root = r
    val perAppend = if (small) AppendRows / 10 else AppendRows
    lm = LakeManager(spark, root).init()
    lm.addCommitLog("li")
    val writer = CommitLog(spark, tableRoot).init()
    (0 until Appends).foreach { i =>
      writer.append(batch(Gen.rows(spark, i * perAppend,
        (i + 1) * perAppend, seed, 0, FilesPerAppend)))
    }
    // a writer recording its progress as a table property: versions that
    // change no data, so the history outgrows the resolve memo while every
    // version past the load holds the same rows (an as-of read costs the
    // same whichever version the seed picks)
    (1 to (if (small) FarGap.toInt + 2 else MetaCommits)).foreach(j =>
      writer.setProperties(Map("bench.watermark" -> j.toString)))
    writer.buildStats(Seq("l_orderkey"))
    lm.registerView("li")
    log = lm.commitLog("li")
    refLog = CommitLog(spark, tableRoot)
    tip = log.latestVersion()
    rows = Appends * perAppend
    orders = rows / Gen.RowsPerOrder
    pending.clear()
  }

  private var orders = 0L

  private def predicate(kind: String, rng: Random): (String, Column) =
    kind match {
    case "range" =>
      val a = rng.nextLong(orders - RangeOrders)
      (s"l_orderkey BETWEEN $a AND ${a + RangeOrders - 1}",
        col("l_orderkey").between(a, a + RangeOrders - 1))
    case "agg" =>
      val d = (4 + rng.nextInt(3)) / 100.0
      (s"l_discount <= $d", col("l_discount") <= d)
    case _ =>
      val k = rng.nextLong(orders)
      (s"l_orderkey = $k", col("l_orderkey") === k)
  }

  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
      sum("l_quantity").as("q"), min("l_shipdate").as("d0"),
      max("l_shipdate").as("d1"))

  private def aggSql(where: String, from: String): String =
    s"SELECT l_returnflag, count(1) AS n, sum(l_quantity) AS q, " +
      s"min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM $from " +
      s"WHERE $where GROUP BY l_returnflag"

  private def unpruned(v: Long): DataFrame =
    spark.read.parquet(refLog.filePaths(refLog.liveFiles(Some(v))): _*)

  /** Each answer against the same predicate over an unpruned scan of the
    * version's live files, read without the lake's resolve, pruning or SQL
    * layers. Row predicates over one live set share a single pass (a
    * conditional count and hash sum per predicate); each aggregate gets
    * its own. Returns the ids of ops whose answer differs. */
  def verify(answers: Seq[CommitScan.Answer]): Seq[Long] = {
    val byFiles = answers.groupBy(a => refLog.liveFiles(Some(a.version)).sorted)
    byFiles.values.toSeq.flatMap { group =>
      val base = unpruned(group.head.version)
      val (aggs, rows) = group.partition(_.kind == "agg")
      val preds = rows.map(_.pred).distinct
      val h = pmod(xxhash64(base.columns.sorted.map(col).toSeq: _*),
        lit(1000000007L))
      val rowRefs: Map[String, Gen.Checksum] =
        if (preds.isEmpty) Map.empty
        else {
          val cols = preds.flatMap(p => Seq(count(when(expr(p), 1)),
            coalesce(sum(when(expr(p), h)), lit(0L))))
          val r = base.agg(cols.head, cols.tail.toSeq: _*).collect()(0)
          preds.zipWithIndex.map { case (p, i) =>
            p -> Gen.Checksum(r.getLong(2 * i), r.getLong(2 * i + 1)) }.toMap
        }
      val aggRefs = aggs.map(_.pred).distinct.map(p =>
        p -> Gen.checksum(aggregate(base.filter(expr(p))))).toMap
      group.collect { case a if a.got !=
          (if (a.kind == "agg") aggRefs(a.pred) else rowRefs(a.pred)) => a.op }
    }
  }

  /** Live files at `v` holding at least one row matching `pred`. */
  def matchingFiles(pred: String, v: Long): Long =
    unpruned(v).filter(expr(pred)).select(input_file_name()).distinct()
      .count()

  def liveFilesAt(v: Long): Long = refLog.liveFiles(Some(v)).size.toLong

  /** Per traced op: (door, version, predicate). */
  val queries = mutable.Map[Long, (String, Long, String)]()

  def round(r: Int, rng: Random, t: Tracer): Unit =
    Kinds.foreach { kind =>
      // one predicate per kind, through every door; far as-of reads pick
      // a version per door, so each door meets a cold memo
      val near = tip - 1 - rng.nextInt(3)
      val shared = predicate(kind, rng)
      rng.shuffle(Doors).foreach { door =>
        val v = kind match {
          case "asof_near" => near
          case "asof_far" => Appends + rng.nextLong(tip - FarGap - Appends)
          case _ => tip
        }
        val (pred, c) = if (kind == "asof_far") predicate(kind, rng) else shared
        val asOf = if (v == tip) None else Some(v)
        val from = asOf.fold("li")(x => s"li VERSION AS OF $x")
        val callName = door match {
          case "readFiltered" => "readFiltered"
          case "filter" => if (asOf.isEmpty) "read_tip" else "read_asof"
          case "sql" => "sql"
        }
        val layer = if (door == "sql") "LakeManager" else "CommitLog"
        val op = t.op(kind) {
          val df = t.call(layer, s"$callName/plan") {
            door match {
              case "readFiltered" =>
                val d = log.readFiltered(pred, asOf)
                if (kind == "agg") aggregate(d) else d
              case "filter" =>
                val d = log.read(asOf).filter(c)
                if (kind == "agg") aggregate(d) else d
              case "sql" =>
                lm.sql(if (kind == "agg") aggSql(pred, from)
                  else s"SELECT * FROM $from WHERE $pred")
            }
          }
          val got = t.call(layer, s"$callName/exec")(Gen.checksum(df))
          if (!t.warming)
            pending += CommitScan.Answer(t.currentOp, kind, pred, v, got)
          true
        }
        queries(op.id) = (door, v, pred)
      }
    }

  private var wrongIds = Seq.empty[Long]

  /** Runs the deferred reference checks; the ops they fail are marked. */
  override def checkStream(t: Tracer): Unit = {
    wrongIds = verify(pending.toSeq)
    wrongIds.foreach(t.markWrong)
  }

  def finalCheck(): Boolean = wrongIds.isEmpty

  def liveData: (Long, Long) = {
    val files = refLog.filePaths(refLog.liveFiles())
    (sumSizes(files), files.size.toLong)
  }

  def rowsWritten: Long = rows
  override def writeAmpOverBuild: Boolean = true
}

object CommitScan {
  final case class Answer(op: Long, kind: String, pred: String,
      version: Long, got: Gen.Checksum)

  val Appends = 4
  val FilesPerAppend = 3
  val AppendRows = 40000L
  /** 4 appends and 62 meta commits: 66 versions, past the 64 the resolve
    * memo holds before it is cleared. */
  val MetaCommits = 62
  val RangeOrders = 50L
  /** Far as-of reads stay this many versions below the tip. */
  val FarGap = 8L
  val Kinds: Seq[String] = Seq("point", "range", "agg", "asof_near", "asof_far")
  val Doors: Seq[String] = Seq("readFiltered", "filter", "sql")
}

/** pydala's own surface: a hive-partitioned TimeFly dataset taking
  * overlapping delta batches, snapshots and interleaved reads. */
final class DatasetDelta(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  import DatasetDelta._
  val name = "dataset_delta"
  val opsPerRound = 8
  // under the ~2.3 s a round takes, so that an 8 s run has five rounds: the
  // tail then has ten successful ops beyond it
  val nominalRoundSeconds = 1.6

  private var root = ""
  private var tf: TimeFly = _
  private var model = new RangeModel
  private var batchNo = 0
  private var rows = 0L
  private var wrong = 0
  /** (snapshot id, manifest only, row count when taken), oldest first. */
  val snapshots = mutable.ArrayBuffer[(String, Boolean, Long)]()
  /** Rows kept by each delta write over rows offered. */
  val keptFrac = mutable.ArrayBuffer[Double]()

  def tableRoot: String = s"$root/ds"

  private def writer =
    tf.writer(WriteMode.Delta(subset = Gen.Keys)).withPartitioning(PartitionCol)

  def build(r: String, small: Boolean): Unit = {
    root = r
    tf = LakeManager(spark, root).init().addDataset("ds")
    model = new RangeModel
    batchNo = 0
    rows = 0L
    wrong = 0
    snapshots.clear()
    keptFrac.clear()
    writer.write(batch(Gen.rows(spark, 0, 2 * BatchRows, seed, 0, 2)))
    model.put(0, 2 * BatchRows, 0)
    snapshots += ((tf.addSnapshot(), false, model.rowCount))
  }

  private def check(ok: Boolean): Boolean = { if (!ok) wrong += 1; ok }

  /** The as-of point that lands on snapshot `i` under TimeFly's rule
    * (first snapshot with id > t): the previous snapshot's id. */
  private def asOfFor(i: Int): String =
    if (i == 0) "19700101_000000" else snapshots(i - 1)._1

  private def readCount(t: Tracer, name: String)(f: => DataFrame): Long = {
    val df = t.call("TimeFly", s"$name/plan")(f)
    t.call("TimeFly", s"$name/exec")(Gen.checksum(df)).rows
  }

  def round(r: Int, rng: Random, t: Tracer): Unit = {
    batchNo += 1
    // each batch overlaps the previous one by half
    val lo = batchNo * BatchRows
    val hi = lo + 2 * BatchRows
    val manifest = r % 2 == 0
    def pipelineRead(q: Int): () => Unit = () => t.op("pipeline_read") {
      val df = t.call("LakeReader", "load/plan")(
        tf.reader().filter(s"l_quantity > $q")
          .distinctOn(Seq("l_orderkey")).sort(Seq("l_orderkey")).load())
      val got = t.call("LakeReader", "load/exec")(Gen.checksum(df)).rows
      t.check(check(got == spark.read.parquet(tf.currentPath)
        .filter(col("l_quantity") > q).select("l_orderkey").distinct().count()))
    }
    // Three pipeline reads a round: among the successful ops the dear ones
    // (delta writes, pipeline reads) then outnumber the cheap ones
    // (manifest snapshots, as-of reads), so the median falls inside the
    // pipeline-read cluster, not on the few copy snapshots between them.
    val ops: Seq[() => Unit] = Seq(
      () => t.op("write_delta") {
        val before = model.rowCount
        t.call("LakeWriter", "write_delta")(
          writer.write(batch(Gen.rows(spark, lo, hi, seed, batchNo, 2))))
        model.put(before.max(lo), hi, batchNo)
        rows += hi - lo
        keptFrac += (model.rowCount - before).toDouble / (hi - lo)
        t.check(check(noDuplicateKeys() && tfCount() == model.rowCount))
      },
      () => t.op(if (manifest) "addSnapshot_manifest" else "addSnapshot_copy") {
        val id = t.call("TimeFly",
          if (manifest) "addSnapshot_manifest" else "addSnapshot_copy")(
          tf.addSnapshot(manifestOnly = manifest))
        snapshots += ((id, manifest, model.rowCount))
        true
      },
      pipelineRead(20 + rng.nextInt(5)),
      pipelineRead(20 + rng.nextInt(5)),
      pipelineRead(20 + rng.nextInt(5)),
      () => t.op("read_asof_copy") {
        val i = pick(rng, manifestOnly = false)
        val got = readCount(t, "read_asof")(tf.read(Some(asOfFor(i))))
        t.check(check(got == snapshots(i)._3))
      },
      () => t.op("read_asof_manifest") {
        val i = pick(rng, manifestOnly = true)
        val got = readCount(t, "read_asof")(tf.read(Some(asOfFor(i))))
        t.check(check(got == snapshots(i)._3))
      },
      () => t.op("readSince") {
        // the baseline's kind alternates, so both kinds are read every run
        val i = pick(rng, manifestOnly = r % 2 == 1)
        val got = readCount(t, "readSince")(tf.readSince(snapshots(i)._1))
        val want = model.rowCount - snapshots(i)._3
        // Known defect: TimeFly.changedFilesSince lists a copy snapshot's
        // directory without descending into its partition directories, so
        // on a partitioned dataset the baseline is empty and readSince
        // returns every row. The op fails; only that exact answer is
        // excused from `correct`.
        val knownDefect = !snapshots(i)._2 && got == model.rowCount
        if (got == want) true
        else if (knownDefect) false
        else t.check(check(false))
      })
    // the write and its snapshot lead; the reads follow in seeded order
    ops(0)(); ops(1)()
    rng.shuffle(ops.drop(2)).foreach(_())
  }

  /** One of the three newest snapshots of the given kind, seeded (there
    * is always one: the build takes a copy, the first round a manifest). */
  private def pick(rng: Random, manifestOnly: Boolean): Int = {
    val of = snapshots.indices.filter(i => snapshots(i)._2 == manifestOnly)
    of(of.size - 1 - rng.nextInt(of.size.min(3)))
  }

  private def current: DataFrame = spark.read.parquet(tf.currentPath)

  def noDuplicateKeys(): Boolean =
    current.groupBy(Gen.Keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count() == 0

  private def tfCount(): Long = current.count()

  def finalCheck(): Boolean =
    wrong == 0 && noDuplicateKeys() && tfCount() == model.rowCount

  def liveData: (Long, Long) = {
    val files = graft.lake.SchemaTools.listDataFiles(spark, tf.currentPath)
    (sumSizes(files), files.size.toLong)
  }

  def rowsWritten: Long = rows

  // TimeFly.read(Some(t)) resolves to snapshot/<id>/, which a manifest-only
  // snapshot never creates (TimeFly.scala:360-386)
  override def knownFailure(kind: String, error: String): Boolean =
    kind == "read_asof_manifest" && error.contains("[PATH_NOT_FOUND]")
}

object DatasetDelta {
  val BatchRows = 5000L
  val PartitionCol = "l_returnflag"
}
