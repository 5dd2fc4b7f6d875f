package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark's own arithmetic and checks:
  * `python3 lakebench/run.py --self-test` (exits non-zero on a failure).
  *
  * The model checks are each shown to catch a planted wrong answer, so a
  * check that silently passes everything cannot go unnoticed. */
object SelfTest {
  private val failures = ArrayBuffer[String]()

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failures += name
      println(s"FAIL $name: $e")
    }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    val dir = args(0)

    test("tail percentile: nearest rank and samples beyond it") {
      eq(Stats.percentile((1 to 100).map(_.toDouble), 90), 90.0)
      eq(Stats.percentile(Seq(5.0), 75), 5.0)
      eq(Stats.samplesBeyond(75, 40), 10)
      eq(Stats.highestSupportedPercentile(24), Some(58))
      eq(Stats.highestSupportedPercentile(30), Some(66))
      eq(Stats.highestSupportedPercentile(22), Some(54))
      eq(Stats.highestSupportedPercentile(32), Some(68))
      eq(Stats.highestSupportedPercentile(20), Some(50))
      eq(Stats.highestSupportedPercentile(19), None)
    }

    test("every workload's run supports a tail with ten samples beyond") {
      val runSeconds = 8
      Seq(new CommitIngest(null, 1), new CommitScan(null, 1),
        new DatasetDelta(null, 1)).foreach { w =>
        val n = w.rounds(runSeconds) * w.opsPerRound
        if (Stats.highestSupportedPercentile(n).isEmpty)
          throw new AssertionError(s"${w.name}: $n ops support no tail")
      }
    }

    test("interval union and driver gap") {
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100), 25L)
      eq(Stats.unionLength(Seq((-5L, 5L), (90L, 120L)), 0, 100), 15L)
      eq(Stats.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100), 40L)
      eq(Stats.unionLength(Nil, 0, 100), 0L)
      eq(Stats.driverGap(0, 100, Seq((10L, 20L), (15L, 40L), (50L, 60L))), 60L)
      eq(Stats.driverGap(0, 100, Seq((-10L, 200L))), 0L)
    }

    test("call-site parsing") {
      eq(Stats.siteOf("collect at CommitLog.scala:612"), "CommitLog")
      eq(Stats.siteOf("parquet at LakeWriter.scala:701"), "LakeWriter")
      eq(Stats.siteOf("save at Gen.scala:60"), "other")
      eq(Stats.siteOf("run at ThreadPoolExecutor.java:1136"), "other")
    }

    test("range model: writes overwrite, deletes punch holes") {
      val m = new RangeModel
      m.put(0, 100, 0)
      m.put(40, 60, 1)
      m.remove(90, 95)
      eq(m.rowCount, 95L)
      eq(m.segments, Seq((0L, 40L, 0), (40L, 60L, 1), (60L, 90L, 0),
        (95L, 100L, 0)))
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("call-site attribution of a planted job") {
        val t = new Tracer(spark, traced = true)
        t.op("planted") {
          t.call("FileStats", "planted") {
            spark.sparkContext.setCallSite("count at FileStats.scala:42")
            try spark.range(10).count()
            finally spark.sparkContext.clearCallSite()
          }
          t.call("bench", "unplanted")(spark.range(10).count())
          true
        }
        val sites = t.calls.map(c => c.name -> c.jobs.map(_.site).distinct).toMap
        eq(sites("planted"), Seq("FileStats"))
        eq(sites("unplanted"), Seq("other"))
        // the count-only counter and the traced records agree
        eq(t.calls.map(_.jobs.size.toLong).sum, t.listener.timedJobs.get)
      }

      test("a thrown exception fails the run unless it is a known defect") {
        val t = new Tracer(spark, traced = false)
        t.op("optimize")(throw new IllegalStateException("planted"))
        t.op("read_asof_manifest")(
          throw new IllegalStateException("[PATH_NOT_FOUND] Path does not exist"))
        t.op("read_asof_copy")(
          throw new IllegalStateException("[PATH_NOT_FOUND] Path does not exist"))
        t.op("append")(false)
        val ops = t.ops.toSeq
        eq(Main.unexpectedFailures(new DatasetDelta(null, 1), ops).map(_.kind),
          Seq("optimize", "read_asof_copy"))
        eq(Main.unexpectedFailures(new CommitIngest(null, 1), ops).map(_.kind),
          Seq("optimize", "read_asof_manifest", "read_asof_copy"))
      }

      test("commit_ingest: the model check catches a row the lake should not hold") {
        val w = new CommitIngest(spark, 7)
        w.build(s"$dir/ingest")
        eq(w.finalCheck(), true)
        // a second version of key (0, 1), committed behind the model's back
        graft.lake.CommitLog(spark, w.tableRoot)
          .append(Gen.rows(spark, 0, 1, 7, 99))
        eq(w.finalCheck(), false)
      }

      test("commit_scan: the reference check catches a wrong checksum") {
        val w = new CommitScan(spark, 7)
        w.build(s"$dir/scan")
        val pred = "l_orderkey = 1234"
        val v = 10L
        val right = Gen.checksum(graft.lake.CommitLog(spark, w.tableRoot)
          .read(Some(v)).filter(pred))
        val answers = Seq(
          CommitScan.Answer(1, "point", pred, v, right),
          CommitScan.Answer(2, "point", pred, v, right.copy(rows = right.rows + 1)),
          CommitScan.Answer(3, "point", pred, v, right.copy(hash = right.hash + 1)))
        eq(w.verify(answers).sorted, Seq(2L, 3L))
      }

      test("dataset_delta: the duplicate-key check catches a planted duplicate") {
        val w = new DatasetDelta(spark, 7)
        w.build(s"$dir/delta")
        eq(w.noDuplicateKeys(), true)
        eq(w.finalCheck(), true)
        // an append that bypasses the delta write duplicates its keys
        Gen.rows(spark, 0, 10, 7, 5).write.mode("append")
          .partitionBy(DatasetDelta.PartitionCol).parquet(s"${w.tableRoot}/current")
        eq(w.noDuplicateKeys(), false)
        eq(w.finalCheck(), false)
      }
    } finally spark.stop()

    if (failures.nonEmpty) {
      println(s"${failures.size} self-test(s) failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
