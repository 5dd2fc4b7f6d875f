package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RowOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def md5(p: Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { d.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    d.digest().map("%02x".format(_)).mkString
  }

  private def dataFiles(dir: String): Map[String, String] =
    fs.listStatus(new Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> md5(s.getPath)).toMap

  /** 4 files, contiguous 25-key bands: [0,25) [25,50) [50,75) [75,100) */
  private def seed(dir: String): Unit =
    spark.range(0, 100, 1, 4)
      .select(col("id"), (col("id") * 10).as("v"))
      .write.mode("overwrite").parquet(dir)

  test("upsert rewrites only files holding matched keys; untouched " +
      "files stay byte-identical; updates + inserts both land") {
    val dir = TestSpark.tempDir("rowops_up") + "/ds"
    seed(dir)
    val before = dataFiles(dir)
    assert(before.size == 4)
    // keys 10,11 live in one band; 200,201 are brand-new
    val batch = Seq((10L, -1L), (11L, -2L), (200L, -3L), (201L, -4L))
      .toDF("id", "v")
    val st = RowOps.upsert(spark, dir, batch, Seq("id"))
    assert(st.filesTouched == 1, s"one band holds keys 10+11: $st")
    val after = dataFiles(dir)
    val untouchedBefore = before.filter { case (n, _) =>
      after.contains(n) }
    assert(untouchedBefore.size == 3,
      s"three of four seed files must survive: $before -> $after")
    untouchedBefore.foreach { case (n, h) =>
      assert(after(n) == h, s"untouched file $n was rewritten")
    }
    val out = spark.read.parquet(dir)
      .filter(col("id").isin(9L, 10L, 11L, 200L, 201L))
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(out == Map(9L -> 90L, 10L -> -1L, 11L -> -2L,
      200L -> -3L, 201L -> -4L))
    assert(spark.read.parquet(dir).count() == 102)
  }

  test("upsert with all-new keys rewrites nothing (pure append)") {
    val dir = TestSpark.tempDir("rowops_ins") + "/ds"
    seed(dir)
    val before = dataFiles(dir)
    val st = RowOps.upsert(spark, dir,
      Seq((500L, 1L), (501L, 2L)).toDF("id", "v"), Seq("id"))
    assert(st.filesTouched == 0)
    val after = dataFiles(dir)
    before.foreach { case (n, h) => assert(after(n) == h) }
    assert(spark.read.parquet(dir).count() == 102)
  }

  test("upsert consults a trusted _stats manifest to prune candidates") {
    val dir = TestSpark.tempDir("rowops_stats") + "/ds"
    seed(dir)
    FileStats.build(spark, dir)
    assert(FileStats.trusted(spark, dir))
    val st = RowOps.upsert(spark, dir,
      Seq((30L, -5L)).toDF("id", "v"), Seq("id"))
    assert(st.filesTouched == 1)
    // mutation invalidates the manifest (spans changed)
    assert(!FileStats.trusted(spark, dir))
    assert(spark.read.parquet(dir).filter(col("id") === 30L)
      .select("v").as[Long].head() == -5L)
  }

  test("deleteWhere removes TRUE rows only, touches only hit files, " +
      "leaves others byte-identical") {
    val dir = TestSpark.tempDir("rowops_del") + "/ds"
    seed(dir)
    val before = dataFiles(dir)
    val st = RowOps.deleteWhere(spark, dir, "id >= 90")
    assert(st.filesTouched == 1, s"only the [75,100) band matches: $st")
    val after = dataFiles(dir)
    val untouched = before.filter { case (n, _) => after.contains(n) }
    assert(untouched.size == 3)
    untouched.foreach { case (n, h) => assert(after(n) == h) }
    val ids = spark.read.parquet(dir).select("id").as[Long].collect()
    assert(ids.length == 90 && ids.max == 89L)
  }

  test("deleteWhere with a no-match predicate is a complete no-op") {
    val dir = TestSpark.tempDir("rowops_nomatch") + "/ds"
    seed(dir)
    val before = dataFiles(dir)
    val st = RowOps.deleteWhere(spark, dir, "id > 1000")
    assert(st.filesTouched == 0)
    assert(dataFiles(dir) == before)
  }

  test("a crash between stage and swap is healed: recoverTmp finishes " +
      "the rewrite from the manifest on the next mutation") {
    val dir = TestSpark.tempDir("rowops_crash") + "/ds"
    seed(dir)
    // simulate the crash window: stage survivors+batch into
    // _compact_tmp with a manifest, but die before the swap (packed
    // files still in tmp, old file still in the leaf)
    val touched = SchemaTools.listDataFiles(spark, dir)
      .filter { f =>
        val ids = spark.read.parquet(f).select("id")
        !ids.filter(col("id") === 10L).isEmpty
      }
    assert(touched.size == 1)
    val tmp = new Path(dir, "_compact_tmp")
    val merged = spark.read.parquet(touched.head)
      .withColumn("v", when(col("id") === 10L, -99L).otherwise(col("v")))
    merged.write.mode("overwrite").parquet(tmp.toString)
    val packed = fs.listStatus(tmp)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSeq
    Compact.writeSwapManifest(fs, tmp,
      touched.map(f => new Path(f).getName), packed)
    // "crashed" here. A later unrelated mutation heals it first:
    RowOps.deleteWhere(spark, dir, "id = 55")
    assert(!fs.exists(tmp), "staging dir must be consumed by recovery")
    val out = spark.read.parquet(dir)
    assert(out.filter(col("id") === 10L).select("v").as[Long]
      .head() == -99L, "staged update must have been swapped in")
    assert(out.filter(col("id") === 55L).isEmpty)
    assert(out.count() == 99)
  }

  test("upsertPartitioned rewrites only touched partitions; untouched " +
      "partitions stay byte-identical; updates and inserts both land") {
    val dir = TestSpark.tempDir("rowops_hive") + "/ds"
    spark.range(100)
      .select(col("id"), (col("id") * 10).as("v"),
        (col("id") % 4).as("p"))
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    def partFiles(): Map[String, Map[String, String]] =
      fs.listStatus(new Path(dir)).filter(_.isDirectory)
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(s => s.getPath.getName -> md5(s.getPath)).toMap
        }.toMap
    val before = partFiles()
    assert(before.size == 4)
    // keys 8 and 12 live in partition p=0; 500 inserts into p=1
    val batch = Seq((8L, -1L, 0L), (12L, -2L, 0L), (500L, -3L, 1L))
      .toDF("id", "v", "p")
    val st = RowOps.upsertPartitioned(spark, dir, batch, Seq("id"),
      Seq("p"))
    assert(st.filesTouched == 2, s"p=0 and p=1 touched: $st")
    val after = partFiles()
    Seq("p=2", "p=3").foreach { p =>
      assert(after(p) == before(p), s"$p was rewritten")
    }
    assert(after("p=0") != before("p=0") && after("p=1") != before("p=1"))
    val out = spark.read.parquet(dir)
      .filter(col("id").isin(8L, 12L, 16L, 500L))
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(out == Map(8L -> -1L, 12L -> -2L, 16L -> 160L, 500L -> -3L))
    assert(spark.read.parquet(dir).count() == 101)
    // keys that double as partition columns are refused (a partition
    // move would strand the old row)
    intercept[IllegalArgumentException] {
      RowOps.upsertPartitioned(spark, dir, batch, Seq("p"), Seq("p"))
    }
  }

  test("partitioned or snapshot-pinned targets are refused") {
    val dir = TestSpark.tempDir("rowops_guard") + "/ds"
    spark.range(10).select(col("id"), (col("id") % 2).as("p"))
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] {
      RowOps.upsert(spark, dir, Seq((1L, 0L)).toDF("id", "p"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      RowOps.deleteWhere(spark, dir, "id = 1")
    }
  }

  /** SCD2 seed: keys 0..99 in 4 key-banded files, one open v0 each. */
  private def seedScd(dir: String): Unit =
    spark.range(0, 100, 1, 4)
      .select(col("id"), (col("id") * 10).as("v"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"),
        lit(true).as("is_current"))
      .write.mode("overwrite").parquet(dir)

  test("scd2Merge: changed keys close v0 and open v1, no-op " +
      "redeliveries leave no trace, new keys insert; untouched files " +
      "byte-identical") {
    val dir = TestSpark.tempDir("rowops_scd") + "/ds"
    seedScd(dir)
    val before = dataFiles(dir)
    // 10,11 change (one band); 12 is redelivered unchanged; 200 is new
    val batch = Seq((10L, -1L), (11L, -2L), (12L, 120L), (200L, -3L))
      .toDF("id", "v")
    val st = RowOps.scd2Merge(spark, dir, batch, Seq("id"), 1L)
    assert(st.filesTouched == 1, s"only the 0..24 band changes: $st")
    val after = dataFiles(dir)
    before.filter { case (n, _) => after.contains(n) }.foreach {
      case (n, h) => assert(after(n) == h, s"untouched $n rewritten")
    }
    val rows = spark.read.parquet(dir)
      .filter(col("id").isin(10L, 11L, 12L, 200L))
      .select("id", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Long, Option[Long], Boolean)]
      .collect().toSet
    assert(rows == Set(
      (10L, 100L, 0L, Some(1L), false), (10L, -1L, 1L, None, true),
      (11L, 110L, 0L, Some(1L), false), (11L, -2L, 1L, None, true),
      (12L, 120L, 0L, None, true),
      (200L, -3L, 1L, None, true)))
    assert(spark.read.parquet(dir).count() == 103)
    // second merge re-versions key 10: three-deep chain, 11 untouched
    RowOps.scd2Merge(spark, dir, Seq((10L, -5L)).toDF("id", "v"),
      Seq("id"), 2L)
    val chain = spark.read.parquet(dir).filter(col("id") === 10L)
      .select("v", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    assert(chain == Set(
      (100L, 0L, Some(1L), false),
      (-1L, 1L, Some(2L), false),
      (-5L, 2L, None, true)))
  }

  test("scd2MergeScreened: a violating update quarantines with its " +
      "rule name and its key's current row stays OPEN; accepted rows " +
      "version normally; untouched files byte-identical") {
    val dir = TestSpark.tempDir("rowops_scds") + "/ds"
    val quar = TestSpark.tempDir("rowops_scds") + "/quar"
    seedScd(dir)
    val before = dataFiles(dir)
    // 10 violates (v < 0), 11 is accepted, 200 is an accepted insert,
    // 201 a violating insert
    val batch = Seq((10L, -1L), (11L, 999L), (200L, 5L), (201L, -9L))
      .toDF("id", "v")
    val st = RowOps.scd2MergeScreened(spark, dir, batch, Seq("id"), 1L,
      Seq(Expectations.Rule("v_nonneg", "v >= 0")), quar)
    assert(st.filesTouched == 1, s"only key 11's band changes: $st")
    val after = dataFiles(dir)
    before.filter { case (n, _) => after.contains(n) }.foreach {
      case (n, h) => assert(after(n) == h, s"untouched $n rewritten")
    }
    val rows = spark.read.parquet(dir)
      .filter(col("id").isin(10L, 11L, 200L, 201L))
      .select("id", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Long, Option[Long], Boolean)]
      .collect().toSet
    // key 10's change was rejected: its v0 row stays open untouched;
    // key 201 never lands
    assert(rows == Set(
      (10L, 100L, 0L, None, true),
      (11L, 110L, 0L, Some(1L), false), (11L, 999L, 1L, None, true),
      (200L, 5L, 1L, None, true)))
    val quarRows = spark.read.parquet(quar)
      .select("id", "v", "violated")
      .as[(Long, Long, String)].collect().toSet
    assert(quarRows == Set((10L, -1L, "v_nonneg"), (201L, -9L, "v_nonneg")))
    // an all-rejected batch is a complete no-op on the dataset
    val st2 = RowOps.upsertScreened(spark, dir,
      Seq((11L, -7L)).toDF("id", "v")
        .select(col("id"), col("v"), lit(0L).as("valid_from"),
          lit(null).cast("long").as("valid_to"),
          lit(true).as("is_current")),
      Seq("id"), Seq(Expectations.Rule("v_nonneg", "v >= 0")), quar)
    assert(st2.filesTouched == 0)
    val after2 = dataFiles(dir)
    after.foreach { case (n, h) => assert(after2(n) == h) }
  }

  test("scd2Merge: a batch of only no-ops and inserts rewrites nothing") {
    val dir = TestSpark.tempDir("rowops_scd_noop") + "/ds"
    seedScd(dir)
    val before = dataFiles(dir)
    val st = RowOps.scd2Merge(spark, dir,
      Seq((50L, 500L), (300L, 1L)).toDF("id", "v"), Seq("id"), 1L)
    assert(st.filesTouched == 0)
    val after = dataFiles(dir)
    before.foreach { case (n, h) => assert(after(n) == h) }
    assert(spark.read.parquet(dir).count() == 101)
  }

  test("change feed: upsert + delete record pre/post/insert/delete " +
      "rows; readChanges prunes to the requested versions") {
    val dir = TestSpark.tempDir("rowops_cdf") + "/ds"
    seed(dir)
    RowOps.upsert(spark, dir,
      Seq((10L, -1L), (200L, -2L)).toDF("id", "v"), Seq("id"),
      cdfVersion = Some(1L))
    RowOps.deleteWhere(spark, dir, "v = -1", cdfVersion = Some(2L))
    val all = RowOps.readChanges(spark, dir, 1L)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(all == Set(
      (10L, 100L, "update_preimage", 1L),
      (10L, -1L, "update_postimage", 1L),
      (200L, -2L, "insert", 1L),
      (10L, -1L, "delete", 2L)))
    val v2 = RowOps.readChanges(spark, dir, 2L)
      .select("_change_type").as[String].collect().toSeq
    assert(v2 == Seq("delete"))
    // the feed is invisible to data scans
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("deleteKeys removes exactly the keyed rows copy-on-write; " +
      "applyChanges replicates a feed and replays idempotently") {
    val root = TestSpark.tempDir("rowops_cdc")
    val src = s"$root/src"
    val dst = s"$root/dst"
    seed(src); seed(dst)
    RowOps.upsert(spark, src,
      Seq((10L, -1L), (200L, -2L)).toDF("id", "v"), Seq("id"),
      cdfVersion = Some(1L))
    val st = RowOps.deleteKeys(spark, src,
      Seq(Tuple1(10L), Tuple1(999L)).toDF("id"), Seq("id"),
      cdfVersion = Some(2L))
    assert(st.filesTouched == 1, s"only key 10's band rewrites: $st")
    def rowsOf(p: String) =
      spark.read.parquet(p).as[(Long, Long)].collect().toSet
    assert(!rowsOf(src).exists(_._1 == 10L))
    assert(rowsOf(src).size == 100) // 100 seed + 1 insert - 1 delete
    // the replica consumes ONLY the feed and converges
    val feed = RowOps.readChanges(spark, src, 1L)
    RowOps.applyChanges(spark, dst, feed, Seq("id"))
    assert(rowsOf(dst) == rowsOf(src))
    // at-least-once delivery: replaying the whole feed changes nothing
    RowOps.applyChanges(spark, dst, feed, Seq("id"))
    assert(rowsOf(dst) == rowsOf(src))
  }

  test("merge-on-read deletes: files byte-identical until apply, key " +
      "schema locked, stale tombstones after a crashed clear are a " +
      "no-op") {
    val dir = TestSpark.tempDir("mor")
    (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val before = dataFiles(dir)
    RowOps.deleteKeysMor(spark, dir, Seq(2L, 5L).toDF("id"), Seq("id"))
    assert(dataFiles(dir) == before,
      "a MOR delete must leave every data file byte-identical")
    assert(RowOps.readMor(spark, dir).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L, 7L, 8L))
    // a second delete with a DIFFERENT key set must refuse — readers
    // derive the key list from the tombstone schema
    intercept[IllegalArgumentException] {
      RowOps.deleteKeysMor(spark, dir, Seq("v2").toDF("v"), Seq("v"))
    }
    RowOps.applyTombstones(spark, dir)
    assert(RowOps.tombstoneKeys(spark, dir).isEmpty)
    assert(spark.read.parquet(dir).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L, 7L, 8L))
    // crash window: the fold ran but the clear did not — tombstones
    // for already-dead keys must be a harmless no-op on read AND on
    // the next apply
    RowOps.deleteKeysMor(spark, dir, Seq(2L, 5L).toDF("id"), Seq("id"))
    assert(RowOps.readMor(spark, dir).count() == 6)
    val st = RowOps.applyTombstones(spark, dir)
    assert(st.filesTouched == 0, s"dead keys touch nothing: $st")
    assert(spark.read.parquet(dir).count() == 6)
  }

  test("MOR tombstone subtraction (single-writer reader) broadcasts " +
      "only under the threshold; above it the plan stays shuffled " +
      "and the rows are identical") {
    val dir = TestSpark.tempDir("rowmorb") + "/ds"
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .repartition(1).write.parquet(dir)
    RowOps.deleteKeysMor(spark, dir,
      spark.range(40).selectExpr("id").toDF("id"), Seq("id"))
    def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.exists {
        case _: org.apache.spark.sql.execution.joins
            .BroadcastHashJoinExec => true
        case _: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec => true
        case _ => false
      }
    assert(hasBroadcast(LakeReader(spark, dir).load()),
      "small debt must broadcast through the declarative reader")
    SchemaTools.withSessionConf(spark,
        "spark.sql.autoBroadcastJoinThreshold", "1") {
      val df = LakeReader(spark, dir).load()
      assert(!hasBroadcast(df),
        "above-threshold debt must not force a broadcast")
      assert(df.count() == 60)
    }
  }
}
