package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("createView registers for SQL, materialize caches") {
    val dir = TestSpark.tempDir("lrv")
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    LakeReader(spark, dir).createView("lrv_view")
    assert(spark.sql("SELECT count(*) FROM lrv_view").as[Long].head() == 2)
    val m = LakeReader(spark, dir).materialize("lrv_mat")
    assert(m.storageLevel.useMemory, "materialize must cache")
    assert(spark.table("lrv_mat").count() == 2)
    m.unpersist()
  }

  test("path-extension dispatch picks the right format") {
    val dir = TestSpark.tempDir("lrd")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$dir/t.parquet")
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/t.csv")
    val p = LakeReader.fromPath(spark, s"$dir/t.parquet").load()
    assert(p.count() == 2)
    val c = LakeReader.fromPath(spark, s"$dir/t.csv").load()
    assert(c.count() == 2)
    assert(c.columns.toSeq.sorted == Seq("id", "v"))
  }

  test("nanosTolerant reads TIMESTAMP(NANOS) parquet as long nanos " +
      "(and is a harmless no-op on micro-precision sources)") {
    // testdata generations differ: ts is TIMESTAMP(NANOS) in some and
    // native micros/NTZ in others. Probe with a plain read — a nanos
    // column fails it ([PARQUET_TYPE_ILLEGAL]) and must come back as
    // LongType under nanosTolerant; a micros column reads fine and
    // nanosTolerant must not break or retype it.
    val path = s"${TestSpark.sfDir}/events.parquet"
    val plainTs =
      try Some(spark.read.parquet(path).schema("ts").dataType)
      catch { case _: Throwable => None }
    val df = LakeReader(spark, path).nanosTolerant().load()
    plainTs match {
      case None =>
        assert(df.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
      case Some(t) =>
        assert(df.schema("ts").dataType == t)
    }
    assert(df.count() > 0)
  }

  test("nanosTolerant leaves the shared-session conf unchanged") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val df = LakeReader(spark, s"${TestSpark.sfDir}/events.parquet")
      .nanosTolerant().load()
    // execution still works after the conf was restored (the scan
    // captured its hadoop conf at resolution time)
    assert(df.count() > 0)
    assert(spark.conf.getOption(key) == before,
      "per-reader nanos flag must not mutate the shared session")
  }

  test("fromPath on a directory of CSVs infers the csv format") {
    val dir = TestSpark.tempDir("lrdir")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val df = LakeReader.fromPath(spark, dir).load()
    assert(df.count() == 3)
    assert(df.columns.sorted.toSeq == Seq("id", "v"))
  }

  test("a trusted _stats manifest prunes the declarative filter's file " +
      "listing; untrusted or range-free filters take the full scan") {
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.tempDir("lrskip") + "/ds"
    // 10 files, contiguous id bands
    spark.range(0, 1000, 1, 10).select(col("id"), (col("id") % 7).as("v"))
      .write.mode("overwrite").parquet(dir)
    val nFiles = SchemaTools.listDataFiles(spark, dir)
      .count(_.endsWith(".parquet"))
    FileStats.build(spark, dir)
    val pruned = LakeReader(spark, dir)
      .filter("id BETWEEN 200 AND 299 AND v >= 0").load()
    assert(pruned.inputFiles.length < nFiles,
      s"expected a pruned file index: ${pruned.inputFiles.length}/$nFiles")
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ==
      (200L to 299L))
    // a filter with no extractable range: full listing, same engine path
    val free = LakeReader(spark, dir).filter("v % 2 = 1 OR id < 0").load()
    assert(free.inputFiles.length == nFiles)
    assert(free.count() ==
      spark.read.parquet(dir).filter("v % 2 = 1 OR id < 0").count())
    // distrusted manifest: clean fallback with identical rows
    FileStats.distrust(spark, dir)
    val fb = LakeReader(spark, dir)
      .filter("id BETWEEN 200 AND 299 AND v >= 0").load()
    assert(fb.inputFiles.length == nFiles)
    assert(fb.select("id").as[Long].collect().sorted.toSeq ==
      (200L to 299L))
    // out-of-span range: zero-file scan, schema preserved
    FileStats.build(spark, dir)
    val none = LakeReader(spark, dir).filter("id > 5000").load()
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("id", "v"))
  }

  test("filter applies before the declarative pipeline") {
    val dir = TestSpark.tempDir("lrf")
    Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "k")
      .write.mode("overwrite").parquet(dir)
    val out = LakeReader(spark, dir)
      .filter("id >= 2")
      .distinctOn(Seq("k"))
      .load()
      .select("id", "k").as[(Int, String)].collect().toMap
    // id=1 filtered out first, so k=a keeps id=2
    assert(out == Map(2 -> "a", 3 -> "b"))
  }

  test("the reader's logical surface subtracts unapplied MOR " +
      "tombstones, and stats-skipping falls back under them") {
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.tempDir("lrmor")
    (1L to 10L).map(i => (i, i * 10.0)).toDF("id", "x")
      .write.mode("overwrite").parquet(dir)
    RowOps.deleteKeysMor(spark, dir, Seq(3L, 7L).toDF("id"), Seq("id"))
    val out = LakeReader(spark, dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L, 10L),
      "unapplied deletes must not serve through the reader")
    // a range filter still answers correctly (stats-skipping bails to
    // the full logical surface rather than serving dead rows)
    val f = LakeReader(spark, dir).filter("id >= 5")
      .load().select("id").as[Long].collect().sorted.toSeq
    assert(f == Seq(5L, 6L, 8L, 9L, 10L))
    RowOps.applyTombstones(spark, dir)
    assert(LakeReader(spark, dir).load().count() == 8)
  }
}
