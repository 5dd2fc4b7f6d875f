package graft.lake

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TimeFlySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("init creates metadata + dirs and adopts loose files") {
    val dir = TestSpark.tempDir("tf")
    // loose data at the root, like a pre-TimeFly dataset
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$dir/loose")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    SchemaTools.listDataFiles(spark, s"$dir/loose").zipWithIndex.foreach {
      case (f, i) =>
        fs.rename(new org.apache.hadoop.fs.Path(f),
          new org.apache.hadoop.fs.Path(s"$dir/part-$i.parquet"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/loose"), true)

    val tf = TimeFly(spark, dir).init("t1")
    assert(tf.exists())
    assert(tf.read().count() == 1) // loose file migrated into current/
    val meta = tf.readMeta()
    assert(meta.at("/dataset/name").asText() == "t1")
  }

  test("adopts a pydala-written lake: verbatim reference test.toml, " +
      "legacy [timefly.*] layout, snapshots resolve") {
    val dir = TestSpark.tempDir("tftoml")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_dataset.toml"),
      new TomlSpec().referenceFixture)
    val tf = TimeFly(spark, dir)
    assert(tf.exists())
    assert(tf.availableSnapshots() == Seq("20221001_130513"))
    // T6 resolution against the adopted metadata: first snapshot with
    // id > t, else current
    assert(tf.snapshotAt(Some("2022-09-15 00:00:00"))
      == Some("20221001_130513"))
    assert(tf.snapshotAt(Some("2022-11-01 00:00:00")).isEmpty)
    // the translated layout carries the deleted history through
    val meta = tf.readMeta()
    assert(meta.at("/snapshot/deleted").size == 2)
    assert(meta.at("/dataset/name").asText == "symbols")
    assert(meta.at("/current/format").asText == "parquet")
  }

  test("writes mirror _dataset.toml: a lake written here reads back " +
      "from the TOML alone") {
    val dir = TestSpark.tempDir("tfmirror")
    val tf = TimeFly(spark, dir).init("mirror_ds", "dual codec")
    spark.range(5).toDF("id").write.mode("overwrite")
      .parquet(tf.currentPath + "/d.parquet")
    val snap = tf.addSnapshot(manifestOnly = true)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_dataset.toml")))
    // drop our JSON — only the reference-format TOML remains
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "_dataset.json"))
    val tf2 = TimeFly(spark, dir)
    assert(tf2.exists())
    assert(tf2.availableSnapshots() == Seq(snap))
    assert(tf2.readMeta().at("/dataset/name").asText == "mirror_ds")
    assert(tf2.readMeta().at(s"/snapshot/$snap/manifest_only").asBoolean)
  }

  test("snapshot add / restore round-trip") {
    val dir = TestSpark.tempDir("tfsnap")
    val tf = TimeFly(spark, dir).init("t2")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    val snap = tf.addSnapshot()
    tf.writer(WriteMode.Append).write(Seq((2, "b")).toDF("id", "v"))
    assert(tf.read().count() == 2)
    tf.loadSnapshot(snap)
    assert(tf.read().count() == 1) // restored to pre-append state
    assert(tf.readMeta().at("/current/restored_from").asText() == snap)
  }

  test("snapshot ids stay strictly increasing inside one wall-clock " +
      "second, and a deleted id is never reused") {
    val dir = TestSpark.tempDir("tfmono")
    val tf = TimeFly(spark, dir).init("tmono")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    // three snapshots back-to-back — far faster than the id's second
    // resolution, so without the collision bump at least two would
    // share an id (the old writers slept through the clock instead)
    val ids = Seq(tf.addSnapshot(), tf.addSnapshot(), tf.addSnapshot())
    assert(ids.distinct == ids, s"ids must be distinct: $ids")
    assert(ids == ids.sorted, s"ids must be increasing: $ids")
    assert(tf.availableSnapshots() == ids)
    // a deleted id must not be resurrected by the next allocation
    tf.deleteSnapshot(ids.last)
    val next = tf.addSnapshot()
    assert(next > ids.last,
      s"new id $next must sort past the deleted ${ids.last}")
    // every id keeps the reference's second-resolution format
    (ids :+ next).foreach(id => assert(id.matches("\\d{8}_\\d{6}")))
  }

  test("resolution rule T6: first snapshot with id > t, else current") {
    val dir = TestSpark.tempDir("tfres")
    val tf = TimeFly(spark, dir).init("t3")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    // fabricate two snapshots with known ids (bypass wall clock)
    val node = tf.readMeta()
    val snap = node.withObject("/snapshot")
    for (id <- Seq("20240101_000000", "20240601_000000")) {
      snap.putObject(id).put("created", id)
      snap.withArray("available").add(id)
    }
    tf.writeMeta(node)

    // t before both -> FIRST snapshot after t (the earliest one)
    assert(tf.snapshotAt(Some("20230101_000000")) == Some("20240101_000000"))
    // t between -> the later snapshot
    assert(tf.snapshotAt(Some("2024-03-01T00:00:00"))
      == Some("20240601_000000"))
    // t after all -> current
    assert(tf.snapshotAt(Some("20250101_000000")).isEmpty)
    // no as-of -> current
    assert(tf.snapshotAt(None).isEmpty)
  }

  test("deleteSnapshot moves id to deleted and removes files") {
    val dir = TestSpark.tempDir("tfdel")
    val tf = TimeFly(spark, dir).init("t4")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    val snap = tf.addSnapshot()
    assert(tf.availableSnapshots() == Seq(snap))
    tf.deleteSnapshot(snap)
    assert(tf.availableSnapshots().isEmpty)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tf.snapshotPath(snap))))
    val deleted = tf.readMeta().at("/snapshot/deleted")
    assert(deleted.get(0).asText() == snap)
  }

  test("manifest-only snapshot records files without copying") {
    val dir = TestSpark.tempDir("tfman")
    val tf = TimeFly(spark, dir).init("t5")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    val snap = tf.addSnapshot(manifestOnly = true)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // no copied data dir
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tf.snapshotPath(snap))))
    val files = tf.readMeta().at(s"/snapshot/$snap/files")
    assert(files.size() > 0)
    // restoring in place would delete files later manifests may pin
    val e = intercept[IllegalArgumentException] { tf.loadSnapshot(snap) }
    assert(e.getMessage.contains("manifest-only"))
  }

  test("vacuum: dryRun only reports; real run sweeps debris but not " +
      "data; no cutoff = no expiry") {
    import org.apache.hadoop.fs.Path
    val dir = TestSpark.tempDir("tfvac")
    val tf = TimeFly(spark, dir).init("t6")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    val snap = tf.addSnapshot()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir, "snapshot/19990101_000000"))
    fs.mkdirs(new Path(dir, "current/_compact_tmp"))
    // crashed sidecar folds leave their staging dirs too — all three
    // are protocol-safe debris (stage-then-rename under a trust marker)
    fs.mkdirs(new Path(dir, "current/_keys_tmp"))
    fs.mkdirs(new Path(dir, "current/_shingles_tmp"))
    fs.mkdirs(new Path(dir, "current/_stats_tmp"))
    val dry = tf.vacuum(dryRun = true)
    assert(dry.orphanDirs == 1 && dry.tmpDirs == 4 && dry.expired.isEmpty)
    assert(fs.exists(new Path(dir, "snapshot/19990101_000000")))
    val real = tf.vacuum()
    assert(real.orphanDirs == 1 && real.tmpDirs == 4 && real.expired.isEmpty)
    assert(!fs.exists(new Path(dir, "snapshot/19990101_000000")))
    assert(!fs.exists(new Path(dir, "current/_compact_tmp")))
    assert(!fs.exists(new Path(dir, "current/_keys_tmp")))
    assert(!fs.exists(new Path(dir, "current/_shingles_tmp")))
    assert(!fs.exists(new Path(dir, "current/_stats_tmp")))
    // no cutoff: the snapshot and the live data are untouched
    assert(tf.availableSnapshots() == Seq(snap))
    assert(tf.read().count() == 1)
  }

  test("vacuum COMPLETES a crashed compaction swap instead of " +
      "destroying the packed copy") {
    import org.apache.hadoop.fs.Path
    val dir = TestSpark.tempDir("tfvac3")
    val tf = TimeFly(spark, dir).init("t8")
    val df = (0 until 50).map(i => (i, s"r$i")).toDF("id", "v")
    tf.writer(WriteMode.Overwrite).write(df)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // crash state: swap manifest written, nothing renamed — the tmp
    // holds the (only) packed copy alongside the still-live old files
    val leaf = new Path(dir, "current")
    val oldNames = fs.listStatus(leaf)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
    val tmp = new Path(leaf, "_compact_tmp")
    spark.read.parquet(leaf.toString).repartition(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val packed = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
    val out = fs.create(new Path(tmp, "_swap_manifest"), true)
    try out.write((oldNames.map("old\t" + _) ++ packed.map("packed\t" + _))
      .mkString("\n").getBytes("UTF-8")) finally out.close()

    val stats = tf.vacuum()
    assert(stats.tmpDirs == 1)
    assert(!fs.exists(tmp))
    assert(tf.read().orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq,
      "vacuum must finish the swap, losing nothing")
  }

  test("vacuum retention: expires manifest-only snapshots through the " +
      "meta, always keeps the newest") {
    val dir = TestSpark.tempDir("tfvac2")
    val tf = TimeFly(spark, dir).init("t7")
    tf.writer(WriteMode.Append).write(Seq((1, "a")).toDF("id", "v"))
    val s1 = tf.addSnapshot(manifestOnly = true)
    while (TimeFly.nowId() == s1) Thread.sleep(50)
    val s2 = tf.addSnapshot()
    val out = tf.vacuum(olderThan = Some("2099-12-31T23:59:59"))
    assert(out.expired == Seq(s1))
    assert(tf.availableSnapshots() == Seq(s2))
    val deleted = tf.readMeta().at("/snapshot/deleted")
    assert(deleted.get(0).asText() == s1)
  }

  test("readSince returns only post-snapshot rows for BOTH snapshot " +
      "flavors; empty increment is an empty typed frame") {
    val dir = TestSpark.tempDir("tfinc")
    val tf = TimeFly(spark, dir).init("t8")
    tf.writer(WriteMode.Append).write(Seq((1, "a"), (2, "b"))
      .toDF("id", "v"))
    val sManifest = tf.addSnapshot(manifestOnly = true)
    val sCopy = tf.addSnapshot() // copy flavor, same baseline
    // empty increment right after the snapshot
    val empty = tf.readSince(sManifest)
    assert(empty.isEmpty && empty.columns.toSeq == Seq("id", "v"))
    tf.writer(WriteMode.Append).write(Seq((3, "c")).toDF("id", "v"))
    assert(tf.readSince(sManifest).select("id").as[Int].collect()
      .toSeq == Seq(3))
    assert(tf.readSince(sCopy).select("id").as[Int].collect()
      .toSeq == Seq(3))
    assert(tf.changedFilesSince(sManifest).size <
      SchemaTools.listDataFiles(spark, tf.currentPath).size)
    intercept[IllegalArgumentException] {
      tf.changedFilesSince("19990101_000000")
    }
  }

  test("tags: immutable name→snapshot refs; readTag serves both " +
      "flavors; delete/retention refuse pinned snapshots") {
    val dir = TestSpark.tempDir("tftag")
    val tf = TimeFly(spark, dir).init("t9")
    tf.writer(WriteMode.Overwrite).write(Seq((1, "a")).toDF("id", "v"))
    val sCopy = tf.addSnapshot()
    Thread.sleep(1100) // ids have second resolution
    val sMan = tf.addSnapshot(manifestOnly = true)
    tf.tag("rel_copy", sCopy)
    tf.tag("rel_man", sMan)
    // refused: duplicate name, snapshot-id-shaped name, unknown snapshot
    intercept[IllegalArgumentException] { tf.tag("rel_copy", sCopy) }
    intercept[IllegalArgumentException] { tf.tag("20250101_000000", sCopy) }
    intercept[IllegalArgumentException] { tf.tag("x", "19990101_000000") }
    // an append moves current on; the manifest tag serves its file list
    tf.writer(WriteMode.Append).write(Seq((3, "c")).toDF("id", "v"))
    assert(tf.readTag("rel_man").select("id").as[Int].collect().toSeq
      == Seq(1))
    // an overwrite moves current on; the copy tag still serves the old
    // state (the overwrite deletes the files the manifest tag pins)
    tf.writer(WriteMode.Overwrite).write(Seq((2, "b")).toDF("id", "v"))
    assert(tf.readTag("rel_copy").select("id").as[Int].collect().toSeq
      == Seq(1))
    intercept[IllegalArgumentException] { tf.readTag("nope") }
    assert(tf.tags() == Map("rel_copy" -> sCopy, "rel_man" -> sMan))
    // pinned snapshots are undeletable until untagged
    intercept[IllegalArgumentException] { tf.deleteSnapshot(sCopy) }
    tf.deleteTag("rel_copy")
    tf.deleteSnapshot(sCopy)
    assert(!tf.availableSnapshots().contains(sCopy))
    assert(tf.tags() == Map("rel_man" -> sMan))
  }

  test("every ref serves a hive-partitioned dataset with the live " +
      "read's columns, partition column included") {
    val dir = TestSpark.tempDir("tfpart")
    val tf = TimeFly(spark, dir).init("tp")
    def write(rows: (Int, String)*): Unit =
      tf.writer(WriteMode.Append).withPartitioning("p")
        .write(rows.toDF("id", "p"))
    write((1, "a"), (2, "b"))
    val sCopy = tf.addSnapshot()
    write((3, "a"))
    val sMan = tf.addSnapshot(manifestOnly = true)
    write((4, "b"), (5, "c"))
    val cols = tf.read().columns.toSeq
    assert(cols.sorted == Seq("id", "p"))
    def ids(df: DataFrame): Seq[Int] = {
      assert(df.columns.toSeq == cols)
      df.select("id").as[Int].collect().sorted.toSeq
    }
    assert(ids(tf.read()) == Seq(1, 2, 3, 4, 5))
    // as-of resolves to the first snapshot with id > t
    assert(ids(tf.read(Some("19700101_000000"))) == Seq(1, 2))
    assert(ids(tf.read(Some(sCopy))) == Seq(1, 2, 3))
    tf.tag("p_copy", sCopy)
    tf.tag("p_man", sMan)
    assert(ids(tf.readTag("p_copy")) == Seq(1, 2))
    assert(ids(tf.readTag("p_man")) == Seq(1, 2, 3))
    assert(ids(tf.readSince(sCopy)) == Seq(3, 4, 5))
    assert(ids(tf.readSince(sMan)) == Seq(4, 5))
    assert(tf.history().orderBy("ord").select("n_rows").as[Long]
      .collect().toSeq == Seq(2L, 3L, 5L))
    val cl = tf.cloneTo(TestSpark.tempDir("tfpartcl") + "/c", "c",
      asOf = Some(sCopy))
    assert(ids(cl.read()) == Seq(1, 2, 3))
    // a branch view spans two roots: main's base and the branch's dir
    tf.branch("b")
    tf.branchWriter("b").withPartitioning("p")
      .write(Seq((6, "a")).toDF("id", "p"))
    assert(ids(tf.readBranch("b")) == Seq(1, 2, 3, 4, 5, 6))
  }

  test("vacuumKeepLast keeps exactly the newest n, tagged older " +
      "snapshots survive the count cutoff") {
    val dir = TestSpark.tempDir("tfkeep")
    val tf = TimeFly(spark, dir).init("keepn")
    tf.writer(WriteMode.Overwrite).write(Seq((1, "a")).toDF("id", "v"))
    val ids = (1 to 4).map { _ =>
      val id = tf.addSnapshot(manifestOnly = true)
      Thread.sleep(1100)
      id
    }
    tf.tag("pinned", ids(0))
    val st = tf.vacuumKeepLast(2)
    assert(st.expired == Seq(ids(1)),
      s"only the untagged pre-cutoff snapshot expires: ${st.expired}")
    assert(tf.availableSnapshots().toSet ==
      Set(ids(0), ids(2), ids(3)),
      "newest 2 + the tagged one survive")
    // keeping more than exist is a plain debris sweep, never an expiry
    assert(tf.vacuumKeepLast(10).expired.isEmpty)
  }

  test("branches: diverged main refuses fast-forward; a crashed " +
      "half-move resumes; vacuum sweeps orphan branch dirs") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def files(p: String) = SchemaTools.listDataFiles(spark, p)

    val dir = TestSpark.tempDir("tfbranch")
    val tf = TimeFly(spark, dir).init("b1")
    tf.writer(WriteMode.Overwrite).write(Seq((1, "a")).toDF("id", "v"))
    tf.branch("exp")
    tf.branchWriter("exp").write(Seq((2, "b")).toDF("id", "v"))
    // main diverges AFTER the branch — publish must refuse
    tf.writer(WriteMode.Append).write(Seq((3, "c")).toDF("id", "v"))
    intercept[IllegalArgumentException] { tf.fastForward("exp") }
    assert(tf.branches() == Seq("exp"))
    tf.deleteBranch("exp")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tf.branchPath("exp"))))

    // crashed half-move: the publish manifest was staged and one file
    // already moved when the process died; a re-run reads the manifest,
    // counts the moved file as branch-owned (not divergence), and
    // finishes the remaining renames
    tf.branch("exp2")
    tf.branchWriter("exp2").write(
      Seq((4, "d"), (5, "e")).toDF("id", "v").repartition(2))
    val exp2Files = files(tf.branchPath("exp2"))
    assert(exp2Files.size >= 2)
    val names = exp2Files
      .map(f => "\"" + new org.apache.hadoop.fs.Path(f).getName + "\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tf.branchPath("exp2"), "_publish.json"),
      s"""{"moving": [${names.mkString(",")}]}""")
    val one = new org.apache.hadoop.fs.Path(exp2Files.head)
    fs.rename(one,
      new org.apache.hadoop.fs.Path(tf.currentPath, one.getName))
    tf.fastForward("exp2")
    assert(tf.branches().isEmpty)
    assert(tf.read().select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 3, 4, 5))

    // orphan branch dir (meta never committed) is vacuum debris
    fs.mkdirs(new org.apache.hadoop.fs.Path(tf.branchPath("ghost")))
    val st = tf.vacuum()
    assert(st.orphanDirs == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tf.branchPath("ghost"))))
  }

  test("shallow clone: copy snapshot refused until deepen; deepen is " +
      "rerun-idempotent") {
    val src = TestSpark.tempDir("tfclsrc")
    val dst = TestSpark.tempDir("tfcldst") + "/c"
    val tf = TimeFly(spark, src).init("s1")
    tf.writer(WriteMode.Overwrite).write(Seq((1, "a")).toDF("id", "v"))
    val cl = tf.cloneTo(dst, "c1")
    // a copy snapshot would capture only local files — refused shallow
    intercept[IllegalArgumentException] { cl.addSnapshot() }
    // manifest-only captures the WHOLE view (borrowed base included)
    val sMan = cl.addSnapshot(manifestOnly = true)
    cl.writer(WriteMode.Append).write(Seq((2, "b")).toDF("id", "v"))
    assert(cl.readSince(sMan).select("id").as[Int].collect().toSeq
      == Seq(2))
    cl.deepen()
    cl.deepen() // rerun after a hypothetical crash: overwrites its own
                // partial work, never duplicates rows
    assert(cl.read().select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 2))
    Thread.sleep(1100) // ids have second resolution
    cl.addSnapshot() // deep clone: copy snapshots work again
    // the clone's history table sees base + local rows in the live row
    val hist = cl.history().orderBy("ord")
      .select("n_rows").as[Long].collect().toSeq
    assert(hist == Seq(1L, 2L, 2L))
  }

  test("cloneTo asOf a MANIFEST-ONLY snapshot reads the recorded file " +
      "list — never a silent empty clone") {
    val src = TestSpark.tempDir("tfclmsrc")
    val tf = TimeFly(spark, src).init("s1")
    tf.writer(WriteMode.Overwrite).write(Seq((1, "a")).toDF("id", "v"))
    val sMan = tf.addSnapshot(manifestOnly = true) // no snapshot dir
    Thread.sleep(1100)
    tf.writer(WriteMode.Append).write(Seq((2, "b")).toDF("id", "v"))
    // as-of resolves to the manifest-only snapshot: its files come from
    // meta (readTag's resolution), not from the nonexistent directory
    val cl = tf.cloneTo(TestSpark.tempDir("tfclmdst") + "/c", "c1",
      asOf = Some("2000-01-01T00:00:00"))
    assert(cl.read().select("id").as[Int].collect().toSeq == Seq(1),
      "the clone must hold the snapshot-time rows, not be empty")
    assert(sMan.nonEmpty)
    // asOf past every snapshot falls through to the LIVE view — for a
    // shallow source that view includes the borrowed base
    val cl2 = tf.cloneTo(TestSpark.tempDir("tfclmdst2") + "/c", "c2",
      asOf = Some("2999-01-01T00:00:00"))
    assert(cl2.read().select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 2))
  }
}
