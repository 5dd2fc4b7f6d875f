package graft.lake

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def leafFiles(dir: String): Map[String, Seq[Long]] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def walk(p: Path): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap {
        s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet"))
            Seq((s.getPath.getParent.toString, s.getLen))
          else Nil
      }
    walk(root).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  test("bin-packs each partition leaf to ceil(bytes/target) files, " +
      "content-preserving") {
    val dir = TestSpark.tempDir("compact")
    val df = (0 until 900)
      .map(i => (i.toLong, i % 3, s"value_$i" * 5))
      .toDF("id", "p", "v")
    LakeWriter(spark, dir, WriteMode.Overwrite,
      partitionBy = Seq("p"), maxRecordsPerFile = 50L).write(df)
    val before = leafFiles(dir)
    assert(before.size == 3 && before.forall(_._2.size > 1),
      "fixture must start with many small files per leaf")
    val content0 = spark.read.parquet(dir)
      .orderBy("id").collect().toSeq

    // target = half the biggest leaf -> every leaf packs to >= 1 file,
    // expected count derived from the SAME pre-compact bytes the
    // operator sees
    val target = before.values.map(_.sum).max / 2 + 1
    val expected = before.view
      .mapValues(sz => ((sz.sum + target - 1) / target).toInt).toMap
    val stats = Compact.run(spark, dir, targetBytes = target)
    assert(stats.leaves == 3 && stats.rewritten == 3)
    val after = leafFiles(dir)
    assert(after.view.mapValues(_.size).toMap == expected)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq ==
      content0)
  }

  test("already-right-sized leaves are skipped on a second pass") {
    val dir = TestSpark.tempDir("compact_skip")
    LakeWriter(spark, dir, WriteMode.Overwrite, maxRecordsPerFile = 25L)
      .write((0 until 200).map(i => (i, s"v$i")).toDF("id", "v"))
    val s1 = Compact.run(spark, dir) // default 128 MiB -> 1 file
    assert(s1.rewritten == 1 && s1.filesAfter == 1 && s1.filesBefore > 1)
    val s2 = Compact.run(spark, dir)
    assert(s2.rewritten == 0 && s2.filesAfter == 1)
  }

  test("a key-ordered leaf packs into n contiguous runs: no output " +
      "file spans the whole key range") {
    val dir = TestSpark.tempDir("compact_runs") + "/ds"
    // eight bands written one after another: write order is key order
    (0 until 8).foreach(i => spark.range(i * 100L, i * 100L + 100, 1, 1)
      .select($"id", ($"id" * 3).as("x")).write.mode("append").parquet(dir))
    val total = leafFiles(dir).values.flatten.sum
    val content = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val stats = Compact.run(spark, dir, targetBytes = total / 3 + 1)
    assert(stats.rewritten == 1 && stats.filesBefore == 8 &&
      stats.filesAfter == 3)
    val spans = SchemaTools.listDataFiles(spark, dir).map { f =>
      val ids = spark.read.parquet(f).select("id").as[Long]
        .collect().sorted.toSeq
      val run = ids == (ids.head to ids.last)
      assert(run, s"$f holds ${ids.size} ids in " +
        s"[${ids.head}, ${ids.last}], not one run")
      (ids.head, ids.last)
    }
    assert(spans.forall(_ != (0L, 799L)),
      s"no packed file may span the whole key range: $spans")
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == content)
  }

  test("a leaf with fewer files than ceil(bytes/target) is right-sized: " +
      "compaction never splits a file") {
    val dir = TestSpark.tempDir("compact_nosplit") + "/ds"
    spark.range(0, 400, 1, 2).write.parquet(dir)
    val total = leafFiles(dir).values.flatten.sum
    val stats = Compact.run(spark, dir, targetBytes = total / 10 + 1)
    assert(stats.rewritten == 0 && stats.filesBefore == 2 &&
      stats.filesAfter == 2)
  }

  test("bins: min(k, n) non-empty contiguous runs covering every input " +
      "once, none over total/k plus the largest input") {
    val rng = new scala.util.Random(20261020L)
    (0 until 500).foreach { _ =>
      val sizes = Seq.fill(1 + rng.nextInt(40))(
        if (rng.nextInt(5) == 0) 0L else rng.nextInt(1 << 20).toLong)
      val k = 1 + rng.nextInt(12)
      val bins = Compact.bins(sizes.indices.map(i => i -> sizes(i)), k)
      val ctx = s"sizes=$sizes k=$k bins=$bins"
      assert(bins.size == math.min(k, sizes.size), ctx)
      assert(bins.forall(_.nonEmpty), ctx)
      assert(bins.flatten == sizes.indices, ctx)
      val bound = sizes.sum.toDouble / bins.size + sizes.max
      assert(bins.forall(b => b.map(sizes).sum <= bound), ctx)
    }
    assert(Compact.bins(Seq.empty[(String, Long)], 3).isEmpty)
  }

  test("refuses to strand manifest-only TimeFly snapshots") {
    val root = TestSpark.tempDir("compact_tf")
    val tf = TimeFly(spark, root).init("pinned")
    tf.writer(WriteMode.Overwrite).write(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val snap = tf.addSnapshot(manifestOnly = true)
    assert(TimeFly.pinnedFiles(spark, tf.currentPath).nonEmpty)
    assertThrows[IllegalArgumentException] {
      Compact.run(spark, tf.currentPath)
    }
    // a materialized (copying) snapshot pins nothing; after deleting the
    // manifest-only one, compaction proceeds
    tf.deleteSnapshot(snap)
    assert(TimeFly.pinnedFiles(spark, tf.currentPath).isEmpty)
    val stats = Compact.run(spark, tf.currentPath)
    assert(stats.leaves == 1)
    assert(spark.read.parquet(tf.currentPath).count() == 3)
  }

  test("crashed swap recovery: recoverTmp completes a half-done swap " +
      "from the manifest; a manifest-less tmp never costs the only copy") {
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Build a "crash right after the manifest landed" state by hand,
    // speaking the swap protocol's own on-disk format: leaf still holds
    // the old files, tmp holds the packed replacement + manifest.
    val dir = TestSpark.tempDir("compact_crash") + "/ds"
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    LakeWriter(spark, dir, WriteMode.Overwrite, maxRecordsPerFile = 20L)
      .write(df)
    val leaf = new Path(dir)
    val oldFiles = fs.listStatus(leaf)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(oldFiles.length > 1)
    val tmp = new Path(leaf, "_compact_tmp")
    spark.read.parquet(dir).repartition(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val packedNames = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
    val manifest =
      (oldFiles.map("old\t" + _.getPath.getName) ++
        packedNames.map("packed\t" + _)).mkString("\n")
    val out = fs.create(new Path(tmp, "_swap_manifest"), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()

    // crash state A: nothing renamed yet. Recovery finishes the swap.
    Compact.recoverTmp(fs, tmp)
    assert(!fs.exists(tmp))
    val after = fs.listStatus(leaf)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    assert(after == packedNames.toSet,
      "recovery must leave exactly the packed files")
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)

    // crash state B: manifest-less tmp. With data in the leaf it is
    // debris (deleted); with an EMPTY leaf it may be the only copy —
    // recoverTmp must refuse to GC it.
    fs.mkdirs(tmp)
    Compact.recoverTmp(fs, tmp)
    assert(!fs.exists(tmp), "debris tmp next to live data is swept")
    val lonely = new Path(TestSpark.tempDir("compact_lonely"), "leaf")
    val lonelyTmp = new Path(lonely, "_compact_tmp")
    spark.range(5).write.parquet(lonelyTmp.toString)
    Compact.recoverTmp(fs, lonelyTmp)
    assert(fs.exists(lonelyTmp),
      "a manifest-less tmp in an empty leaf must be preserved, not GC'd")
  }

  test("run() heals a crashed swap in-place before compacting the leaf") {
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = TestSpark.tempDir("compact_crash2") + "/ds"
    val df = (0 until 60).map(i => (i.toLong, s"w$i")).toDF("id", "v")
    LakeWriter(spark, dir, WriteMode.Overwrite, maxRecordsPerFile = 20L)
      .write(df)
    // crash state: packed copy fully renamed in, old files NOT yet
    // deleted (the duplicate-visible window) — manifest still present
    val leaf = new Path(dir)
    val oldNames = fs.listStatus(leaf)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
    val tmp = new Path(leaf, "_compact_tmp")
    spark.read.parquet(dir).repartition(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val packedName = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).head
    val out = fs.create(new Path(tmp, "_swap_manifest"), true)
    try out.write((oldNames.map("old\t" + _) :+ s"packed\t$packedName")
      .mkString("\n").getBytes("UTF-8")) finally out.close()
    fs.rename(new Path(tmp, packedName), new Path(leaf, packedName))
    // reader at this instant would see duplicates; run() must first
    // recover, then compact the healed leaf
    val stats = Compact.run(spark, dir, targetBytes = 1L << 40)
    assert(!fs.exists(tmp))
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq,
      "recovery + compact must end at exactly one logical copy")
    assert(stats.filesAfter == 1)
  }

  test("rebuildStats leaves a TRUSTED _stats manifest standing after a " +
      "rewriting compaction") {
    val dir = TestSpark.tempDir("compact_stats")
    LakeWriter(spark, dir, WriteMode.Overwrite, maxRecordsPerFile = 25L)
      .write((0 until 200).map(i => (i.toLong, i * 3L)).toDF("id", "v"))
    FileStats.build(spark, dir)
    Compact.run(spark, dir, targetBytes = 1L << 40,
      zorderBy = Seq("id", "v"), rebuildStats = true)
    assert(FileStats.trusted(spark, dir),
      "compact(rebuildStats) must end with a trusted manifest")
    // and the rebuilt manifest serves the post-compaction layout
    val cand = FileStats.candidateFiles(spark, dir, "id", 0.0, 10.0).get
    assert(cand.nonEmpty)
    assert(FileStats.readRange(spark, dir, "id", 0.0, 10.0).count() == 11)
  }

  test("zorderBy with 4+ columns shrinks per-column bits instead of " +
      "throwing") {
    val dir = TestSpark.tempDir("compact_z4")
    val df = (0 until 400).map { i =>
      (i.toLong, (i * 7 % 100).toLong, (i * 13 % 100).toLong,
        (i * 29 % 100).toLong)
    }.toDF("a", "b", "c", "d")
    LakeWriter(spark, dir, WriteMode.Overwrite, maxRecordsPerFile = 50L)
      .write(df)
    val stats = Compact.run(spark, dir, targetBytes = 1L << 40,
      zorderBy = Seq("a", "b", "c", "d"))
    assert(stats.rewritten == 1)
    assert(spark.read.parquet(dir).orderBy("a").collect().toSeq ==
      df.orderBy("a").collect().toSeq)
  }

  test("heals schema drift: post-compact files are homogeneous and the " +
      "marker says so") {
    val dir = TestSpark.tempDir("compact_heal")
    LakeWriter(spark, dir, WriteMode.Overwrite).write(
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    LakeWriter(spark, dir, WriteMode.Delta(Seq("id"))).write(
      Seq((2L, 0.5), (3L, 1.5)).toDF("id", "x"))
    assert(SchemaTools.readSchemaMarkerInfo(spark, dir)
      .exists(!_.homogeneous))
    val expected = SchemaTools.readUnified(spark, dir)
      .orderBy("id").collect().toSeq

    val stats = Compact.run(spark, dir)
    assert(stats.rewritten == stats.leaves) // drift heal rewrites all
    assert(SchemaTools.readSchemaMarkerInfo(spark, dir)
      .exists(_.homogeneous))
    // every footer now carries the unified schema: the PLAIN multi-file
    // scan agrees with the unified read
    val back = spark.read.parquet(dir).orderBy("id")
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "v" -> "string", "x" -> "double"))
    assert(back.collect().toSeq == expected)
  }
}
