package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CommitLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("concurrent appends all win distinct versions; every row lands " +
      "exactly once") {
    val log = CommitLog(spark, TestSpark.tempDir("clog")).init()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        val df = Seq.tabulate(10)(j => (i * 100 + j, s"w$i"))
          .toDF("id", "writer")
        results.add(log.append(df))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val versions = results.toArray(Array.empty[java.lang.Long]).toSeq
    assert(versions.sorted == (1L to 8L).map(java.lang.Long.valueOf),
      s"8 racing appends must claim versions 1..8 once each: $versions")
    val ids = log.read().select("id").as[Int].collect().sorted
    assert(ids.length == 80 && ids.distinct.length == 80,
      "every racing append's rows land exactly once")
    // stats-in-the-log under REAL concurrency: each winner recorded
    // spans for its own files inside its own commit, so the resolved
    // span map covers the whole live set with no shared maintenance
    val r = log.resolve(None)
    assert(r.data.nonEmpty && r.data.forall(r.spanOf.contains),
      s"racing commits must each carry their own spans " +
        s"(${r.spanOf.size} of ${r.data.size} covered)")
    // and the recorded timestamps are monotone across the race
    val ts = (1L to 8L).map(log.commit(_).ts)
    assert(ts == ts.sorted && ts.distinct.size == 8,
      s"in-commit timestamps must be strictly monotone: $ts")
  }

  test("replace on a stale base conflicts; re-planned replace wins; " +
      "the log is a time-travel index") {
    val log = CommitLog(spark, TestSpark.tempDir("clog2")).init()
    log.append(Seq((1, "a")).toDF("id", "v")) // v1
    val base = log.latestVersion()
    log.append(Seq((2, "b")).toDF("id", "v")) // v2 — invalidates base
    intercept[java.util.ConcurrentModificationException] {
      log.replace(Seq((9, "z")).toDF("id", "v"), base)
    }
    // re-planned on fresh state: wins as v3, later append stacks on it
    log.replace(Seq((9, "z")).toDF("id", "v"), log.latestVersion())
    log.append(Seq((10, "y")).toDF("id", "v")) // v4
    assert(log.read().select("id").as[Int].collect().sorted.toSeq
      == Seq(9, 10))
    // time travel through the log: v2 predates the replace
    assert(log.read(Some(2L)).select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 2))
    assert(log.latestVersion() == 4L)
  }

  test("uncommitted files are invisible; vacuum sweeps them and keeps " +
      "committed history readable") {
    val dir = TestSpark.tempDir("clog3")
    val log = CommitLog(spark, dir).init()
    log.append(Seq((1, "a")).toDF("id", "v"))
    // a crashed writer: file moved into data/ but never committed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, "data/orphan.parquet")
    Seq((99, "ghost")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/_staged/ghost")
    val part = SchemaTools.listDataFiles(spark, s"$dir/_staged/ghost").head
    fs.rename(new org.apache.hadoop.fs.Path(part), orphan)
    assert(log.read().select("id").as[Int].collect().toSeq == Seq(1),
      "moved-but-uncommitted files must stay invisible")
    // default retention: seconds-old debris looks like a LIVE writer
    // mid-flight — the sweep must leave it alone (the vacuum/writer
    // race is exactly fresh unreferenced files)
    assert(log.vacuum() == 0L && fs.exists(orphan),
      "fresh debris inside the retention window must survive")
    val removed = log.vacuum(retentionMs = 0L)
    assert(removed >= 1 && !fs.exists(orphan))
    assert(log.read().select("id").as[Int].collect().toSeq == Seq(1))
  }

  test("checkpoint resolution is identical to full-log replay at " +
      "every version, including across a later replace") {
    val log = CommitLog(spark, TestSpark.tempDir("clog4")).init()
    log.append(Seq((1, "a")).toDF("id", "v")) // v1
    log.append(Seq((2, "b")).toDF("id", "v")) // v2
    log.replace(Seq((3, "c")).toDF("id", "v"), 2L) // v3
    log.append(Seq((4, "d")).toDF("id", "v")) // v4
    val plain = (1L to 4L).map(v => log.liveFiles(Some(v)).sorted)
    log.checkpoint(2L)
    log.checkpoint(3L) // a checkpoint AT the replace version
    val ck = (1L to 4L).map(v => log.liveFiles(Some(v)).sorted)
    assert(ck == plain,
      "checkpoints are a performance fact, never a resolution change")
    // a post-checkpoint replace still resets the checkpointed base
    log.replace(Seq((5, "e")).toDF("id", "v"), 4L) // v5
    assert(log.read().select("id").as[Int].collect().toSeq == Seq(5))
    intercept[IllegalArgumentException] { log.checkpoint(99L) }
  }

  test("auto-checkpoint cadence: checkpoints land every 10th commit " +
      "by default, a fresh handle replays only the tail, the interval " +
      "property retunes/disables it, and restore/vacuum behave") {
    val dir = TestSpark.tempDir("clogac")
    val log = CommitLog(spark, dir).init()
    (1 to 23).foreach(i => log.append(Seq((i, s"r$i")).toDF("id", "v")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ckpts(): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_commits"))
        .map(_.getPath.getName)
        .filter(_.endsWith(".checkpoint.json"))
        .map(n => n.substring(1, n.length - 16).toLong).toSeq.sorted
    assert(ckpts() == Seq(10L, 20L),
      s"default cadence folds every 10th commit: ${ckpts()}")
    // resolution through auto-checkpoints == full replay, cold handle
    val cold = CommitLog(spark, dir)
    assert(cold.read().count() == 23L)
    assert(cold.read(Some(15L)).count() == 15L)
    // retuning: interval=5 folds the next multiple of 5
    log.setProperties(Map("graft.checkpoint.interval" -> "5")) // v24
    log.append(Seq((24, "x")).toDF("id", "v")) // v25 -> fold
    assert(ckpts().contains(25L), s"retuned cadence: ${ckpts()}")
    // 0 disables: versions 26..30 fold nothing new
    log.setProperties(Map("graft.checkpoint.interval" -> "0")) // v26
    (1 to 4).foreach(i => log.append(Seq((30 + i, "y")).toDF("id", "v")))
    assert(ckpts().filter(_ > 25L).isEmpty,
      s"interval=0 must disable the cadence: ${ckpts()}")
    // lifecycle on a cadence-folded log: restore + vacuum still behave
    log.restore(23L) // v31
    assert(log.read().count() == 23L)
    assert(log.vacuum(retentionMs = 0L) >= 0L)
    assert(log.read().count() == 23L,
      "vacuum after restore on an auto-checkpointed log keeps rows")
  }

  test("retention on an append-only prefix reclaims nothing, keeps " +
      "every row reachable through the checkpoint, and survives vacuum") {
    val log = CommitLog(spark, TestSpark.tempDir("clog5")).init()
    log.append(Seq((1, "a")).toDF("id", "v")) // v1
    log.append(Seq((2, "b")).toDF("id", "v")) // v2
    log.append(Seq((3, "c")).toDF("id", "v")) // v3
    assert(log.expireBefore(2L) == 0L,
      "append-only prefixes strand nothing — every file stays live")
    // v1's commit file is gone but its ROWS survive via the checkpoint
    assert(log.latestVersion() == 3L)
    assert(log.read().select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3))
    assert(log.read(Some(2L)).select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 2))
    // vacuum must treat checkpoint-only references as live
    assert(log.vacuum(retentionMs = 0L) == 0L)
    assert(log.read().count() == 3)
    // the increment API still works above the boundary
    assert(log.readSince(2L).select("id").as[Int].collect().toSeq
      == Seq(3))
  }

  test("span pruning: a post-build append is maintained incrementally, " +
      "a replace invalidates, rebuild restores") {
    val root = TestSpark.tempDir("clog6")
    val log = CommitLog(spark, root).init()
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
    log.append(batch(0, 99)) // v1
    log.append(batch(100, 199)) // v2
    log.buildStats()
    log.append(batch(200, 299)) // v3 — spans maintained, not rebuilt
    val live = log.liveFiles(None)
    val cand = log.candidateDataFiles("id >= 250 and id <= 260")
    assert(cand.exists(c => c.nonEmpty && c.size < live.size),
      s"the post-build file must be span-pruned too: $cand of $live")
    assert(log.readFiltered("id >= 250 and id <= 260")
      .select("id").as[Int].collect().sorted.toSeq == (250 to 260))
    // a replace re-homes every row: the SIDECAR described a dead set
    // and must drop trust — but the replace commit carries spans for
    // its own outputs (stats-in-the-log), so pruning claims reflect
    // exactly the fresh live set, never the dead one
    log.replace(batch(500, 599), log.latestVersion())
    assert(!FileStats.trusted(spark, root), "replace must drop trust")
    val post = log.candidateDataFiles("id >= 550 and id <= 560")
    assert(post.exists(_.toSet.subsetOf(log.liveFiles(None).toSet)),
      s"post-replace claims must only name fresh live files: $post")
    assert(log.candidateDataFiles("id >= 0 and id <= 99").exists(_.isEmpty),
      "the dead pre-replace band must prune to zero fresh files")
    assert(log.readFiltered("id >= 550 and id <= 560")
      .select("id").as[Int].collect().sorted.toSeq == (550 to 560),
      "pruned reads answer from the fresh live set")
    log.buildStats()
    assert(log.candidateDataFiles("id >= 550 and id <= 560").isDefined)
  }

  test("delete commits are versioned: time travel predates them, " +
      "checkpoints carry them across retention, readSince refuses them") {
    val log = CommitLog(spark, TestSpark.tempDir("clog7")).init()
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
    log.append(batch(0, 9)) // v1
    log.append(batch(10, 19)) // v2
    val vDel = log.deleteKeysMor(Seq(3, 12).toDF("id"), Seq("id")) // v3
    assert(log.read().select("id").as[Int].collect().sorted.toSeq ==
      ((0 to 19).toSet -- Set(3, 12)).toSeq.sorted,
      "read() must subtract the committed tombstones")
    assert(log.read(Some(vDel - 1)).count() == 20,
      "time travel before the delete still serves the rows")
    intercept[IllegalArgumentException] { log.readSince(1L) }
    // retention folds the delete into the checkpoint: the subtraction
    // must survive the prefix's commit files disappearing
    log.append(batch(20, 29)) // v4
    log.expireBefore(vDel)
    assert(log.read().select("id").as[Int].collect().sorted.toSeq ==
      ((0 to 29).toSet -- Set(3, 12)).toSeq.sorted,
      "checkpointed tombstones must keep subtracting after expiry")
    assert(log.vacuum(retentionMs = 0L) == 0L,
      "vacuum must not eat tombstone files a checkpoint references")
    assert(log.read().count() == 28)
  }

  test("optimize races concurrent appends without losing rows; " +
      "a post-replace optimize packs only the fresh live set") {
    val log = CommitLog(spark, TestSpark.tempDir("clog9")).init()
    log.append(Seq.tabulate(10)(j => (j, "seed")).toDF("id", "w"))
    // 4 appenders race an optimizer that packs in a loop: appends must
    // never conflict with the rewrite CAS (only retry), and no
    // interleaving may lose or duplicate a row
    val appenders = (1 to 4).map { i =>
      new Thread(() => {
        val df = Seq.tabulate(10)(j => (i * 100 + j, s"w$i"))
          .toDF("id", "w")
        log.append(df)
      })
    }
    val optimizer = new Thread(() => {
      var rounds = 0
      while (rounds < 3) {
        try { log.optimize(targetFiles = 1); rounds += 1 }
        catch { case _: java.util.ConcurrentModificationException => () }
      }
    })
    (appenders :+ optimizer).foreach(_.start())
    (appenders :+ optimizer).foreach(_.join())
    val ids = log.read().select("id").as[Int].collect().sorted.toSeq
    val expected = ((0 until 10) ++
      (1 to 4).flatMap(i => (0 until 10).map(i * 100 + _))).sorted
    assert(ids == expected,
      "no interleaving of appends and rewrites may lose or dup a row")
    // a final optimize packs everything; a no-op repack burns nothing
    log.optimize(targetFiles = 1)
    assert(log.liveFiles().size == 1)
    val v = log.latestVersion()
    assert(log.optimize(targetFiles = 1).isEmpty &&
      log.latestVersion() == v,
      "an already-packed set must not burn a commit")
    // after a replace, optimize must not resurrect pre-replace files
    log.replace(Seq((999, "fresh")).toDF("id", "w"), v)
    log.append(Seq((1000, "more")).toDF("id", "w"))
    log.optimize(targetFiles = 1)
    assert(log.read().select("id").as[Int].collect().sorted.toSeq ==
      Seq(999, 1000),
      "a post-replace rewrite packs the fresh live set only")
    // checkpoint AFTER rewrites resolves identically to full replay
    val full = log.read().collect().toSet
    log.checkpoint(log.latestVersion())
    assert(log.read().collect().toSet == full,
      "checkpoint resolution must equal full-log replay across rewrites")
  }

  test("optimize packs contiguous runs of whole files: each packed file " +
      "holds a run of input bands, and a narrow delete rewrites one") {
    val log = CommitLog(spark, TestSpark.tempDir("clogpack")).init()
    val bands = (0 until 8).map(i => (i * 100L, i * 100L + 100))
    bands.foreach { case (lo, hi) =>
      log.append(spark.range(lo, hi, 1, 1)
        .select(col("id"), (col("id") * 7).as("x")))
    }
    val vPre = log.latestVersion()
    val content = log.read().orderBy("id").collect().toSeq
    log.optimize(targetFiles = 4)
    val packed = log.liveFiles()
    assert(packed.size == 4)
    val edges = bands.map(_._1).toSet + 800L
    log.filePaths(packed).foreach { p =>
      val ids = spark.read.parquet(p).select("id").as[Long]
        .collect().sorted.toSeq
      val run = ids.nonEmpty && ids == (ids.head to ids.last) &&
        edges(ids.head) && edges(ids.last + 1)
      assert(run, s"$p holds ${ids.size} ids in " +
        s"[${ids.headOption}, ${ids.lastOption}], not a run of whole bands")
    }
    assert(log.read().orderBy("id").collect().toSeq == content)
    // ten rows inside one band: a round-robin pack would have dealt
    // them to every packed file
    log.deleteWhere("id BETWEEN 150 AND 159")
    assert(packed.filterNot(log.liveFiles().toSet).size == 1,
      "a narrow delete must rewrite exactly the one packed file")
    assert(log.read().count() == 790)
    assert(log.read(Some(vPre)).orderBy("id").collect().toSeq == content,
      "time travel serves the pre-optimize version unchanged")
  }

  test("appendOnce is idempotent per (app, batch); marks fold into " +
      "checkpoints and survive retention") {
    val log = CommitLog(spark, TestSpark.tempDir("clog10")).init()
    assert(log.lastTxn("ing").isEmpty)
    assert(log.appendOnce(Seq((1, "a")).toDF("id", "v"),
      "ing", 0L).isDefined)
    assert(log.appendOnce(Seq((2, "b")).toDF("id", "v"),
      "ing", 1L).isDefined)
    assert(log.lastTxn("ing").contains(1L))
    // replayed batch: skipped, nothing lands, no version burned
    val v = log.latestVersion()
    assert(log.appendOnce(Seq((9, "dup")).toDF("id", "v"),
      "ing", 1L).isEmpty)
    assert(log.latestVersion() == v && log.read().count() == 2)
    // another app is independent
    assert(log.appendOnce(Seq((3, "c")).toDF("id", "v"),
      "other", 0L).isDefined)
    // marks survive log truncation through the checkpoint fold
    log.expireBefore(log.latestVersion())
    assert(log.lastTxn("ing").contains(1L) &&
      log.lastTxn("other").contains(0L),
      "txn high-water marks must survive expiry")
    assert(log.appendOnce(Seq((9, "dup")).toDF("id", "v"),
      "ing", 1L).isEmpty)
    assert(log.read().count() == 3)
  }

  test("schema evolution: concurrent drifted appends commute, the log " +
      "covers every live file's schema, tombstones subtract through " +
      "the widened read") {
    // the same two drifted batches land in BOTH orders; the unified
    // read must be identical (promote is commutative)
    val narrow = Seq((1, 10.0), (2, 20.0)).toDF("id", "price")
    val wide = Seq((3, 30, "x"), (4, 40, "y"))
      .toDF("id", "price", "tag") // price INT: promotion, tag: add
    def readAll(order: Seq[org.apache.spark.sql.DataFrame]) = {
      val log = CommitLog(spark,
        TestSpark.tempDir(s"clogev${order.hashCode}")).init()
      order.foreach(log.append)
      val r = log.resolve(None)
      // the log IS the schema registry: every live file covered, so
      // reads never fall back to footer probes
      assert(r.data.forall(r.schemaOf.contains),
        "every live file's schema must be recorded in its commit")
      (log, log.read().orderBy("id"))
    }
    val (_, ab) = readAll(Seq(narrow, wide))
    val (log2, ba) = readAll(Seq(wide, narrow))
    assert(ab.schema.simpleString == ba.schema.simpleString,
      s"unified schema must not depend on commit order: " +
        s"${ab.schema.simpleString} vs ${ba.schema.simpleString}")
    assert(ab.schema("price").dataType.simpleString == "double" &&
      ab.columns.contains("tag"),
      "the unified schema must promote price and carry the added tag")
    assert(ab.collect().map(_.toString).sorted.toSeq ==
      ba.collect().map(_.toString).sorted.toSeq,
      "drifted appends must commute row-for-row")
    // MOR delete through the widened surface: key columns exist in
    // every group, subtraction happens before the conform-union
    log2.deleteKeysMor(Seq(Tuple1(1)).toDF("id"), Seq("id"))
    assert(log2.read().select("id").as[Int].collect().sorted.toSeq ==
      Seq(2, 3, 4), "tombstones must subtract through drift")
    // a zorder optimize over the drifted state heals it: one recorded
    // schema, content preserved through the widened surface
    log2.optimize(targetFiles = 2, zorderBy = Seq("id"))
    val healed = log2.resolve(None)
    assert(healed.schemaOf.values.map(_.simpleString).toSeq.distinct
      .size == 1, "optimize must leave one recorded schema")
    assert(log2.read().select("id").as[Int].collect().sorted.toSeq ==
      Seq(2, 3, 4), "the healing rewrite must preserve content")
  }

  test("buildStats survives schema drift; pruning keeps null-span " +
      "files conservatively and never changes the answer") {
    val log = CommitLog(spark, TestSpark.tempDir("clogds")).init()
    // narrow founding file: price INT (later promoted — a plain
    // multi-file read would throw on the widened column)
    log.append(Seq((1, 10), (2, 20)).toDF("id", "price").coalesce(1))
    // wide files carry an ADDED numeric column with disjoint ranges
    log.append(Seq((11, 30.0, 50L), (12, 40.0, 99L))
      .toDF("id", "price", "score").coalesce(1))
    log.append(Seq((21, 50.0, 1000L), (22, 60.0, 1099L))
      .toDF("id", "price", "score").coalesce(1))
    log.buildStats() // must not crash on the int->double promotion
    val live = log.liveFiles(None).size
    val cand = log.candidateDataFiles("score >= 1000")
    // the narrow file has NULL score spans -> kept conservatively;
    // the low-score wide file prunes out: 2 of 3
    assert(cand.exists(c => c.size == 2 && c.size < live),
      s"expected 2 of $live candidates, got ${cand.map(_.size)}")
    assert(log.readFiltered("score >= 1000")
      .select("id").as[Int].collect().sorted.toSeq == Seq(21, 22),
      "pruning through drift must never change the answer")
    // a drifted-column predicate on the promoted column still prunes
    val candP = log.candidateDataFiles("price >= 45.0")
    assert(candP.exists(_.size < live),
      s"promoted-column spans must prune: ${candP.map(_.size)}")
  }

  test("log-carried spans prune with NO sidecar; a span-less legacy " +
      "commit keeps its file unconditionally; a replace resets spans") {
    val dir = TestSpark.tempDir("clogsp")
    val log = CommitLog(spark, dir).init()
    log.append(Seq((1, 1.0), (2, 2.0)).toDF("id", "v").coalesce(1))
    log.append(Seq((11, 1.0), (12, 2.0)).toDF("id", "v").coalesce(1))
    log.append(Seq((21, 1.0), (22, 2.0)).toDF("id", "v").coalesce(1))
    assert(!FileStats.trusted(spark, dir),
      "fixture must have no sidecar — the log is the only span source")
    val cand = log.candidateDataFiles("id >= 11 and id <= 12")
    assert(cand.exists(_.size == 1),
      s"log spans must prune to the one holding file: ${cand.map(_.size)}")
    assert(log.readFiltered("id >= 11 and id <= 12")
      .select("id").as[Int].collect().sorted.toSeq == Seq(11, 12))
    // strip v2's recorded stats — a legacy writer that records none;
    // its file must be KEPT unconditionally while covered files still
    // prune (test shim: manifests are immutable under the protocol)
    val vf = new org.apache.hadoop.fs.Path(dir, f"_commits/v${2L}%020d.json")
    val fs = vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(TimeFly.readText(fs, vf))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("stats")
    fs.delete(vf, false)
    val out = fs.create(vf, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    log.invalidateCaches() // the shim broke manifest immutability
    val cand2 = log.candidateDataFiles("id >= 21 and id <= 22")
    assert(cand2.exists(_.size == 2),
      "the legacy file must be kept alongside the span-matched one: " +
        s"${cand2.map(_.size)}")
    assert(log.readFiltered("id >= 1 and id <= 22")
      .select("id").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 11, 12, 21, 22),
      "a legacy commit's rows must never be lost to pruning")
    // an all-null numeric column records null spans -> conservative:
    // the out-of-band probe keeps the null-span file AND the legacy
    // (span-stripped) file, and prunes the three span-covered ones
    log.append(spark.sql("select cast(null as int) as id, 9.0 as v"))
    val cand3 = log.candidateDataFiles("id >= 1000000")
    assert(cand3.exists(_.size == 2),
      s"null-span + legacy files must be kept: ${cand3.map(_.size)}")
    // a replace resets the span map to exactly its own outputs
    log.replace(Seq((31, 1.0)).toDF("id", "v").coalesce(1),
      log.latestVersion())
    val r = log.resolve(None)
    assert(r.spanOf.keySet == r.data.toSet,
      "after a replace, spans must describe exactly the live set")
    assert(log.candidateDataFiles("id >= 100").exists(_.isEmpty),
      "the replaced state's spans must prune the out-of-band probe")
  }

  test("timestampAsOf: versionAt resolves latest-at-or-before; " +
      "recorded timestamps stay monotone under a backwards clock") {
    val log = CommitLog(spark, TestSpark.tempDir("clogts")).init()
    val ticks = scala.collection.mutable.Queue(1000L, 2000L, 1500L)
    log.clock = () => ticks.dequeue()
    log.append(Seq((1, "a")).toDF("id", "v")) // v1 @ 1000
    log.append(Seq((2, "b")).toDF("id", "v")) // v2 @ 2000
    // v3's wall clock went BACKWARDS (1500) — the recorded ts must
    // still land after v2's (Delta's in-commit-timestamp rule)
    log.append(Seq((3, "c")).toDF("id", "v")) // v3 @ max(1500, 2001)
    assert(log.commit(3L).ts == 2001L,
      s"skewed clock must be forced monotone, got ${log.commit(3L).ts}")
    assert(log.versionAt(1000L) == 1L)
    assert(log.versionAt(1999L) == 1L)
    assert(log.versionAt(2000L) == 2L)
    assert(log.versionAt(500000L) == 3L)
    intercept[IllegalArgumentException] { log.versionAt(999L) }
    assert(log.readAsOfTimestamp(2000L)
      .select("id").as[Int].collect().sorted.toSeq == Seq(1, 2),
      "the timestamp read must serve exactly the at-or-before state")
  }

  test("column mapping composes with tombstones on commit-log reads") {
    val log = CommitLog(spark, TestSpark.tempDir("clog8")).init()
    log.append(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "price"))
    log.deleteKeysMor(Seq(Tuple1(2)).toDF("id"), Seq("id"))
    log.renameColumn("price", "amount")
    val out = log.read().orderBy("id")
    assert(out.columns.toSeq == Seq("id", "amount"))
    assert(out.select("id").as[Int].collect().toSeq == Seq(1, 3))
    log.dropColumn("amount")
    assert(log.read().columns.toSeq == Seq("id"))
  }

  test("upsert rewrites only the key-holding files; untouched files " +
      "stay byte-identical; pre-merge rows time-travel; increments " +
      "refuse then resume; insert-only merge commits as an append") {
    val log = CommitLog(spark, TestSpark.tempDir("clogup")).init()
    log.append(Seq.tabulate(10)(i => (i, i * 10, "a"))
      .toDF("id", "x", "tag").repartition(1)) // v1: ids 0-9
    log.append(Seq.tabulate(10)(i => (100 + i, i, "b"))
      .toDF("id", "x", "tag").repartition(1)) // v2: ids 100-109
    log.append(Seq.tabulate(10)(i => (200 + i, i, "c"))
      .toDF("id", "x", "tag").repartition(1)) // v3: ids 200-209
    val vPre = log.latestVersion()
    val before = log.liveFiles(None)
    def md5(name: String): String = {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(log.filePaths(Seq(name)).head))
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }
    val sigBefore = before.map(n => n -> md5(n)).toMap
    // update ids 100/105, insert 300-302: batch range [100, 302]
    // overlaps v2 (matches) and v3 (no matches) but span-prunes v1
    val batch = Seq((100, 1001, "B"), (105, 1005, "B"),
      (300, 1, "d"), (301, 2, "d"), (302, 3, "d")).toDF("id", "x", "tag")
    val (vUp, touched) = log.upsert(batch, Seq("id"))
    assert(touched == 1,
      s"only the 100-band file holds matched keys, touched=$touched")
    val after = log.liveFiles(None)
    val kept = before.filter(after.contains)
    assert(kept.size == 2, s"two untouched files must survive: $kept")
    kept.foreach(n => assert(md5(n) == sigBefore(n),
      s"untouched $n must stay byte-identical"))
    val got = log.read(None).select("id", "x").as[(Int, Int)]
      .collect().toMap
    assert(got.size == 33 && got(100) == 1001 && got(105) == 1005 &&
      got(101) == 1 && got(300) == 1,
      s"merge semantics: updates in place, inserts added: $got")
    val pre = log.read(Some(vPre)).select("id", "x").as[(Int, Int)]
      .collect().toMap
    assert(pre.size == 30 && pre(100) == 0 && !pre.contains(300),
      "time travel before the merge must serve the pre-merge rows")
    intercept[IllegalArgumentException](log.readSince(vPre))
    intercept[IllegalArgumentException](log.changesSince(vPre))
    log.append(Seq((400, 1, "e")).toDF("id", "x", "tag"))
    assert(log.readSince(vUp).select("id").as[Int].collect().toSeq
      == Seq(400), "increments resume after re-baselining at the merge")
    val (vIns, t2) =
      log.upsert(Seq((500, 5, "f")).toDF("id", "x", "tag"), Seq("id"))
    assert(t2 == 0 && log.commit(vIns).kind == "append",
      "a merge matching nothing must commit as a plain append")
    assert(log.readSince(vUp).count() == 2,
      "the insert-only merge must stay increment-consumable")
  }

  test("upsert concurrency: an overlapping concurrent append " +
      "conflicts (ConcurrentAppend); a span-provably-disjoint append " +
      "commutes; stolen inputs conflict") {
    val log = CommitLog(spark, TestSpark.tempDir("clogup2")).init()
    log.append(Seq.tabulate(20)(i => (i, i)).toDF("id", "x")
      .repartition(1)) // v1
    intercept[java.util.ConcurrentModificationException] {
      log.upsert(Seq((5, 500)).toDF("id", "x"), Seq("id"),
        beforeCommit =
          () => { log.append(Seq((5, 555)).toDF("id", "x")); () })
    }
    // the disjoint sibling commutes: the concurrent file's span
    // (id=1000) proves it cannot hold merge-key rows
    val (_, t) = log.upsert(Seq((5, 500)).toDF("id", "x"), Seq("id"),
      beforeCommit =
        () => { log.append(Seq((1000, 1)).toDF("id", "x")); () })
    assert(t >= 1, "the merge must still have touched the key files")
    val m = log.read(None).select("id", "x").as[(Int, Int)].collect()
    assert(m.count(_._1 == 5) == 1 && m.toMap.apply(5) == 500 &&
      m.toMap.contains(1000),
      s"merge + disjoint append must both land exactly once: " +
        s"${m.sorted.toSeq}")
    // a concurrent OPTIMIZE that packed the planned inputs steals them
    intercept[java.util.ConcurrentModificationException] {
      log.upsert(Seq((6, 600)).toDF("id", "x"), Seq("id"),
        beforeCommit = () => { log.optimize(targetFiles = 1); () })
    }
  }

  test("string-keyed merge: spans prune candidates and PROVE " +
      "disjointness — a disjoint concurrent append commutes instead " +
      "of always-conflicting; an overlapping one still conflicts") {
    val log = CommitLog(spark, TestSpark.tempDir("clogupstr")).init()
    log.append((0 until 20).map(i => (f"a$i%03d", i))
      .toDF("k", "x").repartition(1)) // v1: keys a000..a019
    log.append((0 until 20).map(i => (f"m$i%03d", i))
      .toDF("k", "x").repartition(1)) // v2: keys m000..m019
    // the merge touches only the a-file: candidate pruning through
    // string spans must leave the m-file alone
    val (_, t) = log.upsert(Seq(("a005", 500)).toDF("k", "x"), Seq("k"),
      beforeCommit =
        // concurrent append of z-keys: its string span [z000, z004]
        // is provably disjoint from the batch envelope — commutes
        () => { log.append((0 until 5).map(i => (f"z$i%03d", i))
          .toDF("k", "x")); () })
    assert(t == 1,
      s"string-keyed merge must touch ONLY the span-matched file: $t")
    val m = log.read(None).select("k", "x").as[(String, Int)].collect()
      .toMap
    assert(m("a005") == 500 && m("z004") == 4 && m.size == 45,
      "merge + disjoint string append must both land exactly once")
    // a concurrent append whose span STRADDLES the merge key: no
    // proof of disjointness possible -> conflict
    intercept[java.util.ConcurrentModificationException] {
      log.upsert(Seq(("m010", 1)).toDF("k", "x"), Seq("k"),
        beforeCommit =
          () => { log.append(Seq(("m005", 2), ("m015", 3))
            .toDF("k", "x").repartition(1)); () })
    }
  }

  test("multi-column keys: disjointness on the SECOND key column " +
      "alone is enough to commute") {
    val log = CommitLog(spark, TestSpark.tempDir("clogup2k")).init()
    log.append((0 until 10).map(i => (i % 2, i, s"r$i"))
      .toDF("region", "seq", "v").repartition(1)) // v1: seq 0..9
    // merge on (region, seq): the concurrent append overlaps on
    // region (0/1) but its seq span [100, 104] is disjoint
    val (_, t) = log.upsert(Seq((0, 4, "upd")).toDF("region", "seq", "v"),
      Seq("region", "seq"),
      beforeCommit =
        () => { log.append((100 until 105).map(i => (i % 2, i, s"n$i"))
          .toDF("region", "seq", "v")); () })
    assert(t == 1)
    val m = log.read(None).select("seq", "v").as[(Int, String)]
      .collect().toMap
    assert(m(4) == "upd" && m(104) == "n104" && m.size == 15)
  }

  test("insert-only merge validates the commit window too: a " +
      "concurrent append landing a matching key conflicts instead of " +
      "committing duplicate keys; a disjoint one commutes") {
    val log = CommitLog(spark, TestSpark.tempDir("clogins")).init()
    log.append(Seq.tabulate(10)(i => (i, i)).toDF("id", "x")
      .repartition(1)) // v1: ids 0..9
    // id=50 matches nothing at plan time -> insert-only (append kind);
    // the concurrent append lands id=50 FIRST — committing blind would
    // duplicate the key, so it must conflict (Delta validates
    // insert-only merges the same way)
    intercept[java.util.ConcurrentModificationException] {
      log.upsert(Seq((50, 1)).toDF("id", "x"), Seq("id"),
        beforeCommit =
          () => { log.append(Seq((50, 2)).toDF("id", "x")); () })
    }
    assert(log.read(None).filter($"id" === 50).count() == 1,
      "only the concurrent append's row may stand")
    // provably-disjoint concurrent append: insert-only merge commutes
    val (v, t) = log.upsert(Seq((60, 6)).toDF("id", "x"), Seq("id"),
      beforeCommit =
        () => { log.append(Seq((200, 2)).toDF("id", "x")); () })
    assert(t == 0 && log.commit(v).kind == "append")
    assert(log.read(None).filter($"id".isin(60, 200)).count() == 2)
    // a restore in the window re-homes visibility: always a conflict
    intercept[java.util.ConcurrentModificationException] {
      log.upsert(Seq((70, 7)).toDF("id", "x"), Seq("id"),
        beforeCommit = () => { log.restore(1L); () })
    }
  }

  test("a MOR delete landing in the merge's commit window conflicts " +
      "when it holds a merge key (ConcurrentDelete); a disjoint " +
      "delete commutes") {
    val log = CommitLog(spark, TestSpark.tempDir("clogdelw")).init()
    log.append(Seq.tabulate(10)(i => (i, i)).toDF("id", "x")
      .repartition(1)) // v1
    // the racing delete tombstones id=5 — exactly the key the merge
    // writes: committing would land a row the next read erases
    intercept[java.util.ConcurrentModificationException] {
      log.upsert(Seq((5, 500)).toDF("id", "x"), Seq("id"),
        beforeCommit =
          () => { log.deleteKeysMor(Seq(5).toDF("id"), Seq("id")); () })
    }
    // disjoint delete: commutes — the merge lands, the deleted key
    // stays subtracted
    val (_, t) = log.upsert(Seq((3, 300)).toDF("id", "x"), Seq("id"),
      beforeCommit =
        () => { log.deleteKeysMor(Seq(8).toDF("id"), Seq("id")); () })
    assert(t == 1)
    val m = log.read(None).select("id", "x").as[(Int, Int)].collect()
      .toMap
    assert(m(3) == 300 && !m.contains(8) && !m.contains(5),
      s"merge and disjoint delete must both apply: $m")
  }

  test("upsert under active column mapping: logical batch and keys " +
      "merge onto the frozen physical names; a dropped column lands " +
      "as nulls; reads stay logical") {
    val log = CommitLog(spark, TestSpark.tempDir("clogmap")).init()
    log.append(Seq((1, 10.0, "a"), (2, 20.0, "a"))
      .toDF("id", "price", "tag").repartition(1)) // v1
    log.append(Seq((10, 1.0, "b"), (11, 2.0, "b"))
      .toDF("id", "price", "tag").repartition(1)) // v2
    log.renameColumn("price", "amount")
    log.dropColumn("tag")
    // batch under LOGICAL names: update id=2, insert id=3
    val (_, touched) = log.upsert(
      Seq((2, 222.0), (3, 3.0)).toDF("id", "amount"), Seq("id"))
    assert(touched == 1,
      s"only the file holding id=2 must rewrite, touched=$touched")
    val out = log.read(None).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "amount"),
      s"reads stay logical: ${out.columns.toSeq}")
    val got = out.as[(Int, Double)].collect().toMap
    assert(got == Map(1 -> 10.0, 2 -> 222.0, 3 -> 3.0,
      10 -> 1.0, 11 -> 2.0), s"merge under mapping: $got")
    // the merged file physically carries price (frozen) and tag (null)
    val phys = spark.read
      .parquet(log.filePaths(log.liveFiles(None)): _*)
    assert(phys.columns.sorted.toSeq == Seq("id", "price", "tag"),
      s"physical schema stays frozen+uniform: ${phys.columns.toSeq}")
    assert(phys.filter(col("id") === 3).select("tag")
      .collect().head.isNullAt(0),
      "the dropped column lands as null in merged rows")
  }

  test("upsert refuses a batch writing keys held by standing MOR " +
      "tombstones; a disjoint-key merge commutes with the tombstone") {
    val log = CommitLog(spark, TestSpark.tempDir("clogts")).init()
    log.append(Seq.tabulate(10)(i => (i, i * 10)).toDF("id", "x")
      .repartition(1)) // v1: ids 0-9
    log.deleteKeysMor(Seq(Tuple1(4)).toDF("id"), Seq("id")) // v2
    // re-inserting the tombstoned key would be erased at read — refuse
    val e = intercept[IllegalArgumentException] {
      log.upsert(Seq((4, 444)).toDF("id", "x"), Seq("id"))
    }
    assert(e.getMessage.contains("tombstones"), e.getMessage)
    // a disjoint-key merge commutes: the tombstoned row re-homes into
    // the merged file but the key subtract still removes it at read
    val (_, touched) =
      log.upsert(Seq((5, 555), (20, 1)).toDF("id", "x"), Seq("id"))
    assert(touched == 1)
    val got = log.read(None).select("id", "x").as[(Int, Int)]
      .collect().toMap
    assert(!got.contains(4) && got(5) == 555 && got(20) == 1,
      s"tombstone must keep subtracting across the merge: $got")
  }

  test("upsertScreened: violators quarantine with rule names and a " +
      "rejected update's key keeps its current row; an all-violations " +
      "batch burns no version") {
    val root = TestSpark.tempDir("clogus")
    val quar = TestSpark.tempDir("clogusq")
    val log = CommitLog(spark, root).init()
    log.append(Seq.tabulate(10)(i => (i, i * 10)).toDF("id", "x")
      .repartition(1)) // v1: ids 0-9, x = 10*id
    val v1 = log.latestVersion()
    // id=7 violates pos_x (x = -7); id=3 passes; id=100 is a clean insert
    val batch = Seq((7, -7), (3, 333), (100, 1)).toDF("id", "x")
    val rules = Seq(Expectations.Rule("pos_x", "x >= 0"))
    val (res, nQ) = log.upsertScreened(batch, Seq("id"), rules, quar)
    assert(nQ == 1 && res.isDefined, s"one violator, one merge: $res")
    val got = log.read(None).select("id", "x").as[(Int, Int)]
      .collect().toMap
    assert(got(3) == 333 && got(100) == 1,
      "accepted update and insert must land")
    assert(got(7) == 70,
      "a REJECTED update's key must keep its current row")
    val q = spark.read.parquet(quar)
      .select("id", "violated").as[(Int, String)].collect().toSeq
    assert(q == Seq((7, "pos_x")),
      s"the violator must quarantine with its rule name: $q")
    // all-violations batch: no version burned, quarantine grows
    val vBefore = log.latestVersion()
    val (res2, nQ2) = log.upsertScreened(
      Seq((1, -1), (2, -2)).toDF("id", "x"), Seq("id"), rules, quar)
    assert(res2.isEmpty && nQ2 == 2 &&
      log.latestVersion() == vBefore,
      "an all-violations batch must burn no version")
    assert(log.read(Some(v1)).select("x").as[Int].collect().sum
      == (0 until 10).map(_ * 10).sum,
      "pre-merge time travel must be intact")
  }

  test("restore resets the live state in one metadata commit; history " +
      "is preserved; target tombstones and spans ride the manifest; " +
      "an advanced log conflicts; checkpoints fold it") {
    val log = CommitLog(spark, TestSpark.tempDir("clogrs")).init()
    log.append(Seq.tabulate(10)(i => (i, "a")).toDF("id", "v")
      .repartition(1)) // v1
    log.append(Seq.tabulate(10)(i => (100 + i, "b")).toDF("id", "v")
      .repartition(1)) // v2
    log.deleteKeysMor(Seq(3, 104).toDF("id"), Seq("id")) // v3
    log.append(Seq.tabulate(10)(i => (200 + i, "c")).toDF("id", "v")
      .repartition(1)) // v4
    assert(log.read(None).count() == 28)
    val vR = log.restore(2L) // v5
    assert(vR == 5L && log.latestVersion() == 5L,
      "restore must be a NEW commit, not history rewriting")
    assert(log.read(None).select("id").as[Int].collect().sorted.toSeq
      == ((0 until 10) ++ (100 until 110)),
      "the restored state must equal v2's exactly (delete undone)")
    assert(log.read(Some(4L)).count() == 28,
      "the abandoned tip must still time-travel")
    log.restore(4L) // v6: a version AFTER the delete
    val ids6 = log.read(None).select("id").as[Int].collect().sorted
    assert(ids6.length == 28 && !ids6.contains(3) && !ids6.contains(104),
      "restored tombstones must keep subtracting")
    val cand = log.candidateDataFiles("id >= 200 and id <= 205")
    assert(cand.isDefined &&
      cand.get.size < log.liveFiles(None).size,
      s"restored spans must prune immediately: ${cand.map(_.size)}")
    intercept[IllegalArgumentException](log.readSince(4L))
    log.append(Seq((900, "z")).toDF("id", "v")) // v7
    assert(log.readSince(6L).select("id").as[Int].collect().toSeq
      == Seq(900), "increments resume after the restore")
    intercept[java.util.ConcurrentModificationException] {
      log.restore(2L, beforeCommit =
        () => { log.append(Seq((901, "z")).toDF("id", "v")); () })
    }
    val full = log.read(None).select("id").as[Int].collect().sorted
    log.checkpoint(log.latestVersion())
    log.expireBefore(log.latestVersion())
    assert(log.read(None).select("id").as[Int].collect().sorted.toSeq
      == full.toSeq,
      "checkpoint + truncation across a restore must resolve the same")
  }

  test("shallow clone re-references source files (zero data copied); " +
      "divergence is independent both ways; optimize localizes; " +
      "tombstones and spans ride the founding manifest") {
    val log = CommitLog(spark, TestSpark.tempDir("clogsrc")).init()
    log.append(Seq.tabulate(10)(i => (i, "a")).toDF("id", "v")
      .repartition(1)) // v1
    log.append(Seq.tabulate(10)(i => (100 + i, "b")).toDF("id", "v")
      .repartition(1)) // v2
    log.deleteKeysMor(Seq(3).toDF("id"), Seq("id")) // v3
    val destRoot = TestSpark.tempDir("clogdst")
    val clone = log.cloneTo(destRoot)
    val destData = new java.io.File(destRoot, "data")
    assert(Option(destData.listFiles).forall(_.isEmpty),
      "a shallow clone must copy zero data files")
    def ids(l: CommitLog) =
      l.read(None).select("id").as[Int].collect().sorted.toSeq
    val expect = ((0 until 10) ++ (100 until 110)).filterNot(_ == 3)
    assert(ids(clone) == expect,
      "the clone must serve the source's state through the borrow")
    val cand = clone.candidateDataFiles("id >= 100 and id <= 105")
    assert(cand.isDefined &&
      cand.get.size < clone.liveFiles(None).size,
      s"borrowed spans must prune on the clone: ${cand.map(_.size)}")
    // clone-side merge + append: the source never notices
    clone.upsert(Seq((0, "Z"), (500, "n")).toDF("id", "v"), Seq("id"))
    clone.append(Seq((600, "m")).toDF("id", "v"))
    assert(ids(log) == expect &&
      log.read(None).filter($"id" === 0).select("v").head()
        .getString(0) == "a",
      "clone divergence must leave the source untouched")
    // source-side append: the clone never notices
    log.append(Seq((700, "s")).toDF("id", "v"))
    assert(!ids(clone).contains(700),
      "source divergence must leave the clone untouched")
    // OPTIMIZE localizes: all live files now owned by the clone
    clone.optimize(targetFiles = 1)
    assert(clone.liveFiles(None)
      .forall(n => new java.io.File(destData, n).exists),
      "optimize must pack borrowed files into owned ones")
    val m = clone.read(None).select("id", "v").as[(Int, String)]
      .collect().toMap
    assert(m(0) == "Z" && m(500) == "n" && m(600) == "m" &&
      !m.contains(3) && m(101) == "b",
      s"localized clone must preserve merged content: $m")
  }

  test("tombstone subtraction broadcasts only while the debt is small; " +
      "an above-threshold set keeps a shuffled anti-join (no forced " +
      "BroadcastExchange) with identical rows") {
    val log = CommitLog(spark, TestSpark.tempDir("clogtsb")).init()
    log.append(Seq.tabulate(100)(i => (i, i)).toDF("id", "x")
      .repartition(1))
    log.deleteKeysMor(Seq.tabulate(50)(identity).toDF("id"), Seq("id"))
    def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.exists {
        case _: org.apache.spark.sql.execution.joins
            .BroadcastHashJoinExec => true
        case _: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec => true
        case _ => false
      }
    assert(hasBroadcast(log.read(None)),
      "a small tombstone set must ship as a broadcast")
    SchemaTools.withSessionConf(spark,
        "spark.sql.autoBroadcastJoinThreshold", "1") {
      val df = log.read(None)
      assert(!hasBroadcast(df),
        "an above-threshold tombstone set must not force a broadcast")
      assert(df.count() == 50,
        "the guarded plan must still subtract every tombstoned key")
    }
  }

  test("hive-partitioned commit log: partition values ride as spans " +
      "(a partition predicate lists only that partition's files), a " +
      "keyed merge touches only matched partitions, MOR deletes and " +
      "optimize keep the layout") {
    val root = TestSpark.tempDir("clogpart")
    val log = CommitLog(spark, root).initPartitioned(Seq("region"))
    def batch(r: String, lo: Int, n: Int) =
      (lo until lo + n).map(i => (i, s"v$i", r))
        .toDF("id", "v", "region").repartition(1)
    log.append(batch("eu", 0, 50)
      .unionByName(batch("us", 100, 50))) // v1: two partitions
    log.append(batch("ap", 200, 50)) // v2
    // files live under data/region=<v>/
    assert(log.liveFiles(None).forall(_.startsWith("region=")),
      s"names must be partition-qualified: ${log.liveFiles(None)}")
    // the read resolves partition columns from paths
    val byRegion = log.read(None).groupBy("region").count()
      .as[(String, Long)].collect().toMap
    assert(byRegion == Map("eu" -> 50L, "us" -> 50L, "ap" -> 50L))
    // partition-value predicate prunes to that partition's files
    val live = log.liveFiles(None)
    val cand = log.candidateDataFiles("region = 'us'")
    assert(cand.exists(c => c.nonEmpty && c.size < live.size &&
      c.forall(_.startsWith("region=us/"))),
      s"partition predicate must list only region=us files: $cand")
    assert(log.readFiltered("region = 'us'").count() == 50)
    // keyed merge: batch keys all in 'eu' -> only eu files rewrite
    val (_, touched) = log.upsert(
      Seq((5, "UPD", "eu")).toDF("id", "v", "region"), Seq("id"))
    assert(touched >= 1)
    val euRows = log.read(None).filter($"region" === "eu")
    assert(euRows.count() == 50 &&
      euRows.filter($"id" === 5).select("v").as[String].head() == "UPD")
    assert(log.read(None).count() == 150)
    // merged outputs keep the partition layout
    assert(log.liveFiles(None).forall(_.startsWith("region=")))
    // a partition-disjoint concurrent append commutes with a merge
    // (the partition-value span proves disjointness on `region`)
    val (_, t2) = log.upsert(
      Seq((6, "U2", "eu")).toDF("id", "v", "region"),
      Seq("id", "region"),
      beforeCommit =
        () => { log.append(batch("sa", 300, 5)); () })
    assert(t2 == 1 && log.read(None).count() == 155)
    // MOR delete: flat tombstones subtract across partitions
    log.deleteKeysMor(Seq(5, 105).toDF("id"), Seq("id"))
    assert(log.read(None).count() == 153)
    // OPTIMIZE keeps the partition layout and the rows
    log.optimize(targetFiles = 1)
    assert(log.liveFiles(None).forall(_.startsWith("region=")),
      "packed files must stay partition-nested")
    assert(log.read(None).count() == 153)
    // vacuum recurses the partition dirs without eating live data
    assert(log.vacuum(retentionMs = 0L) >= 0)
    assert(log.read(None).count() == 153)
  }

  test("adopt moves a hive-partitioned plain dataset in place: layout " +
      "preserved, partition pruning live from v1, zero data copied") {
    val src = TestSpark.tempDir("clogadp") + "/src"
    spark.range(300)
      .select(col("id"), (col("id") % 3).cast("int").as("bucket"))
      .repartition(1)
      .write.partitionBy("bucket").mode("overwrite").parquet(src)
    val root = TestSpark.tempDir("clogadp2")
    val log = CommitLog(spark, root).init()
    log.adopt(src)
    assert(log.partitionCols == Seq("bucket"))
    assert(log.read(None).count() == 300)
    assert(log.read(None).filter($"bucket" === 1).count() == 100)
    val live = log.liveFiles(None)
    val cand = log.candidateDataFiles("bucket = 2")
    assert(cand.exists(c => c.nonEmpty && c.size < live.size &&
      c.forall(_.startsWith("bucket=2/"))),
      s"adopted partition values must prune from v1: $cand")
    // post-adoption writers keep the layout
    log.append(Seq((900L, 0)).toDF("id", "bucket"))
    assert(log.read(None).count() == 301 &&
      log.liveFiles(None).forall(_.startsWith("bucket=")))
  }

  test("expireBefore keeps tombstones a keep-side restore re-references " +
      "(append, MOR delete, replace, restore-to-pre-replace, expire)") {
    val log = CommitLog(spark, TestSpark.tempDir("clogexr")).init()
    log.append(Seq.tabulate(10)(i => (i, "a")).toDF("id", "v")
      .repartition(1)) // v1
    log.deleteKeysMor(Seq(3, 7).toDF("id"), Seq("id")) // v2: tombstone T
    // v3: replace with something unrelated — clears the tombstone debt
    log.replace(Seq((500, "r")).toDF("id", "v"), baseVersion = 2L)
    // v4: restore to the pre-replace state — re-references v2's data
    // files AND its tombstone in `removed`
    log.restore(2L)
    assert(log.read(None).select("id").as[Int].collect().sorted.toSeq
      == Seq(0, 1, 2, 4, 5, 6, 8, 9))
    // expire the prefix the restore's targets lived in: the tombstone
    // is reachable ONLY through v4's `removed` — it must survive
    val reclaimed = log.expireBefore(3L)
    val ids = log.read(None).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(0, 1, 2, 4, 5, 6, 8, 9),
      s"restore-referenced tombstone must survive expiry (got $ids, " +
        s"reclaimed $reclaimed)")
  }

  test("updateWhere: assignments see PRE-update values (a = b, b = a " +
      "swaps), untouched files stay byte-identical, no-match burns no " +
      "commit") {
    val log = CommitLog(spark, TestSpark.tempDir("clogup")).init()
    log.append(Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("id", "a", "b")
      .repartition(1)) // v1
    log.append(Seq((3L, 30L, 300L), (4L, 40L, 400L)).toDF("id", "a", "b")
      .repartition(1)) // v2
    val before = log.liveFiles(None).toSet
    // swap a and b on ids 3,4 — only v2's file holds matching rows
    val (v, touched) = log.updateWhere(
      Seq("a" -> "b", "b" -> "a"), Some("id >= 3"))
    assert(v == 3L && touched == 1,
      s"only the file holding ids 3,4 rewrites (got touched=$touched)")
    val after = log.liveFiles(None).toSet
    assert((before -- after).size == 1 && (after -- before).size == 1,
      "exactly one file swaps out for its rewrite")
    val rows = log.read(None).orderBy("id")
      .select("a", "b").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((10L, 100L), (20L, 200L), (300L, 30L), (400L, 40L)),
      s"swap must read OLD values on both sides: $rows")
    // type preservation: the cast lands back in the standing type
    assert(log.read(None).schema("a").dataType ==
      org.apache.spark.sql.types.LongType)
    // no-match: no commit burned
    val (v2, t2) = log.updateWhere(Seq("a" -> "0"), Some("id > 999"))
    assert(v2 == 3L && t2 == 0, "a no-match update must not commit")
    // time travel serves the pre-update rows
    assert(log.read(Some(2L)).filter(col("id") === 3L)
      .select("a").as[Long].head() == 30L)
  }

  test("updateWhere under standing keyed tombstones: assigning a " +
      "tombstone KEY column refuses (resurrection guard); non-key " +
      "assignments commute with the subtract") {
    val log = CommitLog(spark, TestSpark.tempDir("clogut")).init()
    log.append(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("id", "a", "v").repartition(1)) // v1
    log.deleteKeysMor(Seq(2L).toDF("id"), Seq("id")) // v2 keyed mark
    assert(log.read(None).count() == 2L)
    // rewriting the tombstone key column would re-home the logically
    // deleted id=2 row under id=102 — outside the read-time key
    // subtract. Refuse loudly, mirroring doUpsert's clash guard.
    val refused = intercept[IllegalArgumentException](
      log.updateWhere(Seq("id" -> "id + 100"), Some("a >= 10")))
    assert(refused.getMessage.contains("tombstone key"),
      s"wrong refusal: ${refused.getMessage}")
    // non-key assignment: updated-but-deleted rows keep their key, so
    // the subtract still holds — id=2 stays invisible, id 1,3 update
    val (v, touched) = log.updateWhere(
      Seq("a" -> "a + 1"), Some("a >= 10"))
    assert(v == 3L && touched == 1)
    val rows = log.read(None).orderBy("id")
      .select("id", "a").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 11L), (3L, 31L)),
      s"tombstoned row must stay subtracted through the update: $rows")
  }

  test("bloom sidecar on a commit-log table: buildStats(bloomCols) + " +
      "append-maintained; candidateDataFiles isolates an equality " +
      "probe to the holding file, absent keys prove out everything, " +
      "answers never change") {
    val log = CommitLog(spark, TestSpark.tempDir("clogbl")).init()
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), concat(lit("u-"), col("id") * 7919L).as("uid"))
    // interleave uids across files within each commit
    log.append(batch(0, 500).repartition(4, col("id")))
    log.buildStats(bloomCols = Seq("uid"), bloomBits = 1 << 13)
    log.append(batch(500, 600).repartition(2, col("id")))
    val live = log.liveFiles(None)
    // a key from the MAINTAINED batch: at most its holding file +
    // bloom noise, strictly fewer than the live set
    val c1 = log.candidateDataFiles(s"uid = 'u-${550L * 7919L}'")
    assert(c1.exists(c => c.nonEmpty && c.size < live.size / 2),
      s"bloom must prune the commit-log listing: ${c1.map(_.size)} " +
        s"of ${live.size}")
    assert(log.readFiltered(s"uid = 'u-${550L * 7919L}'").count() == 1)
    val c0 = log.candidateDataFiles("uid = 'u-nope'")
    assert(c0.exists(_.isEmpty), s"absent key must prove out: $c0")
    assert(log.readFiltered("uid = 'u-nope'").count() == 0)
  }

  test("NOT NULL invariants: meta-commit recorded, writer-enforced in " +
      "the CAS loop, versioned, droppable; standing nulls refuse the " +
      "ADD; unknown columns refuse") {
    val log = CommitLog(spark, TestSpark.tempDir("clognn")).init()
    log.append(Seq((1L, Option(10L)), (2L, Option.empty[Long]))
      .toDF("id", "a")) // v1
    // live data holds a null `a` — the invariant must refuse to stand
    assertThrows[IllegalArgumentException](log.setNotNull("a"))
    assertThrows[IllegalArgumentException](log.setNotNull("nope"))
    val v2 = log.setNotNull("id") // meta commit
    assert(v2 == 2L && log.notNullColumns(None) == Seq("id"))
    // a null-id batch refuses inside the writer's enforcement
    assertThrows[IllegalArgumentException](
      log.append(Seq((Option.empty[Long], Option(1L))).toDF("id", "a")))
    log.append(Seq((Option(3L), Option.empty[Long])).toDF("id", "a")) // v3
    assert(log.read(None).count() == 3L)
    log.dropNotNull("id") // v4
    assert(log.notNullColumns(None).isEmpty &&
      log.notNullColumns(Some(3L)) == Seq("id"),
      "the invariant set is versioned like any meta payload")
    log.append(Seq((Option.empty[Long], Option(9L))).toDF("id", "a")) // v5
    assert(log.read(None).filter(col("id").isNull).count() == 1L)
  }

  test("CHECK constraints: meta commits gate every data-adding path, " +
      "survive checkpoint+truncation, stay non-breaking for readSince, " +
      "and refuse to stand over violating live data") {
    val log = CommitLog(spark, TestSpark.tempDir("clogck")).init()
    log.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt")) // v1
    log.addConstraint("pos", "amt > 0") // v2 (meta)
    assert(log.constraints(None) == Map("pos" -> "amt > 0"))
    // a violating append refuses the WHOLE batch
    intercept[IllegalArgumentException] {
      log.append(Seq((3L, -1.0)).toDF("id", "amt"))
    }
    assert(log.latestVersion() == 2L, "a refused write burns no commit")
    log.append(Seq((3L, 30.0)).toDF("id", "amt")) // v3
    // an UPDATE whose assignment violates refuses
    intercept[IllegalArgumentException] {
      log.updateWhere(Seq("amt" -> "-amt"), Some("id = 3"))
    }
    // a violating MERGE batch refuses too
    intercept[IllegalArgumentException] {
      log.upsert(Seq((2L, -5.0)).toDF("id", "amt"), Seq("id"))
    }
    // meta commits are non-breaking, zero-row increments
    assert(log.readSince(1L).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L))
    // NULL predicate rows VIOLATE (a constraint must prove)
    intercept[IllegalArgumentException] {
      log.append(Seq((4L, null.asInstanceOf[java.lang.Double]))
        .toDF("id", "amt"))
    }
    // the set survives checkpoint + log truncation
    log.checkpoint(3L)
    log.expireBefore(3L)
    assert(log.constraints(None) == Map("pos" -> "amt > 0"))
    intercept[IllegalArgumentException] {
      log.append(Seq((5L, -2.0)).toDF("id", "amt"))
    }
    // history shows the meta op; drop re-opens the gate
    log.dropConstraint("pos")
    log.append(Seq((5L, -2.0)).toDF("id", "amt"))
    assert(log.read(None).count() == 4)
    // a constraint violated by LIVE data refuses to stand
    intercept[IllegalArgumentException] {
      log.addConstraint("pos2", "amt > 0")
    }
    // duplicate name refuses
    log.addConstraint("cap", "amt < 100")
    intercept[IllegalArgumentException] {
      log.addConstraint("cap", "amt < 5")
    }
  }

  test("table properties: meta-commit versioned, independent of the " +
      "constraint payload, checkpoint+truncation surviving") {
    val log = CommitLog(spark, TestSpark.tempDir("clogpr")).init()
    log.append(Seq((1, 5.0)).toDF("id", "amt")) // v1
    log.setProperties(Map("team" -> "a", "tier" -> "gold")) // v2
    log.addConstraint("pos", "amt > 0") // v3 — constraints-only meta
    // the constraints meta must NOT clobber the property set
    assert(log.properties(None) ==
      Map("team" -> "a", "tier" -> "gold"))
    log.setProperties(Map("team" -> "b")) // v4 — merge semantics
    assert(log.properties(None) == Map("team" -> "b", "tier" -> "gold"))
    assert(log.properties(Some(2L)) ==
      Map("team" -> "a", "tier" -> "gold"),
      "historical property sets stay readable")
    log.checkpoint(4L)
    log.expireBefore(4L)
    assert(log.properties(None) == Map("team" -> "b", "tier" -> "gold"))
    assert(log.constraints(None) == Map("pos" -> "amt > 0"),
      "both payloads fold through the checkpoint")
    log.unsetProperties(Seq("tier"))
    assert(log.properties(None) == Map("team" -> "b"))
    intercept[IllegalArgumentException] {
      log.unsetProperties(Seq("absent"))
    }
  }

  test("positional deletion vectors: coexist with keyed tombstones, " +
      "apply on every rewrite path (merge/update/delete/optimize), " +
      "never resurrect, and the incompatible surfaces refuse") {
    val log = CommitLog(spark, TestSpark.tempDir("clogdv")).init()
    log.append(spark.range(100)
      .select(col("id"), (col("id") * 2).as("v"))
      .repartition(2, col("id"))) // v1
    // positional mark on a band + keyed tombstone on two ids: BOTH
    // classes subtract from one read
    val (_, marked) = log.deleteWhereMor("id % 10 = 7") // v2
    assert(marked == 10L)
    log.deleteKeysMor(Seq(4L, 8L).toDF("id"), Seq("id")) // v3
    val ids = log.read(None).select("id").as[Long].collect().toSet
    assert(ids.size == 88 && !ids(7L) && !ids(17L) && !ids(4L) && !ids(8L),
      s"both tombstone classes must subtract: ${ids.size}")
    // a keyed MERGE re-homes touched files: marked rows must not
    // resurrect in the merged outputs, merged row lands
    log.upsert(Seq((3L, 999L)).toDF("id", "v"), Seq("id")) // v4
    val after = log.read(None)
    assert(after.filter(col("id") === 7L).isEmpty,
      "a merge must apply standing marks to the files it re-homes")
    assert(after.filter(col("id") === 3L).select("v").as[Long]
      .head() == 999L)
    // copy-on-write UPDATE applies marks too
    log.updateWhere(Seq("v" -> "v + 1"), Some("id = 5")) // v5
    assert(log.read(None).filter(col("id") === 7L).isEmpty)
    // marking rows in a file a rewrite just removed: the planner
    // re-plans on fresh state, never marks dead positions
    val (_, reMarked) = log.deleteWhereMor("id % 10 = 1") // v6
    assert(reMarked == 10L)
    assert(log.read(None).filter(col("id") % 10 === 1).isEmpty)
    // refusals: changesSince has no key form for positional marks;
    // shallow clone cannot re-prefix positions
    intercept[IllegalArgumentException] { log.changesSince(0L) }
    intercept[IllegalArgumentException] {
      log.cloneTo(TestSpark.tempDir("clogdvc"))
    }
    // OPTIMIZE folds: read unchanged, marks reference only dead files
    val expect = (0L until 100L)
      .filter(i => i % 10 != 7 && i % 10 != 1 && i != 4L && i != 8L)
      .toSet
    assert(log.read(None).select("id").as[Long].collect().toSet
      == expect)
    log.optimize(targetFiles = 1)
    assert(log.read(None).select("id").as[Long].collect().toSet
      == expect, "the folded read must equal the marked read")
    // and the fold RETIRES fully-applied marks: no dv tombstone left
    // standing to anti-join on every future read
    assert(!log.resolve(None).tombstones.exists(
      _.startsWith("dv-")),
      "optimize must retire positional marks it fully applied")
  }

  test("partition values with URI-special characters (spaces): scans " +
      "report URL-encoded paths, committed names are on-disk literals " +
      "— merge, DELETE WHERE, and positional deletes all round-trip") {
    val log = CommitLog(spark, TestSpark.tempDir("clogsp"))
      .initPartitioned(Seq("city"))
    log.append(Seq((1L, "New York", 10.0), (2L, "San Juan", 20.0),
      (3L, "New York", 30.0)).toDF("id", "city", "amt"))
    // keyed merge: touched-file detection maps scan paths back to
    // partition-qualified committed names (the %20 trap)
    val (_, t) = log.upsert(
      Seq((1L, "New York", 11.0)).toDF("id", "city", "amt"), Seq("id"))
    assert(t == 1, "the merge must find the holding file")
    assert(log.read(None).filter(col("id") === 1L)
      .select("amt").as[Double].head() == 11.0)
    // copy-on-write DELETE WHERE
    val (_, t2) = log.deleteWhere("id = 2")
    assert(t2 == 1)
    // positional delete + read-back through the position-carrying scan
    val (_, marked) = log.deleteWhereMor("id = 3")
    assert(marked == 1L)
    assert(log.read(None).select("id").as[Long].collect().toSeq
      == Seq(1L))
    // and the partition predicate still prunes on the escaped layout
    val live = log.liveFiles(None)
    val cand = log.candidateDataFiles("city = 'New York'")
    assert(cand.exists(c => c.nonEmpty &&
      c.forall(_.startsWith("city=New York/"))), s"$cand of $live")
  }

  test("clone carries CHECK constraints and table properties; " +
      "initPartitioned refuses a populated flat table") {
    val log = CommitLog(spark, TestSpark.tempDir("clogcm")).init()
    log.append(Seq((1L, 10.0)).toDF("id", "amt"))
    log.addConstraint("pos", "amt > 0")
    log.setProperties(Map("delete.mode" -> "positional"))
    val dest = TestSpark.tempDir("clogcmd")
    val clone = log.cloneTo(dest)
    assert(clone.constraints(None) == Map("pos" -> "amt > 0"),
      "a clone must not accept writes the source's constraints forbid")
    assert(clone.properties(None) ==
      Map("delete.mode" -> "positional"))
    intercept[IllegalArgumentException] {
      clone.append(Seq((2L, -1.0)).toDF("id", "amt"))
    }
    // layout is decided at birth
    intercept[IllegalArgumentException] {
      log.initPartitioned(Seq("id"))
    }
  }

  test("meta hint lands BEFORE the meta CAS: a fresh handle sees a " +
      "just-added constraint, and zero-row data files do not break " +
      "position-carrying reads") {
    val root = TestSpark.tempDir("cloghint")
    val log = CommitLog(spark, root).init()
    log.append(Seq((1L, 5.0)).toDF("id", "amt"))
    log.addConstraint("pos", "amt > 0")
    // a fresh handle (no shared state) resolves the set
    assert(CommitLog(spark, root).constraints(None)
      == Map("pos" -> "amt > 0"))
    // zero-row file in the live set + positional marks: the prefix
    // probe must skip it instead of crashing the read
    val empty = spark.range(0).select(col("id"),
      (col("id") * 1.0).as("amt"))
    log.append(empty.coalesce(1))
    val (_, m) = log.deleteWhereMor("id = 1")
    assert(m == 1L)
    assert(log.read(None).count() == 0L)
  }

  test("cloneTo refuses a destination whose base marker already exists " +
      "(concurrent initializer) instead of silently overwriting") {
    val log = CommitLog(spark, TestSpark.tempDir("clogcg")).init()
    log.append(Seq((1, "a")).toDF("id", "v"))
    val destRoot = TestSpark.tempDir("clogcgd")
    // simulate a half-initialized concurrent clone: marker, no commits
    val f = new java.io.File(destRoot, "_base.json")
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f)
    try w.write("{\"base\":\"elsewhere\",\"files\":[]}") finally w.close()
    intercept[java.io.IOException](log.cloneTo(destRoot))
  }

  test("randomized convergence: a replica folded from changesSince " +
      "equals the live read across seeded random append / keyed-MOR " +
      "delete / positional-delete sequences") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val log = CommitLog(spark,
        TestSpark.tempDir(s"csconv$trial")).init()
      var nextId = 0L
      def appendBatch(): Unit = {
        val n = 20 + rnd.nextInt(30)
        val rows = (0 until n).map { _ =>
          val id = nextId; nextId += 1; (id, rnd.nextInt(100).toLong)
        }
        log.append(rows.toDF("id", "v")
          .repartition(1 + rnd.nextInt(3)))
      }
      appendBatch()
      (1 to 6).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => appendBatch()
          case 1 =>
            val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
            val keys = log.read(None)
              .filter(s"id % $m = $r").select("id")
            // ids are NEVER re-issued, so keyed tombstones cannot
            // collide with later appends (the standing-tombstone
            // subtract applies to all time, by design)
            if (keys.count() > 0) log.deleteKeysMor(keys, Seq("id"))
          case 2 =>
            val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
            log.deleteWhereMor(s"v % $m = $r")
        }
      }
      // fold the feed version by version: insert rows land, delete
      // rows (keyed key-only AND positional full pre-images) remove
      val replica = scala.collection.mutable.Map[Long, Long]()
      val feed = log.changesSince(0L)
        .select("_commit_version", "_op", "id", "v").collect()
        .sortBy(_.getLong(0))
      feed.foreach { row =>
        val id = row.getLong(2)
        if (row.getString(1) == "insert") replica(id) = row.getLong(3)
        else replica.remove(id)
      }
      val live = log.read(None).select("id", "v")
        .as[(Long, Long)].collect().toMap
      assert(replica.toMap == live,
        s"trial $trial: replica diverged (replica=${replica.size}, " +
          s"live=${live.size})")
    }
  }

  test("changesSince across an add-column append: the pre-drift " +
      "range serves exactly the NARROW schema, the spanning range " +
      "promotes to the union with null-fill on the narrow rows") {
    val log = CommitLog(spark, TestSpark.tempDir("csdrift")).init()
    log.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))      // v1
    log.append(Seq((3L, 30L, "x"), (4L, 40L, "y"))
      .toDF("id", "v", "w"))                                    // v2
    val pre = log.changesSince(0L, Some(1L))
    assert(pre.columns.sorted.toSeq ==
      Seq("_commit_version", "_op", "id", "v"),
      s"pre-drift increments must stay narrow: ${pre.columns.toSeq}")
    val span = log.changesSince(0L)
    assert(span.columns.contains("w"),
      "a range spanning the drift must serve the promoted union")
    assert(span.filter(col("_commit_version") === 1L)
      .collect().forall(_.isNullAt(span.columns.indexOf("w"))),
      "narrow rows null-fill the added column")
    assert(span.filter(col("_commit_version") === 2L &&
      col("w").isNotNull).count() == 2L)
  }

  test("randomized generalized merge agrees with a row-by-row model " +
      "(first-true clause, D/U/I routing, NMBS, discard)") {
    import CommitLog.{MergeClause, MergeDelete, MergeInsert, MergeUpdate}
    for (trial <- 1 to 6) {
      val rnd = new scala.util.Random(4242 + trial)
      val root = TestSpark.tempDir(s"clogmergeprop$trial")
      val log = CommitLog(spark, root).init()
      // unique-keyed target (the model is a Map); two appends so the
      // merge crosses file boundaries
      val tRows: Map[Long, (Long, Long)] = // id -> (v, grp)
        (0L to 30L).filter(_ => rnd.nextBoolean())
          .map(id => id -> ((rnd.nextInt(100).toLong,
            rnd.nextInt(4).toLong))).toMap
      val (ta, tb) = tRows.toSeq.partition(_._1 % 2 == 0)
      def frame(rows: Seq[(Long, (Long, Long))]) =
        rows.map { case (id, (v, g)) => (id, v, g) }
          .toDF("id", "v", "grp")
      if (ta.nonEmpty) log.append(frame(ta))
      if (tb.nonEmpty) log.append(frame(tb))
      if (tRows.isEmpty) log.append(frame(Seq(99L -> ((1L, 1L)))))
      val live: Map[Long, (Long, Long)] =
        if (tRows.nonEmpty) tRows else Map(99L -> ((1L, 1L)))
      // distinct-keyed source with an op column and a value
      val sRows: Map[Long, (String, Long)] = // id -> (op, sv)
        (0L to 40L).filter(_ => rnd.nextBoolean())
          .map(id => id -> ((Seq("D", "U", "I", "X")(rnd.nextInt(4)),
            rnd.nextInt(50).toLong))).toMap
      val src = sRows.toSeq.map { case (id, (op, sv)) => (id, op, sv) }
        .toDF("id", "op", "sv")
      // random clause battery (conditions reference both sides)
      val matched = Seq(
        MergeClause(Some("__s_op = 'D'"), MergeDelete),
        MergeClause(Some("__s_op = 'U'"),
          MergeUpdate(Seq("v" -> "__s_sv + v")))) ++
        (if (rnd.nextBoolean())
          Seq(MergeClause(Some("grp = 0"),
            MergeUpdate(Seq("v" -> "-1")))) else Nil)
      val notMatched = Seq(MergeClause(Some("__s_op = 'I'"),
        MergeInsert(Seq("id" -> "__s_id", "v" -> "__s_sv",
          "grp" -> "9"))))
      val nmbs =
        if (rnd.nextBoolean())
          Seq(MergeClause(Some("grp = 1"), MergeDelete),
            MergeClause(None, MergeUpdate(Seq("v" -> "0"))))
        else Nil
      log.merge(src, Seq("id"), matched, notMatched, nmbs)
      // the MODEL: first-true per row over plain Scala maps
      val expected = scala.collection.mutable.Map[Long, (Long, Long)]()
      live.foreach { case (id, (v, g)) =>
        sRows.get(id) match {
          case Some((op, sv)) => // matched: first true clause wins
            if (op == "D") ()
            else if (op == "U") expected(id) = (sv + v, g)
            else if (matched.size == 3 && g == 0)
              expected(id) = (-1L, g)
            else expected(id) = (v, g) // no clause fired: keep
          case None => // not matched by source
            if (nmbs.isEmpty) expected(id) = (v, g)
            else if (g == 1) () // first clause: delete
            else expected(id) = (0L, g)
        }
      }
      sRows.foreach { case (id, (op, sv)) =>
        if (!live.contains(id) && op == "I") expected(id) = (sv, 9L)
      } // 'X' unmatched rows discard
      val got = log.read(None).select("id", "v", "grp")
        .as[(Long, Long, Long)].collect()
        .map { case (id, v, g) => id -> ((v, g)) }.toMap
      assert(got == expected.toMap,
        s"trial $trial diverged: got=${got.toSeq.sorted.take(8)} " +
          s"expected=${expected.toSeq.sorted.take(8)}")
    }
  }

  test("randomized copyInto agrees with a loaded-set model across " +
      "interleaved adds, copies, registry folds, and vacuums") {
    for (trial <- 1 to 4) {
      val rnd = new scala.util.Random(777 + trial)
      val root = TestSpark.tempDir(s"clogcopyfuzz$trial")
      val log = CommitLog(spark, root).init()
      val src = s"${TestSpark.tempDir(s"clogcopyfuzzsrc$trial")}/files"
      var nextId = 0L
      var batch = 0
      // model: every id written to the source exactly once; the table
      // must hold exactly the ids of files present at SOME copy
      val inSource = scala.collection.mutable.ArrayBuffer[Long]()
      val loaded = scala.collection.mutable.ArrayBuffer[Long]()
      def addFiles(): Unit = {
        val n = 1 + rnd.nextInt(4)
        val ids = (nextId until nextId + n).toSeq
        nextId += n
        batch += 1
        ids.map(i => (i, s"r$i")).toDF("id", "v")
          .repartition(1 + rnd.nextInt(2))
          .write.parquet(s"$src/b$batch")
        inSource ++= ids
      }
      addFiles()
      (1 to 8).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => addFiles()
          case 1 =>
            val before = loaded.size
            log.copyInto(src)
            loaded.clear(); loaded ++= inSource
            val got = log.read(None).select("id").as[Long]
              .collect().sorted.toSeq
            assert(got == loaded.sorted.toSeq,
              s"trial $trial: copy diverged at $before -> " +
                s"${loaded.size}")
          case 2 => log.compactCopyRegistry()
          case 3 => log.vacuum(0L)
        }
      }
      // final copy: everything still outstanding loads exactly once
      log.copyInto(src)
      val got = log.read(None).select("id").as[Long]
        .collect().sorted.toSeq
      assert(got == inSource.sorted.toSeq && got.distinct == got,
        s"trial $trial: final state diverged")
      // and the registry proves it: one more copy is a no-op
      assert(log.copyInto(src)._2 == 0L)
    }
  }

  test("copyInto race: four writers copying the SAME source land " +
      "every file exactly once between them") {
    val root = TestSpark.tempDir("clogcopyrace")
    val log = CommitLog(spark, root).init()
    val src = s"${TestSpark.tempDir("clogcopyracesrc")}/files"
    Seq.tabulate(40)(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartition(8).write.parquet(src)
    val loaded = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        val (_, nf, _) = log.copyInto(src)
        loaded.addAndGet(nf)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(loaded.get() == 8L,
      s"the racing copies must load the 8 files ONCE between them, " +
        s"loaded ${loaded.get()}")
    val ids = log.read(None).select("id").as[Long].collect().sorted
    assert(ids.length == 40 && ids.distinct.length == 40,
      "every source row lands exactly once")
    // and a fresh copy after the race is a no-op
    assert(log.copyInto(src)._2 == 0L)
  }

  test("randomized identity lifecycle keeps live ids distinct across " +
      "allocations, explicit BY DEFAULT inserts, deletes, and syncs") {
    for (trial <- 1 to 4) {
      val rnd = new scala.util.Random(1313 + trial)
      val root = TestSpark.tempDir(s"clogidfuzz$trial")
      val log = CommitLog(spark, root).init()
      log.append(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType)))))
      // BY DEFAULT: explicit values legal; start 0 step 2, explicit
      // ids drawn from a DISJOINT negative range so live-distinctness
      // is the invariant under every interleaving
      log.setProperties(Map(
        s"${CommitLog.IdentityColPrefix}id" -> "0,2,true"))
      var nextExplicit = -1L
      def check(tag: String): Unit = {
        val ids = log.read(None).select("id").as[Long].collect()
        assert(ids.distinct.length == ids.length,
          s"trial $trial after $tag: live ids collide " +
            s"(${ids.length - ids.distinct.length} dups)")
      }
      (1 to 10).foreach { step =>
        rnd.nextInt(5) match {
          case 0 | 1 => // auto-allocating insert
            val k = 1 + rnd.nextInt(5)
            log.appendResolvingDefaults(
              Seq.tabulate(k)(j => s"a$step-$j").toDF("v"))
          case 2 => // explicit insert from the reserved range
            val k = 1 + rnd.nextInt(3)
            val ids = (0 until k).map(_ => { nextExplicit -= 2
              nextExplicit })
            log.appendResolvingDefaults(
              ids.map(i => (i, s"e$i")).toDF("id", "v"))
          case 3 =>
            val m = 2 + rnd.nextInt(4)
            log.deleteWhere(s"pmod(id, $m) = ${rnd.nextInt(m)}")
          case 4 =>
            log.syncIdentity("id")
        }
        check(s"step $step")
      }
      // the mark survives everything monotone enough to keep the
      // NEXT allocation collision-free too
      log.appendResolvingDefaults(Seq("final").toDF("v"))
      check("final")
    }
  }

  test("identity allocation race: four writers draw from the same " +
      "high-water mark without collisions, the block is contiguous") {
    val root = TestSpark.tempDir("clogidrace")
    val log = CommitLog(spark, root).init()
    // declared schema + identity spec, the way CREATE TABLE records it
    log.append(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))))
    log.setProperties(Map(
      s"${CommitLog.IdentityColPrefix}id" -> "1000,2,false"))
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        log.appendResolvingDefaults(
          Seq.tabulate(10)(j => s"w$w-$j").toDF("v"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ids = log.read(None).select("id").as[Long].collect().sorted
    assert(ids.length == 40 && ids.distinct.length == 40,
      "racing allocations must never collide")
    assert(ids.toSeq == (0 until 40).map(i => 1000L + 2L * i),
      s"the merged block is contiguous from the start: " +
        s"${ids.take(5).mkString(",")}...")
  }

  test("MERGE allocates identity for NOT MATCHED inserts off the same " +
      "high-water CAS: racing merges never collide, matched rows keep " +
      "their ids, and SET / explicit-ALWAYS INSERT values refuse") {
    import graft.lake.CommitLog.{MergeClause, MergeInsert, MergeUpdate}
    val log = CommitLog(spark, TestSpark.tempDir("clogmid")).init()
    log.append(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))))
    log.setProperties(Map(
      s"${CommitLog.IdentityColPrefix}id" -> "100,1,false"))
    log.appendResolvingDefaults(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // ids 100, 101
    log.merge(Seq((1L, "A"), (3L, "c"), (4L, "d")).toDF("k", "v"),
      Seq("k"),
      matched = Seq(MergeClause(None, MergeUpdate(Seq("v" -> "__s_v")))),
      notMatched = Seq(MergeClause(None,
        MergeInsert(Seq("k" -> "__s_k", "v" -> "__s_v")))),
      notMatchedBySource = Nil)
    val rows = log.read(None).select("id", "k", "v")
      .as[(Long, Long, String)].collect().sortBy(_._2)
    assert(rows.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
    val byK = rows.map(r => r._2 -> r).toMap
    assert(byK(1L)._3 == "A" && byK(1L)._1 == 100L,
      "a matched UPDATE must keep the standing identity value")
    assert(byK(2L)._1 == 101L)
    assert(Set(byK(3L)._1, byK(4L)._1) == Set(102L, 103L),
      s"inserts allocate past the mark: ${rows.mkString(",")}")
    // racing merges with disjoint insert keys: allocation rides the
    // CAS, so a lost race re-reads the advanced mark and re-allocates
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        var ok = false
        while (!ok) {
          try {
            log.merge(
              Seq.tabulate(5)(j => (1000L * (w + 1) + j, s"w$w-$j"))
                .toDF("k", "v"),
              Seq("k"),
              matched = Seq(MergeClause(None,
                MergeUpdate(Seq("v" -> "__s_v")))),
              notMatched = Seq(MergeClause(None,
                MergeInsert(Seq("k" -> "__s_k", "v" -> "__s_v")))),
              notMatchedBySource = Nil)
            ok = true
          } catch {
            case _: java.util.ConcurrentModificationException => ()
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ids = log.read(None).select("id").as[Long].collect()
    assert(ids.length == 24 && ids.distinct.length == 24,
      s"racing merge allocations must never collide: " +
        s"${ids.sorted.mkString(",")}")
    assert(ids.max == 100L + 23L, "the block stays contiguous")
    // refusals: SET on an identity column; explicit INSERT under ALWAYS
    intercept[IllegalArgumentException] {
      log.merge(Seq((1L, "x")).toDF("k", "v"), Seq("k"),
        matched = Seq(MergeClause(None, MergeUpdate(Seq("id" -> "0")))),
        notMatched = Nil, notMatchedBySource = Nil)
    }
    intercept[IllegalArgumentException] {
      log.merge(Seq((77L, "x")).toDF("k", "v"), Seq("k"),
        matched = Nil,
        notMatched = Seq(MergeClause(None, MergeInsert(
          Seq("id" -> "-1", "k" -> "__s_k", "v" -> "__s_v")))),
        notMatchedBySource = Nil)
    }
  }

  test("MERGE on a generated-column table recomputes the expression " +
      "on update (post-SET values) and insert rows — including after " +
      "identity allocation — and explicit assignments refuse") {
    import graft.lake.CommitLog.{MergeClause, MergeInsert, MergeUpdate}
    val log = CommitLog(spark, TestSpark.tempDir("cloggen")).init()
    log.append(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("amt",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.LongType)))))
    log.setProperties(Map(
      s"${CommitLog.IdentityColPrefix}id" -> "10,2,false",
      // band references the ALLOCATED identity (id % 2 — step 2 keeps
      // it deterministic): if the insert recompute ran before
      // allocation the id term would be NULL and band would land NULL,
      // so a correct band PROVES the allocate-then-compute ordering
      s"${CommitLog.GeneratedColPrefix}band" ->
        "CAST(amt AS BIGINT) % 10 + id % 2"))
    // seed via an insert-only merge — the very path under test
    log.merge(Seq((1L, 23.0), (2L, 35.0)).toDF("k", "amt"), Seq("k"),
      matched = Nil,
      notMatched = Seq(MergeClause(None,
        MergeInsert(Seq("k" -> "__s_k", "amt" -> "__s_amt")))),
      notMatchedBySource = Nil)
    val pre = log.read(None).select("k", "band").as[(Long, Long)]
      .collect().toMap
    assert(pre == Map(1L -> 3L, 2L -> 5L), s"$pre")
    // update k=1 (amt 23 -> 47: band must recompute over the POST
    // value), insert k=3 (id allocates 14, amt 9 -> band 9)
    log.merge(Seq((1L, 47.0), (3L, 9.0)).toDF("k", "amt"), Seq("k"),
      matched = Seq(MergeClause(None,
        MergeUpdate(Seq("amt" -> "__s_amt")))),
      notMatched = Seq(MergeClause(None,
        MergeInsert(Seq("k" -> "__s_k", "amt" -> "__s_amt")))),
      notMatchedBySource = Nil)
    val rows = log.read(None).select("id", "k", "amt", "band")
      .as[(Long, Long, Double, Long)].collect().map(r => r._2 -> r)
      .toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows.values.map(_._1).toSet == Set(10L, 12L, 14L),
      s"identity allocations stay distinct: $rows")
    assert(rows(1L)._3 == 47.0 && rows(1L)._4 == 7L,
      s"update must recompute over post-SET values: ${rows(1L)}")
    assert(rows(2L)._3 == 35.0 && rows(2L)._4 == 5L,
      "carried rows keep their standing values")
    assert(rows(3L)._1 == 14L && rows(3L)._4 == 9L,
      s"insert computes after identity allocation: ${rows(3L)}")
    // refusals: SET / explicit INSERT of the generated column
    intercept[IllegalArgumentException] {
      log.merge(Seq((1L, 1.0)).toDF("k", "amt"), Seq("k"),
        matched = Seq(MergeClause(None, MergeUpdate(Seq("band" -> "0")))),
        notMatched = Nil, notMatchedBySource = Nil)
    }
    intercept[IllegalArgumentException] {
      log.merge(Seq((9L, 1.0)).toDF("k", "amt"), Seq("k"),
        matched = Nil,
        notMatched = Seq(MergeClause(None, MergeInsert(
          Seq("k" -> "__s_k", "amt" -> "__s_amt", "band" -> "0")))),
        notMatchedBySource = Nil)
    }
  }

  test("merge sees only LIVE rows through standing dv marks: NOT " +
      "MATCHED re-inserts a positionally-deleted key, files whose only " +
      "hits are deleted don't rewrite, dead dup-keys don't refuse") {
    import graft.lake.CommitLog.{MergeClause, MergeInsert, MergeUpdate}
    val log = CommitLog(spark, TestSpark.tempDir("clogmdv")).init()
    // two files: f1 holds ids 0..9, f2 holds ids 10..19
    log.append(spark.range(0, 10)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)) // v1
    log.append(spark.range(10, 20)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)) // v2
    val (_, m) = log.deleteWhereMor("id IN (3, 12)") // v3: dv marks
    assert(m == 2L)
    // source: 3 and 12 are dv-deleted (must INSERT — Delta applies
    // deletion vectors before matching), 5 is live (must UPDATE)
    val src = Seq((3L, 300L), (12L, 1200L), (5L, 500L)).toDF("id", "sv")
    val (_, touched) = log.merge(src, Seq("id"),
      matched = Seq(MergeClause(None, MergeUpdate(Seq("v" -> "__s_sv")))),
      notMatched = Seq(MergeClause(None,
        MergeInsert(Seq("id" -> "__s_id", "v" -> "__s_sv")))),
      notMatchedBySource = Nil)
    // only f1 (id=5's file) rewrites: f2's sole key hit (12) is dead
    assert(touched == 1,
      s"a file whose only key hits are dv-deleted must not rewrite: $touched")
    val got = log.read(None).select("id", "v").as[(Long, Long)]
      .collect().toMap
    assert(got(3L) == 300L, "dv-deleted key must re-insert, not vanish")
    assert(got(12L) == 1200L, "dv-deleted key must re-insert, not vanish")
    assert(got(5L) == 500L)
    assert(got.size == 20, s"0..19 all live again: ${got.keys.toSeq.sorted}")
    // dup SOURCE keys on a dv-deleted target row must not trip the
    // nondeterminism refusal (no LIVE row matches) — both rows insert
    log.deleteWhereMor("id = 7") // v5
    log.merge(Seq((7L, 70L), (7L, 71L)).toDF("id", "sv"), Seq("id"),
      matched = Seq(MergeClause(None, MergeUpdate(Seq("v" -> "__s_sv")))),
      notMatched = Seq(MergeClause(None,
        MergeInsert(Seq("id" -> "__s_id", "v" -> "__s_sv")))),
      notMatchedBySource = Nil)
    assert(log.read(None).filter(col("id") === 7L).select("v")
      .as[Long].collect().toSet == Set(70L, 71L))
    // ...while dup keys on a LIVE row still refuse
    intercept[IllegalArgumentException] {
      log.merge(Seq((5L, 1L), (5L, 2L)).toDF("id", "sv"), Seq("id"),
        matched = Seq(MergeClause(None, MergeUpdate(Seq("v" -> "__s_sv")))),
        notMatched = Nil, notMatchedBySource = Nil)
    }
  }

  test("liquid clustering: OPTIMIZE on a CLUSTER BY table re-clusters " +
      "incrementally — only files landed since the last run rewrite, " +
      "steady state is a no-op") {
    val log = CommitLog(spark, TestSpark.tempDir("clogliq")).init()
    log.append(spark.range(0, 1000)
      .select(col("id"), (col("id") * 3).as("v")).repartition(4))
    log.setProperties(Map(CommitLog.ClusterByKey -> "id"))
    val v1 = log.optimizeCluster(targetFiles = 2)
    assert(v1.isDefined, "first run clusters the standing files")
    assert(log.commit(v1.get).clustered,
      "the rewrite commit must carry the clustered marker")
    assert(log.optimizeCluster(targetFiles = 2).isEmpty,
      "steady state: everything already clustered, no commit burned")
    val clusteredSet = log.liveFiles(None).toSet
    log.append(spark.range(1000, 1500)
      .select(col("id"), (col("id") * 3).as("v")).repartition(3))
    val newFiles = log.liveFiles(None).toSet -- clusteredSet
    val v2 = log.optimizeCluster(targetFiles = 2)
    assert(v2.isDefined)
    assert(log.commit(v2.get).removed.toSet == newFiles,
      "incremental: ONLY the files landed since the last run rewrite")
    assert(log.read(None).select("id").as[Long].collect().sorted.toSeq
      == (0L until 1500L), "re-clustering preserves every row")
    // key-aware markers: changing the clustering keys invalidates the
    // OLD layout — the next run re-clusters every live file
    log.setProperties(Map(CommitLog.ClusterByKey -> "v"))
    val allLive = log.liveFiles(None).toSet
    val v3 = log.optimizeCluster(targetFiles = 2)
    assert(v3.isDefined &&
      log.commit(v3.get).removed.toSet == allLive,
      "new keys must re-cluster everything laid out under the old keys")
    assert(log.commit(v3.get).clusterKeys.contains("v"),
      "the rewrite records the keys it ordered by")
    assert(log.optimizeCluster(targetFiles = 2).isEmpty,
      "steady state under the new keys")
  }

  test("REORG APPLY (PURGE): only dv-marked files rewrite, the marks " +
      "retire in the same commit, reads are unchanged, and a mark-free " +
      "rerun is a no-op") {
    val purgeRoot = TestSpark.tempDir("clogpurge")
    val log = CommitLog(spark, purgeRoot).init()
    // three files with disjoint id bands
    log.append(spark.range(0, 100)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)) // v1
    log.append(spark.range(100, 200)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)) // v2
    log.append(spark.range(200, 300)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)) // v3
    assert(log.reorgPurge().isEmpty, "no marks -> no-op, no commit")
    val (_, m) = log.deleteWhereMor("id >= 120 AND id < 180") // v4
    assert(m == 60L)
    val before = log.read(None).select("id").as[Long].collect().sorted
    val liveBefore = log.liveFiles(None)
    assert(liveBefore.size == 3)
    val vOpt = log.reorgPurge()
    assert(vOpt.isDefined, "standing marks must force the rewrite " +
      "even for a single marked file")
    val c = log.commit(vOpt.get)
    // removed = the ONE marked file + the dv tombstone, nothing else
    val (dvRemoved, dataRemoved) =
      c.removed.partition(_.startsWith("dv-"))
    assert(dataRemoved.size == 1,
      s"only the marked file rewrites: $dataRemoved")
    assert(dvRemoved.size == 1, "the applied dv tombstone retires")
    assert(log.resolve(None).tombstones.isEmpty,
      "no standing marks after the purge")
    assert(liveBefore.filterNot(dataRemoved.toSet).forall(
      log.liveFiles(None).contains), "unmarked files survive untouched")
    assert(log.read(None).select("id").as[Long].collect().sorted
      .sameElements(before), "reads identical across the purge")
    // physical: the purged output holds only survivors (no read-time
    // subtract needed) — scan the raw files directly
    val raw = spark.read.parquet(log.liveFiles(None)
      .map(n => s"$purgeRoot/data/$n"): _*)
    assert(raw.count() == 240L, "dead rows physically dropped")
    val vAfter = log.latestVersion()
    assert(log.reorgPurge().isEmpty && log.latestVersion() == vAfter,
      "a mark-free rerun burns no commit")
  }

  test("UPDATE on a generation input recomputes the generated column " +
      "over the post-update row; direct SET of identity/generated " +
      "refuses; appends compute generated columns after identity " +
      "allocation") {
    val log = CommitLog(spark, TestSpark.tempDir("cloggupd")).init()
    log.append(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("amt",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.LongType)))))
    log.setProperties(Map(
      s"${CommitLog.IdentityColPrefix}id" -> "100,2,false",
      // references BOTH a data column and the allocated identity —
      // the append path must allocate FIRST, then compute
      s"${CommitLog.GeneratedColPrefix}band" ->
        "CAST(amt AS BIGINT) % 10 + id % 2"))
    log.appendResolvingDefaults(
      Seq((1L, 23.0), (2L, 35.0)).toDF("k", "amt"))
    assert(log.read(None).select("k", "band").as[(Long, Long)]
      .collect().toMap == Map(1L -> 3L, 2L -> 5L),
      "append computes generated values after identity allocation")
    // updating the generation INPUT recomputes band on hit rows only
    log.updateWhere(Seq("amt" -> "amt + 24"), Some("k = 1"))
    val got = log.read(None).select("k", "amt", "band")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 47.0, 7L)),
      s"the generated column must recompute post-update: ${got(1L)}")
    assert(got(2L) == ((2L, 35.0, 5L)), "carried rows keep their bytes")
    intercept[IllegalArgumentException] {
      log.updateWhere(Seq("band" -> "0"), Some("k = 1"))
    }
    intercept[IllegalArgumentException] {
      log.updateWhere(Seq("id" -> "0"), Some("k = 1"))
    }
  }

  test("replaceWhere: atomic band swap — only holding files rewrite, " +
      "out-of-band batch rows refuse, CDF rows ride the commit, and " +
      "a no-match empty replace burns no commit") {
    val log = CommitLog(spark, TestSpark.tempDir("clogrw")).init()
    def band(a: Long, b: Long, v: Long) = spark.range(a, b)
      .select(col("id"), lit(v).as("v")).coalesce(1)
    log.append(band(0, 100, 1L))    // v1
    log.append(band(100, 200, 1L))  // v2
    log.append(band(200, 300, 1L))  // v3
    log.setProperties(Map(CommitLog.CdfEnabledKey -> "true")) // v4
    val preV = log.latestVersion()
    val (v5, touched) = log.replaceWhere(
      band(100, 150, -1L), "id >= 100 AND id < 200")
    assert(touched == 1, s"only the holding file rewrites: $touched")
    assert(v5 == preV + 1, "the swap is ONE atomic commit")
    val got = log.read(None).select("id", "v").as[(Long, Long)]
      .collect().toMap
    assert(got.size == 250 && got(120L) == -1L && !got.contains(160L)
      && got(50L) == 1L && got(250L) == 1L,
      "replaced band carries ONLY the batch rows")
    // CDF: 100 deleted pre-images + 50 inserts rode the commit
    val feed = log.changesSince(v5 - 1)
    assert(feed.filter(col("_op") === "delete").count() == 100L)
    assert(feed.filter(col("_op") === "insert").count() == 50L)
    // out-of-band batch rows refuse
    intercept[IllegalArgumentException] {
      log.replaceWhere(band(0, 10, -2L), "id >= 100 AND id < 200")
    }
    // a no-match empty replace burns no commit
    val vq = log.latestVersion()
    assert(log.replaceWhere(
      band(5000, 5000, 0L), "id >= 5000") == ((vq, 0)))
    assert(log.latestVersion() == vq)
    // a no-match NON-empty replace lands as a plain append
    val (va, t2) = log.replaceWhere(band(1000, 1010, 7L), "id >= 1000")
    assert(t2 == 0 && log.commit(va).kind == "append")
    assert(log.read(None).count() == 260L)
    // a batch MISSING a target column refuses (a silent by-name
    // null-fill would be wrong data, not drift)
    intercept[IllegalArgumentException] {
      log.replaceWhere(spark.range(2000, 2005).select(col("id")),
        "id >= 2000")
    }
    // ConcurrentAppend atomicity: a commit landing IN-BAND rows
    // between planning and CAS conflicts; provably out-of-band
    // commits commute
    intercept[java.util.ConcurrentModificationException] {
      log.replaceWhere(band(200, 210, -5L), "id >= 200 AND id < 300",
        beforeCommit = () => log.append(band(250, 260, 8L)))
    }
    val before = log.read(None).count()
    log.replaceWhere(band(200, 211, -6L), "id >= 200 AND id < 300",
      beforeCommit = () => log.append(band(90000, 90010, 9L)))
    // band 200-300 held 110 rows (100 original + the 10 the failed
    // attempt's concurrent append landed); swap to 11 + the 10
    // out-of-band concurrent rows
    assert(log.read(None).count() == before - 110L + 11L + 10L,
      "an out-of-band concurrent append commutes with the band swap")
  }

  test("replaceWhere on a hive-partitioned table touches only the " +
      "band's partitions; the change feed skips a purge rewrite and " +
      "a replica folded across it converges") {
    // partition-granular band swap: partition values ride spans, so
    // the probe never opens out-of-band partitions' files
    val plog = CommitLog(spark, TestSpark.tempDir("clogrwp"))
      .initPartitioned(Seq("day"))
    plog.append(Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0),
      (4L, "d3", 4.0)).toDF("id", "day", "amt"))
    val (_, touched) = plog.replaceWhere(
      Seq((9L, "d2", 9.0)).toDF("id", "day", "amt"), "day = 'd2'")
    assert(touched == 1, s"only d2's file rewrites: $touched")
    assert(plog.liveFiles(None).count(_.startsWith("day=d1/")) > 0,
      "d1 partition files survive untouched")
    assert(plog.read(None).filter(col("day") === "d2")
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // feed across a purge: the dv delete emits its rows, the purge
    // rewrite emits NOTHING (row-preserving in the logical view)
    val root2 = TestSpark.tempDir("clogpfd")
    val log2 = CommitLog(spark, root2).init()
    log2.append(spark.range(0, 100)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)) // v1
    log2.deleteWhereMor("id % 4 = 1")                          // v2
    val vPurge = log2.reorgPurge().get                         // v3
    val feed = log2.changesSince(0L)
    assert(feed.filter(col("_commit_version") === vPurge).isEmpty,
      "a purge rewrite must emit no change rows")
    assert(feed.filter(col("_op") === "delete").count() == 25L)
    assert(feed.filter(col("_op") === "insert").count() == 100L)
  }

  test("change data feed (opt-in): merge and upsert commits persist " +
      "exact change rows, the feed decomposes them, and a replica " +
      "folded from it converges; without the property they refuse") {
    import graft.lake.CommitLog.{MergeClause, MergeDelete, MergeInsert,
      MergeUpdate}
    val log = CommitLog(spark, TestSpark.tempDir("clogcdf")).init()
    log.append(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    log.setProperties(Map(CommitLog.CdfEnabledKey -> "true"))
    val v0 = log.latestVersion()
    // generalized merge: delete 1, update 2, insert 4 — one commit
    log.merge(
      Seq((1L, 0L, "D"), (2L, 21L, "U"), (4L, 40L, "I"))
        .toDF("id", "sv", "op"),
      Seq("id"),
      matched = Seq(
        MergeClause(Some("__s_op = 'D'"), MergeDelete),
        MergeClause(Some("__s_op = 'U'"),
          MergeUpdate(Seq("v" -> "__s_sv")))),
      notMatched = Seq(MergeClause(Some("__s_op = 'I'"),
        MergeInsert(Seq("id" -> "__s_id", "v" -> "__s_sv")))),
      notMatchedBySource = Nil)
    // keyed upsert: replace 3, insert 5 — one commit
    log.upsert(Seq((3L, 31L), (5L, 50L)).toDF("id", "v"), Seq("id"))
    val feed = log.changesSince(v0)
      .select("_commit_version", "_op", "id", "v")
      .as[(Long, String, Long, Long)].collect().toSet
    val vM = v0 + 1
    val vU = v0 + 2
    assert(feed == Set(
      (vM, "delete", 1L, 10L),
      (vM, "update_preimage", 2L, 20L),
      (vM, "update_postimage", 2L, 21L),
      (vM, "insert", 4L, 40L),
      (vU, "update_preimage", 3L, 30L),
      (vU, "update_postimage", 3L, 31L),
      (vU, "insert", 5L, 50L)), s"exact change rows: $feed")
    // replica fold (delete removes, postimage/insert upsert by key)
    val replica = scala.collection.mutable.Map(
      1L -> 10L, 2L -> 20L, 3L -> 30L)
    feed.toSeq.sortBy(_._1).foreach {
      case (_, "delete", id, _) => replica.remove(id)
      case (_, op, id, v) if op == "insert" || op == "update_postimage" =>
        replica(id) = v
      case _ => ()
    }
    assert(replica.toMap == log.read(None).select("id", "v")
      .as[(Long, Long)].collect().toMap,
      "a replica folded from the feed must converge to the live read")
    // copy-on-write DELETE WHERE / UPDATE WHERE decompose too; the
    // UPDATE's predicate references the assigned column, so the
    // post-image must project from PRE-update rows
    val v1 = log.latestVersion()
    log.deleteWhere("id = 4")
    log.updateWhere(Seq("v" -> "v + 9"), Some("v <= 31"))
    val feed2 = log.changesSince(v1)
      .select("_op", "id", "v").as[(String, Long, Long)].collect().toSet
    assert(feed2 == Set(
      ("delete", 4L, 40L),
      ("update_preimage", 2L, 21L), ("update_postimage", 2L, 30L),
      ("update_preimage", 3L, 31L), ("update_postimage", 3L, 40L)),
      s"row-level DML change rows: $feed2")
    // without the property, a mutating commit still refuses the feed
    val log2 = CommitLog(spark, TestSpark.tempDir("clogcdf2")).init()
    log2.append(Seq((1L, 10L)).toDF("id", "v"))
    log2.upsert(Seq((1L, 11L)).toDF("id", "v"), Seq("id"))
    intercept[IllegalArgumentException] { log2.changesSince(0L) }
  }

  test("an oversized merge source never forces a broadcast: above the " +
      "session threshold it stages once and every source-side join " +
      "plans shuffled; the merge still answers correctly") {
    import graft.lake.CommitLog.{MergeClause, MergeInsert, MergeUpdate}
    // isolated session: a tiny broadcast threshold must not leak into
    // other suites' plans
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    val sq = s2.implicits
    import sq._
    val root = TestSpark.tempDir("clogbigsrc")
    val log = CommitLog(s2, root).init()
    log.append(s2.range(0, 1000)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1))
    // capture every executed plan that reads the STAGED source file —
    // those are exactly the merge's source-side joins
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    try {
      // ~50k rows of (id, sv): far over 1 KiB on disk, so sizedSource
      // must stage it and the guards must NOT broadcast it
      val src = s2.range(0, 50000)
        .select(col("id"), (col("id") + 100000).as("sv"))
      val (_, touched) = log.merge(src, Seq("id"),
        matched = Seq(MergeClause(None, MergeUpdate(Seq("v" -> "__s_sv")))),
        notMatched = Seq(MergeClause(None,
          MergeInsert(Seq("id" -> "__s_id", "v" -> "__s_sv")))),
        notMatchedBySource = Nil)
      assert(touched == 1)
      // the listener fires asynchronously on the bus — poll
      def staged() = plans.toArray(Array.empty[String])
        .filter(_.contains("_staged/src_"))
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (staged().isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      val srcPlans = staged()
      assert(srcPlans.nonEmpty,
        "an over-threshold source must stage to the lake temp dir")
      val bcasts = srcPlans.filter(p =>
        p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"))
      assert(bcasts.isEmpty,
        s"no source-side join may broadcast an oversized source:\n" +
          bcasts.headOption.getOrElse(""))
      // and the answer is right: all 1000 updated, 49000 inserted
      val r = log.read(None).select("id", "v").as[(Long, Long)].collect()
      assert(r.length == 50000)
      assert(r.forall { case (id, v) => v == id + 100000 })
      // the staged temp file was swept after the merge
      assert(SchemaTools.listDataFiles(s2, s"$root/_staged").isEmpty,
        "sizedSource temp dirs must not accumulate")
    } finally s2.listenerManager.unregister(listener)
  }

  test("mixed span coverage under a trusted bloom sidecar: log-spanned " +
      "and legacy files prune to the exact expected sets; readFiltered " +
      "== read().filter for every probe shape") {
    val (log, band) = CommitLogSpec.mixedCoverage(spark)
    val r = log.resolve(None)
    assert(r.data.count(r.spanOf.contains) == 2 && r.data.size == 4,
      "fixture must mix two log-spanned and two legacy files")
    val u250 = CommitLogSpec.uOf(250)
    val cases: Seq[(String, Option[Set[Long]])] = Seq(
      "id = 150" -> Some(Set(100L)), // point hit, legacy file
      "id = 1000" -> Some(Set.empty[Long]), // point miss
      "id IN (5, 350)" -> Some(Set(0L, 300L)), // blooms cut the envelope
      "id BETWEEN 120 AND 260" -> Some(Set(100L, 200L)), // range
      s"u = '$u250'" -> Some(Set(200L)), // string equality: blooms only
      "flag = true" -> None, // unindexed column
      "id % 7 = 3" -> None) // no extractable range
    cases.foreach { case (p, want) =>
      assert(log.candidateDataFiles(p).map(_.toSet) ==
        want.map(_.map(band)), s"candidates for `$p`")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("id").as[Long].collect().sorted.toSeq
      assert(ids(log.readFiltered(p)) == ids(log.read().filter(expr(p))),
        s"readFiltered must equal read().filter for `$p`")
    }
  }

  test("the touched-file probe finds the files select.distinct finds: " +
      "hits split across tasks of one file, and positional dv marks") {
    val root = TestSpark.tempDir("clogprobe")
    val log = CommitLog(spark, root).init()
    def distinctCollect(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).distinct().collect().map(_.getString(0)).sorted.toSeq
    // one file of many small row groups, then a second small file
    SchemaTools.withSessionConf(spark, "parquet.block.size", "4096") {
      log.append(spark.range(0, 4000, 1, 1)
        .select(col("id"), (col("id") * 2).as("v")))
    }
    val big = log.liveFiles().head
    log.append(spark.range(4000, 4100, 1, 1)
      .select(col("id"), (col("id") * 2).as("v")))
    val small = log.liveFiles().filterNot(_ == big).head
    SchemaTools.withSessionConf(spark,
        "spark.sql.files.maxPartitionBytes", "4096") {
      val hits = spark.read.parquet(s"$root/data/$big", s"$root/data/$small")
        .withColumn("__file", input_file_name()).filter("id % 7 = 3")
      assert(hits.filter(col("id") < 4000).select(spark_partition_id())
        .distinct().count() > 1,
        "fixture: the big file's hits must span several tasks")
      val got = SchemaTools.distinctStrings(hits, "__file")
      assert(got == distinctCollect(hits, "__file") && got.size == 2)
    }
    // the verb's probe: a hit-free file is not rewritten
    val (v, _) = log.deleteWhere("id % 7 = 3 AND id < 4000")
    assert(log.commit(v).removed == Seq(big))
    // positional marks in both live files
    val (_, marked) = log.deleteWhereMor("id % 5 = 1")
    assert(marked == 706L)
    val dv = log.resolve(None).tombstones
    val marks = spark.read.parquet(dv.map(n => s"$root/data/$n"): _*)
    val markedFiles = SchemaTools.distinctStrings(marks, "__dv_file")
    assert(markedFiles == distinctCollect(marks, "__dv_file") &&
      markedFiles == log.liveFiles().sorted && markedFiles.size == 2)
  }

  test("post-commit rule under a trusted _stats sidecar: appends " +
      "extend it, row rewrites and restore drop it, meta commits and " +
      "positional deletes leave it; onCommit fires once per version") {
    val dir = TestSpark.tempDir("clogpost")
    val log = CommitLog(spark, dir).init()
    var fired = 0
    log.onCommit(() => fired += 1)
    def band(lo: Long) = spark.range(lo, lo + 10)
      .select(col("id"), (col("id") * 3).as("x")).coalesce(1)
    log.append(band(0)) // v1
    log.buildStats()
    def indexed = FileStats.indexedFiles(spark, dir)
      .map(_.map(_.split('/').last).sorted)
    def sidecarDir = new java.io.File(dir, "_stats")
    // `verb` commits `n` versions and fires the hook once for each
    def commits(n: Int)(verb: => Any): Unit = {
      val (v0, f0) = (log.latestVersion(), fired)
      verb
      assert(log.latestVersion() == v0 + n && fired == f0 + n,
        s"expected $n commit(s) and hook call(s)")
    }
    def extended(verb: => Any): Unit = {
      commits(1)(verb)
      assert(FileStats.trusted(spark, dir) &&
        indexed.contains(log.liveFiles().sorted),
        "the sidecar must stay trusted and index every live file")
    }
    def untouched(n: Int)(verb: => Any): Unit = {
      val before = indexed
      commits(n)(verb)
      assert(before.nonEmpty && indexed == before,
        "the sidecar must be left as it was")
    }
    def dropped(verb: => Any): Unit = {
      commits(1)(verb)
      assert(!FileStats.trusted(spark, dir) && !sidecarDir.exists(),
        "the sidecar must be dropped")
    }
    extended(log.append(band(10)))
    extended(log.appendOnce(band(20), "post", 1L))
    extended(assert(log.upsert(band(30), Seq("id"))._2 == 0))
    untouched(1)(log.setProperties(Map("k" -> "v")))
    untouched(0)(log.unsetProperties(Seq("nokey"), ifExists = true))
    untouched(1)(assert(log.deleteWhereMor("id = 1")._2 == 1L))
    untouched(0)(assert(log.deleteWhere("id = 999")._2 == 0))
    dropped(assert(log.deleteWhere("id = 12")._2 == 1))
    log.buildStats()
    dropped(log.restore(1L))
    assert(log.read().count() == 10)
  }
}

object CommitLogSpec {
  /** The hash-interleaved string key of row `id`: every file's `u` span
    * covers nearly the whole domain, so only blooms isolate a value. */
  def uOf(id: Long): String = s"u${id * 7919L % 100000L}"

  /** A commit-log table whose live files are partly log-spanned and
    * partly legacy-shaped, under a trusted sidecar with blooms on `id`
    * and `u`. Four single-file appends hold id bands 0-99, 100-199,
    * 200-299 and 300-399; the second and fourth commits have their
    * recorded stats stripped in place (a legacy writer records none),
    * the fourth after it landed under the standing sidecar, which
    * indexed it incrementally. Returns the log and each band's data
    * file by the band's first id. */
  def mixedCoverage(spark: org.apache.spark.sql.SparkSession)
      : (CommitLog, Map[Long, String]) = {
    val dir = TestSpark.tempDir("clogmix")
    val log = CommitLog(spark, dir).init()
    def band(lo: Long) = log.append(spark.range(lo, lo + 100)
      .select(col("id"),
        concat(lit("u"), pmod(col("id") * 7919L, lit(100000L))).as("u"),
        (col("id") % 2 === 0).as("flag"))
      .coalesce(1))
    def stripStats(v: Long): Unit = {
      val vf = new org.apache.hadoop.fs.Path(dir, f"_commits/v$v%020d.json")
      val fs = vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(TimeFly.readText(fs, vf))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.remove("stats")
      fs.delete(vf, false)
      val out = fs.create(vf, true)
      try out.write(mapper.writeValueAsBytes(node)) finally out.close()
      log.invalidateCaches() // the shim broke manifest immutability
    }
    val vs = Seq(0L, 100L, 200L).map(lo => lo -> band(lo))
    stripStats(vs(1)._2)
    log.buildStats(bloomCols = Seq("id", "u"), bloomBits = 1 << 13)
    val v4 = band(300L)
    stripStats(v4)
    assert(FileStats.trusted(spark, dir), "the sidecar must stand")
    (log, (vs :+ (300L -> v4)).map { case (lo, v) =>
      lo -> log.commit(v).files.head }.toMap)
  }
}
