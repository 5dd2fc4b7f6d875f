package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LakeWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def df3 = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")

  test("raise mode fails when target has data") {
    val dir = TestSpark.tempDir("raise")
    LakeWriter(spark, dir, WriteMode.Raise).write(df3)
    assertThrows[IllegalStateException] {
      LakeWriter(spark, dir, WriteMode.Raise).write(df3)
    }
  }

  test("overwrite replaces, append accumulates") {
    val dir = TestSpark.tempDir("ow")
    LakeWriter(spark, dir, WriteMode.Append).write(df3)
    LakeWriter(spark, dir, WriteMode.Append).write(df3)
    assert(spark.read.parquet(dir).count() == 6)
    LakeWriter(spark, dir, WriteMode.Overwrite).write(df3)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("nearDupPairs emits the gate's own decisions: id_new = the " +
      "scored-out rows, id_existing = their lake matches") {
    val dir = TestSpark.tempDir("dndpairs")
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    LakeWriter(spark, dir, WriteMode.Overwrite).write(base)
    val batch = Seq(
      (2L, "one two three four five six seven eight nine ten"), // exact
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "completely different words about ships sailing the open sea")
    ).toDF("doc_id", "text")
    val writer = LakeWriter(spark, dir,
      WriteMode.DeltaNearDup(Seq("doc_id"), "text", threshold = 0.5))
    val pairs = writer.nearDupPairs(batch)
      .select("id_new", "id_existing").as[(Long, Long)].collect().toSet
    // doc 3 pairs with its lake match doc 1; the exact-key dup (2) is
    // handled by the key gate and never reaches scoring; 4 is novel
    assert(pairs == Set((3L, 1L)))
    // contract: pairs.id_new == exact-gate survivors the write drops
    val survivors = writer.planDelta(batch)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(4L))
    // an empty target scores nothing and returns an empty, well-formed
    // frame (the bootstrap batch of a stream)
    val fresh = LakeWriter(spark, TestSpark.tempDir("dndpairs2"),
      WriteMode.DeltaNearDup(Seq("doc_id"), "text", threshold = 0.5))
    val empty = fresh.nearDupPairs(batch)
    assert(empty.columns.toSeq ==
      Seq("id_new", "id_existing", "jaccard") && empty.count() == 0)
  }

  test("DeltaNearDup drops exact-key AND near-dup rows; replay is a no-op") {
    val dir = TestSpark.tempDir("dnd")
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    LakeWriter(spark, dir, WriteMode.Overwrite).write(base)
    val batch = Seq(
      // exact-key dup of doc 2 (dropped by the key anti-join)
      (2L, "one two three four five six seven eight nine ten"),
      // new key, near-dup of doc 1 (one token changed: 7 of 9 shingles
      // shared -> jaccard 7/11 ~ 0.64 >= 0.5 -> dropped by the gate)
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      // genuinely novel
      (4L, "completely different words about ships sailing the open sea")
    ).toDF("doc_id", "text")
    val writer = LakeWriter(spark, dir,
      WriteMode.DeltaNearDup(Seq("doc_id"), "text", threshold = 0.5))
    // audit hook: only the novel row survives both gates
    assert(writer.planDelta(batch).select("doc_id").as[Long].collect()
      .toSeq == Seq(4L))
    writer.write(batch)
    def ids() = spark.read.parquet(dir).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(ids() == Seq(1L, 2L, 4L))
    // replay: survivors now exist (exact gate), near-dups still near-dup
    // the same corpus rows -> nothing appended
    writer.write(batch)
    assert(ids() == Seq(1L, 2L, 4L))
    // a first write into an empty target ingests as-is (scorer is
    // ingest-vs-corpus, never batch-internal)
    val dir2 = TestSpark.tempDir("dnd2")
    LakeWriter(spark, dir2,
      WriteMode.DeltaNearDup(Seq("doc_id"), "text", threshold = 0.5))
      .write(batch)
    assert(spark.read.parquet(dir2).count() == 3)
  }

  test("DeltaDecontam screens against the benchmark path — even on a " +
      "first write — and replay is a no-op") {
    val bench = TestSpark.tempDir("ddc_bench")
    Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(bench)
    val dir = TestSpark.tempDir("ddc")
    val mode = WriteMode.DeltaDecontam(Seq("doc_id"), "text", bench,
      shingleN = 5)
    val batch = Seq(
      // leaks the benchmark 5-gram "beta gamma delta epsilon zeta"
      (1L, "prefix words beta gamma delta epsilon zeta suffix words"),
      // shares tokens but no 5-gram
      (2L, "alpha words beta words gamma words delta words epsilon"),
      (3L, "completely unrelated training document with other tokens here")
    ).toDF("doc_id", "text")
    // empty target: the benchmark screen still applies (unlike the
    // corpus-scored gates, the held-out set exists independently)
    LakeWriter(spark, dir, mode).write(batch)
    def ids() = spark.read.parquet(dir).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(ids() == Seq(2L, 3L))
    // replay: survivors die on the exact-key diff, the leak on the
    // screen again
    LakeWriter(spark, dir, mode).write(batch)
    assert(ids() == Seq(2L, 3L))
    // a new clean doc still flows through the established lake
    LakeWriter(spark, dir, mode).write(
      Seq((4L, "more novel clean words that overlap nothing held out"))
        .toDF("doc_id", "text"))
    assert(ids() == Seq(2L, 3L, 4L))
  }

  test("DeltaSemantic drops exact-key AND cosine near-dup embeddings") {
    val dir = TestSpark.tempDir("dsem")
    val base = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    LakeWriter(spark, dir, WriteMode.Overwrite).write(base)
    val batch = Seq(
      // exact-key dup of vec 2
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      // exactly parallel to vec 1 (cosine 1.0, identical SRP signs in
      // every table) -> dropped by the semantic gate
      (3L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
      // orthogonal to everything: novel even when co-bucketed
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val writer = LakeWriter(spark, dir,
      WriteMode.DeltaSemantic(Seq("vec_id"), "embedding", dim = 4,
        threshold = 0.9, nBits = 2, nTables = 2))
    assert(writer.planDelta(batch).select("vec_id").as[Long].collect()
      .toSeq == Seq(4L))
    writer.write(batch)
    def ids() = spark.read.parquet(dir).select("vec_id").as[Long]
      .collect().sorted.toSeq
    assert(ids() == Seq(1L, 2L, 4L))
    writer.write(batch) // replay: no-op
    assert(ids() == Seq(1L, 2L, 4L))
  }

  test("delta full-row writes only new rows; idempotent") {
    val dir = TestSpark.tempDir("delta")
    val delta = WriteMode.Delta()
    LakeWriter(spark, dir, delta).write(df3)
    assert(spark.read.parquet(dir).count() == 3)
    // second write of same data: nothing new -> still 3
    LakeWriter(spark, dir, delta).write(df3)
    assert(spark.read.parquet(dir).count() == 3)
    // overlapping batch: only id=4 is new
    LakeWriter(spark, dir, delta)
      .write(Seq((3, "c"), (4, "d")).toDF("id", "v"))
    val rows = spark.read.parquet(dir).as[(Int, String)].collect().sorted
    assert(rows.toSeq == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
  }

  test("delta on subset key skips rows whose key exists even if payload differs") {
    val dir = TestSpark.tempDir("deltak")
    val delta = WriteMode.Delta(subset = Seq("id"))
    LakeWriter(spark, dir, delta).write(df3)
    LakeWriter(spark, dir, delta)
      .write(Seq((3, "CHANGED"), (9, "z")).toDF("id", "v"))
    val byId = spark.read.parquet(dir).as[(Int, String)].collect().toMap
    assert(byId == Map(1 -> "a", 2 -> "b", 3 -> "c", 9 -> "z"))
  }

  test("delta is idempotent for NULL-bearing rows (null-safe anti-join)") {
    // DuckDB EXCEPT / polars is_in treat NULLs as equal: re-writing the
    // same NULL-keyed row must not duplicate it (r1 ADVICE).
    val dir = TestSpark.tempDir("deltanull")
    val withNulls = Seq[(Option[Int], String)](
      (Some(1), "a"), (None, "n")
    ).toDF("id", "v")
    LakeWriter(spark, dir, WriteMode.Delta()).write(withNulls)
    LakeWriter(spark, dir, WriteMode.Delta()).write(withNulls)
    assert(spark.read.parquet(dir).count() == 2)
    // subset-key variant, without the cast-to-string key normalization
    val dir2 = TestSpark.tempDir("deltanullk")
    val delta = WriteMode.Delta(subset = Seq("id"))
    LakeWriter(spark, dir2, delta).write(withNulls)
    LakeWriter(spark, dir2, delta)
      .write(Seq[(Option[Int], String)]((None, "CHANGED"), (Some(2), "b"))
        .toDF("id", "v"))
    val byId = spark.read.parquet(dir2).as[(Option[Int], String)]
      .collect().toMap
    assert(byId == Map(Some(1) -> "a", None -> "n", Some(2) -> "b"))
  }

  test("delta castKeysToString matches keys across physical int widths") {
    // the reference's cast-keys normalization (utils/table.py:159-181):
    // an int-typed existing key must match a long-typed incoming key
    val dir = TestSpark.tempDir("deltacast")
    Seq((1, "a"), (2, "b")).toDF("id", "v") // int id
      .write.mode("append").parquet(dir)
    val incoming = Seq((2L, "CHANGED"), (3L, "c")).toDF("id", "v") // long id
    LakeWriter(spark, dir,
      WriteMode.Delta(subset = Seq("id"), castKeysToString = true))
      .write(incoming)
    // plain mergeSchema cannot promote INT->BIGINT; the promotion-ladder
    // unified read is the library's own answer to that
    val byId = SchemaTools.readUnified(spark, dir)
      .select($"id".cast("long"), $"v").as[(Long, String)].collect().toMap
    assert(byId == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("delta bounded by timestamp window only diffs inside the window") {
    val dir = TestSpark.tempDir("deltats")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val existing = Seq(
      (1, t("2024-01-01 00:00:00")),
      (2, t("2024-01-02 00:00:00"))
    ).toDF("id", "ts")
    LakeWriter(spark, dir, WriteMode.Append).write(existing)
    // incoming window covers only 2024-01-02; id=2 dup is dropped, 5 kept
    val incoming = Seq(
      (2, t("2024-01-02 00:00:00")),
      (5, t("2024-01-02 06:00:00"))
    ).toDF("id", "ts")
    LakeWriter(spark, dir, WriteMode.Delta(onColumn = Some("ts")))
      .write(incoming)
    val ids = spark.read.parquet(dir).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(1, 2, 5))
  }

  test("delta onColumn prunes a partitioned target to the batch window") {
    // at scale this is the difference between scanning the whole target
    // and scanning only the affected date partitions
    val dir = TestSpark.tempDir("deltaprune")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val existing = Seq(
      (1, t("2024-01-01 00:00:00"), "2024-01-01"),
      (2, t("2024-02-01 00:00:00"), "2024-02-01"),
      (3, t("2024-03-01 00:00:00"), "2024-03-01")
    ).toDF("id", "ts", "day")
    LakeWriter(spark, dir, WriteMode.Append, partitionBy = Seq("day"))
      .write(existing)
    // incoming covers only Feb; the delta diff must not re-add id=2 and
    // must append id=5
    val incoming = Seq(
      (2, t("2024-02-01 00:00:00"), "2024-02-01"),
      (5, t("2024-02-15 00:00:00"), "2024-02-15")
    ).toDF("id", "ts", "day")
    LakeWriter(spark, dir,
      WriteMode.Delta(subset = Seq("id"), onColumn = Some("ts")),
      partitionBy = Seq("day")).write(incoming)
    val ids = spark.read.parquet(dir).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(1, 2, 3, 5))
  }

  test("delta maintains a trusted _keys sidecar; the next diff scans " +
      "it instead of the data files") {
    val dir = TestSpark.tempDir("sidecar")
    val delta = WriteMode.Delta(subset = Seq("id"))
    LakeWriter(spark, dir, delta).write(df3)
    val w = LakeWriter(spark, dir, delta)
    assert(w.keySidecar.trusted, "first delta write must establish the sidecar")
    val plan = w.planDelta(Seq((3, "x"), (4, "d")).toDF("id", "v"))
      .queryExecution.executedPlan.toString
    // the only file scan in the diff plan is the sidecar — the per-batch
    // existing-side cost is O(distinct keys), not O(lake)
    assert(plan.contains("_keys"),
      s"diff should read the key sidecar:\n$plan")
    val fileScans = "FileScan parquet".r.findAllIn(plan).length
    assert(fileScans == 1,
      s"expected exactly the sidecar scan, got $fileScans:\n$plan")
    // correctness unchanged: only id=4 is new
    w.write(Seq((3, "x"), (4, "d")).toDF("id", "v"))
    val byId = spark.read.parquet(dir).as[(Int, String)].collect().toMap
    assert(byId == Map(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"))
    // replay of the same batch is still a no-op through the sidecar
    w.write(Seq((3, "x"), (4, "d")).toDF("id", "v"))
    assert(spark.read.parquet(dir).count() == 4)
    assert(w.keySidecar.trusted)
  }

  test("shingle sidecar: later near-dup gates plan ZERO data-file " +
      "scans — exact diff reads _keys, the scorer reads _shingles") {
    val dir = TestSpark.tempDir("shingle_sc")
    val gate = WriteMode.DeltaNearDup(Seq("id"), "txt", threshold = 0.2)
    val b1 = Seq((1, "alpha beta gamma delta eps"),
      (2, "one two three four five six")).toDF("id", "txt")
    LakeWriter(spark, dir, gate).write(b1) // establishes the lake
    val w = LakeWriter(spark, dir, gate)
    LakeWriter(spark, dir, gate)
      .write(Seq((3, "seven eight nine ten eleven")).toDF("id", "txt"))
    assert(w.shingleSidecar.trusted,
      "scored write must establish the shingle index")
    // The gate pins its batch-sized frames (localCheckpoint), so the
    // exact-diff pre-pass executes DURING planDelta — capture every
    // executed plan via the listener (the pin runs through withAction)
    // and audit the UNION of pre-pass plans + the returned plan: the
    // scan-location contract must hold across all of them.
    val plansQ = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        { plansQ.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val all: Seq[String] =
      try {
        val returned = w.planDelta(
            Seq((4, "alpha beta gamma delta zzz")).toDF("id", "txt"))
          .queryExecution.executedPlan.toString
        // the listener fires asynchronously on the bus — poll until
        // the pinned pre-pass (the plan reading _keys) is delivered
        def captured() = plansQ.toArray(Array.empty[String]).toSeq
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (!captured().exists(_.contains("_keys")) &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
        returned +: captured()
      } finally spark.listenerManager.unregister(listener)
    assert(all.exists(_.contains("_shingles")),
      s"scorer should read the shingle sidecar:\n${all.mkString("\n---\n")}")
    assert(all.exists(_.contains("_keys")),
      s"exact diff should read the key sidecar:\n${all.mkString("\n---\n")}")
    // every file scan ANYWHERE in the gate's work is a sidecar scan —
    // the corpus text is not re-read
    val locs = all.flatMap(p => "Location: [^\\n]+".r.findAllIn(p).toSeq)
    assert(locs.nonEmpty &&
      locs.forall(l => l.contains("_keys") || l.contains("_shingles")),
      s"expected only sidecar scans, got:\n${locs.mkString("\n")}")
    // and the gate still scores correctly through the index: id=4 is a
    // 4-of-6-shingle near-dup of id=1 (jaccard 0.5 >= 0.2) -> dropped
    w.write(Seq((4, "alpha beta gamma delta zzz"),
      (5, "totally different words here now")).toDF("id", "txt"))
    val ids = spark.read.parquet(dir).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(1, 2, 3, 5))
    assert(w.shingleSidecar.trusted)
  }

  test("a write CRASHED between data landing and sidecar update forces " +
      "a rebuild — the next write never blind-appends over the gap") {
    val dir = TestSpark.tempDir("sidecar_crash")
    val delta = WriteMode.Delta(subset = Seq("id"))
    LakeWriter(spark, dir, delta).write(df3)
    assert(LakeWriter(spark, dir, delta).keySidecar.trusted)
    // simulate the crash window of a delta write of id=4: dirty marker
    // dropped, data files landed, update never ran
    LakeWriter(spark, dir, delta).keySidecar.markDirty()
    Seq((4, "d")).toDF("id", "v").write.mode("append").parquet(dir)
    // next delta write must REBUILD the sidecar from the dataset (id=4
    // included) — appending only its own keys would seal the gap in
    val w = LakeWriter(spark, dir, delta)
    w.write(Seq((5, "e")).toDF("id", "v"))
    assert(w.keySidecar.trusted)
    // replaying the crashed batch must be a no-op through the sidecar
    w.write(Seq((4, "d")).toDF("id", "v"))
    assert(spark.read.parquet(dir).count() == 5,
      "crashed write's key must be in the rebuilt sidecar")
  }

  test("non-near-dup writes invalidate the shingle sidecar (their text " +
      "is never recorded)") {
    val dir = TestSpark.tempDir("shingle_inv")
    val gate = WriteMode.DeltaNearDup(Seq("id"), "txt")
    LakeWriter(spark, dir, gate)
      .write(Seq((1, "alpha beta gamma delta")).toDF("id", "txt"))
    LakeWriter(spark, dir, gate)
      .write(Seq((2, "one two three four")).toDF("id", "txt"))
    val w = LakeWriter(spark, dir, gate)
    assert(w.shingleSidecar.trusted)
    // a plain Delta append bypasses shingle maintenance -> must drop it
    LakeWriter(spark, dir, WriteMode.Delta(Seq("id")))
      .write(Seq((3, "five six seven eight")).toDF("id", "txt"))
    assert(!w.shingleSidecar.trusted,
      "plain delta must invalidate the shingle index")
    // the next scored write falls back to text, stays correct, rebuilds
    w.write(Seq((3, "five six seven eight"),
      (4, "nine ten eleven twelve")).toDF("id", "txt"))
    assert(spark.read.parquet(dir).select("id").as[Int].collect().sorted
      .toSeq == Seq(1, 2, 3, 4))
    assert(w.shingleSidecar.trusted)
  }

  test("non-delta writes invalidate the sidecar; a dirty sidecar falls " +
      "back to the full scan and is rebuilt by the next delta") {
    val dir = TestSpark.tempDir("sidecar_inv")
    val delta = WriteMode.Delta(subset = Seq("id"))
    LakeWriter(spark, dir, delta).write(df3)
    assert(LakeWriter(spark, dir, delta).keySidecar.trusted)
    // append bypassing the delta gate: the sidecar no longer covers the
    // data, so it must be gone
    LakeWriter(spark, dir, WriteMode.Append)
      .write(Seq((7, "g")).toDF("id", "v"))
    assert(!LakeWriter(spark, dir, delta).keySidecar.trusted)
    // next delta is still correct (full-scan fallback: id=7 exists even
    // though no sidecar recorded it) and re-establishes the sidecar
    val w = LakeWriter(spark, dir, delta)
    val plan = w.planDelta(Seq((7, "G"), (8, "h")).toDF("id", "v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("_keys"),
      s"dirty sidecar must not be read:\n$plan")
    w.write(Seq((7, "G"), (8, "h")).toDF("id", "v"))
    val ids = spark.read.parquet(dir).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(1, 2, 3, 7, 8))
    assert(w.keySidecar.trusted, "delta write must rebuild the sidecar")
    // crash simulation: a dirty marker alone (manifest removed) also
    // forces fallback, then trust is restored by the next write
    w.keySidecar.markDirty()
    assert(!w.keySidecar.trusted)
    w.write(Seq((9, "i")).toDF("id", "v"))
    assert(w.keySidecar.trusted)
    assert(spark.read.parquet(dir).count() == 6)
  }

  test("sidecar covers the scored gates' exact diff and the onColumn " +
      "window bound") {
    val dir = TestSpark.tempDir("sidecar_sc")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val mode = WriteMode.Delta(subset = Seq("id"), onColumn = Some("ts"))
    LakeWriter(spark, dir, mode).write(Seq(
      (1, t("2024-01-01 00:00:00"), "a"),
      (2, t("2024-01-02 00:00:00"), "b")).toDF("id", "ts", "v"))
    val w = LakeWriter(spark, dir, mode)
    assert(w.keySidecar.trusted)
    // the sidecar stores ts alongside id, so the window bound applies
    // to it: dup id=2 inside the window dropped, id=5 appended
    w.write(Seq(
      (2, t("2024-01-02 00:00:00"), "B"),
      (5, t("2024-01-02 06:00:00"), "e")).toDF("id", "ts", "v"))
    val ids = spark.read.parquet(dir).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(1, 2, 5))
    // near-dup gate: exact part reads the sidecar, scoring reads data
    val dir2 = TestSpark.tempDir("sidecar_dnd")
    val dnd = WriteMode.DeltaNearDup(Seq("doc_id"), "text", threshold = 0.5)
    LakeWriter(spark, dir2, dnd).write(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text"))
    val w2 = LakeWriter(spark, dir2, dnd)
    assert(w2.keySidecar.trusted)
    // the pinned exact-diff pre-pass carries the _keys scan — capture
    // executed plans like the shingle-sidecar test above
    val plansQ2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener2 = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        { plansQ2.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener2)
    val all2: Seq[String] =
      try {
        val returned = w2.planDelta(Seq(
          (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
          (4L, "completely different words about ships sailing the open sea"))
          .toDF("doc_id", "text")).queryExecution.executedPlan.toString
        def captured() = plansQ2.toArray(Array.empty[String]).toSeq
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (!captured().exists(_.contains("_keys")) &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
        returned +: captured()
      } finally spark.listenerManager.unregister(listener2)
    assert(all2.exists(_.contains("_keys")),
      s"scored gate's exact diff should read the sidecar:\n" +
        all2.mkString("\n---\n"))
    w2.write(Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "completely different words about ships sailing the open sea"))
      .toDF("doc_id", "text"))
    val docs = spark.read.parquet(dir2).select("doc_id").as[Long]
      .collect().sorted
    assert(docs.toSeq == Seq(1L, 4L)) // 3 is a near-dup of 1
  }

  test("a key sidecar holding a duplicated key still yields exactly " +
      "the new rows") {
    val dir = TestSpark.tempDir("sidecar_dup")
    val delta = WriteMode.Delta(subset = Seq("id"))
    LakeWriter(spark, dir, delta).write(df3)
    val w = LakeWriter(spark, dir, delta)
    // a second copy of key 2 lands beside the sidecar's own part file;
    // the trust marker stays, so the next diff serves the sidecar as is
    Seq(2, 2).toDF("id").write.mode("append").parquet(s"$dir/_keys")
    assert(w.keySidecar.trusted)
    w.write(Seq((2, "x"), (4, "d"), (5, "e")).toDF("id", "v"))
    val byId = spark.read.parquet(dir).as[(Int, String)].collect()
    assert(byId.sorted.toSeq ==
      Seq(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e"))
  }

  test("sidecar compaction folds per-batch key files to a bounded count") {
    val dir = TestSpark.tempDir("sidecar_cp")
    val delta = WriteMode.Delta(subset = Seq("id"))
    // several delta batches -> one sidecar part file each
    (0 until 5).foreach { i =>
      LakeWriter(spark, dir, delta)
        .write(Seq((i, s"v$i")).toDF("id", "v"))
    }
    val w = LakeWriter(spark, dir, delta)
    val sidecarDir = new java.io.File(dir, "_keys")
    def parts() = sidecarDir.listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(parts() >= 4, s"expected per-batch key files, got ${parts()}")
    // out-of-band compaction pass with a tight threshold
    w.keySidecar.update(delta, Nil, compactAfter = 1)
    assert(parts() <= 1 + 1, s"compaction should fold files, got ${parts()}")
    assert(w.keySidecar.trusted)
    // keys survived intact: replaying every batch appends nothing
    (0 until 5).foreach { i =>
      LakeWriter(spark, dir, delta)
        .write(Seq((i, s"v$i")).toDF("id", "v"))
    }
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("streaming foreachBatch delta: replayed delivery stays exactly-" +
      "once and batches after the first diff through the sidecar") {
    val lake = TestSpark.tempDir("sidecar_stream")
    val src = TestSpark.tempDir("sidecar_stream_src")
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    rows.write.parquet(s"$src/b1")
    rows.write.parquet(s"$src/b2") // full duplicate delivery
    val sch = spark.read.parquet(s"$src/b1").schema
    var sidecarTrustedMidStream = false
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/b*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val w = LakeWriter(spark, lake, WriteMode.Delta(Seq("doc_id")))
        if (id > 0) sidecarTrustedMidStream |= w.keySidecar.trusted
        w.write(batch.dropDuplicates(Seq("doc_id")))
      }
      .option("checkpointLocation", s"$src/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(lake).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(sidecarTrustedMidStream,
      "batches after the first must find a trusted sidecar — the " +
        "bounded per-batch existing-side scan")
    assert(LakeWriter(spark, lake, WriteMode.Delta(Seq("doc_id")))
      .keySidecar.trusted)
  }

  test("delta anti-join broadcasts a small existing-keys side") {
    val dir = TestSpark.tempDir("deltabc")
    LakeWriter(spark, dir, WriteMode.Append).write(df3)
    val w = LakeWriter(spark, dir, WriteMode.Delta(subset = Seq("id")))
    val plan = w.planDelta(Seq((3, "c"), (4, "d")).toDF("id", "v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small target keys side must broadcast:\n$plan")
    // and the full-row branch too
    val w2 = LakeWriter(spark, dir, WriteMode.Delta())
    val plan2 = w2.planDelta(df3).queryExecution.executedPlan.toString
    assert(plan2.contains("BroadcastHashJoin"),
      s"small target full-row side must broadcast:\n$plan2")
    // planDelta on a non-delta writer is a contract violation
    assertThrows[IllegalStateException] {
      LakeWriter(spark, dir, WriteMode.Append).planDelta(df3)
    }
  }

  test("hive-partitioned write round-trips with partition pruning") {
    val dir = TestSpark.tempDir("part")
    val df = Seq((1, "x", "p1"), (2, "y", "p2"), (3, "z", "p1"))
      .toDF("id", "v", "p")
    LakeWriter(spark, dir, WriteMode.Overwrite, partitionBy = Seq("p"))
      .write(df)
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    val pruned = back.filter($"p" === "p1")
    assert(pruned.count() == 2)
    // partition pruning visible in the plan: only p=p1 in PartitionFilters
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("pipeline + transform hooks run before write") {
    val dir = TestSpark.tempDir("hook")
    LakeWriter(
      spark, dir, WriteMode.Overwrite,
      pipeline = Pipeline().drop("v"),
      transform = _.withColumn("doubled",
        org.apache.spark.sql.functions.col("id") * 2)
    ).write(df3)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq.sorted == Seq("doubled", "id"))
  }

  test("writeBatched splits by time interval, write-mode applied per window") {
    val dir = TestSpark.tempDir("batched")
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1, t("2024-01-01 00:00:00")),
      (2, t("2024-01-15 00:00:00")),
      (3, t("2024-02-10 00:00:00"))
    ).toDF("id", "ts")
    LakeWriter(spark, dir, WriteMode.Append).writeBatched(df, "ts", "1 month")
    val ids = spark.read.parquet(dir).select("id").as[Int].collect().sorted
    assert(ids.toSeq == Seq(1, 2, 3))
  }

  test("delta under schema drift: both sides conform to the promoted " +
      "union before the anti-join; replay stays a no-op") {
    val dir = TestSpark.tempDir("drift")
    // target: (id int, v string)
    LakeWriter(spark, dir, WriteMode.Overwrite).write(
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // drifted batch: id widened to long, v dropped, extra double column
    val batch = Seq((2L, 0.5), (3L, 1.5)).toDF("id", "x")
    val w = LakeWriter(spark, dir, WriteMode.Delta(Seq("id")))
    // audit: key 2 dropped despite the int-vs-long key types (promoted
    // before the join); survivor carries the unified column set
    val plan = w.planDelta(batch)
    assert(plan.columns.toSeq == Seq("id", "v", "x"))
    assert(plan.select("id").as[Long].collect().toSeq == Seq(3L))
    w.write(batch)
    val back = SchemaTools.readUnified(spark, dir).orderBy("id")
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "v" -> "string", "x" -> "double"))
    assert(back.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)), Option(r.get(2)))).toSeq ==
      Seq((1L, Some("a"), None), (2L, Some("b"), None),
        (3L, None, Some(1.5))))
    // the drift write dropped the key sidecar (types promoted under it)
    assert(!w.keySidecar.trusted)
    // marker now records the unified schema -> the replay's drift check
    // is O(1) and the replay appends nothing
    assert(SchemaTools.readSchemaMarker(spark, dir)
      .map(_.map(f => f.name -> f.dataType.simpleString)) ==
      Some(Seq("id" -> "bigint", "v" -> "string", "x" -> "double")))
    w.write(batch)
    assert(SchemaTools.readUnified(spark, dir).count() == 3)
    // a matching-schema batch after the drift write takes the fast path
    // and still diffs correctly against the heterogeneous files
    LakeWriter(spark, dir, WriteMode.Delta(Seq("id"))).write(
      Seq((3L, Option.empty[String], Option.empty[Double]),
        (4L, Some("d"), Some(2.5))).toDF("id", "v", "x"))
    assert(SchemaTools.readUnified(spark, dir).count() == 4)
  }

  test("a time-banded delta append span-serves the existing-side scan: " +
      "with a trusted _stats manifest it lists a strict subset of the " +
      "target's files; the diff itself is unchanged") {
    import org.apache.spark.sql.functions.{col, expr, lit, to_timestamp}
    val dir = TestSpark.tempDir("lw_tsband") + "/ds"
    // 8 files, each a contiguous ~day band
    val base = spark.range(800).select(col("id"),
      to_timestamp(lit("2024-06-01 00:00:00"))
        .plus(expr("make_interval(0,0,0,0,0,0, id * 108)")).as("ts"))
    LakeWriter(spark, dir, WriteMode.Overwrite, maxRecordsPerFile = 100)
      .write(base.orderBy("ts"))
    FileStats.build(spark, dir)
    val nFiles = SchemaTools.listDataFiles(spark, dir).size
    assert(nFiles >= 6, s"need a multi-file layout: $nFiles")
    // the batch: half replayed rows from one band + new rows inside
    // the same window
    val batch = base.filter(col("id").between(300, 340))
      .unionByName(spark.range(10000, 10005).select(col("id"),
        to_timestamp(lit("2024-06-01 10:00:00")).as("ts")))
    val w = LakeWriter(spark, dir,
      WriteMode.Delta(Seq("id"), onColumn = Some("ts")))
    val plan = w.planDelta(batch)
    val targetScanned = plan.queryExecution.sparkPlan.collectLeaves()
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.contains("lw_tsband")) =>
          f.selectedPartitions.totalNumberOfFiles
      }
    assert(targetScanned.nonEmpty && targetScanned.forall(_ < nFiles),
      s"existing side must scan a strict subset: $targetScanned " +
        s"of $nFiles")
    // and the diff is still exact: replayed rows drop, new rows land
    assert(plan.select("id").as[Long].collect().sorted.toSeq ==
      (10000L to 10004L))
    w.write(batch)
    assert(spark.read.parquet(dir).count() == 805)
  }
}
