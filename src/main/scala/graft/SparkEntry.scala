package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.lake.{AnnIndex, ArrowIpc, CommitLog, Compact, DynamicPruning, Expectations, FileStats, HiddenPartitions, LakeManager, LakeReader, LakeWriter, Pipeline, Repartition, RowOps, SchemaTools, SortSpec, TextIndex, TimeFly, WriteMode}
import graft.operators.{Dedup, Multimodal, Pack, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query has a DuckDB oracle. Determinism discipline (so hashes
  * match bit-exactly):
  *  - inexact double aggregates go through exact DECIMAL arithmetic with
  *    identical casts on both sides, and every *final* DECIMAL is cast to
  *    DOUBLE: r1 showed the driver canonicalizes DECIMAL outputs
  *    differently per engine (pyarrow keeps Decimal objects, DuckDB's
  *    pandas export yields float64), so q01/q03/q13/q17/q18/q20/q21
  *    hash-mismatched on identical values. The decimal→double conversion
  *    of an exact value < 2^53/scale is correctly rounded in both engines;
  *  - ratios are a single IEEE division over exact operands;
  *  - vector math is a left fold in double on both sides (Spark
  *    `aggregate` == DuckDB `list_reduce`);
  *  - every result has a total ORDER BY.
  */
object SparkEntry {

  // ---- helpers -------------------------------------------------------------

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** exact decimal images of the 2-dec double columns */
  private def dec12(c: Column) = c.cast("decimal(12,2)")
  private def dec3(c: Column) = c.cast("decimal(3,2)")

  /** unique memory-sink names for re-runs within one session (q35) */
  private val streamEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fresh scratch dir for queries that exercise the write path (q34,
    * q36-q40): deterministic per (query, sf dir), deleted up front so
    * repeated runs are idempotent. */
  private def scratch(s: SparkSession, q: String, d: String): String = {
    val tmp = s"/tmp/graft_${q}_${math.abs(d.hashCode)}"
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    tmp
  }

  /** Scanned-file count AFTER partition pruning: FileSourceScanExec's
    * selected listing, off the pre-AQE physical plan (the scan's file
    * index is final at that point; AQE wrapping would hide the leaves). */
  private def scannedFiles(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles
    }.sum

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---- queries -------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // S1 scan + A-aggs + O1 sort: pricing summary (decimal-exact)
    "q01_pricing_summary" -> ((s, d) => {
      li(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec12(col("l_extendedprice"))).cast("double")
            .as("sum_base_price"),
          sum(dec12(col("l_extendedprice")) *
            (lit(1).cast("decimal(3,2)") - dec3(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec12(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(dec12(col("l_extendedprice"))).cast("double") / count(lit(1)))
            .as("avg_price"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P2/P4: projection + predicate (pushed to parquet scan)
    "q02_filter_project" -> ((s, d) => {
      li(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // joins + agg + top-n (TakeOrderedAndProject)
    "q03_join_revenue_topn" -> ((s, d) => {
      cust(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(ord(s, d), col("c_custkey") === col("o_custkey"))
        .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
          sum(dec12(col("l_extendedprice")) *
            (lit(1).cast("decimal(3,2)") - dec3(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // O1: multi-column sort with per-column direction (engine Pipeline)
    "q04_multi_sort" -> ((s, d) => {
      Pipeline()
        .sortBy(Seq("c_nationkey", "c_acctbal", "c_custkey"),
          Seq(true, false, true))(
          cust(s, d).select("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
    }),

    // top-k
    "q05_topk" -> ((s, d) => {
      ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    // O4 completed (r4): LIMIT + OFFSET pagination via Spark's native
    // Dataset.offset — the reference's rel.limit(n, offset=k). Offset
    // pagination stays an anti-pattern for BATCHING at scale (K7's
    // maxRecordsPerFile replaces that use), but as a query operator the
    // semantics are exact and ordered
    "q69_limit_offset" -> ((s, d) => {
      cust(s, d)
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"))
        .orderBy("c_custkey")
        .offset(100)
        .limit(50)
        .orderBy("c_custkey")
    }),

    // FLAGSHIP lake+pipeline composition: near-dup-aware delta ingest —
    // "don't ingest what the lake already effectively has". Existing
    // lake = docs with doc_id % 4 != 0; incoming batch = even doc_ids:
    // ids ≡ 2 (mod 4) are exact-key dups (dropped by the delta
    // anti-join), ids ≡ 0 (mod 4) are new keys whose text may still
    // near-dup an existing doc (dropped by the Jaccard gate, threshold
    // 0.2 like d15). Re-read of the lake = base + genuinely novel rows.
    "q70_delta_neardup" -> ((s, d) => {
      val root = scratch(s, "q70", d)
      val all = docs(s, d)
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(all.filter(pmod(col("doc_id"), lit(4L)) =!= 0L))
      LakeWriter(s, root,
          WriteMode.DeltaNearDup(Seq("doc_id"), "text", threshold = 0.2))
        .write(all.filter(pmod(col("doc_id"), lit(2L)) === 0L))
      s.read.parquet(root)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // CONTINUOUS near-dup ingest off standing indexes: three
    // DeltaNearDup batches into one lake. The first write bootstraps
    // the `_keys` AND `_shingles` sidecars; the later writes' gates run
    // entirely off them — exact diff reads keys, the scorer reads
    // stored shingles with the corpus row count from index metadata —
    // so the lake's TEXT is read exactly once per row across the whole
    // ingest history (when its write appends its shingles). The oracle
    // replays all three gates stage by stage, each scored against the
    // lake state its batch actually saw — which is exactly the
    // "index-served == from-text" equality, hash-checked
    "q81_continuous_neardup" -> ((s, d) => {
      val root = scratch(s, "q81", d)
      val all = docs(s, d)
      val gate = WriteMode.DeltaNearDup(Seq("doc_id"), "text",
        threshold = 0.2)
      def m5(r: Long*) = pmod(col("doc_id"), lit(5L)).isin(r: _*)
      LakeWriter(s, root, WriteMode.Overwrite).write(all.filter(m5(1, 2)))
      LakeWriter(s, root, gate).write(all.filter(m5(0, 1)))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
          root, "_shingles/_manifest.json")),
        "first scored write must bootstrap the shingle index")
      LakeWriter(s, root, gate).write(all.filter(m5(2, 3)))
      LakeWriter(s, root, gate).write(all.filter(m5(4)))
      s.read.parquet(root)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // materialized training shards: the d21 packing layout written as a
    // hive-partitioned lake (4 context windows per shard) and re-read —
    // a training job then reads only its shard's partition directories
    // (partition pruning asserted in PlanSpec). Shard assignment is the
    // deterministic prefix-sum arithmetic, so the whole layout is
    // oracle-verified including the partition column round-trip
    "q75_pack_shards" -> ((s, d) => {
      val root = scratch(s, "q75", d)
      val packed = docs(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long")
            .as("n_tokens"),
          TextFunctions.charFold(col("text"), 131).as("h"))
        .transform(Pack.packChunks(_, "doc_id", "n_tokens", "h",
          window = 256))
        // 32 context windows per shard: shards must be COARSE — each
        // hive partition dir costs a committer round-trip and a file
        // footer, so shard count tracks cluster write parallelism, not
        // window count (244 one-window shards measured 4.5 s of pure
        // per-directory overhead at sf0.1; 31 shards ≈ 1 s)
        .withColumn("shard", expr("first_chunk div 32"))
        // co-locate each shard's rows before the partitioned write: one
        // writer per shard directory instead of tasks × shards files
        .repartition(col("shard"))
      LakeWriter(s, root, WriteMode.Overwrite,
        partitionBy = Seq("shard")).write(packed)
      s.read.parquet(root)
        .select(col("doc_id"), col("n_tokens"), col("h"),
          col("start_off"), col("first_chunk"), col("last_chunk"),
          col("n_chunks"), col("shard").cast("long").as("shard"))
        .orderBy("doc_id")
    }),

    // the leakage flavor of the ingest gates (q70 exact+near-dup, q71
    // semantic): a benchmark dataset parks at its own path, and the
    // delta write drops incoming docs sharing ANY 5-gram with it —
    // replays die on the exact-key diff, contaminated new docs on the
    // broadcast decontamination screen. doc 413 is the planted new-side
    // leak at sf0.01
    "q74_delta_decontam" -> ((s, d) => {
      val root = scratch(s, "q74", d)
      val bench = scratch(s, "q74bench", d)
      val all = docs(s, d)
      all.filter(col("doc_id") % 20 === 7)
        .write.mode("overwrite").parquet(bench)
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(all.filter(col("doc_id") % 20 =!= 7 && col("doc_id") < 250))
      LakeWriter(s, root,
          WriteMode.DeltaDecontam(Seq("doc_id"), "text", bench,
            shingleN = 5))
        .write(all.filter(col("doc_id") % 20 =!= 7))
      s.read.parquet(root)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // the semantic (embedding-space) flavor of q70: existing lake =
    // vec_id % 4 != 0; batch = even ids — ids ≡ 2 (mod 4) are exact-key
    // dups, ids ≡ 0 (mod 4) are dropped iff their embedding cosines
    // >= 0.4 against ANY existing vector (SRP candidates, exact scoring)
    "q71_delta_semantic" -> ((s, d) => {
      val root = scratch(s, "q71", d)
      val e = emb(s, d)
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(e.filter(pmod(col("vec_id"), lit(4L)) =!= 0L))
      LakeWriter(s, root,
          WriteMode.DeltaSemantic(Seq("vec_id"), "embedding", dim = 64,
            threshold = 0.4))
        .write(e.filter(pmod(col("vec_id"), lit(2L)) === 0L))
      s.read.parquet(root)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .orderBy("vec_id")
    }),

    // Delta ingest under SCHEMA DRIFT (the reference's enforce-on-write,
    // writer.py:529-571, composed INTO the delta path): batch 1 carries
    // (o_orderkey, o_custkey::int, o_totalprice); batch 2 drifts — it
    // adds o_orderdate and widens o_custkey to bigint. The write unifies
    // both sides on the K10 promotion ladder BEFORE the anti-join,
    // appends the conformed batch, and the now-heterogeneous-on-disk
    // dataset reads back through readUnified: batch-1 rows null-filled
    // on o_orderdate and promoted on o_custkey, keys %4=1 dropped as
    // exact dups, %4=2 appended with the drifted columns intact
    "q77_delta_schema_drift" -> ((s, d) => {
      val root = scratch(s, "q77", d)
      val o = ord(s, d)
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(o.filter(pmod(col("o_orderkey"), lit(4L)) < 2L)
          .select(col("o_orderkey"),
            col("o_custkey").cast("int").as("o_custkey"),
            col("o_totalprice")))
      LakeWriter(s, root, WriteMode.Delta(Seq("o_orderkey")))
        .write(o.filter(pmod(col("o_orderkey"), lit(4L)).isin(1L, 2L))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("o_totalprice")))
      SchemaTools.readUnified(s, root)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // small-file compaction (the operational follow-up to every delta
    // append): a write fragmented by maxRecordsPerFile bin-packs to
    // ceil(bytes/target) files — here one file — and the content is a
    // multiset no-op, which is exactly what the oracle hash checks. The
    // file-count collapse is asserted in-query; CompactSpec covers the
    // per-partition ceil arithmetic, skip-if-right-sized, and drift-heal
    "q78_compact" -> ((s, d) => {
      val root = scratch(s, "q78", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // fragment into ~20 files at ANY scale factor: fragmentation is
      // the fixture, so it must not scale with the table (500-row files
      // at sf0.1 made the fixture write + compact sweep the cost, not
      // the operator)
      val per = math.max(src.count() / 20L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src)
      val before = SchemaTools.listDataFiles(s, root).size
      val stats = Compact.run(s, root, targetBytes = 512L << 20)
      assert(before > 1 && stats.filesAfter == 1,
        s"expected a many->1 collapse, got $before -> ${stats.filesAfter}")
      s.read.parquet(root).orderBy("o_orderkey")
    }),

    // Z-ORDER rewrite (OPTIMIZE ... ZORDER BY): a linear-sorted layout
    // skips only on its leading column — each o_orderkey-sliced file
    // spans nearly the full o_custkey range. Re-clustering along the
    // (o_custkey, o_totalprice) Morton curve narrows BOTH columns'
    // per-file min/max spans (asserted in-query, generously), which is
    // what parquet row-group stats prune on. Content is a multiset
    // no-op — exactly what the oracle hash checks
    "q79_zorder" -> ((s, d) => {
      val root = scratch(s, "q79", d)
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 16L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      // avg per-file width of `c` as a fraction of its full range
      def spanFrac(c: String): Double = {
        val w = s.read.parquet(root)
          .groupBy(input_file_name().as("__f"))
          .agg((max(col(c)) - min(col(c))).cast("double").as("w"))
          .agg(avg("w")).head().getDouble(0)
        val full = src.agg((max(col(c)) - min(col(c))).cast("double"))
          .head().getDouble(0)
        w / full
      }
      val before = spanFrac("o_custkey")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val total = SchemaTools.listDataFiles(s, root)
        .map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen)
        .sum
      Compact.run(s, root, targetBytes = math.max(1L, total / 16),
        zorderBy = Seq("o_custkey", "o_totalprice"))
      val after = spanFrac("o_custkey")
      assert(after < before * 0.8,
        s"z-order must narrow per-file o_custkey spans: $before -> $after")
      s.read.parquet(root).orderBy("o_orderkey")
    }),

    // file skipping off the stats manifest — the READER-side payoff of
    // q79's z-order: fragment, z-order on (o_custkey, o_totalprice),
    // build `_stats` (per-file min/max spans), then a narrow o_custkey
    // range read plans ONLY the files whose span intersects it — the
    // file-listing layer Delta/Iceberg keep in their logs, above
    // parquet's in-file row-group pruning. Skipping is asserted
    // in-query (most files pruned); the result is the plain range
    // predicate — exactly what the oracle states
    "q82_stats_skipping" -> ((s, d) => {
      val root = scratch(s, "q82", d)
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 16L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val total = SchemaTools.listDataFiles(s, root)
        .map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen)
        .sum
      Compact.run(s, root, targetBytes = math.max(1L, total / 16),
        zorderBy = Seq("o_custkey", "o_totalprice"))
      FileStats.build(s, root)
      // ~1/15 of the key range at ANY scale factor (the oracle derives
      // the same bound from max(o_custkey))
      val hi = math.floor(
        src.agg(max(col("o_custkey"))).head().getLong(0) / 15.0)
      val nFiles = SchemaTools.listDataFiles(s, root).size
      val cand = FileStats.candidateFiles(s, root, "o_custkey",
        lo = 1.0, hi = hi).get
      assert(cand.nonEmpty && cand.size * 2 <= nFiles,
        s"z-order + stats should prune most files: ${cand.size}/$nFiles")
      FileStats.readRange(s, root, "o_custkey", 1.0, hi)
        .orderBy("o_orderkey")
    }),

    // DECLARATIVE file skipping (the reader-integrated q82): a user
    // writing plain `LakeReader(path).filter(...)` gets the `_stats`
    // pruning without calling readRange — load() extracts the filter's
    // range conjuncts and rebuilds the scan over span-intersecting
    // files only, residual filter re-applied. In-query assertions are
    // the operator contract: (a) EACH z column prunes the listing on
    // its own — the second axis (o_totalprice) is the multi-column
    // z-order pitch, q82 only probed the first; (b) the two-column
    // conjunction reads at most the intersection (df.inputFiles IS the
    // pruned file index); (c) a distrusted manifest falls back to the
    // full listing with identical rows — stale stats cost pruning,
    // never correctness
    "q83_reader_skipping" -> ((s, d) => {
      val root = scratch(s, "q83", d)
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 16L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val total = SchemaTools.listDataFiles(s, root)
        .map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen)
        .sum
      Compact.run(s, root, targetBytes = math.max(1L, total / 16),
        zorderBy = Seq("o_custkey", "o_totalprice"))
      FileStats.build(s, root)
      val b = src.agg(max(col("o_custkey")), min(col("o_totalprice")),
        max(col("o_totalprice"))).head()
      val hiCust = math.floor(b.getLong(0) / 15.0).toLong
      // exactly-representable arithmetic (min/max exact, /8 a power of
      // two) so the oracle derives the identical literal
      val hiPrice = math.floor(
        b.getDouble(1) + (b.getDouble(2) - b.getDouble(1)) / 8.0)
      val nFiles = SchemaTools.listDataFiles(s, root).size
      val candC = FileStats.candidateFiles(s, root, "o_custkey",
        1.0, hiCust.toDouble).get.size
      val candP = FileStats.candidateFiles(s, root, "o_totalprice",
        Double.NegativeInfinity, hiPrice).get.size
      assert(candC > 0 && candC * 2 <= nFiles,
        s"custkey axis must prune alone: $candC/$nFiles")
      assert(candP > 0 && candP * 2 <= nFiles,
        s"totalprice axis must prune alone: $candP/$nFiles")
      val pred =
        s"o_custkey BETWEEN 1 AND $hiCust AND o_totalprice <= $hiPrice"
      val got = LakeReader(s, root).filter(pred).load()
      val readN = got.inputFiles.length
      assert(readN < nFiles && readN <= math.min(candC, candP),
        s"conjunction must read the intersection: $readN vs " +
          s"$candC/$candP of $nFiles")
      // staleness: distrusted manifest -> full listing, same rows
      FileStats.distrust(s, root)
      val fb = LakeReader(s, root).filter(pred).load()
      assert(fb.inputFiles.length == nFiles,
        "untrusted manifest must fall back to the full listing")
      assert(fb.count() == got.count(),
        "fallback and pruned reads must agree")
      got.orderBy("o_orderkey")
    }),

    // the FULL continuous-ingest story in one stream: each micro-batch
    // (a) emits the gate's own near-dup decision pairs into an
    // incremental-CC label table (mergeClusterBatch — dedup PROVENANCE:
    // which cluster a dropped doc belonged to), then (b) passes the
    // DeltaNearDup gate, both served by the standing `_keys`/`_shingles`
    // sidecars. Delivery is at-least-once: the second batch REPLAYS
    // after its survivors landed, so its replay pairs re-score only the
    // previously-dropped rows against the standing lake — the
    // oracle reproduces that stage exactly. Result = lake contents AND
    // label table in one frame; both must equal the sequential batch
    // run (labels = CC closure over every stage's emitted pairs)
    "q84_stream_neardup_gate" -> ((s, d) => {
      val root = scratch(s, "q84", d)
      val src = scratch(s, "q84src", d)
      // a QUARTER of the corpus: the query runs THREE full gate
      // lifecycles (fresh A, fresh B, replay of B — a third fresh
      // batch proved nothing the second does not) — the operator story lives in the structure
      // (sidecar-served gate + replay), not in the fixture size, and
      // scoring cost scales superlinearly with the corpus (r11's
      // half-corpus composite was ~12% of the whole bench and its
      // noisiest query; the split + quarter fixture buys signal)
      val all = docs(s, d).filter(pmod(col("doc_id"), lit(4L)) === 0L)
      def m20(r: Long*) = pmod(col("doc_id"), lit(20L)).isin(r: _*)
      LakeWriter(s, root, WriteMode.Overwrite).write(all.filter(m20(4, 8)))
      // one FILE per arrival batch (batch atomicity under
      // maxFilesPerTrigger=1), mtimes forced strictly increasing so the
      // file source replays them in arrival order
      val batches = Seq(m20(0), m20(12), m20(12) /* replay */)
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val t0 = System.currentTimeMillis()
      batches.zipWithIndex.foreach { case (pred, i) =>
        val dir = s"$src/b$i"
        all.filter(pred).coalesce(1).write.parquet(dir)
        SchemaTools.listDataFiles(s, dir).foreach(f =>
          fs.setTimes(new org.apache.hadoop.fs.Path(f),
            t0 + i * 60000L, -1))
      }
      val sch = s.read.parquet(s"$src/b0").schema
      val gate = WriteMode.DeltaNearDup(Seq("doc_id"), "text",
        threshold = 0.2)
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/b*")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          LakeWriter(s, root, gate)
            .write(batch.dropDuplicates(Seq("doc_id")))
        }
        .option("checkpointLocation", s"$src/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(root).select("doc_id").orderBy("doc_id")
    }),

    // the PROVENANCE half of the old q84 composite, batch-flavored
    // (foreachBatch delivered exactly one LakeWriter.write per
    // trigger, so sequential batch writes are the identical
    // lifecycle with the streaming machinery — the bench-noise
    // source — removed): the gate's pair SINK folds its own
    // near-dup decisions into an incremental connected-components
    // label table during the write, one scoring pass serving both
    // the gate's anti-join and the provenance merge. The replayed
    // batch re-offers previously-dropped docs: their pairs re-fold
    // idempotently
    "q84b_neardup_cc_fold" -> ((s, d) => {
      val root = scratch(s, "q84b", d)
      val lbl = scratch(s, "q84blbl", d)
      val all = docs(s, d).filter(pmod(col("doc_id"), lit(4L)) === 0L)
      def m20(r: Long*) = pmod(col("doc_id"), lit(20L)).isin(r: _*)
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(all.filter(m20(4, 8)))
      val gate = WriteMode.DeltaNearDup(Seq("doc_id"), "text",
        threshold = 0.2)
      Seq(m20(0), m20(12), m20(12) /* replay */)
        .foreach { pred =>
        LakeWriter(s, root, gate,
          nearDupPairSink = Some(p =>
            Dedup.mergeClusterBatch(lbl,
              p.select(col("id_new").as("id1"),
                col("id_existing").as("id2")),
              numBuckets = 16)))
          .write(all.filter(pred).dropDuplicates(Seq("doc_id")))
      }
      // the label table exists only if the gate ever emitted pairs —
      // a fixture with no near-dups must yield an empty frame, not
      // path-not-found
      if (SchemaTools.listDataFiles(s, lbl).nonEmpty)
        s.read.parquet(lbl).select("doc_id", "cluster_id")
          .orderBy("doc_id")
      else {
        import s.implicits._
        s.emptyDataset[(Long, Long)].toDF("doc_id", "cluster_id")
      }
    }),

    // keyed MERGE (upsert): a CDC-style batch — price corrections for a
    // contiguous key band + brand-new orders — absorbed copy-on-write.
    // The in-query assert is the 100 TB claim: only the files physically
    // holding matched keys are rewritten (the seed is range-laid-out, so
    // the update band lives in few files), everything else untouched
    "q85_upsert" -> ((s, d) => {
      val root = scratch(s, "q85", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 8L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8 // the update band: ~1 of 8 files
      val updates = src.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = src.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      val st = RowOps.upsert(s, root,
        updates.unionByName(inserts), Seq("o_orderkey"))
      assert(st.filesTouched > 0 && st.filesTouched < st.filesTotal,
        s"upsert must rewrite a strict subset of files: $st")
      s.read.parquet(root).orderBy("o_orderkey")
    }),

    // predicate DELETE: drop a key band copy-on-write; same strict-
    // subset file-touch assert. The seed builds a trusted _stats
    // manifest so the candidate listing is range-pruned before any file
    // is opened (the q83 skipping path serving a MUTATION)
    "q86_row_delete" -> ((s, d) => {
      val root = scratch(s, "q86", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 8L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      FileStats.build(s, root)
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val st = RowOps.deleteWhere(s, root,
        s"o_orderkey >= $lo AND o_orderkey <= $hi")
      assert(st.filesTouched > 0 && st.filesTouched < st.filesTotal,
        s"delete must rewrite a strict subset of files: $st")
      s.read.parquet(root).orderBy("o_orderkey")
    }),

    // continuous CDC absorption: the q85 merge driven through
    // readStream/foreachBatch — updates batch, inserts batch, then the
    // updates batch REPLAYED (at-least-once delivery). Upsert is
    // idempotent (matched keys replaced with identical rows), so the
    // final lake equals the one-shot q85 merge whatever the batch
    // order — the same oracle verifies both
    "q88_stream_upsert" -> ((s, d) => {
      val lake = scratch(s, "q88", d)
      val src = scratch(s, "q88src", d)
      val base = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(base.count() / 8L, 50L)
      LakeWriter(s, lake, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(base.orderBy("o_orderkey"))
      val Array(lo, hi0) = base
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val updates = base.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = base.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      updates.write.parquet(s"$src/b1")
      inserts.write.parquet(s"$src/b2")
      updates.write.parquet(s"$src/b3") // replayed delivery
      val sch = s.read.parquet(s"$src/b1").schema
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/b*")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            RowOps.upsert(s, lake,
              batch.dropDuplicates(Seq("o_orderkey")),
              Seq("o_orderkey"))
          ()
        }
        .option("checkpointLocation", s"$src/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(lake).orderBy("o_orderkey")
    }),

    // hive-layout MERGE: partition-granular copy-on-write via dynamic
    // partition overwrite — the update band is restricted to one
    // status, so only that status's partition (plus the insert target)
    // rewrites; the strict-subset assert is on PARTITIONS here
    "q90_upsert_hive" -> ((s, d) => {
      val root = scratch(s, "q90", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderstatus")
      LakeWriter(s, root, WriteMode.Overwrite)
        .withPartitioning("o_orderstatus").write(src)
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val band = col("o_orderkey").between(lo, hi) &&
        col("o_orderstatus") === "O"
      val updates = src.filter(band)
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = src.filter(band)
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"),
          lit("O").as("o_orderstatus"))
      val st = RowOps.upsertPartitioned(s, root,
        updates.unionByName(inserts), Seq("o_orderkey"),
        Seq("o_orderstatus"))
      assert(st.filesTouched > 0 && st.filesTouched < st.filesTotal,
        s"upsert must rewrite a strict subset of partitions: $st")
      s.read.option("basePath", root).parquet(root)
        .orderBy("o_orderkey")
    }),

    // SCD Type-2 merge: history-preserving dimension maintenance. One
    // batch carries all three merge classes — a contiguous CHANGED
    // band (close + re-version), redelivered-identical rows (no-op:
    // they rewrite nothing), and brand-new keys (insert) — then a
    // second merge re-versions the same band again, so the final
    // dimension holds three-deep history with correct validity chains.
    // The copy-on-write claim is the strict-subset file-touch assert
    // (the band lives in few of the key-ordered files); closed history
    // is write-cold by construction
    "q91_scd2_merge" -> ((s, d) => {
      val root = scratch(s, "q91", d)
      val src = cust(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
      val Array(lo, hi) = src
        .agg(min("c_custkey"), max("c_custkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val q1 = lo + (hi - lo) / 8
      val dim0 = src
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
        .withColumn("is_current", lit(true))
      val per = math.max(src.count() / 8L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(dim0.orderBy("c_custkey"))
      FileStats.build(s, root)
      val band = col("c_custkey").between(lo, q1)
      val b1 = src.filter(band)
        .withColumn("bal", col("bal") + lit(100.0))       // changed
        .unionByName(src.filter(
          col("c_custkey") > q1 && col("c_custkey") <= q1 + (hi - lo) / 8))
                                                          // no-op redelivery
        .unionByName(src.filter(band)                     // new keys
          .withColumn("c_custkey", col("c_custkey") + lit(hi) + lit(1L)))
      val st1 = RowOps.scd2Merge(s, root, b1, Seq("c_custkey"), 1L)
      assert(st1.filesTouched > 0 && st1.filesTouched < st1.filesTotal,
        s"scd2 merge must rewrite a strict subset of files: $st1")
      val b2 = src.filter(band)
        .withColumn("bal", col("bal") + lit(100.0))
        .withColumn("seg", lit("SCD2"))
      RowOps.scd2Merge(s, root, b2, Seq("c_custkey"), 2L)
      s.read.parquet(root)
        .select("c_custkey", "seg", "bal", "valid_from", "valid_to",
          "is_current")
        .orderBy("c_custkey", "valid_from")
    }),

    // change-data-feed: the row-level mutations (q85/q86) with their
    // changes RECORDED — update pre/post images, inserts, deletes land
    // in a version-partitioned `_changes` feed the moment the mutation
    // commits, and downstream consumers read the increment with one
    // partition-pruned scan (the Delta-CDF contract). The feed is
    // computed from the merge's own touched-file frames — no extra
    // corpus pass
    "q92_change_feed" -> ((s, d) => {
      val root = scratch(s, "q92", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 8L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val updates = src.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = src.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      RowOps.upsert(s, root, updates.unionByName(inserts),
        Seq("o_orderkey"), cdfVersion = Some(1L))
      // v2 deletes exactly v1's update victims (price went negative)
      RowOps.deleteWhere(s, root, "o_totalprice < 0.0",
        cdfVersion = Some(2L))
      RowOps.readChanges(s, root, 1L)
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    }),

    // time travel ACROSS a row-level mutation: snapshot, then MERGE
    // into current — the as-of read still serves the pre-mutation
    // state (materialized snapshots own their files; copy-on-write
    // rewrites can never reach into them) while current serves the
    // merged state. Both reads verified under one oracle — the
    // audit-trail contract a regulated lake needs from UPDATE
    "q94_mutation_timetravel" -> ((s, d) => {
      val root = scratch(s, "q94", d)
      val tf = TimeFly(s, root).init("mut")
      val base = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(base.count() / 8L, 50L)
      LakeWriter(s, tf.currentPath, WriteMode.Overwrite,
        maxRecordsPerFile = per).write(base.orderBy("o_orderkey"))
      val snap = tf.addSnapshot()
      val Array(lo, hi0) = base
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val updates = base.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = base.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      val st = RowOps.upsert(s, tf.currentPath,
        updates.unionByName(inserts), Seq("o_orderkey"))
      assert(st.filesTouched > 0 && st.filesTouched < st.filesTotal,
        s"upsert must rewrite a strict subset of files: $st")
      // T6: as-of t serves the FIRST snapshot with id > t — any t
      // before the snapshot resolves to it (asking as-of `snap` itself
      // would fall through to current, the reference's rule)
      assert(snap > "19000101_000000", s"snapshot id format drifted: $snap")
      tf.read(Some("19000101_000000"))
        .select(lit("asof").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(tf.read(None)
          .select(lit("current").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // HIDDEN partitioning (Iceberg-style transform spec): orders laid
    // out by month(o_orderdate) without the user ever naming a derived
    // column; a plain date-range predicate on the SOURCE column prunes
    // the hive listing because the reader rewrites it through the
    // declared transform (the comparisons constant-fold, so pruning is
    // listing-time). Asserted in-query: the pruned scan's file index is
    // a strict subset of the full listing. At 100 TB this is the
    // difference between scanning 6 months and scanning 80 months
    "q95_hidden_partitioning" -> ((s, d) => {
      val root = scratch(s, "q95", d)
      HiddenPartitions.init(s, root, HiddenPartitions.Month("o_orderdate"))
      HiddenPartitions.write(s, root,
        ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderdate"),
        mode = "overwrite")
      val pred = "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '1996-07-01 00:00:00'"
      val pruned = HiddenPartitions.read(s, root, Some(pred))
      val full = HiddenPartitions.read(s, root, None)
      val (pf, ff) = (scannedFiles(pruned), scannedFiles(full))
      assert(pf > 0 && pf < ff,
        s"transform pruning must shrink the scan: $pf/$ff files")
      pruned.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // PARTITION SPEC EVOLUTION: the first half of the lake is laid out
    // by bucket(8, o_custkey), then the spec evolves to
    // month(o_orderdate) and the second half lands in the new layout —
    // nothing is rewritten. A custkey equality predicate prunes the
    // OLD subtree to one hash bucket (the new subtree scans — its
    // transform admits nothing from this predicate); correctness comes
    // from the residual filter either way. The Iceberg contract:
    // changing how 100 TB is partitioned must not mean rewriting it
    "q96_partition_evolution" -> ((s, d) => {
      val root = scratch(s, "q96", d)
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderdate")
      HiddenPartitions.init(s, root, HiddenPartitions.Bucket(8, "o_custkey"))
      HiddenPartitions.write(s, root, src.filter(col("o_orderkey") % 2 === 0))
      HiddenPartitions.evolve(s, root, HiddenPartitions.Month("o_orderdate"))
      HiddenPartitions.write(s, root, src.filter(col("o_orderkey") % 2 === 1))
      val pred = "o_custkey = 42"
      val pruned = HiddenPartitions.read(s, root, Some(pred))
      val full = HiddenPartitions.read(s, root, None)
      val (pf, ff) = (scannedFiles(pruned), scannedFiles(full))
      assert(pf > 0 && pf < ff,
        s"bucket pruning must shrink the evolved scan: $pf/$ff files")
      pruned.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // SNAPSHOT TAGS (Iceberg refs): a release gets a NAME, clients read
    // the tag without carrying snapshot ids, and retention can never
    // expire it — vacuum with a future cutoff deletes every untagged
    // old snapshot but must leave the tagged release intact (asserted
    // in-query, along with deleteSnapshot refusing a pinned id).
    // Tagging is metadata-only: O(1) writes, zero data movement
    "q97_snapshot_tags" -> ((s, d) => {
      val root = scratch(s, "q97", d)
      val tf = TimeFly(s, root).init("releases")
      val v1 = ord(s, d).filter(col("o_custkey") < 100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      tf.writer(WriteMode.Overwrite).write(v1)
      val s1 = tf.addSnapshot()
      tf.tag("v1_train", s1)
      val v2 = ord(s, d).filter(col("o_custkey") >= 1400)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      tf.writer(WriteMode.Overwrite).write(v2)
      val s2 = tf.addSnapshot()
      tf.addSnapshot() // newest — always survives retention
      // retention with a cutoff beyond everything: s2 is untagged prey,
      // s1 is tagged and must survive; pinned delete must refuse
      val st = tf.vacuum(olderThan = Some("29990101_000000"))
      assert(st.expired == Seq(s2),
        s"retention must expire exactly the untagged $s2: ${st.expired}")
      assert(tf.availableSnapshots().contains(s1), "tagged must survive")
      val refused =
        try { tf.deleteSnapshot(s1); false }
        catch { case _: IllegalArgumentException => true }
      assert(refused, "deleteSnapshot must refuse a tagged id")
      tf.readTag("v1_train")
        .select(lit("tag").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(tf.read(None)
          .select(lit("current").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // COUNT-BASED RETENTION under the oracle (r7 Next #8): keep the
    // newest N snapshots, expire the rest — except tagged releases,
    // which retention can NEVER expire, and the newest, which always
    // survives. The dryRun pass must report without deleting; the
    // destructive pass must expire exactly the untagged middle
    // snapshot; the tagged release and the kept boundary must still
    // read back bit-for-bit afterwards
    "q124_vacuum_keep_last" -> ((s, d) => {
      val root = scratch(s, "q124", d)
      val tf = TimeFly(s, root).init("retention")
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      tf.writer(WriteMode.Overwrite).write(slice(col("o_custkey") < 100))
      val s1 = tf.addSnapshot()
      tf.tag("v1_release", s1)
      tf.writer(WriteMode.Overwrite)
        .write(slice(col("o_custkey").between(700, 720)))
      val s2 = tf.addSnapshot()
      tf.writer(WriteMode.Overwrite)
        .write(slice(col("o_custkey") >= 1400))
      val s3 = tf.addSnapshot()
      // dryRun: report s2 as prey, touch nothing
      val dry = tf.vacuumKeepLast(1, dryRun = true)
      assert(dry.expired == Seq(s2),
        s"dryRun must report exactly the untagged $s2: ${dry.expired}")
      assert(tf.availableSnapshots().toSet == Set(s1, s2, s3),
        "dryRun must not delete")
      val st = tf.vacuumKeepLast(1)
      assert(st.expired == Seq(s2),
        s"keepLast(1) must expire exactly the untagged $s2: ${st.expired}")
      assert(tf.availableSnapshots().toSet == Set(s1, s3),
        "tagged + newest must survive count-based retention")
      tf.readTag("v1_release")
        .select(lit("tag").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(tf.read(Some(s3))
          .select(lit("kept").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .unionByName(tf.read(None)
          .select(lit("current").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // WRITABLE BRANCHES (Iceberg/Nessie-style refs): creation records a
    // base-file manifest and an empty local dir — zero copy; branch
    // writes are invisible to main; fast-forward publishes by MOVING
    // the branch's files into current. Every isolation claim asserted
    // in-query: nothing copied at create, main's file set untouched by
    // the branch write, publish moves exactly the branch's files
    "q98_branch" -> ((s, d) => {
      val root = scratch(s, "q98", d)
      val tf = TimeFly(s, root).init("branching")
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      tf.writer(WriteMode.Overwrite)
        .write(ord(s, d).filter(col("o_custkey") < 300)
          .select(cols.map(col): _*))
      val curBefore = SchemaTools.listDataFiles(s, tf.currentPath).toSet
      tf.branch("exp")
      assert(SchemaTools.listDataFiles(s, tf.branchPath("exp")).isEmpty,
        "branch create must copy nothing")
      tf.branchWriter("exp")
        .write(ord(s, d).filter(col("o_custkey") >= 1400)
          .select(cols.map(col): _*))
      assert(
        SchemaTools.listDataFiles(s, tf.currentPath).toSet == curBefore,
        "a branch write must not touch main")
      val nLocal =
        SchemaTools.listDataFiles(s, tf.branchPath("exp")).size
      tf.fastForward("exp")
      assert(tf.branches().isEmpty, "fast-forward must drop the branch")
      assert(SchemaTools.listDataFiles(s, tf.currentPath).size ==
        curBefore.size + nLocal,
        "fast-forward must MOVE the branch files, not copy them")
      // a branch opened after the publish is isolated in both
      // directions: main serves the published state, the branch serves
      // published ∪ its own appends
      tf.branch("exp2")
      tf.branchWriter("exp2")
        .write(ord(s, d).filter(col("o_custkey").between(700, 720))
          .select(cols.map(col): _*))
      tf.read(None)
        .select(lit("main").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(tf.readBranch("exp2")
          .select(lit("branch").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // DIVERGED-BRANCH MERGE: main moves on after the branch is cut, so
    // fast-forward refuses (asserted) — the resolution is a keyed
    // row-level merge: the branch's rows upsert copy-on-write
    // (branch wins on key conflicts), main's divergent rows survive,
    // and only conflicting files rewrite
    "q117_branch_merge" -> ((s, d) => {
      val root = scratch(s, "q117", d)
      val tf = TimeFly(s, root).init("diverge")
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      tf.writer(WriteMode.Overwrite)
        .write(slice(col("o_custkey") < 300))
      tf.branch("exp")
      // the branch re-prices a band AND adds new keys
      tf.branchWriter("exp").write(
        slice(col("o_custkey") < 100)
          .withColumn("o_totalprice", lit(-1.0))
          .unionByName(slice(col("o_custkey") >= 1400)))
      // main diverges after the cut
      tf.writer(WriteMode.Append)
        .write(slice(col("o_custkey").between(700, 720)))
      val refused =
        try { tf.fastForward("exp"); false }
        catch { case _: IllegalArgumentException => true }
      assert(refused, "a diverged main must refuse the ref move")
      tf.mergeBranch("exp", Seq("o_orderkey"))
      assert(tf.branches().isEmpty, "the merged branch must drop")
      tf.read(None).orderBy("o_orderkey")
    }),

    // SHALLOW CLONE (Delta CLONE): a new dataset whose live view starts
    // as a manifest of the source's files — storage shared until either
    // side writes. Clone-local appends never reach the source, source
    // appends after clone time never reach the clone, and deepen()
    // converts to a deep clone as a content no-op — all asserted
    // in-query
    "q99_clone" -> ((s, d) => {
      val srcRoot = scratch(s, "q99src", d)
      val dstRoot = scratch(s, "q99dst", d)
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val tf = TimeFly(s, srcRoot).init("source")
      tf.writer(WriteMode.Overwrite)
        .write(ord(s, d).filter(col("o_custkey") < 300)
          .select(cols.map(col): _*))
      val srcFiles = SchemaTools.listDataFiles(s, tf.currentPath).toSet
      val cl = tf.cloneTo(dstRoot, "clone")
      assert(SchemaTools.listDataFiles(s, cl.currentPath).isEmpty,
        "shallow clone must copy nothing")
      cl.writer(WriteMode.Append)
        .write(ord(s, d).filter(col("o_custkey") >= 1400)
          .select(cols.map(col): _*))
      assert(
        SchemaTools.listDataFiles(s, tf.currentPath).toSet == srcFiles,
        "a clone write must not touch the source")
      // divergence is two-way: post-clone source appends stay invisible
      // to the clone's frozen base
      tf.writer(WriteMode.Append)
        .write(ord(s, d).filter(col("o_custkey").between(700, 720))
          .select(cols.map(col): _*))
      val shallowCount = cl.read(None).count()
      val localBefore = SchemaTools.listDataFiles(s, cl.currentPath).size
      cl.deepen()
      assert(cl.read(None).count() == shallowCount,
        "deepen must be a content no-op")
      assert(SchemaTools.listDataFiles(s, cl.currentPath).size ==
        localBefore + srcFiles.size,
        "deepen must localize exactly the borrowed base files")
      tf.read(None)
        .select(lit("source").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(cl.read(None)
          .select(lit("clone").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // METADATA TABLE (Iceberg snapshots / DESCRIBE HISTORY): the
    // dataset's timeline as a queryable DataFrame — one row per
    // snapshot in id order plus the live state, each with the row count
    // that ref serves; covers both snapshot flavors (copy and
    // manifest-only) and a post-snapshot append visible only in the
    // live row
    "q100_history" -> ((s, d) => {
      val root = scratch(s, "q100", d)
      val tf = TimeFly(s, root).init("hist")
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      tf.writer(WriteMode.Overwrite)
        .write(ord(s, d).filter(col("o_custkey") < 100)
          .select(cols.map(col): _*))
      tf.addSnapshot()
      tf.writer(WriteMode.Overwrite)
        .write(ord(s, d).filter(col("o_custkey") >= 1400)
          .select(cols.map(col): _*))
      tf.addSnapshot(manifestOnly = true)
      tf.writer(WriteMode.Append)
        .write(ord(s, d).filter(col("o_custkey").between(700, 720))
          .select(cols.map(col): _*))
      tf.history().orderBy("ord")
    }),

    // NATIVE STREAMING SESSION WINDOWS: q44's sessionization run by the
    // engine's session_window state machine under a real stream —
    // per-key gap-merge in the state store, append-mode emission once
    // the watermark passes a session's end (last event + gap; sessions
    // the final watermark leaves open are withheld, and the oracle
    // encodes that emission rule). The oracle is the same
    // gaps-and-islands SQL as q44, so the streaming state machine is
    // hash-verified against the relational definition of a session
    "q101_stream_sessions" -> ((s, d) => {
      SchemaTools.withSessionConf(
        s, "spark.sql.legacy.parquet.nanosAsLong", "true") {
       SchemaTools.withSessionConf(
         s, "spark.sql.shuffle.partitions", "8") {
        val rawSchema = s.read.parquet(s"$d/events.parquet").schema
        val qname = s"graft_q101_${streamEpoch.incrementAndGet()}"
        val q = s.readStream.schema(rawSchema)
          .parquet(s"$d/{events.parquet}")
          .transform(Tables.normalizeTs)
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(dec12(col("value"))).cast("double").as("total_value"),
            min(col("ts")).as("first_ts"),
            max(col("ts")).as("last_ts"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("total_value"),
            col("first_ts"), col("last_ts"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(qname).orderBy("user_id", "session_start")
       }
      }
    }),

    // CDC replication end-to-end: a replica seeded from the same
    // initial state consumes ONLY the source's change feed (update
    // post-images + inserts as upserts, deletes as keyed deletes,
    // versions in commit order) and converges to the source. Both
    // sides read back under one oracle — identical relations prove the
    // feed carries the whole truth of the mutations
    "q93_cdc_replica" -> ((s, d) => {
      val src = scratch(s, "q93src", d)
      val dst = scratch(s, "q93dst", d)
      val base = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(base.count() / 8L, 50L)
      Seq(src, dst).foreach(p =>
        LakeWriter(s, p, WriteMode.Overwrite, maxRecordsPerFile = per)
          .write(base.orderBy("o_orderkey")))
      val Array(lo, hi0) = base
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val updates = base.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = base.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      RowOps.upsert(s, src, updates.unionByName(inserts),
        Seq("o_orderkey"), cdfVersion = Some(1L))
      RowOps.deleteWhere(s, src, "o_totalprice < 0.0",
        cdfVersion = Some(2L))
      RowOps.applyChanges(s, dst, RowOps.readChanges(s, src, 1L),
        Seq("o_orderkey"))
      s.read.parquet(src)
        .select(lit("source").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(s.read.parquet(dst)
          .select(lit("replica").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // distributed k-means (Lloyd) — the trainer behind the IVF/PQ
    // pivot sets: 3 assignment passes over the corpus with 2
    // interleaved centroid updates, centroids broadcast as literals
    // (assignment is a pure per-row projection — the corpus never
    // shuffles; the update is one k·dim-row map-side-combining agg).
    // Integer-quantized arithmetic end to end, so the oracle replays
    // every iteration bit-identically
    "e19_kmeans" -> ((s, d) => {
      Similarity.kmeansAssign(emb(s, d), k = 8, iters = 3)
        .orderBy("vec_id")
    }),

    // CLUSTER-QUALITY EVAL: simplified silhouette on the e19
    // assignment — distance-to-centroid in place of mean pairwise
    // (the O(n·k) variant that survives scale; exact silhouette is
    // O(n²)). All-integer distances, one IEEE division per vector, so
    // even the quality METRIC hash-verifies cross-engine
    "e24_silhouette" -> ((s, d) => {
      Similarity.kmeansSilhouette(emb(s, d), k = 8, iters = 3)
        .orderBy("vec_id")
    }),

    // IVF on TRAINED cells — the FAISS train-then-search composition:
    // the e19 coarse quantizer assigns the corpus, queries probe their
    // 2 nearest trained centroids under the same exact-integer metric,
    // candidates rerank by exact cosine (the e04 scoring). Cells are
    // k rows of driver state; assignment/probing are literal
    // projections, the only shuffle is the cell-keyed probe join
    "e20_kmeans_ivf" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.kmeansIvfTopK(e, e.filter(col("vec_id") < 10),
          k = 5, nClusters = 8, iters = 3, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // metadata-FILTERED ANN serving: top-k among only label%3==0
    // vectors through the SHARED (unfiltered) quantizer — one index,
    // any predicate; the filter is a pushed-down candidate-scan
    // predicate, applied BEFORE ranking so k survivors come back
    "e21_filtered_ann" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopKFiltered(e, e.filter(col("vec_id") < 10),
          candidateFilter = "label % 3 = 0", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // ColBERT-style MaxSim late interaction: query groups of 4 vectors
    // score label-groups by sum-of-per-query-vector-maxima; the sum
    // folds a SORTED array so double addition order (and the hash) is
    // engine-identical
    "e22_maxsim" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.maxSimTopK(
          e,
          e.filter(col("vec_id") < 8)
            .withColumn("qgroup", expr("vec_id div 4")),
          corpusGroupCol = "label", queryGroupCol = "qgroup", k = 2)
        .orderBy("qgroup", "rank")
    }),

    // write-time expectations: rows proving every rule land in the
    // lake, violators are QUARANTINED with the rule names they failed
    // — bad batches preserved for triage, not dropped or fatal. The
    // violation vector is one row-local projection; both sides of the
    // split read back under the oracle
    "q89_expectations" -> ((s, d) => {
      val lake = scratch(s, "q89", d)
      val quar = scratch(s, "q89quar", d)
      val src = ord(s, d).select("o_orderkey", "o_totalprice")
      Expectations.writeWith(
        LakeWriter(s, lake, WriteMode.Overwrite),
        src,
        Seq(
          Expectations.Rule("price_cap", "o_totalprice <= 250000.0"),
          Expectations.Rule("key_mod", "o_orderkey % 13 <> 0")),
        quar)
      val lakeSide = s.read.parquet(lake)
        .select(col("o_orderkey"), col("o_totalprice"),
          lit("lake").as("side"), lit("").as("violated"))
      val quarSide = s.read.parquet(quar)
        .select(col("o_orderkey"), col("o_totalprice"),
          lit("quarantine").as("side"), col("violated"))
      lakeSide.unionByName(quarSide).orderBy("side", "o_orderkey")
    }),

    // incremental consumption (file-diff CDC): snapshot a baseline,
    // keep delta-ingesting, then read ONLY what landed after the
    // snapshot — the downstream-trainer "give me the new docs" path.
    // Works because append-family writes add files and never rewrite:
    // the increment is the file-set diff against the snapshot manifest,
    // asserted in-query to be a strict subset of the current listing
    "q87_incremental_read" -> ((s, d) => {
      val root = scratch(s, "q87", d)
      val tf = TimeFly(s, root).init("inc")
      val all = docs(s, d)
      def deltaW = tf.writer(WriteMode.Delta(subset = Seq("doc_id")))
      deltaW.write(all.filter(col("doc_id") % 3 === 0))
      val snap = tf.addSnapshot(manifestOnly = true)
      // two more batches; each replays rows the delta gate must drop,
      // so the increment is exactly the %3 ∈ {1,2} docs
      deltaW.write(all.filter(col("doc_id") % 3 <= 1))
      deltaW.write(all.filter(col("doc_id") % 3 >= 1))
      val incFiles = tf.changedFilesSince(snap).size
      val curFiles = SchemaTools.listDataFiles(s, tf.currentPath).size
      assert(incFiles > 0 && incFiles < curFiles,
        s"increment must scan a strict file subset: $incFiles/$curFiles")
      tf.readSince(snap).orderBy("doc_id")
    }),

    // the cleaned-corpus LIFECYCLE: CorpusPipeline's output written into
    // a TimeFly dataset, snapshotted, clobbered by a later (bad) write,
    // then RESTORED from the snapshot — training-data releases are
    // versioned lake states, not loose parquet. Result = the d13 frame,
    // read back through the lake's time-travel path
    "q72_corpus_snapshot" -> ((s, d) => {
      val tmp = scratch(s, "q72", d)
      val tf = TimeFly(s, tmp).init("corpus_clean")
      val cleaned = operators.CorpusPipeline.run(docs(s, d))
      tf.writer(WriteMode.Overwrite).write(cleaned)
      val snap = tf.addSnapshot()
      // a later corrupting write, then time-travel back to the release.
      // The corrupt frame's CONTENT is irrelevant (the restore discards
      // it) — building it from the raw table instead of `cleaned` avoids
      // re-running the pipeline's post-checkpoint Jaccard+CC tail for a
      // throwaway row (measured: q72 4.0 s -> ~d13-cost)
      tf.writer(WriteMode.Overwrite).write(
        docs(s, d).limit(1)
          .select(col("doc_id"), lit("corrupt").as("split")))
      tf.loadSnapshot(snap)
      tf.read(None).orderBy("doc_id")
    }),

    // streaming corpus ingest with a dedup gate: at-least-once file
    // delivery (the second batch replays the SAME rows) + per-batch
    // key dedup + delta lake write = exactly-once lake contents. The
    // foreachBatch sink is the production shape — state lives in the
    // LAKE (the anti-join target), not the state store, so the gate
    // survives stream restarts with zero streaming state
    "q73_stream_ingest" -> ((s, d) => {
      val lake = scratch(s, "q73", d)
      val src = scratch(s, "q73src", d)
      val all = docs(s, d)
      all.write.parquet(s"$src/b1")
      all.write.parquet(s"$src/b2") // full duplicate delivery
      val sch = s.read.parquet(s"$src/b1").schema
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/b*")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          LakeWriter(s, lake, WriteMode.Delta(Seq("doc_id")))
            .write(batch.dropDuplicates(Seq("doc_id")))
        }
        .option("checkpointLocation", s"$src/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(lake)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // the streaming composition of the leakage gate: q73's exactly-once
    // ingest (replayed delivery + per-batch dedup + exact-key delta)
    // with q74's benchmark screen — the lake can never hold an
    // eval-contaminated doc no matter how batches arrive or replay
    "q76_stream_decontam" -> ((s, d) => {
      val lake = scratch(s, "q76", d)
      val src = scratch(s, "q76src", d)
      val bench = scratch(s, "q76bench", d)
      val all = docs(s, d)
      all.filter(col("doc_id") % 20 === 7)
        .write.mode("overwrite").parquet(bench)
      val train = all.filter(col("doc_id") % 20 =!= 7)
      train.write.parquet(s"$src/b1")
      train.write.parquet(s"$src/b2") // full duplicate delivery
      val sch = s.read.parquet(s"$src/b1").schema
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/b*")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          LakeWriter(s, lake,
              WriteMode.DeltaDecontam(Seq("doc_id"), "text", bench,
                shingleN = 5))
            .write(batch.dropDuplicates(Seq("doc_id")))
        }
        .option("checkpointLocation", s"$src/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(lake)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // A4: full-row distinct
    "q06_distinct_full" -> ((s, d) => {
      li(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A3: keyed dedup keep-last (engine Pipeline.distinctOn)
    "q07_dedup_keep_last" -> ((s, d) => {
      Pipeline()
        .distinctOn(Seq("user_id", "event_type"), keepLast = true,
          presort = Some(SortSpec(Seq("ts", "event_id"), Seq(true, true))))(
          ev(s, d).select("user_id", "event_type", "event_id", "ts", "value"))
        .orderBy("user_id", "event_type")
    }),

    // J1/U1: full-row anti-diff (EXCEPT, distinct semantics)
    "q08_delta_full_row" -> ((s, d) => {
      val o = ord(s, d)
      val batch =
        o.filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      val existing =
        o.filter(col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
      batch.except(existing).orderBy("o_orderkey")
    }),

    // J2: subset-key anti-diff (left_anti — the delta write-mode core)
    "q09_delta_subset_anti" -> ((s, d) => {
      val o = ord(s, d)
      val batch =
        o.filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      val existing =
        o.filter(col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
      batch
        .join(existing.select("o_orderkey").distinct(), Seq("o_orderkey"),
          "left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // A1: min/max bounds (delta-window computation)
    "q10_min_max" -> ((s, d) => {
      li(s, d).agg(
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n"))
    }),

    // A2: distinct partition-tuple enumeration
    "q11_partition_enum" -> ((s, d) => {
      ord(s, d)
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // P3: cast keys to string and back (delta key normalization)
    "q12_cast_keys" -> ((s, d) => {
      cust(s, d)
        .select(
          col("c_custkey"),
          col("c_custkey").cast("string").as("key_str"),
          col("c_custkey").cast("string").cast("long").as("key_back"),
          col("c_nationkey").cast("long").as("nation_long"))
        .orderBy("c_custkey")
    }),

    // P5/K8: time-range predicate + monthly buckets (batching windows)
    "q13_time_window_agg" -> ((s, d) => {
      li(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        .agg(
          sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("ship_month")
    }),

    // P7: subset-membership (semi-join)
    "q14_semi_join" -> ((s, d) => {
      cust(s, d)
        .join(
          ord(s, d).filter(col("o_totalprice") > 400000.0)
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // U2: INSERT-missing union (existing ∪ (batch EXCEPT existing))
    "q15_union_insert" -> ((s, d) => {
      val o = ord(s, d)
      val existing =
        o.filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val batch =
        o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      existing.unionByName(batch.except(existing))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // F-layer: JSON extraction from the events props column
    "q16_json_extract" -> ((s, d) => {
      ev(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"))
        .orderBy("event_id")
    }),

    // window function: running sum per key (exact: integral quantities)
    "q17_window_running" -> ((s, d) => {
      val w = Window
        .partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li(s, d)
        .filter(col("l_suppkey") <= 3)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"),
          sum(dec12(col("l_quantity"))).over(w).cast("double")
            .as("running_qty"))
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
    }),

    // grouping sets: rollup
    "q18_rollup" -> ((s, d) => {
      li(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // scalar string functions
    "q19_string_funcs" -> ((s, d) => {
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_type"), 1, 6).as("type_prefix"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")
    }),

    // F3/K8: interval windows anchored at the epoch of the data
    "q20_interval_windows" -> ((s, d) => {
      ord(s, d)
        .groupBy(
          floor(
            datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
              .cast("double") / 90.0).cast("long").as("window_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec12(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy("window_id")
    }),

    // streaming-shaped batch: tumbling hourly window over events
    "q21_event_hourly" -> ((s, d) => {
      ev(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec12(col("value"))).cast("double").as("total_value"))
        .orderBy("hour_start")
    }),

    // range join: lineitems shipped within 30 days of their order date
    "q22_range_join" -> ((s, d) => {
      ord(s, d)
        .join(
          li(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_within_30d"))
        .orderBy("o_orderkey")
    }),

    // as-of join: last click at-or-before each purchase, per user
    "q23_asof_join" -> ((s, d) => {
      val w = Window
        .partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d)
        .withColumn(
          "last_click_ts",
          last(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
        .orderBy("event_id")
    }),

    // left outer join + agg with null handling
    "q24_left_outer_agg" -> ((s, d) => {
      cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(dec12(col("o_totalprice"))).cast("double"), lit(0.0))
            .as("total_spent"))
        .orderBy("c_custkey")
    }),

    // INTERSECT (distinct set semantics, like the EXCEPT family)
    "q25_intersect" -> ((s, d) => {
      val o = ord(s, d)
      val y96 = o
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_custkey")
      val y97 = o
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
      y96.intersect(y97).orderBy("o_custkey")
    }),

    // grouping sets: full cube
    "q26_cube" -> ((s, d) => {
      li(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // window lag/lead navigation
    "q27_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev(s, d)
        .filter(col("user_id") <= 50)
        .select(
          col("event_id"), col("user_id"), col("ts"), col("value"),
          lag("value", 1).over(w).as("prev_value"),
          lead("value", 1).over(w).as("next_value"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("user_id", "rn")
    }),

    // pivot (wide conditional aggregation)
    "q28_pivot_status" -> ((s, d) => {
      ord(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy("o_orderpriority")
    }),

    // date/time scalar functions (dates surfaced as timestamps: the
    // driver compare has proven timestamp handling, not DATE)
    "q29_date_funcs" -> ((s, d) => {
      ord(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_add(to_date(col("o_orderdate")), 30).cast("timestamp")
            .as("due_ts"),
          last_day(col("o_orderdate")).cast("timestamp").as("eom_ts"))
        .orderBy("o_orderkey")
    }),

    // posexplode / unnest-with-ordinality
    "q30_explode_tokens" -> ((s, d) => {
      docs(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "token")))
        .withColumn("pos", col("pos").cast("long"))
        .orderBy("doc_id", "pos")
    }),

    // regexp scalar functions
    "q31_regexp" -> ((s, d) => {
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_type"), " ", "_").as("type_underscored"),
          col("p_name").rlike("red|blue").as("has_color"))
        .orderBy("p_partkey")
    }),

    // null-handling scalars: CASE / nullif / coalesce
    "q32_null_funcs" -> ((s, d) => {
      cust(s, d)
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("bal_band"),
          coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("OTHER"))
            .as("seg"))
        .orderBy("c_custkey")
    }),

    // the reference's read path: LakeReader + declarative pipeline
    // (filter -> drop -> distinctOn keep-first -> sort), under the oracle
    "q33_lake_pipeline" -> ((s, d) => {
      LakeReader(s, s"$d/customer.parquet")
        .filter("c_acctbal > 0")
        .drop("c_name")
        .distinctOn(Seq("c_nationkey"), keepLast = false,
          presort = Some(SortSpec(Seq("c_acctbal", "c_custkey"),
            Seq(false, true))))
        .sort(Seq("c_nationkey"), Seq(true))
        .load()
    }),

    // the reference's write path: overwrite + delta(subset) roundtrip on a
    // scratch dir, result read back — the writer itself under the oracle
    "q34_delta_write_roundtrip" -> ((s, d) => {
      val tmp = scratch(s, "q34", d)
      val o = ord(s, d)
      val first =
        o.filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      LakeWriter(s, tmp, WriteMode.Overwrite).write(first)
      LakeWriter(s, tmp, WriteMode.Delta(subset = Seq("o_orderkey")))
        .write(o)
      s.read.parquet(tmp)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Structured Streaming under the oracle: AvailableNow file stream,
    // watermarked tumbling hourly agg, append to memory sink. Append mode
    // only emits windows whose end <= final watermark (= max ts with the
    // 0s delay), which the oracle reproduces with a max(ts) bound.
    "q35_stream_hourly" -> ((s, d) => {
      // nanos conf scoped to stream setup+run, not left on the session.
      // State-store partitions are sized to the keyspace, not the session
      // default: this agg keys on ~hundreds of hourly windows, and each
      // state partition costs a store instance + per-batch commit — 32
      // partitions measured 1.6s of pure state overhead for a <1k-key
      // stream. (At 100 TB event volume the KEYSPACE is still the window
      // count; raise this with keys, not with input rows.)
      SchemaTools.withSessionConf(
        s, "spark.sql.legacy.parquet.nanosAsLong", "true") {
       SchemaTools.withSessionConf(
         s, "spark.sql.shuffle.partitions", "8") {
        val rawSchema = s.read.parquet(s"$d/events.parquet").schema
        val qname = s"graft_q35_${streamEpoch.incrementAndGet()}"
        // file-stream sources require a directory or glob, not a bare file:
        // the {…} glob scopes the stream to just the events table
        val q = s.readStream.schema(rawSchema)
          .parquet(s"$d/{events.parquet}")
          .transform(Tables.normalizeTs)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(
            count(lit(1)).as("n"),
            sum(dec12(col("value"))).cast("double").as("total_value"))
          .select(col("window.start").as("hour_start"), col("n"),
            col("total_value"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(qname).orderBy("hour_start")
       }
      }
    }),

    // schema-heterogeneous fragments (int/float vs long/double) read
    // through the promotion-ladder unifier — the reference's signature
    // read-path feature (utils/dataset.py:8-130), under the oracle
    "q36_schema_unify" -> ((s, d) => {
      val tmp = scratch(s, "q36", d)
      val c = cust(s, d)
      c.filter(col("c_custkey") % 2 === 0)
        .select(
          col("c_custkey").cast("int").as("c_custkey"),
          col("c_acctbal").cast("float").as("c_acctbal"))
        .write.mode("append").parquet(tmp)
      c.filter(col("c_custkey") % 2 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .write.mode("append").parquet(tmp)
      SchemaTools.readUnified(s, tmp)
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // TimeFly: write v1 -> snapshot -> overwrite with v2 -> restore the
    // snapshot -> read == v1 (snapshot/restore under the oracle)
    "q37_timefly_restore" -> ((s, d) => {
      val tmp = scratch(s, "q37", d)
      val tf = TimeFly(s, tmp).init("orders_tf")
      val v1 = ord(s, d)
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_totalprice")
      tf.writer(WriteMode.Overwrite).write(v1)
      val snap = tf.addSnapshot()
      tf.writer(WriteMode.Overwrite)
        .write(ord(s, d).select("o_orderkey", "o_totalprice"))
      tf.loadSnapshot(snap)
      tf.read(None).orderBy("o_orderkey")
    }),

    // Repartition: in-place rewrite with hive partitioning + sort; the
    // swap is temp-dir + atomic rename (safer than the reference's
    // cache-then-delete, repartition.py:72-84)
    "q38_repartition" -> ((s, d) => {
      val tmp = scratch(s, "q38", d)
      ord(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.parquet(tmp)
      Repartition.run(s, tmp,
        pipeline = Pipeline().sortBy(Seq("o_orderkey")),
        partitionBy = Seq("o_orderstatus"),
        numFiles = 4)
      s.read.parquet(tmp)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // CSV sink + source roundtrip (S5/K3); integer widths re-cast after
    // inference, doubles round-trip via shortest representation
    "q39_csv_roundtrip" -> ((s, d) => {
      val tmp = scratch(s, "q39", d)
      cust(s, d).select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .write.option("header", "true").csv(tmp)
      LakeReader(s, tmp, format = "csv").load()
        .select(
          col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_acctbal").cast("double").as("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // LakeManager catalog: init lake, register two datasets, read both by
    // name and join (manager.py:16-209 under the oracle)
    "q40_lake_catalog" -> ((s, d) => {
      val root = scratch(s, "q40", d)
      val lm = LakeManager(s, root).init()
      lm.addDataset("orders_ds").writer(WriteMode.Overwrite)
        .write(ord(s, d).select("o_orderkey", "o_custkey"))
      lm.addDataset("customer_ds").writer(WriteMode.Overwrite)
        .write(cust(s, d).select("c_custkey", "c_name"))
      lm.reader("orders_ds")
        .join(lm.reader("customer_ds"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // directory-flavor partitioning (the reference's non-hive flavor):
    // bare <value>/ path segments, write + infer + read back
    "q41_dir_partition" -> ((s, d) => {
      val tmp = scratch(s, "q41", d)
      LakeWriter(s, tmp, WriteMode.Overwrite).writeDirectoryPartitioned(
        ord(s, d).select("o_orderkey", "o_totalprice", "o_orderstatus"),
        Seq("o_orderstatus"))
      assert(SchemaTools.inferPartitioning(s, tmp) == "directory")
      SchemaTools.readDirectoryPartitioned(s, tmp, Seq("o_orderstatus"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // physical schema-unifying rewrite (K10): after rewriteUnified a
    // PLAIN spark.read sees one conformed schema — no mergeSchema needed
    "q42_unify_rewrite" -> ((s, d) => {
      val tmp = scratch(s, "q42", d)
      val c = cust(s, d)
      c.filter(col("c_custkey") % 2 === 0)
        .select(
          col("c_custkey").cast("int").as("c_custkey"),
          col("c_acctbal").cast("float").as("c_acctbal"))
        .write.mode("append").parquet(tmp)
      c.filter(col("c_custkey") % 2 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .write.mode("append").parquet(tmp)
      SchemaTools.rewriteUnified(s, tmp)
      s.read.parquet(tmp)
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // bag-semantics anti-diff: EXCEPT ALL keeps multiplicity (the delta
    // family's multiset variant)
    "q46_except_all" -> ((s, d) => {
      val l = li(s, d).select("l_orderkey", "l_partkey")
      val batch = l.filter(col("l_partkey") <= 400)
      val existing = l.filter(col("l_partkey") <= 200)
      batch.exceptAll(existing).orderBy("l_orderkey", "l_partkey")
    }),

    // exact distinct-count aggregate (expand-based in Spark; the scale
    // path for approximate needs is approx_count_distinct, not oracled
    // here because HLL implementations differ across engines)
    "q43_count_distinct" -> ((s, d) => {
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // batch sessionization: the SQL-window analog of the streaming
    // sessionize (gap > 30min starts a new session) — cumulative sum of
    // gap flags per user, then grouped rollup
    "q44_sessionize_batch" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapMs = 30L * 60 * 1000000 // micros
      ev(s, d)
        .withColumn("prev_us",
          lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapMs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(byUser))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec12(col("value"))).cast("double").as("total_value"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .orderBy("user_id", "session_id")
    }),

    // exact continuous quantiles (type-7 interpolation in both engines;
    // restricted to the integral l_quantity so the interpolation
    // arithmetic is exact in IEEE double on both sides)
    "q45_quantiles" -> ((s, d) => {
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"))
        .orderBy("l_returnflag")
    }),

    // math scalars restricted to IEEE-exact ops (sqrt is correctly
    // rounded; ln/exp/pow differ across libm implementations and are
    // deliberately excluded from the oracle surface)
    "q47_math_funcs" -> ((s, d) => {
      cust(s, d)
        .select(
          col("c_custkey"),
          abs(col("c_acctbal")).as("abs_bal"),
          floor(col("c_acctbal")).cast("double").as("floor_bal"),
          ceil(col("c_acctbal")).cast("double").as("ceil_bal"),
          sqrt(abs(col("c_acctbal"))).as("sqrt_bal"),
          signum(col("c_acctbal")).as("sign_bal"))
        .orderBy("c_custkey")
    }),

    // array functions over the token arrays
    "q48_array_funcs" -> ((s, d) => {
      docs(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(
          col("doc_id"),
          size(col("tk")).cast("long").as("n_tok"),
          array_contains(col("tk"), "the").as("has_the"),
          element_at(col("tk"), 1).as("first_tok"),
          element_at(sort_array(col("tk")), 1).as("min_tok"),
          concat_ws(" ", slice(col("tk"), 1, 3)).as("head3"))
        .orderBy("doc_id")
    }),

    // ordered string aggregation (deterministic: sort before join)
    "q49_string_agg" -> ((s, d) => {
      ord(s, d)
        .groupBy("o_orderpriority")
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // raw SQL passthrough (the reference's execute/query, §2.9): datasets
    // registered as views via LakeReader.createView, then spark.sql —
    // the same SQL text runs on both engines
    "q50_sql_passthrough" -> ((s, d) => {
      LakeReader(s, s"$d/orders.parquet").createView("orders_v")
      LakeReader(s, s"$d/customer.parquet").createView("customer_v")
      s.sql(
        """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
          |   AS total
          |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
          |GROUP BY c_mktsegment, o_orderstatus
          |ORDER BY c_mktsegment, o_orderstatus""".stripMargin)
    }),

    // 6-table join (TPC-H Q5 shape): region->nation->customer->orders->
    // lineitem->supplier with the local-supplier condition; Catalyst
    // broadcasts the small dims, AQE handles the rest
    "q51_region_revenue" -> ((s, d) => {
      Tables.region(s, d)
        .join(Tables.nation(s, d),
          col("r_regionkey") === col("n_regionkey"))
        .join(cust(s, d), col("n_nationkey") === col("c_nationkey"))
        .join(ord(s, d), col("c_custkey") === col("o_custkey"))
        .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum(dec12(col("l_extendedprice")) *
            (lit(1).cast("decimal(3,2)") - dec3(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("r_name", "n_name")
    }),

    // JSON-lines sink + source roundtrip (LakeReader format dispatch);
    // long/string columns only — JSON number/timestamp formatting is not
    // part of the compat surface
    "q52_json_roundtrip" -> ((s, d) => {
      val tmp = scratch(s, "q52", d)
      ev(s, d).select("event_id", "user_id", "event_type")
        .write.json(tmp)
      LakeReader(s, tmp, format = "json").load()
        .select(
          col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"))
        .orderBy("event_id")
    }),

    // text normalization / cleaning: lowercase, punctuation strip,
    // whitespace collapse, stopword removal — the standard pre-dedup
    // cleanup pass of a training-data pipeline
    "d10_text_normalize" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          TextFunctions.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"), col("norm"),
          TextFunctions.tokens(col("norm")).as("__tk"))
        .select(
          col("doc_id"),
          col("norm"),
          size(col("__tk")).cast("long").as("n_tokens_norm"),
          TextFunctions.removeStopwords(col("__tk")).as("no_stop"))
        .orderBy("doc_id")
    }),

    // RANGE window frame over event time (q17 covers ROWS frames): per
    // user, rolling 1-hour sum — frame bounds in epoch micros on both
    // engines, well-defined under timestamp ties
    // ranking-function completeness: ntile buckets, dense_rank,
    // percent_rank/cume_dist (exact small rationals — IEEE-identical
    // cross-engine), nth_value under the default running frame; the
    // (price, key) order is total, so every value is deterministic
    "q105_window_funcs" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      ord(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        ntile(8).over(w).cast("long").as("bucket"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_orderkey")
    }),

    "q53_range_frame" -> ((s, d) => {
      val hourUs = 3600L * 1000000 - 1
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-hourUs, Window.currentRow)
      ev(s, d)
        .filter(col("user_id") <= 100)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("rolling_1h",
          sum(dec12(col("value"))).over(w).cast("double"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // NULL semantics under the oracle (the fixtures carry no NULLs, so
    // inject them deterministically): NULL grouping keys, count(col) vs
    // count(*), null-first ordering
    "q54_null_semantics" -> ((s, d) => {
      ord(s, d)
        .select(expr("nullif(o_orderstatus, 'P')").as("status_or_null"),
          col("o_totalprice"))
        .groupBy("status_or_null")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("status_or_null")).as("n_nonnull_keys"),
          sum(dec12(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("status_or_null").asc_nulls_first)
    }),

    // explicit cross join — bounded dimension tables only (5 x 25 rows);
    // the only place a cross product is ever acceptable at scale
    "q55_cross_join_small" -> ((s, d) => {
      Tables.region(s, d).select("r_name")
        .crossJoin(Tables.nation(s, d).select("n_name"))
        .orderBy("r_name", "n_name")
    }),

    // sliding windows (2h size / 1h slide): every event lands in two
    // overlapping windows — the batch shape of streaming sliding aggs
    "q56_sliding_windows" -> ((s, d) => {
      ev(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec12(col("value"))).cast("double").as("total"))
        .select(col("window.start").as("win_start"), col("n"), col("total"))
        .orderBy("win_start")
    }),

    // ---- LLM-pipeline operators -------------------------------------------

    // exact dedup on content
    "d01_dedup_exact" -> ((s, d) => {
      Dedup.exact(docs(s, d), "doc_id", Seq("text"))
        .select("keep_id", "dup_cnt")
        .orderBy("keep_id")
    }),

    // token counting
    "d02_token_stats" -> ((s, d) => {
      docs(s, d)
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(array_distinct(TextFunctions.tokens(col("text"))))
            .cast("long").as("n_distinct_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // quality scoring (ratios = single IEEE division over exact ints);
    // token array materialized once, not re-split per interpreted lambda
    "d03_quality_score" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("n_chars"),
        TextFunctions.tokens(col("text")).as("__tk"))
      val withCols = TextFunctions
        .qualityColumnsFromTokens(col("__tk"), col("n_chars"))
        .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
      withCols
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("avg_token_len"), col("stopword_ratio"), col("quality_score"))
        .orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup pairs (exact)
    "d04_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 3,
          threshold = 0.2)
        .orderBy("id1", "id2")
    }),

    // language-ID heuristic: stopword-profile hits + argmax label;
    // token array materialized once across the 4 language profiles
    "d05_lang_id" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("__tk"))
      val withHits = TextFunctions.langHitsFromTokens(col("__tk"))
        .foldLeft(base) {
          case (df, (n, c)) => df.withColumn(n, c.cast("long"))
        }
      withHits
        .withColumn("lang_pred",
          TextFunctions.langPredictFromTokens(col("__tk")))
        .drop("__tk")
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-dup candidates — portable 2-universal hash
    // family, so the DuckDB oracle (generated, d06Oracle) reproduces the
    // exact signatures; recall vs exact Jaccard also checked in ScalaTest
    "d06_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
          numHashes = 64, bands = 32, threshold = 0.2)
        .orderBy("id1", "id2")
    }),

    // SimHash near-dup pairs — portable 56-bit signature, bit-for-bit
    // reproduced by the generated DuckDB oracle (d07Oracle). maxDist=3:
    // 4 pigeonhole chunks of 14 bits — 16k bucket values, so candidate
    // pairs stay near-linear. (maxDist=6 would mean 8-bit chunks = 256
    // buckets: ~17M candidate pairs at 5k docs, quadratic blowup.)
    "d07_simhash" -> ((s, d) => {
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxDist = 3)
        .orderBy("id1", "id2")
    }),

    // document fingerprints — portable char-fold hashes, oracle-verified
    "d08_fingerprint" -> ((s, d) => {
      docs(s, d)
        .select(
          col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("rolling_fp"),
          TextFunctions.bagFingerprint(col("text")).as("bag_fp"))
        .orderBy("doc_id")
    }),

    // near-dup pairs -> connected components -> dedup clusters (the
    // decision layer: keep min-id doc per cluster); oracle reproduces the
    // closure with a recursive CTE
    "d09_dup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.duplicateClusters(pairs.select("id1", "id2"))
        .orderBy("doc_id")
    }),

    // EDIT-DISTANCE VERIFIED near-dup pairs: the two-stage fuzzy-dedup
    // pipeline — keyed shingle candidates for recall, the exact
    // Levenshtein DP for precision, run ONLY on candidates and through
    // the BANDED thresholded builtin (O(len·k), -1 past the band). The
    // cut at 6 is load-bearing on this corpus: it keeps the true
    // near-dup pairs (dist 4) and drops a candidate at dist 8
    "d46_editdist_pairs" -> ((s, d) => {
      Dedup.editDistancePairs(docs(s, d), "doc_id", "text",
          n = 3, candThreshold = 0.2, maxDist = 6)
        .orderBy("id1", "id2")
    }),

    // deterministic content-hash sampling + quality gate: the reproducible
    // way to downsample a corpus (same rows selected on every run/engine,
    // no RNG) — composed with a token-count quality floor
    "d11_hash_sample" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("__tk"),
          TextFunctions.charFold(col("text"), 131).as("__h"))
        .filter(pmod(col("__h"), lit(20L)) === 0L && size(col("__tk")) >= 30)
        .select(col("doc_id"),
          size(col("__tk")).cast("long").as("n_tokens"),
          col("__h").as("content_hash"))
        .orderBy("doc_id")
    }),

    // deterministic train/val/test split by content hash — stable across
    // engines and runs, leakage-free (identical texts land in the same
    // split by construction)
    "d12_hash_split" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          pmod(TextFunctions.charFold(col("text"), 137), lit(100L))
            .as("__b"))
        .select(col("doc_id"),
          when(col("__b") < 80, "train")
            .when(col("__b") < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    // the WHOLE corpus-cleaning pipeline, end to end under one oracle:
    // normalize -> quality gate -> exact dedup -> Jaccard near-dups ->
    // connected components -> keep representatives -> hash split
    "d13_corpus_pipeline" -> ((s, d) => {
      operators.CorpusPipeline.run(docs(s, d)).orderBy("doc_id")
    }),

    // Gopher/MassiveText-style repetition quality signal: the fraction
    // of DUPLICATE word 3-grams per doc (1 - distinct/total). Pure
    // per-row codegen (one ShinglePackExpr pass, no shuffle at all);
    // the keep gate at 0.2 is the standard repetitious-text filter
    "d14_repetition" -> ((s, d) => {
      val n = 3
      docs(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__tk"))
        .filter(size(col("__tk")) >= n)
        .select(
          col("doc_id"),
          (size(col("__tk")) - (n - 1)).cast("long").as("ngrams_total"),
          size(TextFunctions.shingleFolds(col("__tk"), n)).cast("long")
            .as("ngrams_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - col("ngrams_distinct").cast("double") /
            col("ngrams_total").cast("double"))
        .withColumn("keep", col("rep_ratio") <= 0.2)
        .orderBy("doc_id")
    }),

    // incremental ingest dedup: score an incoming batch (even doc_ids)
    // against the existing corpus (odd doc_ids) — near-dup pairs only
    // ACROSS the two sets, DF skew guard over the combined corpus; the
    // "should I ingest this doc" decision at lake scale
    "d15_incremental_dedup" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.incrementalJaccardPairs(
          all.filter(col("doc_id") % 2 === 0),
          all.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 3, threshold = 0.2)
        .orderBy("id_new", "id_existing")
    }),

    // PII scrub before training: mask emails, then phone shapes, with
    // typed placeholders. The fixture corpus carries no digits or '@'
    // (verified), so each row's PII is planted deterministically from
    // doc_id on BOTH sides — the redaction demonstrably fires on every
    // row instead of no-op'ing over clean text. Pure per-row codegen'd
    // regexp chain, zero shuffle at any scale
    "d16_pii_redact" -> ((s, d) => {
      def raw: Column = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" ok"))
      docs(s, d)
        .select(col("doc_id"),
          TextFunctions.redactPii(raw).as("redacted"),
          TextFunctions.piiCount(raw).as("n_pii"))
        .orderBy("doc_id")
    }),

    // vocabulary induction (the tokenizer-training precursor): corpus
    // term frequency + document frequency, top-100 by tf. One explode +
    // one keyed agg with map-side partials; the global top-k is
    // TakeOrderedAndProject (no global sort), and the dense rank is a
    // window over the ALREADY-REDUCED 100-row frame, not the corpus
    "d17_vocab" -> ((s, d) => {
      val top = docs(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(100)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("tf").desc,
            col("token").asc)).cast("long"))
        .orderBy("rank")
    }),

    // balanced corpus subsampling: exact k-per-stratum (language),
    // ranked by content hash — deterministic, engine-portable, no RNG.
    // The rank<=k filter triggers Spark's WindowGroupLimit rewrite:
    // every map task keeps only its local top-k per stratum BEFORE the
    // shuffle (the stratified analog of TakeOrderedAndProject), so the
    // per-language window never sorts the full corpus and the handful
    // of language partitions never receive more than taskCount*k rows
    "d19_stratified_sample" -> ((s, d) => {
      val k = 50
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.charFold(col("text"), 131).as("content_hash"))
        .withColumn("rk",
          row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("content_hash"), col("doc_id"))).cast("long"))
        .filter(col("rk") <= k)
        .orderBy("lang", "rk")
    }),

    // temperature-scaled data-mixture sampling (the multilingual
    // rebalancing step of pretraining data prep): per-language
    // acceptance rate sqrt(n_min/n_lang), decided by a deterministic
    // LCG of doc_id — reproducible across re-runs/replays, no rand().
    // Rates derive from a |strata|-row agg + tiny window; the corpus
    // side is one broadcast join + row-local filter, zero data shuffle
    "d30_mixture_sample" -> ((s, d) => {
      operators.Sampling.mixtureSample(docs(s, d), "doc_id", "lang")
        .orderBy("doc_id")
    }),

    // the temperature knob at a SECOND point: alpha = 0.75 keeps more
    // of the head (rate = (n_min/n)^(1/4)). 1/4 is dyadic, so the rate
    // is sqrt(sqrt(ratio)) — two correctly-rounded sqrts, bit-identical
    // in any engine composing them the same way, where pow() would
    // drift in the last ulp
    "d31_mixture_temp" -> ((s, d) => {
      operators.Sampling.mixtureSample(docs(s, d), "doc_id", "lang",
          alpha = 0.75)
        .orderBy("doc_id")
    }),

    // CCNet-style LM quality scoring: a token-bigram model trained on
    // the doc_id%10=3 reference slice, every doc scored by BIT-QUANTIZED
    // cross-entropy — floor-log2 in exact integer arithmetic
    // (length(bin(x))-1 on both engines), so the perplexity signal
    // itself is hash-verified where a libm log would drift
    "d32_lm_score" -> ((s, d) => {
      val all = docs(s, d)
      operators.Quality.ngramLmScore(all,
          all.filter(col("doc_id") % 10 === 3), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CCNET HEAD/MIDDLE/TAIL BUCKETING (the pipeline's defining
    // output): every doc assigned a per-LANGUAGE perplexity tercile
    // under the d32 bigram model — head = most fluent under the
    // reference, tail = out-of-domain/garbled; downstream mixes
    // sample by bucket. Ties break on doc_id, so the terciles are
    // deterministic; the per-language window parallelizes across
    // languages (CCNet itself processes language shards
    // independently — a monolingual 100 TB corpus would swap the
    // exact tercile for histogram-derived cuts, the documented
    // trade)
    "d56_ccnet_buckets" -> ((s, d) => {
      val all = docs(s, d)
      val scored = operators.Quality.ngramLmScore(all,
        all.filter(col("doc_id") % 10 === 3), "doc_id", "text")
      val w = Window.partitionBy("lang")
        .orderBy(col("bits_per_token"), col("doc_id"))
      scored.join(all.select("doc_id", "lang"), "doc_id")
        .withColumn("tercile", ntile(3).over(w).cast("long"))
        .withColumn("bucket",
          when(col("tercile") === 1L, "head")
            .when(col("tercile") === 2L, "middle")
            .otherwise("tail"))
        .select("doc_id", "lang", "n_bigrams", "total_bits",
          "tercile", "bucket")
        .orderBy("doc_id")
    }),

    // duplicated-span REMOVAL (the transformation half of d23's audit):
    // repeated 8-token windows keep their corpus-wide first occurrence,
    // every other occurrence's positions are cut and the affected docs
    // are reassembled; untouched docs never explode their tokens
    "d33_span_removal" -> ((s, d) => {
      Dedup.removeDuplicateSpans(docs(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // per-domain admission cap: at most 15 docs per source, the
    // deterministically-first by (content fingerprint, id). The rk<=cap
    // predicate plans as WindowGroupLimit — map-side per-domain
    // pre-pruning BEFORE the exchange, the hot-domain survival story
    "d34_domain_cap" -> ((s, d) => {
      operators.Quality.domainCap(docs(s, d), "doc_id", "source", "text",
          cap = 15)
        .orderBy("source", "rk")
    }),

    // BM25 retrieval: the inverted-index access path as keyed joins —
    // postings/df/doc-length from two combined groupBys, query terms
    // probe postings ON TERM (only their lists are touched), score =
    // fineLog2 idf × a one-integer-division tf normalization (avgdl
    // cleared of its division), summed as exact integers so the
    // ranking is hash-verifiable cross-engine. Queries are the first
    // 5 tokens of every doc_id%250==7 doc (the synthetic corpus
    // shares a small vocabulary, so these behave like real keyword
    // queries: many candidate docs, ranked by tf/length/idf)
    "d57_bm25_retrieval" -> ((s, d) => {
      val all = docs(s, d)
      val queries = all.filter(col("doc_id") % 250 === 7)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5))
            .as("qtext"))
      operators.Retrieval.bm25TopK(all, queries, k = 5)
        .orderBy("qid", "rank")
    }),

    // HYBRID RETRIEVAL (sparse + dense, RRF-fused): BM25 and exact
    // cosine each produce an independent top-20 candidate list (the
    // arms touch disjoint data — postings vs the vector corpus), then
    // one (query, doc)-keyed full-outer join fuses them with
    // Reciprocal Rank Fusion in integer fixed point
    // (2^40 div (60 + rank)), so the fused ranking stays
    // hash-verifiable cross-engine like d57's. Fusion cost ∝ query
    // batch × poolK, never corpus size. The dense arm excludes the
    // query vector itself (bruteForceTopK's id1 != id2); the sparse
    // arm may rank the query's own document — the fusion prices the
    // asymmetry honestly
    "d58_hybrid_rrf" -> ((s, d) => {
      val all = docs(s, d)
      val queries = all.filter(col("doc_id") % 250 === 7)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5))
            .as("qtext"))
      val qv = emb(s, d).filter(col("vec_id") % 250 === 7)
      operators.Retrieval.hybridRrfTopK(all, emb(s, d), queries, qv,
          k = 10, poolK = 20)
        .orderBy("qid", "rank")
    }),

    // POSITIONAL PHRASE SEARCH: exact consecutive-term match over a
    // positional inverted index — the IR operator bag-of-words BM25
    // can't express. Each phrase term selects its postings FIRST (the
    // index access path; at scale a term-bucketed postings table
    // makes this a lookup, never a corpus scan), then the lists fold
    // by (doc, start-offset) equi-joins — shuffles sized by the
    // rarest term's postings, no cross at any phrase length. The
    // probe phrase is the corpus's TOP BIGRAM, derived by the same
    // deterministic rule on both sides (count desc, phrase asc), so
    // even the query itself is hash-verified
    "d59_phrase_search" -> ((s, d) => {
      val all = docs(s, d)
      val post = operators.Retrieval.positionalPostings(all)
      val a = post.select(col("doc_id"), col("pos"),
        col("term").as("t0"))
      val b = post.select(col("doc_id").as("__did"),
        (col("pos") - 1).as("pos"), col("term").as("t1"))
      val phrase = a.join(b,
          a("doc_id") === b("__did") && a("pos") === b("pos"))
        .select(concat_ws(" ", col("t0"), col("t1")).as("phrase"))
        .groupBy("phrase").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("phrase").asc)
        .limit(1).head().getString(0)
      operators.Retrieval.phraseSearch(all, phrase.split(' ').toSeq)
        .withColumn("phrase", lit(phrase))
        .select("doc_id", "phrase", "n_matches")
        .orderBy("doc_id")
    }),

    // PERSISTED inverted index, BM25-served: d57 rebuilt its postings
    // per call — here the positional index is a lake-resident table
    // (term-hash-bucketed, so a query term reads 1/nBuckets of the
    // index) bootstrapped from two thirds of the corpus and
    // delta-folded for the rest via the idempotent appendOnce (the
    // lengths table's doc-id set IS the idempotence mark: the asserted
    // replay folds zero). Serving probes postings ON (bucket, term),
    // re-aggregates tf from the probed rows, and scores through the
    // SAME integer fixed-point path as d57 — the oracle is d57's, so
    // index-served == direct is hash-gated
    "d60_bm25_indexed" -> ((s, d) => {
      val root = scratch(s, "d60", d)
      val all = docs(s, d)
      TextIndex.build(s, root, all.filter(col("doc_id") % 3 =!= 2),
        nBuckets = 16)
      TextIndex.appendOnce(s, root, all.filter(col("doc_id") % 3 === 2))
      val replay =
        TextIndex.appendOnce(s, root, all.filter(col("doc_id") % 3 === 2))
      require(replay == 0L, s"replayed fold must be a no-op: $replay")
      val queries = all.filter(col("doc_id") % 250 === 7)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5))
            .as("qtext"))
      TextIndex.serveBm25(s, root, queries, k = 5).get
        .orderBy("qid", "rank")
    }),

    // PERSISTED inverted index, phrase-served: d59's consecutive-term
    // fold over the same lake-resident positional postings. Even the
    // probe phrase (the corpus top bigram) mines FROM THE INDEX — the
    // self-join on (doc, pos+1) never touches the raw corpus — and
    // the serve path prunes the partition listing with the phrase
    // terms' literal buckets. Oracle is d59's: identity is the gate
    "d61_phrase_indexed" -> ((s, d) => {
      val root = scratch(s, "d61", d)
      val all = docs(s, d)
      TextIndex.build(s, root, all, nBuckets = 16)
      val post = s.read.parquet(s"$root/index")
      val a = post.select(col("doc_id"), col("pos"),
        col("term").as("t0"))
      val b = post.select(col("doc_id").as("__did"),
        (col("pos") - 1).as("pos"), col("term").as("t1"))
      val phrase = a.join(b,
          a("doc_id") === b("__did") && a("pos") === b("pos"))
        .select(concat_ws(" ", col("t0"), col("t1")).as("phrase"))
        .groupBy("phrase").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("phrase").asc)
        .limit(1).head().getString(0)
      TextIndex.servePhrase(s, root, phrase.split(' ').toSeq).get
        .withColumn("phrase", lit(phrase))
        .select("doc_id", "phrase", "n_matches")
        .orderBy("doc_id")
    }),

    // STREAMED text-index maintenance (the e30/e35 discipline on the
    // inverted index): the corpus is a commit-log table, the index
    // bootstraps from v1, and the commit-log STREAM folds each later
    // commit's docs through the idempotent appendOnce — exactly-once
    // under at-least-once delivery because the lengths table's own
    // doc-id set is the idempotence mark (a TOTAL replay on a fresh
    // checkpoint folds nothing, asserted). Serving the maintained
    // index is hash-gated against d57's oracle: stream-maintained ==
    // built-once == direct
    "d62_text_index_stream" -> ((s, d) => {
      val root = scratch(s, "d62", d)
      val log = CommitLog(s, s"$root/corpus").init()
      val idx = s"$root/text"
      val all = docs(s, d)
      def m3(r: Long) = pmod(col("doc_id"), lit(3L)) === lit(r)
      log.append(all.filter(m3(0))) // v1
      TextIndex.build(s, idx, log.read(None), nBuckets = 16,
        asOfVersion = Some(log.latestVersion()))
      log.append(all.filter(m3(1))) // v2
      log.append(all.filter(m3(2))) // v3
      def indexedDocs(): Long =
        s.read.parquet(s"$idx/lengths").count()
      // expected fold count: positionalPostings emits >= 1 row per
      // NON-NULL text (split always returns an element; posexplode
      // drops only null arrays), so the distinct-doc count equals this
      // shuffle-free filter — the old explode+distinct shuffled every
      // token for a number one pass over the docs already knows
      val tokenized = all.filter(col("text").isNotNull)
        .select("doc_id").distinct().count()
      def runStream(ckpt: String): Unit = {
        val q = log.readStreamCommits()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val commits = batch.select("version", "kind", "files")
              .collect()
              .map(r => (r.getLong(0), r.getString(1),
                r.getSeq[String](2)))
              .sortBy(_._1)
            commits.foreach { case (v, kind, names) =>
              require(kind == "append",
                s"$kind v$v inside the stream — re-baseline the index")
              // version-tracked fold: a replayed commit skips without
              // work, a RETENTION GAP (expireBefore past this stream's
              // checkpoint) refuses instead of sealing a holey index
              TextIndex.appendOnce(s, idx,
                s.read.parquet(log.filePaths(names): _*),
                version = Some(v))
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runStream(s"$root/_ckpt1")
      assert(indexedDocs() == tokenized,
        s"the stream must fold every committed doc once: " +
          s"${indexedDocs()} of $tokenized")
      runStream(s"$root/_ckpt2") // TOTAL replay: fresh checkpoint
      assert(indexedDocs() == tokenized,
        "a replayed delivery must fold nothing into the index")
      assert(TextIndex.trusted(s, idx),
        "the maintained index must end trusted")
      val queries = all.filter(col("doc_id") % 250 === 7)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5))
            .as("qtext"))
      TextIndex.serveBm25(s, idx, queries, k = 5).get
        .orderBy("qid", "rank")
    }),

    // surgical decontamination: leaked 8-token spans cut out of every
    // training doc (vs d20/d25's whole-doc drop) — held-out window
    // hashes broadcast into a semi-join, token-level reassembly only
    // for docs that actually lose a span
    "d39_decontam_spans" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.removeContaminatedSpans(
          all.filter(col("doc_id") % 20 =!= 7),
          all.filter(col("doc_id") % 20 === 7),
          "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // fuzzy segment dedup: d29's split/reassemble, but a segment dies
    // when ANY (doc, position)-earlier segment is an n-gram-Jaccard
    // near-duplicate — mutated boilerplate dies with the exact copies;
    // candidates stay keyed (shingle join + DF cap), never all-pairs
    "d38_segment_neardup" -> ((s, d) => {
      Dedup.segmentNearDedup(docs(s, d), "doc_id", "text",
          k = 12, n = 3, threshold = 0.6)
        .orderBy("doc_id")
    }),

    // near-dup cluster representative by QUALITY: d09's CC clusters,
    // but the kept doc is the best-scoring member (d03's quality
    // score), not the arbitrary min id — one min(struct) agg per
    // cluster (map-side combine), no window over the corpus
    "d35_cluster_best" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("n_chars"),
        TextFunctions.tokens(col("text")).as("__tk"))
      val quality = TextFunctions
        .qualityColumnsFromTokens(col("__tk"), col("n_chars"))
        .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
        .select(col("doc_id"), col("quality_score"))
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.2)
      val clusters = Dedup.duplicateClusters(pairs.select("id1", "id2"))
      Dedup.bestPerCluster(clusters, quality, "doc_id", "quality_score")
        .orderBy("cluster_id")
    }),

    // DSIR-style importance weights: target = the English slice, base =
    // the whole corpus, features = hashed unigrams; log-weights fixed-
    // point-quantized (1/256-bit fineLog2 — d32's integer-log trick at
    // sub-bit resolution) so the selection signal is hash-verified
    // cross-engine
    "d36_dsir_weights" -> ((s, d) => {
      operators.Quality.importanceWeights(docs(s, d),
          col("lang") === "en", "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Gopher-style hard quality gates: five rule booleans + overall
    // pass per doc, pure per-row projections (zero exchanges)
    "d37_gopher_rules" -> ((s, d) => {
      operators.Quality.gopherRules(docs(s, d), "doc_id", "text",
          "n_chars")
        .orderBy("doc_id")
    }),

    // directed containment pairs — the quote/subset detector: a doc
    // wholly contained in another scores ~1 regardless of the
    // container's length, where Jaccard would dilute. Same keyed
    // shingle join + DF cap as d04, directed output
    "d26_containment" -> ((s, d) => {
      Dedup.containmentPairs(docs(s, d), "doc_id", "text",
          n = 3, threshold = 0.7)
        .orderBy("doc_id", "container_id")
    }),

    // benchmark decontamination (GPT-3 appendix-C style): flag training
    // docs sharing ANY 5-gram with the held-out eval split (doc_id%20=7
    // — the same hash-split discipline as d12). Eval-side shingle hashes
    // broadcast, so the corpus side is one codegen'd scan with no
    // shuffle; only actual leaks reach the per-doc agg. Exact — no DF
    // cap: a leak through boilerplate is still a leak
    "d20_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.contaminationReport(
          all.filter(col("doc_id") % 20 =!= 7),
          all.filter(col("doc_id") % 20 === 7),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // MULTI-BENCHMARK CONTAMINATION MATRIX: per-training-doc
    // attribution of WHICH eval suites it leaks 5-gram windows into —
    // the release-report layer above d20's single-suite drop decision.
    // One tagged-union broadcast serves every suite in a single probe;
    // names fold sorted so the report column hash-verifies
    "d47_contam_matrix" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.contaminationMatrix(
          all.filter(col("doc_id") % 20 =!= 7 &&
            col("doc_id") % 20 =!= 13),
          Seq(
            "mmlu" -> all.filter(col("doc_id") % 20 === 7),
            "gsm8k" -> all.filter(col("doc_id") % 20 === 13)),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // corpus datasheet: the per-(source, lang) composition report a
    // corpus release ships with — doc/token counts, mean length, share
    // of corpus. One keyed agg with map-side partials; the share window
    // runs over the already-aggregated (sources x langs) frame, never
    // the corpus
    "d24_corpus_datasheet" -> ((s, d) => {
      docs(s, d)
        .select(col("source"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("__nt"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
        .withColumn("mean_tokens",
          col("n_tokens").cast("double") / col("n_docs").cast("double"))
        .withColumn("doc_share",
          col("n_docs").cast("double") /
            sum(col("n_docs")).over(
              Window.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)).cast("double"))
        .orderBy("source", "lang")
    }),

    // exact substring-duplication audit (Lee et al. 2022 exact flavor):
    // docs containing an 8-token window that repeats anywhere in the
    // corpus, with merged-interval coverage via gaps-and-islands (one
    // lead() window, no interval materialization). Positional window
    // hashes are one codegen'd ShinglePackAllExpr pass; repeated-window
    // detection is one keyed agg on the 62-bit hash
    "d23_substring_dup" -> ((s, d) => {
      Dedup.substringDupReport(docs(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // the flagship pipeline with its decontamination stage armed: run
    // the full corpus clean (normalize -> gate -> exact dedup ->
    // DECONTAMINATE vs the eval split -> near-dup CC -> split) on the
    // train side only. The stage sits after exact dedup (broadcast
    // probe scans the shrunk survivors) and before near-dup (a leaking
    // cluster representative cannot survive via its cluster)
    "d25_pipeline_decontam" -> ((s, d) => {
      val all = docs(s, d)
      operators.CorpusPipeline.run(
          all.filter(col("doc_id") % 20 =!= 7),
          heldOut = Some(all.filter(col("doc_id") % 20 === 7)))
        .orderBy("doc_id")
    }),

    // per-doc rarity scoring: mean corpus document-frequency of the
    // doc's token occurrences — low mean_df = rare-vocabulary doc (the
    // inverse-df half of TF-IDF without the libm-divergent log). Exact
    // integers end to end: tf per (doc, token), df per token, one keyed
    // join at (doc, token)-pair width (NOT per occurrence — Zipf-head
    // tokens would fan out per occurrence otherwise), integer sums, one
    // final exact division. The df side broadcasts while the vocab fits;
    // beyond that it's a keyed join AQE can split
    "d22_rarity_score" -> ((s, d) => {
      val tf = docs(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(dfT, "tok")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("df")).as("sum_df"))
        .withColumn("mean_df",
          col("sum_df").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),

    // corpus-level sequence packing (concat-and-chunk, the GPT training
    // layout): every doc gets a deterministic global token offset via a
    // DISTRIBUTED prefix sum — strip ids from the hash's high bits (no
    // sampled range boundaries), per-strip windows in parallel, one tiny
    // global pass over the 32 strip totals (operators/Pack.scala). The
    // oracle states the same thing as one global ordered window
    "d21_pack_sequences" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long")
            .as("n_tokens"),
          TextFunctions.charFold(col("text"), 131).as("h"))
        .transform(Pack.packChunks(_, "doc_id", "n_tokens", "h",
          window = 256))
        .orderBy("doc_id")
    }),

    // stratified packing: one independent packed stream PER LANGUAGE
    // (the multi-tenant training layout — each language trains from its
    // own contiguous token space). Same distributed prefix sum as d21
    // with the strip machinery keyed by (lang, strip); the serial
    // prefix runs per language over its 32 strip totals
    "d27_pack_by_lang" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long")
            .as("n_tokens"),
          TextFunctions.charFold(col("text"), 131).as("h"))
        .transform(Pack.packChunks(_, "doc_id", "n_tokens", "h",
          window = 256, strataCols = Seq("lang")))
        .orderBy("doc_id")
    }),

    // INCREMENTAL connected components, STREAMED: the d09 pair set is
    // hash-split into arrival batches and driven through a real
    // readStream + foreachBatch, each micro-batch folded into a
    // lake-resident label table (touched clusters merge, untouched rows
    // pass through; labels store component minima so arrival order is
    // irrelevant). The final table must equal the batch-global CC — the
    // oracle is d09's recursive-CTE closure verbatim, which is exactly
    // the "streamed batches == batch run on the union" contract. Like
    // q73, state lives in the LAKE: the stream itself is stateless and
    // restart-safe
    "d28_incremental_clusters" -> ((s, d) => {
      val lbl = scratch(s, "d28", d)
      val src = scratch(s, "d28src", d)
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
          n = 3, threshold = 0.2)
        .select("id1", "id2")
        .withColumn("__b", pmod(xxhash64(col("id1"), col("id2")), lit(3L)))
        .repartition(3, col("__b")) // few files per arrival batch
        .write.partitionBy("__b").parquet(src)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id1",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id2",
          org.apache.spark.sql.types.LongType)))
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/__b=*")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // bucket count tracks the label-table size like a shuffle
          // width: 16 at fixture scale (hundreds/thousands of labels);
          // a 10B-doc corpus would run 256+
          Dedup.mergeClusterBatch(lbl, batch, numBuckets = 16)
        }
        .option("checkpointLocation", s"$src/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // project off the storage-layout bucket column: labels are
      // hive-partitioned by pmod(doc_id, N) so each merge batch
      // rewrites only its touched buckets
      s.read.parquet(lbl).select("doc_id", "cluster_id").orderBy("doc_id")
    }),

    // CCNet-style cross-corpus segment dedup: the paragraph-hash dedup
    // of Wenzek et al. 2020 mapped to fixed 8-token segments (the
    // synthetic docs are single-line). Keep-first is ONE keyed agg
    // (min(struct) with map-side partials — not a window sort), the
    // winner set is the kept set, reassembly is a groupBy over the
    // already-shrunk winners. See Dedup.segmentDedup
    "d29_segment_dedup" -> ((s, d) => {
      Dedup.segmentDedup(docs(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // C4-style boilerplate removal: segments in >= 3 DISTINCT docs are
    // deleted from EVERY doc (the frequency rule — d29 keeps a first
    // occurrence, this keeps none). DF table = one keyed countDistinct
    // agg; removal = keyed anti-join; reassembly only from each doc's
    // own survivors
    "d40_boilerplate" -> ((s, d) => {
      Dedup.boilerplateRemove(docs(s, d), "doc_id", "text",
          k = 8, minDf = 3)
        .orderBy("doc_id")
    }),

    // per-doc TF-IDF keywords: tf agg + vocabulary-keyed idf join + a
    // per-doc window for top-k — idf in fineLog2 fixed point so the
    // scores are integers and the ranking hash-verifies cross-engine
    "d41_tfidf_keywords" -> ((s, d) => {
      operators.Quality.tfidfTopTerms(docs(s, d), k = 3)
        .orderBy("doc_id", "rank")
    }),

    // N-GRAM NOVELTY CURVE (diversity saturation): how many
    // corpus-unique 3-grams each doc contributes first, plus the
    // running total — first ownership is one keyed min-agg, and the
    // cumulative sum rides the strip-partitioned distributed prefix
    // sum (Pack.packOffsets) instead of a single-partition global
    // window, so the curve computes at any corpus size
    "d45_ngram_novelty" -> ((s, d) => {
      operators.Quality.ngramNovelty(docs(s, d), n = 3)
    }),

    // PACKING-EFFICIENCY SWEEP: the padding cost of each candidate
    // context length — Σ(ceil(n/C)·C − n) over docs for C ∈ {32, 64,
    // 128} — the table that decides a training context size. One
    // per-doc token count, three arithmetic projections, one agg; the
    // fraction is one IEEE division over exact integers
    // DETERMINISTIC EPOCH SHUFFLE (the training-export step): each
    // epoch is a different but reproducible permutation, materialized
    // as balanced shards with a contractual within-shard order. NO
    // global sort/rank anywhere — shard id is a row-local salted
    // hash, the within-shard position windows over the parallel unit.
    // In-query: shards balanced, epochs actually permute differently
    "d53_epoch_shuffle" -> ((s, d) => {
      val base = docs(s, d).select("doc_id")
      def ep(e: Long) =
        operators.Sampling.epochShuffle(base, "doc_id", e, 8)
          .withColumn("epoch", lit(e))
      val e1 = ep(1L)
      val e2 = ep(2L)
      val Array(mn, mx) = e1.groupBy("shard").count()
        .agg(min("count"), max("count")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      assert(mx <= mn * 2,
        s"hash sharding must stay balanced, got min=$mn max=$mx")
      val moved = e1
        .select(col("doc_id"), col("shard").as("s1"), col("pos").as("p1"))
        .join(e2.select(col("doc_id"), col("shard").as("s2"),
          col("pos").as("p2")), "doc_id")
        .filter(col("s1") =!= col("s2") || col("p1") =!= col("p2"))
        .count()
      assert(moved > 0, "epochs must produce different permutations")
      e1.unionByName(e2)
        .select("epoch", "doc_id", "shard", "pos")
        .orderBy("epoch", "doc_id")
    }),

    // PAGERANK centrality in exact integer fixed point (the crawl-
    // curation quality signal — Common Crawl publishes per-host rank
    // lists computed exactly this way): 3 damped iterations with the
    // dangling-mass correction over the bipartite customer→supplier
    // citation graph (even/odd node encoding keeps the key spaces
    // disjoint). Every rank is an integer numerator under floor
    // division — the oracle unrolls the same 3 iterations and both
    // engines replay the identical sequence; per-iteration driver
    // state is ONE scalar (the dangling mass)
    "d54_pagerank" -> ((s, d) => {
      val e = ord(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      operators.Graph.pageRank(e, "src", "dst", iters = 3)
    }),

    // MODEL-BASED QUALITY CLASSIFIER INFERENCE (the fastText-style
    // filter after the hard rules): feature-hashed bag of words, one
    // integer weight per (bucket, class) derived deterministically
    // from the portable hash family (a trained model's weights are an
    // input artifact; none ships here — the SHAPE is the operator),
    // argmax label with ties to the lowest class, margin = top minus
    // runner-up. Zero joins: scoring is per-row projections + one
    // map-side-combining agg, and every score is an exact integer the
    // oracle replays
    "d55_classifier_score" -> ((s, d) => {
      operators.Quality.classifierScore(docs(s, d))
    }),

    "d52_pack_efficiency" -> ((s, d) => {
      val nt = docs(s, d)
        .select(size(TextFunctions.tokens(col("text")))
          .cast("long").as("nt"))
      Seq(32L, 64L, 128L).map { c =>
        nt.select(lit(c).as("context"), col("nt"),
          (((col("nt") + c - 1L) / c.toDouble).cast("long") * c)
            .as("padded"))
          .groupBy("context")
          .agg(sum("nt").as("total_tokens"),
            sum((col("padded") - col("nt"))).as("pad_tokens"),
            sum(col("padded") / lit(c.toDouble)).cast("long")
              .as("n_chunks"))
      }.reduce(_.unionByName(_))
        .withColumn("pad_frac",
          col("pad_tokens").cast("double") /
            (col("total_tokens") + col("pad_tokens")).cast("double"))
        .orderBy("context")
    }),

    // CROSS-SOURCE DUPLICATE PROVENANCE: texts that appear under MORE
    // THAN ONE source, with the sorted source list and a copy count —
    // the license/attribution conflict report a corpus audit ships
    // (exact dedup says drop; THIS says which provenances disagree).
    // A mirror slice plants the conflicts; one keyed agg over (text)
    // with a sorted set fold — hash-stable
    "d51_cross_source" -> ((s, d) => {
      val base = docs(s, d)
      val mirrored = base.filter(col("doc_id") % 6 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
        .withColumn("source", concat(lit("mirror_"), col("source")))
      base.unionByName(mirrored)
        .groupBy("text")
        .agg(
          array_sort(collect_set(col("source"))).as("__srcs"),
          count(lit(1)).as("n_copies"),
          min("doc_id").as("first_doc"))
        .filter(size(col("__srcs")) > 1)
        .select(col("first_doc"),
          array_join(col("__srcs"), ",").as("sources"),
          size(col("__srcs")).cast("long").as("n_sources"),
          col("n_copies"))
        .orderBy("first_doc")
    }),

    // TOKEN ENTROPY (information density) in exact fineLog2 fixed
    // point: H·N·256 = N·flog2(N) − Σ c·flog2(c), all integer — the
    // quality signal itself hash-verifies where libm log2 drifts; the
    // only double is the final bits-per-token division
    "d50_token_entropy" -> ((s, d) => {
      operators.Quality.tokenEntropy(docs(s, d)).orderBy("doc_id")
    }),

    // INTRA-DOC REPETITION (the Gopher duplicate-n-gram-fraction
    // signal d37's battery doesn't carry): per doc, the fraction of
    // 3-gram occurrences that repeat an earlier gram of the SAME doc —
    // sum(count-1) over the doc's gram histogram / total grams. One
    // (doc, gram) agg + one per-doc agg, both map-side combining; the
    // ratio is one IEEE division over exact integers
    "d49_intradoc_rep" -> ((s, d) => {
      val grams = docs(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(tk) - 3), " +
            "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))")).as("g"))
      grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c") - 1L).as("dup_grams"),
          sum(col("c")).as("n_grams"))
        .withColumn("dup_frac",
          col("dup_grams").cast("double") / col("n_grams").cast("double"))
        .orderBy("doc_id")
    }),

    // HEAVY HITTERS without a vocabulary shuffle: per-partition
    // Misra-Gries summaries (bounded memory, provably a superset of the
    // true > total/k set) pruned by an EXACT broadcast rescore — run
    // over character tokens, whose natural Zipf skew gives the
    // threshold something to discriminate. Output is the exact heavy
    // set, so the oracle replays it with a plain count
    "d44_heavy_hitters" -> ((s, d) => {
      val chars = docs(s, d)
        .select(explode(split(col("text"), "")).as("token"))
        .filter(col("token") =!= " " && length(col("token")) > 0)
      operators.Quality.heavyHitters(chars, k = 12)
    }),

    // BPE MERGE INDUCTION (tokenizer training as a lake job): three
    // rounds of corpus-weighted pair counting over the VOCABULARY (the
    // corpus itself is read once, by the word-count agg), each learned
    // merge applied by a boundary-exact builtin replace whose
    // left-to-right non-overlap scan IS greedy BPE order. Output = the
    // merge table plus the fully re-segmented vocabulary; the oracle
    // unrolls the same three rounds, so both the argmax choices and
    // every segmentation hash-match cross-engine
    "d43_bpe_merges" -> ((s, d) => {
      val (merges, vocab) =
        operators.Quality.bpeTrain(docs(s, d), rounds = 3)
      val mdf = s.createDataFrame(merges)
        .select(lit("merge").as("kind"),
          col("round").cast("long").as("ord"),
          col("s1"), col("s2"), col("weight").as("n"),
          concat(col("s1"), col("s2")).as("seg"))
      val vdf = vocab.select(lit("vocab").as("kind"), lit(0L).as("ord"),
        col("word").as("s1"), lit("").as("s2"), col("n"), col("seg"))
      mdf.unionByName(vdf).orderBy("kind", "ord", "s1")
    }),

    // MEAN-POOLED GROUP CENTROIDS + centroid nearest neighbors: the
    // doc-embedding-from-chunk-embeddings pooling step on the e19
    // integer lattice (floor(sum/count) per dimension — exact, so the
    // pooled vectors hash-replay), then exact cosine between the 10
    // class centroids with one correctly-rounded sqrt per norm; the
    // pairwise stage is |groups|^2, never corpus-sized
    "e23_pooled_centroids" -> ((s, d) => {
      Similarity.pooledCentroidTopK(emb(s, d), k = 3)
        .orderBy("label1", "rank")
    }),

    // BPE ENCODE (the apply half of d43's training): the learned
    // merges re-segment the vocabulary, and every doc's subword count
    // comes from one broadcast word->segmentation join — the
    // compression metric tokenizer training exists to improve. The
    // corpus is never re-segmented row by row: segmentation lives on
    // the VOCABULARY, docs just join it
    "d48_bpe_encode" -> ((s, d) => {
      val (_, vocab) = operators.Quality.bpeTrain(docs(s, d), rounds = 3)
      val segLen = vocab.select(col("word"),
        size(expr("split(btrim(seg, '|'), '\\\\|\\\\|')"))
          .cast("long").as("ns"))
      docs(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .join(broadcast(segLen), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("ns").as("n_subwords"))
        .orderBy("doc_id")
    }),

    // leakage-safe train/test split: assignment is a function of the
    // near-dup CLUSTER, so no near-duplicate pair can straddle the
    // boundary (the Lee et al. 2022 eval-contamination mode). Asserted
    // in-query: every cluster lands in exactly one split
    "d42_cluster_split" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.2)
      val labels = Dedup.duplicateClusters(pairs.select("id1", "id2"))
      val out = operators.Sampling.clusterSplit(labels).cache()
      val straddlers = out.groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("ns"))
        .filter(col("ns") > 1).count()
      assert(straddlers == 0, s"$straddlers clusters straddle the split")
      out.orderBy("doc_id")
    }),

    // context-window chunking: split every doc into fixed 32-token
    // training sequences (the pack-into-context step of corpus prep).
    // One generate (explode of the per-doc chunk index range) + per-row
    // array slices — no shuffle until the final presentation sort, and
    // chunk boundaries are pure arithmetic so the op is embarrassingly
    // parallel at any corpus size
    "d18_chunking" -> ((s, d) => {
      val C = 32
      docs(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__tk"))
        .select(col("doc_id"), col("__tk"),
          explode(expr(s"sequence(0, (size(__tk) - 1) div $C)"))
            .as("chunk_idx"))
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          concat_ws(" ",
            slice(col("__tk"), col("chunk_idx") * C + 1, lit(C)))
            .as("chunk"),
          least(size(col("__tk")) - col("chunk_idx") * C, lit(C))
            .cast("long").as("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // exact cosine near-pairs over embeddings
    "e01_cosine_pairs" -> ((s, d) => {
      Similarity.cosinePairs(emb(s, d), threshold = 0.4, leftIdBound = 100L)
        .orderBy("id1", "id2")
    }),

    // ANN SERVING UNDER MOR DELETES: deleted vectors must LEAVE the
    // index — the serving corpus is the merge-on-read view, so
    // tombstoned ids can neither query nor return as neighbors
    // (asserted in-query); results equal brute force over the
    // survivors exactly
    // ANN OVER THE POSITIONAL-DELETE SURVIVOR VIEW on the COMMIT LOG
    // (e25's sibling, three r9 systems composed): the embedding corpus
    // is a multi-writer table, vectors leave by deleteWhereMor —
    // ZERO data files written (asserted: the delete commit references
    // only dv files) — and similarity serves the subtracted read, so
    // marked vectors neither query nor return. The 100 TB shape:
    // retiring embeddings from a serving corpus is one metadata
    // commit, not a rewrite of the vector store
    "e32_ann_dv_survivors" -> ((s, d) => {
      val root = scratch(s, "e32", d)
      val log = CommitLog(s, root).init()
      log.append(emb(s, d).repartition(4, col("vec_id")))
      val (v2, marked) = log.deleteWhereMor("vec_id % 5 = 2")
      assert(marked > 0)
      val c2 = log.commit(v2)
      assert(c2.removed.isEmpty && c2.files.forall(_.startsWith("dv-")),
        "the retirement must write no data files")
      val corpus = log.read(None)
      val out = Similarity.bruteForceTopK(corpus,
          corpus.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
      assert(out.filter(col("id2") % 5 === 2 || col("id1") % 5 === 2)
        .count() == 0, "marked vectors must neither query nor return")
      out.orderBy("id1", "rank")
    }),

    // STRUCTURED STREAMING SOURCE over the commit log (r10 — the
    // Delta streaming-source analog): `readStream.format("commitlog")`
    // with offsets = commit versions, so exactly-once falls out of
    // the checkpointed offset log + atomic commit visibility; each
    // micro-batch plans only its own range's files (trigger cost =
    // the increment, never the lake). Two AvailableNow drains against
    // ONE checkpoint: the first delivers the standing history, the
    // second delivers EXACTLY the commits that landed between drains
    // (a positional delete streaming as full pre-images + a fresh
    // append) with zero re-delivery. In-query asserts: the streamed
    // set equals the batch change feed exactly (two-way anti-join),
    // maxVersionsPerTrigger splits the backlog into per-commit
    // micro-batches
    "e33_stream_source" -> ((s, d) => {
      val root = scratch(s, "e33", d)
      val log = CommitLog(s, s"$root/t").init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      log.append(src.filter(col("o_orderkey") <= lo + e)
        .repartition(2, col("o_custkey")))                    // v1
      log.append(src.filter(col("o_orderkey") > lo + e &&
        col("o_orderkey") <= lo + 2 * e))                     // v2
      val out = s"$root/out"
      val ckpt = s"$root/ckpt"
      def drain(): Unit = {
        val q = s.readStream.format("commitlog")
          .option("readChangeFeed", "true")
          .option("maxVersionsPerTrigger", "1")
          .load(s"$root/t")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // history: v1+v2 inserts, one micro-batch per commit
      val afterFirst = s.read.parquet(out).count()
      val (_, marked) = log.deleteWhereMor("o_orderkey % 3 = 0") // v3
      assert(marked > 0)
      log.append(src.filter(col("o_orderkey") > lo + 2 * e &&
        col("o_orderkey") <= lo + 3 * e))                     // v4
      drain() // increment only: the delete pre-images + band C
      val streamed = s.read.parquet(out).localCheckpoint(true)
      assert(streamed.filter(col("_op") === "insert").count() ==
        afterFirst + streamed.filter(col("_commit_version") === 4L)
          .count(),
        "the second drain must re-deliver nothing")
      // the streamed set IS the batch change feed (both directions)
      val batchFeed = log.changesSince(0L)
      assert(streamed.join(batchFeed,
          streamed.columns.toSeq, "left_anti").count() == 0 &&
        batchFeed.join(streamed,
          streamed.columns.toSeq, "left_anti").count() == 0,
        "streamed and batch change feeds must agree exactly")
      streamed.select("_op", "o_orderkey", "o_custkey",
          "o_totalprice")
        .orderBy("_op", "o_orderkey")
    }),

    // LAKE-TO-LAKE STREAMING REPLICATION (r10): source AND sink are
    // commit-log tables — `readStream.format("commitlog")` into
    // `writeStream.format("commitlog")`. Each micro-batch lands as
    // ONE (appId, batchId)-marked commit (appendOnce), so a replayed
    // batch SKIPS: exactly-once end-to-end with no dedup state beyond
    // the manifests both sides already keep. In-query asserts: the
    // replica equals the source live set both directions, every
    // replica commit carries its txn mark, and the second drain
    // (after new source commits) adds exactly the increment
    "e34_stream_replication" -> ((s, d) => {
      val root = scratch(s, "e34", d)
      val srcLog = CommitLog(s, s"$root/src").init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      srcLog.append(src.filter(col("o_orderkey") <= lo + e)
        .repartition(2, col("o_custkey")))                    // v1
      srcLog.append(src.filter(col("o_orderkey") > lo + e &&
        col("o_orderkey") <= lo + 2 * e))                     // v2
      val ckpt = s"$root/ckpt"
      def replicate(): Unit = {
        val q = s.readStream.format("commitlog")
          .option("maxVersionsPerTrigger", "1")
          .load(s"$root/src")
          .writeStream.format("commitlog")
          .option("path", s"$root/dst")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
          .start()
        q.awaitTermination()
      }
      replicate()
      val dst = CommitLog(s, s"$root/dst")
      val afterFirst = dst.read(None).count()
      assert((1L to dst.latestVersion())
        .forall(v => dst.commit(v).txn.isDefined),
        "every replica commit must carry its (appId, batchId) mark")
      srcLog.append(src.filter(col("o_orderkey") > lo + 2 * e &&
        col("o_orderkey") <= lo + 3 * e))                    // v3
      replicate() // increment only: replayed batches skip
      val rep = dst.read(None).localCheckpoint(true)
      val live = srcLog.read(None)
      assert(rep.count() == afterFirst +
        src.filter(col("o_orderkey") > lo + 2 * e &&
          col("o_orderkey") <= lo + 3 * e).count(),
        "the second drain must add exactly the increment")
      assert(rep.join(live, rep.columns.toSeq, "left_anti")
        .count() == 0 &&
        live.join(rep, rep.columns.toSeq, "left_anti").count() == 0,
        "the replica must equal the source live set")
      rep.orderBy("o_orderkey")
    }),

    // STREAMED MV MAINTENANCE: the commit-log stream source DRIVES
    // incremental materialized-view refresh — each micro-batch (one
    // source commit) triggers refreshMaterializedView, which folds
    // the change feed's moved keys only. Exactly-once by IDEMPOTENCE,
    // not offsets: the refresh recomputes per-key and advances a
    // sync-point property, so a replayed trigger converges instead of
    // double-applying, and a drain with nothing new burns no MV
    // commit. At 100 TB this is the standing pipeline: mutation cost
    // on the source, refresh cost on the CHANGED keys, never the
    // view or the lake. In-query asserts: the view equals a
    // from-scratch recompute after cow DELETE + UPDATE + append all
    // fold through; an idle re-drain leaves the view's version
    // untouched
    "e35_stream_mv_maintenance" -> ((s, d) => {
      val root = scratch(s, "e35", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t35e (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_totalprice DOUBLE) USING commitlog " +
        "TBLPROPERTIES ('cdf.enabled'='true')")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("e35_src")
      lm.sql("INSERT INTO t35e SELECT * FROM e35_src " +
        "WHERE o_orderkey % 3 = 0")
      lm.sql("INSERT INTO t35e SELECT * FROM e35_src " +
        "WHERE o_orderkey % 3 = 1")
      lm.sql("CREATE MATERIALIZED VIEW mv35 AS " +
        "SELECT o_custkey, count(*) AS n, max(o_totalprice) AS mx " +
        "FROM t35e GROUP BY o_custkey")
      val ckpt = s"$root/ckpt"
      def drain(): Unit = {
        val q = s.readStream.format("commitlog")
          .option("readChangeFeed", "true")
          .option("maxVersionsPerTrigger", "1")
          .load(s"$root/t35e")
          .writeStream
          .foreachBatch((_: DataFrame, _: Long) => {
            lm.refreshMaterializedView("mv35"); ()
          })
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // founding history replays: refreshes no-op (synced=tip)
      lm.sql("INSERT INTO t35e SELECT * FROM e35_src " +
        "WHERE o_orderkey % 3 = 2")
      lm.sql("DELETE FROM t35e WHERE o_orderkey % 5 = 0")
      lm.sql("UPDATE t35e SET o_totalprice = o_totalprice + 1000 " +
        "WHERE o_custkey % 7 = 0")
      drain() // the mutations fold through, changed keys only
      val mvLog = lm.commitLog("mv35")
      val srcLog = lm.commitLog("t35e")
      assert(mvLog.properties(None)(LakeManager.MvSyncedProp).toLong ==
        srcLog.latestVersion(), "the view must sync to the source tip")
      val vIdle = mvLog.latestVersion()
      drain() // nothing new: idempotent no-op
      assert(mvLog.latestVersion() == vIdle,
        "an idle re-drain must burn no MV commit")
      val expect = s.sql("SELECT o_custkey, count(*) AS n, " +
        "max(o_totalprice) AS mx FROM t35e GROUP BY o_custkey")
      val got = mvLog.read(None).select("o_custkey", "n", "mx")
      assert(got.exceptAll(expect).isEmpty &&
        expect.exceptAll(got).isEmpty,
        "the streamed view must equal a from-scratch recompute")
      got.orderBy("o_custkey")
    }),

    "e25_ann_mor" -> ((s, d) => {
      val root = scratch(s, "e25", d)
      emb(s, d).write.parquet(root)
      RowOps.deleteKeysMor(s, root,
        emb(s, d).filter(col("vec_id") % 4 === 1).select("vec_id"),
        Seq("vec_id"))
      val corpus = RowOps.readMor(s, root)
      val out = Similarity.bruteForceTopK(corpus,
          corpus.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
      assert(out.filter(col("id2") % 4 === 1 || col("id1") % 4 === 1)
        .count() == 0, "tombstoned vectors must not serve")
      out.orderBy("id1", "rank")
    }),

    // exact brute-force cosine top-k (queries = vec_id < 10)
    "e02_knn_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // LSH-bucketed ANN — deterministic SRP planes embedded as literals in
    // BOTH the Spark plan and the generated oracle (e03Oracle), so even
    // this approximate operator is hash-verified; recall vs e02 is
    // additionally checked in ScalaTest
    "e03_ann_srp" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.srpTopK(e, e.filter(col("vec_id") < 10), dim = 64, k = 5,
          nBits = 4, nTables = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // the production ANN lifecycle: build the SRP index ONCE, persist
    // it to the lake partitioned by table (query probes prune), reload,
    // and serve the e03 queries from the persisted index — identical
    // results to the in-memory path by construction, which is exactly
    // what the shared oracle asserts (e10 uses e03's oracle verbatim)
    "e10_persisted_index" -> ((s, d) => {
      val root = scratch(s, "e10", d)
      val e = emb(s, d)
      Similarity.buildSrpIndex(e, dim = 64, nBits = 4, nTables = 4)
        .write.mode("overwrite").partitionBy("table").parquet(root)
      Similarity.srpTopKFromIndex(
          s.read.parquet(root), e.filter(col("vec_id") < 10),
          dim = 64, k = 5, nBits = 4, nTables = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // persisted-index MAINTENANCE under delta ingest: the index is
    // bootstrapped from a third of the corpus and the other two thirds
    // arrive as delta batches folded in by AnnIndex.appendSrp — each
    // append buckets ONLY its batch (SRP planes are corpus-independent,
    // so append-maintained == from-scratch rebuilt row for row), under
    // the same dirty/trust marker discipline as the _keys/_shingles/
    // _stats sidecars. The oracle is e03's full-corpus answer: serving
    // the maintained index must be indistinguishable from an index
    // built once over everything
    "e13_srp_maintain" -> ((s, d) => {
      val root = scratch(s, "e13", d)
      val e = emb(s, d)
      def m3(r: Long*) = pmod(col("vec_id"), lit(3L)).isin(r: _*)
      AnnIndex.buildSrp(s, root, e.filter(m3(0)), dim = 64,
        nBits = 4, nTables = 4)
      AnnIndex.appendSrp(s, root, e.filter(m3(1)))
      AnnIndex.appendSrp(s, root, e.filter(m3(2)))
      assert(AnnIndex.trusted(s, root),
        "append path must reseal the trust marker")
      AnnIndex.serveSrp(s, root, e.filter(col("vec_id") < 10), k = 5).get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // the IVF sibling: appends assign ONLY the batch to the STORED
    // pivots (the FAISS `add` contract — cell boundaries never shift
    // under ingest). The bootstrap is chosen by the pivot rank itself
    // (the union corpus's own pivot set), so the stored quantizer
    // EQUALS the one a from-scratch rebuild would pick and the e04
    // oracle is exact — the appends still exercise the general
    // maintenance path: batch-only assignment against stored pivots
    "e14_ivf_maintain" -> ((s, d) => {
      val root = scratch(s, "e14", d)
      val e = emb(s, d)
      val nCells = 16
      val pivotIds = e
        .orderBy(Similarity.pivotRank(col("vec_id")).asc,
          col("vec_id").asc)
        .limit(nCells).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val isPivot = col("vec_id").isin(pivotIds: _*)
      AnnIndex.buildIvf(s, root, e.filter(isPivot), nCells = nCells)
      val rest = e.filter(!isPivot)
      AnnIndex.appendIvf(s, root,
        rest.filter(pmod(col("vec_id"), lit(2L)) === 0L))
      AnnIndex.appendIvf(s, root,
        rest.filter(pmod(col("vec_id"), lit(2L)) === 1L))
      assert(AnnIndex.trusted(s, root),
        "append path must reseal the trust marker")
      AnnIndex.serveIvf(s, root, e.filter(col("vec_id") < 10),
          k = 5, nProbe = 4).get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // e03 on the int8 diet: SRP buckets, candidate join, and exact
    // rerank all run over the QUANTIZED vectors — 4x less vector bytes
    // through the shuffle, and every value stays integer-exact (dots,
    // norms, bucket signs), so even the compressed index is
    // hash-verified against the generated oracle (e09Oracle)
    "e09_ann_quantized" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.srpTopK(e, e.filter(col("vec_id") < 10), dim = 64, k = 5,
          nBits = 4, nTables = 4, quantized = true)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // the quantize-then-rerank SERVING pattern: int8 SRP shortlist (20
    // per query, e09's machinery) re-scored against the full-precision
    // vectors for the exact-cosine top-5. The shortlist broadcasts into
    // the full-precision scan — stage 2 never shuffles the corpus — and
    // the reported sims are exact floats, so quantization error is
    // confined to shortlist membership (which the oracle replicates
    // stage by stage)
    "e12_ann_rerank" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.srpTopKReranked(e, e.filter(col("vec_id") < 10),
          dim = 64, k = 5, shortlist = 20, nBits = 4, nTables = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // ANN quality MEASURED, not asserted: per-query recall@5 of the SRP
    // index (e03) against brute force (e02) — the number that decides
    // whether an index's nBits/nTables fit a corpus. Both sides are
    // deterministic, so even the recall measurement is hash-verified;
    // the join is (query, neighbor)-keyed, never all-pairs
    // IVF×PQ: the production serving composition — coarse cells prune
    // the scan (keyed equi-join on cell, the e11 partition layout),
    // ADC scores only the probed cells' reconstructions
    "e18_ivf_pq" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // sign-binarized Hamming ANN: one 64-bit signature per vector
    // (bitwise-OR fold — exact integers end to end), bit_count(xor)
    // distance, ties on id; the 8-bytes-a-vector serving index
    "e17_hamming_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.hammingTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // product quantization with ADC scoring: corpus snapped to 32
    // subspace codebooks (hash-stratified pivots, the IVF selection),
    // queries score the reconstructions in full precision — squared-L2
    // folds in fixed order, so even the compressed-space distances are
    // hash-verified cross-engine
    "e16_pq_adc" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // the PQ serving index PERSISTED and MAINTAINED (e16 re-encoded the
    // corpus per query — at 100 TB the codes ARE the index): codebooks
    // + codes-only rows live in the lake under the _ann.json trust
    // protocol; appends encode ONLY the batch against the STORED
    // codebooks (FAISS `add` — codebooks fixed between retrains).
    // Bootstrap = the pivot-rank rows themselves (the union corpus's
    // own codebook selection, the e14 discipline), so served-after-
    // two-appends is distance-identical to e16's from-scratch answer
    // and the e16 oracle gates it exactly
    "e26_pq_serve" -> ((s, d) => {
      val root = scratch(s, "e26", d)
      val e = emb(s, d)
      val nCents = 32
      val pivotIds = e
        .orderBy(Similarity.pivotRank(col("vec_id")).asc,
          col("vec_id").asc)
        .limit(nCents).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val isPivot = col("vec_id").isin(pivotIds: _*)
      AnnIndex.buildPq(s, root, e.filter(isPivot), dim = 64,
        nCents = nCents)
      val rest = e.filter(!isPivot)
      AnnIndex.appendPq(s, root,
        rest.filter(pmod(col("vec_id"), lit(2L)) === 0L))
      AnnIndex.appendPq(s, root,
        rest.filter(pmod(col("vec_id"), lit(2L)) === 1L))
      assert(AnnIndex.trusted(s, root),
        "append path must reseal the trust marker")
      AnnIndex.servePq(s, root, e.filter(col("vec_id") < 10), k = 5).get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // the Hamming sibling: the 8-byte signature table persisted under
    // the same trust protocol. Signatures depend only on the vector
    // (no trained parameters), so append-maintained == from-scratch
    // row for row and the e17 oracle gates the served answer exactly
    "e27_hamming_serve" -> ((s, d) => {
      val root = scratch(s, "e27", d)
      val e = emb(s, d)
      def m3(r: Long*) = pmod(col("vec_id"), lit(3L)).isin(r: _*)
      AnnIndex.buildHamming(s, root, e.filter(m3(0)), dim = 64)
      AnnIndex.appendHamming(s, root, e.filter(m3(1)))
      AnnIndex.appendHamming(s, root, e.filter(m3(2)))
      assert(AnnIndex.trusted(s, root),
        "append path must reseal the trust marker")
      AnnIndex.serveHamming(s, root, e.filter(col("vec_id") < 10), k = 5)
        .get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // the residual index PERSISTED and MAINTAINED (e28's at-rest form:
    // coarse table + pivot table + cell-partitioned codes — the
    // residual codebook re-derives from the stored tables bit-for-bit,
    // so nothing derived is stored). Bootstrap = the 32 pivot-rank
    // rows (the coarse 16 are their prefix under the same ordering, so
    // BOTH stored selections equal the full corpus's own); appends
    // encode ONLY the batch against the stored quantizers, and the
    // served answer is distance-identical to e28's from-scratch
    // composition — one oracle gates both
    "e29_pq_residual_serve" -> ((s, d) => {
      val root = scratch(s, "e29", d)
      val e = emb(s, d)
      val pivotIds = e
        .orderBy(Similarity.pivotRank(col("vec_id")).asc,
          col("vec_id").asc)
        .limit(32).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val isPivot = col("vec_id").isin(pivotIds: _*)
      AnnIndex.buildPqResidual(s, root, e.filter(isPivot), dim = 64)
      val rest = e.filter(!isPivot)
      AnnIndex.appendPqResidual(s, root,
        rest.filter(pmod(col("vec_id"), lit(2L)) === 0L))
      AnnIndex.appendPqResidual(s, root,
        rest.filter(pmod(col("vec_id"), lit(2L)) === 1L))
      assert(AnnIndex.trusted(s, root),
        "append path must reseal the trust marker")
      AnnIndex.servePqResidual(s, root, e.filter(col("vec_id") < 10),
          k = 5).get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // STREAMING ANN MAINTENANCE OFF THE COMMIT LOG — the full 100 TB
    // serving loop in one lifecycle: a multi-writer embedding table
    // ingests through the commit protocol, its commits stream into a
    // lake-resident SRP index via foreachBatch, and the index's OWN
    // id set makes the fold idempotent (appendSrpOnce: one keyed
    // left_anti against table 0 — no watermark file, nothing to crash
    // out of sync). The bootstrap commit redelivered by the stream
    // folds zero rows, a TOTAL replay (fresh checkpoint) folds zero
    // rows (both asserted), and the served results equal the direct
    // operator over the final corpus — the e03 oracle, exactly
    "e30_commitlog_ann_stream" -> ((s, d) => {
      val root = scratch(s, "e30", d)
      val log = CommitLog(s, s"$root/corpus").init()
      val idx = s"$root/ann"
      val e = emb(s, d)
      def m3(r: Long) = pmod(col("vec_id"), lit(3L)) === lit(r)
      log.append(e.filter(m3(0))) // v1
      AnnIndex.buildSrp(s, idx, log.read(None), dim = 64,
        nBits = 4, nTables = 4)
      log.append(e.filter(m3(1))) // v2
      log.append(e.filter(m3(2))) // v3
      def indexed(): Long = s.read.parquet(s"$idx/index")
        .filter(col("table") === 0).count()
      def runStream(ckpt: String): Unit = {
        val q = log.readStreamCommits()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val commits = batch.select("version", "kind", "files")
              .collect()
              .map(r => (r.getLong(0), r.getString(1),
                r.getSeq[String](2)))
              .sortBy(_._1)
            commits.foreach { case (v, kind, names) =>
              require(kind == "append",
                s"$kind v$v inside the stream — re-baseline the index")
              AnnIndex.appendSrpOnce(s, idx,
                s.read.parquet(log.filePaths(names): _*))
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runStream(s"$root/_ckpt1")
      assert(indexed() == e.count(),
        s"the stream must fold every committed vector once, " +
          s"got ${indexed()} of ${e.count()}")
      runStream(s"$root/_ckpt2") // TOTAL replay: fresh checkpoint
      assert(indexed() == e.count(),
        "a replayed delivery must fold nothing into the index")
      assert(AnnIndex.trusted(s, idx),
        "the maintained index must end trusted")
      AnnIndex.serveSrp(s, idx, e.filter(col("vec_id") < 10), k = 5).get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // THE SERVING-INDEX MAINTENANCE PLANES UNIFIED ON THE COMMIT LOG
    // (r8 Next #7): e30 streamed into the SRP resident; the codes-only
    // PQ resident now maintains the same way — readStreamCommits
    // drives appendPqOnce, whose idempotence is the index's OWN id set
    // (one keyed left_anti, no watermark state to crash out of sync) —
    // so the redelivered bootstrap commit folds zero rows, a TOTAL
    // checkpoint-loss replay folds zero rows, and the served ADC
    // answer equals the direct e16 operator exactly
    "e31_commitlog_pq_stream" -> ((s, d) => {
      val root = scratch(s, "e31", d)
      val log = CommitLog(s, s"$root/corpus").init()
      val idx = s"$root/ann"
      val e = emb(s, d)
      val nCents = 32
      val pivotIds = e
        .orderBy(Similarity.pivotRank(col("vec_id")).asc,
          col("vec_id").asc)
        .limit(nCents).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val isPivot = col("vec_id").isin(pivotIds: _*)
      log.append(e.filter(isPivot)) // v1: codebook-training rows
      AnnIndex.buildPq(s, idx, log.read(None), dim = 64,
        nCents = nCents)
      log.append(e.filter(!isPivot &&
        pmod(col("vec_id"), lit(2L)) === 0L)) // v2
      log.append(e.filter(!isPivot &&
        pmod(col("vec_id"), lit(2L)) === 1L)) // v3
      def indexed(): Long = s.read.parquet(s"$idx/index").count()
      def runStream(ckpt: String): Unit = {
        val q = log.readStreamCommits()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val commits = batch.select("version", "kind", "files")
              .collect()
              .map(r => (r.getLong(0), r.getString(1),
                r.getSeq[String](2)))
              .sortBy(_._1)
            commits.foreach { case (v, kind, names) =>
              require(kind == "append",
                s"$kind v$v inside the stream — re-baseline the index")
              AnnIndex.appendPqOnce(s, idx,
                s.read.parquet(log.filePaths(names): _*))
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runStream(s"$root/_ckpt1")
      assert(indexed() == e.count(),
        s"the stream must fold every committed vector once (incl. " +
          s"folding the bootstrap commit to zero), got ${indexed()} " +
          s"of ${e.count()}")
      runStream(s"$root/_ckpt2") // TOTAL replay: fresh checkpoint
      assert(indexed() == e.count(),
        "a replayed delivery must fold nothing into the index")
      assert(AnnIndex.trusted(s, idx),
        "the maintained index must end trusted")
      AnnIndex.servePq(s, idx, e.filter(col("vec_id") < 10), k = 5).get
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // RESIDUAL IVF-PQ — true IVFADC (the FAISS IVFPQ default): the
    // corpus is quantized as coarse_centroid + PQ(residual), so the
    // shared codebook spends its centroids on fine structure instead
    // of re-encoding coarse position. Same keyed cell equi-join as
    // e18; residuals computed by native kernels; the whole
    // composition (driver-side pivot-residual codebook included)
    // replays relationally in the oracle
    "e28_ivf_pq_residual" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") < 10),
          k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    "e15_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("id1"), col("id2"))
      val ann = Similarity.srpTopK(e, q, dim = 64, k = 5,
          nBits = 4, nTables = 4)
        .select(col("id1"), col("id2"))
      val annN = ann.groupBy("id1").agg(count(lit(1)).as("n_ann"))
      val hits = bf.join(ann, Seq("id1", "id2"))
        .groupBy("id1").agg(count(lit(1)).as("n_hit"))
      bf.select("id1").distinct()
        .join(annN, Seq("id1"), "left")
        .join(hits, Seq("id1"), "left")
        .select(
          col("id1"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(5.0))
            .as("recall_at_5"))
        .orderBy("id1")
    }),

    // IVF-style ANN: deterministic pivots (lowest ids), nearest-cell
    // assignment, nProbe query cells — coarse quantization, the other
    // standard ANN scale path next to SRP LSH (e03); fully SQL-oracled
    "e04_ann_ivf" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), k = 5,
          nCells = 16, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // e04 served from the lake: pivots + cell-assigned corpus persisted
    // once (assignment partitioned by cell), queries probe the stored
    // index — identical results to the in-memory path (same oracle), and
    // the broadcast query side arms dynamic partition pruning on the
    // cell directories (asserted in PlanSpec)
    "e11_persisted_ivf" -> ((s, d) => {
      val root = scratch(s, "e11", d)
      val e = emb(s, d)
      val (pivots, assigned) =
        Similarity.buildIvfIndex(e, nCells = 16)
      pivots.write.mode("overwrite").parquet(s"$root/pivots")
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/index")
      Similarity.ivfTopKFromIndex(
          s.read.parquet(s"$root/pivots"),
          s.read.parquet(s"$root/index"),
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("id1", "rank")
    }),

    // incremental ingest-vs-corpus embedding near-dup scoring (the
    // embedding analog of d15, and the scorer behind q71's DeltaSemantic
    // write): new = even vec_ids scored against the odd-id corpus only —
    // same SRP plane literals as e03/e05, candidates from (table, bucket)
    // keys, never all-pairs, never new×new or existing×existing
    "e06_incremental_embed" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.incrementalSrpNearPairs(
          e.filter(pmod(col("vec_id"), lit(2L)) === 0L),
          e.filter(pmod(col("vec_id"), lit(2L)) === 1L),
          dim = 64, threshold = 0.4)
        .orderBy("id_new", "id_existing")
    }),

    // symmetric int8 scalar quantization — the compression step of a
    // quantized ANN index (4x smaller vectors, integer dot products).
    // Scale is materialized ONCE per row before the quantize lambda
    // (interpreted HOF lambdas re-evaluate captured expressions per
    // element); outputs are per-vector summaries, not arrays, so the
    // oracle hash-compares scalars. Per-row codegen, zero shuffle
    "e07_scalar_quant" -> ((s, d) => {
      val q = emb(s, d)
        .select(col("vec_id"),
          VectorFunctions.asDouble(col("embedding")).as("__v"))
        .withColumn("scale", VectorFunctions.maxAbs(col("__v")))
        .withColumn("__q",
          VectorFunctions.scalarQuantize(col("__v"), col("scale")))
      q.select(col("vec_id"), col("scale"),
          aggregate(col("__q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("__q")).as("q_min"),
          array_max(col("__q")).as("q_max"))
        .orderBy("vec_id")
    }),

    // per-label centroid outliers (label-noise curation): rank vectors
    // by cosine against their label centroid, keep the k least aligned
    // per label. Centroids are integer sums of int8-quantized components
    // (order-independent => hash-reproducible; cosine is scale-invariant
    // so the sum stands in for the mean); per-row dots stay sequential
    // left-folds (the e01 convention). WindowGroupLimit caps what each
    // task forwards to the per-label ranking
    "e08_centroid_outliers" -> ((s, d) => {
      Similarity.centroidOutliers(emb(s, d), k = 5)
        .orderBy("label", "rank")
    }),

    // embedding-cosine near-dup dedup (SemDeDup-style): SRP-bucketed
    // candidates -> exact-score threshold -> connected components ->
    // keep the min-id representative; the SRP planes are literals in
    // BOTH engines (e05Oracle), so the full semantic-dedup decision is
    // hash-verified end to end. nBits auto-derives from corpus size
    // (= 4 at the 500-vector oracle fixture, matching the oracle's
    // pinned planes; more buckets as the corpus grows — SCALING.md)
    "e05_embed_dedup" -> ((s, d) => {
      Dedup.embeddingDedup(emb(s, d), dim = 64, threshold = 0.4,
          nTables = 4)
        .orderBy("vec_id")
    }),

    // multimodal decode -> feature-extract -> explode to feature rows;
    // the decode stub's pseudo-features are portable-hash-derived so the
    // whole path is oracle-verified (a real codec swaps in per-row)
    "m02_media_features" -> ((s, d) => {
      val dim = 8
      docs(s, d)
        .select(
          col("doc_id").as("media_id"),
          TextFunctions.charFold(col("text"), 131).as("f1"),
          TextFunctions.charFold(col("text"), 137).as("f2"))
        .select(col("media_id"), col("f1"), col("f2"),
          posexplode(sequence(lit(0L), lit(dim - 1L))).as(Seq("p", "i")))
        .select(
          col("media_id"),
          col("i").as("feat_idx"),
          Multimodal.portableFeature(col("f1"), col("f2"), col("i"))
            .as("feat"))
        .orderBy("media_id", "feat_idx")
    }),

    // multimodal metadata: planted well-formed PNG/JPEG/raw payloads
    // (dims, PNG color type, and JPEG COM padding all vary with doc_id),
    // sniffed by magic bytes and parsed with REAL header byte arithmetic
    // (PNG IHDR offsets, JPEG SOF scan) — the oracle reconstructs the
    // same BLOBs and parses them with its own byte ops
    "m01_media_meta" -> ((s, d) => {
      Multimodal.attachMeta(
          Multimodal.plantedMedia(docs(s, d), "doc_id", "text"), "payload")
        .withColumn("dims", Multimodal.imageDims(col("payload")))
        .select(
          col("media_id"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("sniffed_mime"),
          col("dims.width").as("width"),
          col("dims.height").as("height"),
          col("dims.channels").as("channels"))
        .orderBy("media_id")
    }),

    // audio metadata: planted RIFF/WAVE payloads (every third with a
    // LIST/INFO chunk BEFORE data, so the fixed-offset shortcut reads
    // garbage — the native chunk walk is load-bearing; every fourth a
    // non-WAV text payload -> nulls). duration_ms is pure integer
    // arithmetic over the parsed fields, so the whole parse is
    // hash-verified against the plant parameters
    "m03_audio_meta" -> ((s, d) => {
      Multimodal.plantedAudio(docs(s, d), "doc_id", "text")
        .withColumn("m", Multimodal.wavMeta(col("payload")))
        .select(
          col("media_id"),
          col("m.sample_rate").as("sample_rate"),
          col("m.channels").as("channels"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.data_bytes").as("data_bytes"),
          expr("m.data_bytes div (m.channels * (m.bits_per_sample div 8))" +
            " * 1000 div m.sample_rate").as("duration_ms"))
        .orderBy("media_id")
    }),

    // GIF + FLAC metadata: planted GIF89a headers (dims vary with id)
    // and FLAC STREAMINFO blocks (rate/channels/bit depth/total samples
    // vary; the last-metadata-block flag flips so the type mask is
    // load-bearing), every third row raw text -> nulls. Sniff and parse
    // must AGREE: mime comes from the magic bytes, fields from the
    // fixed-offset byte arithmetic, and duration is derived off the
    // parsed fields like m03
    "m04_gif_flac_meta" -> ((s, d) => {
      Multimodal.plantedMisc(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("g", Multimodal.gifDims(col("payload")))
        .withColumn("f", Multimodal.flacStreamInfo(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("g.width").as("gif_width"),
          col("g.height").as("gif_height"),
          col("f.sample_rate").as("sample_rate"),
          col("f.channels").as("channels"),
          col("f.bits_per_sample").as("bits_per_sample"),
          col("f.total_samples").as("total_samples"),
          expr("f.total_samples * 1000 div f.sample_rate")
            .as("duration_ms"))
        .orderBy("media_id")
    }),

    // video metadata: planted ISO-BMFF/MP4 payloads. Every v0 file
    // parks a variable-length `free` box before `moov` (fixed offsets
    // read garbage — the top-level box walk is load-bearing); the rest
    // are mvhd VERSION 1 (64-bit times shift every field — version
    // dispatch is load-bearing); every third row raw text -> nulls.
    // Brand comes from the spec-pinned ftyp slot, duration_ms is
    // integer arithmetic over the parsed fields like m03/m04
    "m05_mp4_meta" -> ((s, d) => {
      Multimodal.plantedVideo(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("m", Multimodal.mp4Meta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("m.major_brand").as("major_brand"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          expr("m.duration * 1000 div m.timescale").as("duration_ms"))
        .orderBy("media_id")
    }),

    // WebP metadata, all three first-chunk layouts: lossy VP8 (14-bit
    // dims under the scaling-hint mask — set for id%8=0 rows, so the
    // mask is load-bearing), lossless VP8L (LE32 bit-packed dims-1),
    // extended VP8X (24-bit canvas dims-1); raw rows -> nulls. The
    // RIFF form type also disambiguates image/webp from audio/wav in
    // the sniffer — both are RIFF
    "m07_webp_meta" -> ((s, d) => {
      Multimodal.plantedWebp(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("m", Multimodal.webpMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("m.webp_kind").as("webp_kind"),
          col("m.width").as("width"),
          col("m.height").as("height"))
        .orderBy("media_id")
    }),

    // TIFF IFD walk, BOTH endiannesses: floating IFD offset, entry
    // count, and SHORT vs LONG value decoding all load-bearing (the
    // plant varies each with the id; orientation exists only for even
    // ids, so over-reading past the declared count would mis-answer)
    "m06_tiff_meta" -> ((s, d) => {
      Multimodal.plantedTiff(docs(s, d), "doc_id", "text")
        .withColumn("m", Multimodal.tiffMeta(col("payload")))
        .select(
          col("media_id"),
          col("m.byte_order").as("byte_order"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.orientation").as("orientation"))
        .orderBy("media_id")
    }),

    // ZIP container metadata (epub/docx/jar are all ZIP): EOCD found by
    // the spec's backward signature scan (variable-length comment makes
    // any fixed offset wrong), then the central directory walked entry
    // by entry — each step's offset depends on the previous name length
    "m08_zip_meta" -> ((s, d) => {
      Multimodal.plantedZip(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("z", Multimodal.zipInfo(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("z.n_entries").as("n_entries"),
          col("z.cd_size").as("cd_size"),
          col("z.total_usize").as("total_usize"),
          col("z.names").as("names"))
        .orderBy("media_id")
    }),

    // ZSTANDARD frame metadata — the compression a modern lake
    // actually stores (RFC 8878): the descriptor byte governs the
    // WHOLE header layout (single-segment drops the window
    // descriptor, the dictionary-id field is 0/1/2 bytes, content
    // size sits at the resulting data-dependent offset in 1-byte,
    // biased 2-byte (+256 — the classic gotcha), and 4-byte forms);
    // skippable frames report their declared size; every fifth frame
    // sets the RESERVED bit — zstd mime, well_formed=false (sniffing
    // vs structural validation, the m13 layer split)
    "m18_zstd_meta" -> ((s, d) => {
      Multimodal.plantedZstd(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("z", Multimodal.zstdMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("z.kind").as("kind"),
          col("z.single_segment").as("single_segment"),
          col("z.has_checksum").as("has_checksum"),
          col("z.dict_id").as("dict_id"),
          col("z.window_size").as("window_size"),
          col("z.content_size").as("content_size"),
          col("z.skip_size").as("skip_size"),
          col("z.well_formed").as("well_formed"))
        .orderBy("media_id")
    }),

    // TAR shard metadata — the WebDataset format training corpora
    // ship in: ustar block walk where each octal-ASCII size field
    // governs the next header's offset, per-header checksum
    // RECOMPUTATION (chksum field as 8 spaces, per spec — the lying
    // rows parse but flag well_formed = false), and member→sample
    // grouping by the basename key (two of the three members share
    // one key: the pairing convention every WebDataset loader relies
    // on, counted here at ingest-audit time)
    "m17_tar_meta" -> ((s, d) => {
      Multimodal.plantedTar(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("t", Multimodal.tarInfo(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("t.n_members").as("n_members"),
          col("t.n_samples").as("n_samples"),
          col("t.total_size").as("total_size"),
          col("t.max_mtime").as("max_mtime"),
          col("t.names").as("names"),
          col("t.well_formed").as("well_formed"))
        .orderBy("media_id")
    }),

    // WARC record metadata — the web-archive format crawl corpora
    // arrive in: CRLF header block split at the first blank line,
    // named-field extraction, and Content-Length governing the payload
    // span so a LYING declared length (the request rows lie by 7
    // bytes) parses but flags well_formed = false — truncation
    // detection is the first audit any WARC ingest runs
    "m16_warc_meta" -> ((s, d) => {
      Multimodal.plantedWarc(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("w", Multimodal.warcMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("w.warc_type").as("warc_type"),
          col("w.target_uri").as("target_uri"),
          col("w.content_length").as("content_length"),
          col("w.well_formed").as("well_formed"))
        .orderBy("media_id")
    }),

    // GZIP member metadata: header method/mtime/OS up front, but the
    // uncompressed size (ISIZE) lives in the LAST four bytes — a tail
    // read through a variable-length compressed body (the filler
    // varies per row, so a fixed offset cannot find it)
    "m15_gzip_meta" -> ((s, d) => {
      Multimodal.plantedGzip(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("g", Multimodal.gzipMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("g.method").as("method"),
          col("g.mtime").as("mtime"),
          col("g.os").as("os"),
          col("g.isize").as("isize"))
        .orderBy("media_id")
    }),

    // EXECUTABLE DETECTION (the binary-junk filter a web corpus
    // needs): ELF with the endian byte GOVERNING the machine-id decode
    // (big-endian rows byte-swap it — load-bearing), and PE with the
    // e_lfanew offset PROBED through a variable-length DOS stub (a
    // fixed offset reads the stub, the PDF-startxref discipline)
    "m14_exe_meta" -> ((s, d) => {
      Multimodal.plantedExe(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("e", Multimodal.exeMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("e.exe_format").as("exe_format"),
          col("e.bits").as("bits"),
          col("e.machine").as("machine"))
        .orderBy("media_id")
    }),

    // WOFF web-font metadata (big-endian): flavor dispatch (TrueType
    // vs CFF — both planted), table count, uncompressed sfnt size,
    // version. Every third row is wOFF-magic but SPEC-MALFORMED
    // (nonzero reserved field): the sniffer still says font/woff, the
    // parser must refuse — magic detection and structural validation
    // are different layers, both exercised
    "m13_woff_meta" -> ((s, d) => {
      Multimodal.plantedWoff(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("w", Multimodal.woffMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("w.flavor").as("flavor"),
          col("w.n_tables").as("n_tables"),
          col("w.sfnt_size").as("sfnt_size"),
          col("w.version").as("version"))
        .orderBy("media_id")
    }),

    // AVI metadata — the THIRD RIFF form (after WAVE and WEBP): the
    // LIST hdrl / avih fourccs gate the parse, and the fixture's WAVE
    // rows make the form-type disambiguation load-bearing in both the
    // parser (nulls) and the sniffer (audio/wav, not video)
    "m12_avi_meta" -> ((s, d) => {
      Multimodal.plantedAvi(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("a", Multimodal.aviMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("a.width").as("width"),
          col("a.height").as("height"),
          col("a.total_frames").as("total_frames"),
          col("a.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }),

    // MP3 metadata: the ID3v2 tag size is SYNCSAFE (four 7-bit bytes —
    // tags planted past 127 bytes, so a base-256 read would land the
    // frame probe in the padding), the first MPEG frame sits at the
    // tag-dependent offset (or byte 0 for bare streams — both layouts
    // planted), and bitrate/sample-rate decode per the MPEG-1 Layer
    // III index tables
    "m11_mp3_meta" -> ((s, d) => {
      Multimodal.plantedMp3(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("p", Multimodal.mp3Meta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("p.id3_version").as("id3_version"),
          col("p.tag_size").as("tag_size"),
          col("p.mpeg_layer").as("mpeg_layer"),
          col("p.bitrate_kbps").as("bitrate_kbps"),
          col("p.sample_rate").as("sample_rate"))
        .orderBy("media_id")
    }),

    // PDF metadata: header version + the TRAILER found from the end
    // (variable filler shifts every offset, so the backward scan is
    // load-bearing, like ZIP's EOCD), /Size and startxref
    // regexp-extracted, and the declared startxref PROBED — the bytes
    // at that offset must literally read "xref" (asserted true for
    // every planted row by the oracle's xref_ok column)
    "m10_pdf_meta" -> ((s, d) => {
      Multimodal.plantedPdf(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("p", Multimodal.pdfMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("p.version").as("version"),
          col("p.size").as("size"),
          col("p.startxref").as("startxref"),
          col("p.xref_ok").as("xref_ok"))
        .orderBy("media_id")
    }),

    // BMP + ICO metadata: the BMP height field is SIGNED (negative =
    // top-down row order; planted for every odd id, so the
    // two's-complement decode and the flag are load-bearing), and ICO
    // dims use the byte-where-0-means-256 rule (hit whenever
    // id % 256 == 0). Type 2 directories are cursors; raw rows -> nulls
    "m09_bmp_ico_meta" -> ((s, d) => {
      Multimodal.plantedBmpIco(docs(s, d), "doc_id", "text")
        .withColumn("mime", Multimodal.sniffFormat(col("payload")))
        .withColumn("b", Multimodal.bmpMeta(col("payload")))
        .withColumn("i", Multimodal.icoMeta(col("payload")))
        .select(
          col("media_id"),
          col("mime"),
          col("b.width").as("bmp_width"),
          col("b.height").as("bmp_height"),
          col("b.top_down").as("top_down"),
          col("b.bpp").as("bmp_bpp"),
          col("i.ico_kind").as("ico_kind"),
          col("i.n_images").as("n_images"),
          col("i.first_width").as("ico_width"),
          col("i.first_height").as("ico_height"),
          col("i.first_bpp").as("ico_bpp"))
        .orderBy("media_id")
    }),

    // RELEASE DIFF (tag-to-tag changelog): two tagged releases with a
    // delta append and an applied MOR delete in between; the diff is
    // two keyed anti-joins between the tag reads, reported per source
    // — the release-notes table a corpus publisher ships. Both tags
    // keep serving their exact state across the mutations
    "q118_release_diff" -> ((s, d) => {
      val root = scratch(s, "q118", d)
      val tf = TimeFly(s, root).init("releases")
      val all = docs(s, d).select("doc_id", "text", "source", "lang")
      tf.writer(WriteMode.Overwrite)
        .write(all.filter(col("doc_id") % 3 =!= 2))
      tf.tag("v1", tf.addSnapshot())
      tf.writer(WriteMode.Append)
        .write(all.filter(col("doc_id") % 3 === 2))
      RowOps.deleteKeysMor(s, tf.currentPath,
        all.filter(col("doc_id") % 7 === 0).select("doc_id"),
        Seq("doc_id"))
      RowOps.applyTombstones(s, tf.currentPath)
      tf.tag("v2", tf.addSnapshot())
      val v1 = tf.readTag("v1")
      val v2 = tf.readTag("v2")
      val added = v2.join(v1.select("doc_id"), Seq("doc_id"),
        "left_anti")
      val removed = v1.join(v2.select("doc_id"), Seq("doc_id"),
        "left_anti")
      added.select(lit("added").as("change"), col("source"))
        .unionByName(
          removed.select(lit("removed").as("change"), col("source")))
        .groupBy("change", "source").agg(count(lit(1)).as("n"))
        .orderBy("change", "source")
    }),

    // RELEASE LIFECYCLE (the round's features composed): raw corpus +
    // planted duplicates land once; the exact-dup losers AND the
    // quality failures (token floor) tombstone WITHOUT rewrites (two
    // MOR batches, files byte-untouched asserted); the debt folds in
    // one apply; the cleaned state snapshots and TAGS as the release;
    // the output is the release DATASHEET — per-(source, lang) doc and
    // token counts served through the tag, the whole chain under one
    // oracle
    "q116_release_lifecycle" -> ((s, d) => {
      val root = scratch(s, "q116", d)
      val tf = TimeFly(s, root).init("release")
      val base = docs(s, d).select("doc_id", "text", "source", "lang")
      val dups = base.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
      LakeWriter(s, tf.currentPath, WriteMode.Overwrite,
          maxRecordsPerFile = 200L)
        .write(base.unionByName(dups).orderBy("doc_id"))
      val lake = s.read.parquet(tf.currentPath)
      val keep = lake.groupBy("text").agg(min("doc_id").as("doc_id"))
      val dupLosers = lake.join(keep.select("doc_id"), Seq("doc_id"),
        "left_anti").select("doc_id")
      val lowQuality = lake
        .filter(size(TextFunctions.tokens(col("text"))) < 30)
        .select("doc_id")
      val before = SchemaTools.listDataFiles(s, tf.currentPath).toSet
      RowOps.deleteKeysMor(s, tf.currentPath, dupLosers, Seq("doc_id"))
      RowOps.deleteKeysMor(s, tf.currentPath, lowQuality, Seq("doc_id"))
      assert(SchemaTools.listDataFiles(s, tf.currentPath).toSet
        == before, "curation decisions must not rewrite the corpus")
      RowOps.applyTombstones(s, tf.currentPath)
      val snap = tf.addSnapshot(manifestOnly = true)
      tf.tag("v1_train", snap)
      tf.readTag("v1_train")
        .select(col("source"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long")
            .as("__nt"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
        .orderBy("source", "lang")
    }),

    // IN-PLACE CORPUS DEDUP (dedup as a lake MUTATION): the exact-dup
    // decision (keep min id per content) emits the LOSERS as a
    // merge-on-read tombstone batch — the corpus is deduplicated
    // without rewriting a single data file (asserted), which is the
    // only affordable shape when the duplicates are 1% of 100 TB. The
    // apply folds the debt over just the files holding losers
    "q112_dedup_in_place" -> ((s, d) => {
      val root = scratch(s, "q112", d)
      val base = docs(s, d).select("doc_id", "text")
      val dups = base.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = 200L)
        .write(base.unionByName(dups).orderBy("doc_id"))
      val lake = s.read.parquet(root)
      val keep = lake.groupBy("text").agg(min("doc_id").as("doc_id"))
      val losers = lake.join(keep.select("doc_id"), Seq("doc_id"),
        "left_anti").select("doc_id")
      val before = SchemaTools.listDataFiles(s, root).toSet
      RowOps.deleteKeysMor(s, root, losers, Seq("doc_id"))
      assert(SchemaTools.listDataFiles(s, root).toSet == before,
        "the dedup decision must not rewrite the corpus")
      val nKeep = keep.count()
      assert(RowOps.readMor(s, root).count() == nKeep,
        "the MOR view must serve exactly the keepers")
      val st = RowOps.applyTombstones(s, root)
      assert(st.filesTouched < st.filesTotal,
        s"apply must rewrite only the loser-holding files: $st")
      s.read.parquet(root).orderBy("doc_id")
    }),

    // MERGE-ON-READ DELETE (the deletion-vector trade): deletes append
    // an O(batch) tombstone file and touch ZERO data files (asserted);
    // the MOR view subtracts exactly once under replayed deletes
    // (count-asserted); applyTombstones folds the debt in one
    // copy-on-write pass over a strict file subset (asserted) and
    // clears the tombstones — applied and MOR views identical after
    "q111_mor_delete" -> ((s, d) => {
      val root = scratch(s, "q111", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 8L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi0 - lo) / 8
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b)).select("o_orderkey")
      val before = SchemaTools.listDataFiles(s, root).toSet
      RowOps.deleteKeysMor(s, root, band(lo, lo + e), Seq("o_orderkey"))
      assert(SchemaTools.listDataFiles(s, root).toSet == before,
        "a merge-on-read delete must not touch a data file")
      RowOps.deleteKeysMor(s, root, band(lo, lo + e),
        Seq("o_orderkey")) // replayed delivery
      RowOps.deleteKeysMor(s, root,
        band(lo + 3 * e, lo + 4 * e), Seq("o_orderkey"))
      val expected = src
        .filter(!col("o_orderkey").between(lo, lo + e) &&
          !col("o_orderkey").between(lo + 3 * e, lo + 4 * e)).count()
      assert(RowOps.readMor(s, root).count() == expected,
        "the MOR view must subtract every tombstoned key exactly once")
      val st = RowOps.applyTombstones(s, root)
      assert(st.filesTouched > 0 && st.filesTouched < st.filesTotal,
        s"apply must rewrite a strict subset: $st")
      assert(RowOps.tombstoneKeys(s, root).isEmpty,
        "apply must clear the tombstones")
      s.read.parquet(root)
        .select(lit("applied").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(RowOps.readMor(s, root)
          .select(lit("mor").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // DROP COLUMN WITHOUT REWRITE (the column-mapping sibling): one
    // marker entry hides the column — files untouched (asserted, with
    // a footer still physically carrying it); incoming batches that
    // still send the column get it stripped, and the dataset reads
    // back without it
    "q109_column_drop" -> ((s, d) => {
      val root = scratch(s, "q109", d)
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(ord(s, d).filter(col("o_custkey") < 300)
          .select(cols.map(col): _*))
      val before = SchemaTools.listDataFiles(s, root).toSet
      SchemaTools.dropColumn(s, root, "o_custkey")
      assert(SchemaTools.listDataFiles(s, root).toSet == before,
        "a drop must not touch a data file")
      val phys = s.read.parquet(before.head).schema.fieldNames.toSet
      assert(phys.contains("o_custkey"),
        s"physical schema must keep the dropped column's bytes: $phys")
      // a batch still carrying the dropped column: stripped on entry
      LakeWriter(s, root, WriteMode.Delta(subset = Seq("o_orderkey")))
        .write(ord(s, d)
          .filter(col("o_custkey") < 300 || col("o_custkey") >= 1400)
          .select(cols.map(col): _*))
      val out = LakeReader(s, root).load()
      assert(!out.columns.contains("o_custkey"),
        s"dropped column must stay hidden: ${out.columns.toSeq}")
      out.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    }),

    // COLUMN RENAME WITHOUT REWRITE (Iceberg column mapping): the
    // rename is one marker entry — the data files are untouched
    // (asserted: same file list, and a footer still carries the
    // physical name). Readers surface the logical name; a Delta batch
    // arriving under the LOGICAL name still diffs correctly and lands
    // under the frozen physical one, so files never fragment
    "q108_column_rename" -> ((s, d) => {
      val root = scratch(s, "q108", d)
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      LakeWriter(s, root, WriteMode.Overwrite)
        .write(ord(s, d).filter(col("o_custkey") < 300)
          .select(cols.map(col): _*))
      val before = SchemaTools.listDataFiles(s, root).toSet
      SchemaTools.renameColumn(s, root, "o_totalprice", "price")
      assert(SchemaTools.listDataFiles(s, root).toSet == before,
        "a rename must not touch a data file")
      val phys = s.read.parquet(before.head).schema.fieldNames.toSet
      assert(phys.contains("o_totalprice") && !phys.contains("price"),
        s"physical names must stay frozen: $phys")
      val batch = ord(s, d)
        .filter(col("o_custkey") < 300 || col("o_custkey") >= 1400)
        .select(cols.map(col): _*)
        .withColumnRenamed("o_totalprice", "price")
      LakeWriter(s, root, WriteMode.Delta(subset = Seq("o_orderkey")))
        .write(batch)
      LakeReader(s, root).load()
        .select("o_orderkey", "o_custkey", "price")
        .orderBy("o_orderkey")
    }),

    // PARTITIONS metadata table (Iceberg's `partitions`): one row per
    // hive leaf with file and row counts — footer metadata only, no
    // data pages. File counts are deterministic because each leaf is
    // written by exactly ONE task (hash-distributed on the partition
    // column — Iceberg's write.distribution-mode=hash — and the writer
    // sorts by partition columns within the task), so n_files =
    // ceil(leaf_rows/cap) per leaf — the oracle recomputes both from
    // the data. Tasks = distinct statuses, not 1: the old coalesce(1)
    // serialized a 300-file write through one thread (measured 4.3 s)
    "q106_partitions_table" -> ((s, d) => {
      val root = scratch(s, "q106", d)
      val cap = 500L
      ord(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(8, col("o_orderstatus"))
        .write.partitionBy("o_orderstatus")
        .option("maxRecordsPerFile", cap)
        .parquet(root)
      // no manifest yet: the footer-sweep fallback answers
      val sweep = SchemaTools.partitionsTable(s, root)
        .orderBy("partition").collect().toSeq
      // with a trusted n_rows manifest the SAME table is served from
      // the `_stats` sidecar — zero data-file footer opens (the
      // Iceberg contract; at a million files the sweep is the design
      // that dies first)
      FileStats.build(s, root)
      val before = SchemaTools.footerOpens.get()
      val served = SchemaTools.partitionsTable(s, root)
        .orderBy("partition")
      val rows = served.collect().toSeq
      assert(SchemaTools.footerOpens.get() == before,
        "a trusted manifest must answer partitions without footer opens")
      assert(rows == sweep,
        s"manifest-served partitions must equal the footer sweep")
      served
    }),

    // OPTIMISTIC-CONCURRENCY COMMIT LOG (the multi-writer protocol the
    // single-writer reference lacks): appends claim versions through an
    // atomic create-if-absent CAS, a replace planned on a stale base
    // CONFLICTS instead of silently dropping interleaved appends
    // (asserted in-query), reads resolve the log rather than the
    // directory, and the log doubles as a time-travel index — the v2
    // state and the live state read back under one oracle
    "q103_commit_log" -> ((s, d) => {
      val root = scratch(s, "q103", d)
      val log = CommitLog(s, root).init()
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      log.append(slice(col("o_custkey") < 100)) // v1
      val stale = log.latestVersion()
      log.append(slice(col("o_custkey").between(700, 720))) // v2
      val conflicted =
        try { log.replace(slice(col("o_custkey") >= 1400), stale); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      assert(conflicted, "a replace on a stale base must conflict")
      log.replace(slice(col("o_custkey") >= 1400), log.latestVersion())
      log.append(slice(col("o_custkey").between(300, 320))) // v4
      assert(log.latestVersion() == 4L,
        s"conflicts must not burn versions here: ${log.latestVersion()}")
      log.read(Some(2L))
        .select(lit("v2").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(log.read(None)
          .select(lit("live").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // COMMIT-LOG INCREMENTAL CONSUMPTION (its CDC surface): exactly
    // the rows committed in (v1, v3] — the downstream-trainer "give me
    // what landed since I last looked" path on the multi-writer
    // flavor; a replace inside the range REFUSES (asserted) instead of
    // double-counting re-homed rows
    "q114_commit_read_since" -> ((s, d) => {
      val root = scratch(s, "q114", d)
      val log = CommitLog(s, root).init()
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      val base = log.append(slice(col("o_custkey") < 100)) // v1
      log.append(slice(col("o_custkey").between(700, 720))) // v2
      log.append(slice(col("o_custkey") >= 1400)) // v3
      val inc = log.readSince(base)
        .select(lit("inc").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      val out = inc.unionByName(log.read(None)
        .select(lit("full").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
      log.replace(slice(col("o_custkey") < 50), log.latestVersion())
      val refused =
        try { log.readSince(base); false }
        catch { case _: IllegalArgumentException => true }
      assert(refused,
        "an increment across a replace must refuse, not double-count")
      // the pre-replace frames resolved their file lists lazily — but
      // replace never deletes data files (vacuum does), so they still
      // serve the v3 state exactly
      out
    }),

    // A REAL MULTI-WRITER RACE under the oracle: four threads append
    // four disjoint slices concurrently through the CAS protocol — the
    // committed union is order-independent, so even genuine
    // concurrency hash-verifies; the four versions are claimed exactly
    // once each (asserted)
    "q120_commit_race" -> ((s, d) => {
      val root = scratch(s, "q120", d)
      val log = CommitLog(s, root).init()
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val slices = Seq(
        col("o_custkey") < 100,
        col("o_custkey").between(400, 450),
        col("o_custkey").between(800, 850),
        col("o_custkey") >= 1400)
      val versions =
        new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val threads = slices.map { p =>
        new Thread(() => versions.add(
          log.append(ord(s, d).filter(p).select(cols.map(col): _*))))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val vs = versions.toArray(Array.empty[java.lang.Long])
        .map(_.longValue).sorted.toSeq
      assert(vs == Seq(1L, 2L, 3L, 4L),
        s"4 racing appends must claim versions 1..4 once each: $vs")
      log.read(None).orderBy("o_orderkey")
    }),

    // ADOPT a plain dataset into the commit-log flavor: the files MOVE
    // (renames — adopting 100 TB must not copy it; name-set equality
    // asserted) and become commit v1; from then on writers race
    // through the protocol — a post-adoption append and a stale
    // replace-conflict prove the machinery is live
    "q119_commit_adopt" -> ((s, d) => {
      val root = scratch(s, "q119", d)
      val plain = s"$root/plain"
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      slice(col("o_custkey") < 300).write.parquet(plain)
      val srcNames = SchemaTools.listDataFiles(s, plain)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      val log = CommitLog(s, s"$root/log").init()
      assert(log.adopt(plain) == 1L)
      val dataNames = SchemaTools.listDataFiles(s, s"$root/log/data")
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      assert(dataNames == srcNames,
        "adoption must MOVE exactly the source files, never copy")
      assert(SchemaTools.listDataFiles(s, plain).isEmpty,
        "the source must be empty after the move")
      log.append(slice(col("o_custkey") >= 1400)) // v2
      val conflicted =
        try { log.replace(slice(col("o_custkey") < 50), 1L); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      assert(conflicted, "the protocol must be live post-adoption")
      log.read(None).orderBy("o_orderkey")
    }),

    // COMMIT-LOG READER SURFACE (r7 Next #1 — the two metadata planes
    // unified): the multi-writer flavor gets every reader feature the
    // single-writer LakeReader has. A range predicate's scan lists a
    // STRICT SUBSET of live files through the `_stats` sidecar (built
    // once, maintained incrementally by the later append), a
    // merge-on-read delete COMMITTED THROUGH THE LOG subtracts in
    // read() — versioned, so time travel before the delete still
    // serves the rows — and column mapping renames without rewriting a
    // byte. All three assert in-query; the three sides read back under
    // one oracle.
    "q121_commitlog_reader_surface" -> ((s, d) => {
      val root = scratch(s, "q121", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 8
      val e2 = e / 2
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      // three appends of disjoint key bands: a sorted-by-ingest layout
      // a range predicate can prune
      log.append(band(lo, lo + 2 * e).orderBy("o_orderkey").coalesce(1))
      log.append(band(lo + 2 * e + 1, lo + 5 * e)
        .orderBy("o_orderkey").coalesce(1))
      log.buildStats() // spans for v1+v2
      log.append(band(lo + 5 * e + 1, hi)
        .orderBy("o_orderkey").coalesce(1)) // v3: spans maintained
      val pred =
        s"o_orderkey >= ${lo + 3 * e} and o_orderkey <= ${lo + 4 * e}"
      val live = log.liveFiles(None)
      val cand = log.candidateDataFiles(pred)
      // on a gappy key domain (ScalingBench's shifted unions) the
      // band can hold zero rows — pruning to ZERO files is then the
      // manifest working perfectly, not a failure
      val bandHasRows = src.filter(expr(pred)).limit(1).count() > 0
      assert(cand.isDefined && cand.get.size < live.size &&
        (cand.get.nonEmpty || !bandHasRows),
        s"the range scan must list a strict subset of live files " +
          s"(${cand.map(_.size)} of ${live.size})")
      assert(log.readFiltered(pred).count() ==
        log.read(None).filter(pred).count(),
        "pruning must never change the answer")
      // merge-on-read delete through the log: overlaps the predicate
      // band, so subtraction and pruning compose in one read
      val doomed = band(lo + 3 * e, lo + 3 * e + e2)
      val nDoomed = doomed.count()
      val vDel = log.deleteKeysMor(doomed.select("o_orderkey"),
        Seq("o_orderkey"))
      assert(log.read(None).count() == src.count() - nDoomed,
        "read() must subtract the committed tombstones")
      assert(log.read(Some(vDel - 1)).count() == src.count(),
        "time travel BEFORE the delete must still serve the rows")
      assert(log.candidateDataFiles(pred).exists(_.size < live.size),
        "a delete commit must not cost the spans (files untouched)")
      // column mapping: logical rename, zero rewrite
      val nDataBefore = SchemaTools.listDataFiles(s, s"$root/data").size
      log.renameColumn("o_totalprice", "price")
      assert(SchemaTools.listDataFiles(s, s"$root/data").size ==
        nDataBefore, "a rename must not touch data files")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("price"))
      shaped(log.readFiltered(pred), "range")
        .unionByName(shaped(log.read(None), "live"))
        .unionByName(shaped(log.read(Some(vDel - 1)), "v3"))
        .orderBy("side", "o_orderkey")
    }),

    // COMMIT-LOG STREAMING CONSUMPTION (r7 Next #5): the log replayed
    // through a real readStream — each commit manifest is an immutable
    // atomically-visible file, so the file streaming source over
    // `_commits/` IS an incremental commit reader with exactly-once
    // delivery per checkpoint. Downstream ingestion keys the sink by
    // commit version, so a REPLAYED delivery (fresh checkpoint = every
    // commit redelivered) lands nothing twice, and a replace upstream
    // REFUSES mid-stream like readSince does in batch. The downstream
    // lake must equal the batch union of the appended commits.
    "q122_commitlog_stream" -> ((s, d) => {
      val root = scratch(s, "q122", d)
      val up = CommitLog(s, s"$root/up").init()
      val down = s"$root/down"
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 8
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      up.append(band(lo, lo + 2 * e)) // v1
      up.append(band(lo + 2 * e + 1, lo + 5 * e)) // v2
      up.append(band(lo + 5 * e + 1, hi)) // v3
      val fs = new org.apache.hadoop.fs.Path(down)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def runStream(ckpt: String): Unit = {
        val q = up.readStreamCommits()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val commits = batch.select("version", "kind", "files")
              .collect()
              .map(r => (r.getLong(0), r.getString(1),
                r.getSeq[String](2)))
              .sortBy(_._1)
            commits.foreach { case (v, kind, names) =>
              require(kind == "append",
                s"$kind v$v inside the stream — re-baseline downstream")
              val seen =
                if (!fs.exists(new org.apache.hadoop.fs.Path(down)))
                  Set.empty[Long]
                else s.read.parquet(down).select("commit_version")
                  .distinct().collect().map(_.getLong(0)).toSet
              if (!seen.contains(v))
                s.read.parquet(up.filePaths(names): _*)
                  .withColumn("commit_version", lit(v))
                  .write.mode("append").parquet(down)
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runStream(s"$root/_ckpt1")
      val afterFirst = s.read.parquet(down).count()
      assert(afterFirst == src.count(),
        "the stream must deliver every appended commit exactly once")
      // REPLAYED DELIVERY: a fresh checkpoint redelivers all three
      // commits; the version-keyed sink must not double-ingest
      runStream(s"$root/_ckpt2")
      assert(s.read.parquet(down).count() == afterFirst,
        "a replayed delivery must land nothing twice")
      // a replace breaks increment semantics mid-stream: REFUSE, and
      // the downstream lake stays exactly the pre-replace union
      up.replace(band(lo, lo + e), up.latestVersion())
      val refused =
        try { runStream(s"$root/_ckpt3"); false }
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException =>
            true
        }
      assert(refused, "a replace inside the stream must refuse loudly")
      assert(s.read.parquet(down).count() == afterFirst,
        "the refused stream must not have mutated the downstream lake")
      s.read.parquet(down)
        .orderBy("commit_version", "o_orderkey")
        .select("commit_version", "o_orderkey", "o_custkey",
          "o_totalprice")
    }),

    // OPTIMIZE AS A TRANSACTION (Delta OPTIMIZE / Iceberg
    // RewriteFiles): small-file compaction on the MULTI-WRITER flavor,
    // committed as a REWRITE that swaps compacted inputs for packed
    // outputs — row-preserving, tombstone-transparent (standing MOR
    // deletes keep subtracting from the packed files), time travel
    // still serves the pre-rewrite layout, appends keep landing after,
    // incremental consumers skip the rewrite (no new rows), and
    // re-spanning the packed layout restores file skipping. Every
    // claim asserted in-query
    "q125_commitlog_optimize" -> ((s, d) => {
      val root = scratch(s, "q125", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 8
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      log.append(band(lo, lo + 3 * e).repartition(3)) // v1
      log.append(band(lo + 3 * e + 1, lo + 5 * e).repartition(2)) // v2
      val doomed = band(lo, lo + e / 2)
      val nDoomed = doomed.count()
      log.deleteKeysMor(doomed.select("o_orderkey"),
        Seq("o_orderkey")) // v3
      val vPre = log.latestVersion()
      val filesBefore = log.liveFiles(None).size
      val vOpt = log.optimize(targetFiles = 2).get // v4: the rewrite
      assert(vOpt == vPre + 1 && log.liveFiles(None).size == 2 &&
        filesBefore > 2,
        s"optimize must pack $filesBefore live files into 2")
      // row-preserving THROUGH the standing tombstones, and the
      // pre-rewrite layout still time-travels (only the first five
      // eighths are appended at this point)
      val liveN = band(lo, lo + 5 * e).count() - nDoomed
      assert(log.read(None).count() == liveN,
        "tombstones must keep subtracting from the packed files")
      assert(log.read(Some(vPre)).count() == liveN &&
        log.resolve(Some(vPre)).data.toSet !=
          log.resolve(None).data.toSet,
        "time travel must serve the pre-rewrite file layout")
      log.append(band(lo + 5 * e + 1, hi).repartition(2)) // v5
      // incremental consumption across the rewrite: only v5's rows
      // (the rewrite added none)
      assert(log.readSince(vPre).count() ==
        band(lo + 5 * e + 1, hi).count(),
        "a rewrite inside the increment must deliver zero rows")
      // the packed layout re-spans: pruning serves a strict subset
      log.buildStats()
      val pred = s"o_orderkey >= ${lo + 6 * e} and o_orderkey <= $hi"
      val cand = log.candidateDataFiles(pred)
      assert(cand.isDefined && cand.get.nonEmpty &&
        cand.get.size < log.liveFiles(None).size,
        s"post-optimize spans must prune: ${cand.map(_.size)}")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "live")
        .unionByName(shaped(log.read(Some(vPre)), "pre"))
        .unionByName(shaped(log.readSince(vPre), "inc"))
        .orderBy("side", "o_orderkey")
    }),

    // IDEMPOTENT STREAMING INGESTION into the commit log (the Delta
    // txnAppId/txnVersion contract): foreachBatch retries and replayed
    // deliveries are at-least-once; appendOnce records (app, batch) in
    // the commit and skips a batch at or below the app's high-water
    // mark, so the multi-writer table ingests exactly once. The replay
    // here is total — a FRESH checkpoint redelivers every batch — and
    // the mark must survive log truncation (checkpointed txns)
    "q126_commitlog_txn" -> ((s, d) => {
      val root = scratch(s, "q126", d)
      val srcDir = scratch(s, "q126src", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 3
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      band(lo, lo + e).write.parquet(s"$srcDir/b1")
      band(lo + e + 1, lo + 2 * e).write.parquet(s"$srcDir/b2")
      band(lo + 2 * e + 1, hi).write.parquet(s"$srcDir/b3")
      val sch = s.read.parquet(s"$srcDir/b1").schema
      def runStream(ckpt: String): Unit = {
        val q = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$srcDir/b*")
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            log.appendOnce(batch, "ingest", id)
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runStream(s"$root/_ckpt1")
      assert(log.latestVersion() == 3L && log.read(None).count() ==
        src.count(),
        "three micro-batches must land as three commits")
      // TOTAL REPLAY: a fresh checkpoint redelivers batch ids 0..2;
      // the high-water mark skips every one
      runStream(s"$root/_ckpt2")
      assert(log.latestVersion() == 3L,
        "a replayed delivery must land nothing")
      assert(log.appendOnce(band(lo, lo + e), "ingest", 1L).isEmpty,
        "an at-or-below-mark batch must be skipped outright")
      // the mark survives log truncation: checkpoint folds txns
      log.checkpoint(3L)
      log.expireBefore(3L)
      assert(log.appendOnce(band(lo, lo + e), "ingest", 2L).isEmpty,
        "the high-water mark must survive checkpoint truncation")
      // a DIFFERENT app is independent: its batch 0 lands
      assert(log.appendOnce(
        band(lo, lo + e), "backfill", 0L).isDefined,
        "another app's marks must not block this one")
      log.read(None)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey", "o_totalprice")
    }),

    // SCHEMA EVOLUTION ON THE MULTI-WRITER FLAVOR: the log IS the
    // schema registry — every commit records its files' physical
    // schema, the unified read schema is the promotion over live
    // commits (promote is commutative, so concurrent drifted appends
    // resolve identically in any commit order), and readers group
    // files by recorded schema and conform — METADATA-ONLY, zero
    // footer opens at any lake size. Asserted here: a column ADD and
    // a type PROMOTION land as plain appends; the full read serves
    // the wide schema with old rows null-filled/widened; time travel
    // at v1 serves EXACTLY the narrow schema; the increment conforms
    // like the full read; evolution survives checkpoint truncation;
    // and OPTIMIZE heals the heterogeneity (packed files all carry
    // the wide schema)
    "q127_commitlog_evolve" -> ((s, d) => {
      val root = scratch(s, "q127", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 3
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      val bonusInt = pmod(col("o_orderkey"), lit(100L)).cast("int")
        .as("bonus")
      // v1: the narrow founding schema (key, price, bonus INT)
      log.append(band(lo, lo + e)
        .select(col("o_orderkey"), col("o_totalprice"), bonusInt))
      // v2: column ADD — o_custkey appears
      log.append(band(lo + e + 1, lo + 2 * e)
        .select(col("o_orderkey"), col("o_totalprice"), bonusInt,
          col("o_custkey")))
      // v3: type PROMOTION — bonus arrives as DOUBLE (int+double→double)
      log.append(band(lo + 2 * e + 1, hi)
        .select(col("o_orderkey"), col("o_totalprice"),
          (pmod(col("o_orderkey"), lit(100L)).cast("double") + lit(0.5))
            .as("bonus"),
          col("o_custkey")))
      val narrow = log.read(Some(1L))
      assert(narrow.columns.sorted.toSeq ==
        Seq("bonus", "o_orderkey", "o_totalprice") &&
        narrow.schema("bonus").dataType.simpleString == "int",
        "time travel at v1 must serve exactly the narrow schema")
      val full = log.read(None)
      assert(full.columns.sorted.toSeq ==
        Seq("bonus", "o_custkey", "o_orderkey", "o_totalprice") &&
        full.schema("bonus").dataType.simpleString == "double",
        s"the live read must serve the promoted wide schema, " +
          s"got ${full.schema.simpleString}")
      val inc = log.readSince(1L) // v2+v3, conformed like the full read
      // evolution must survive log truncation: the checkpoint folds
      // per-file schema GROUPS, and optimize reads through them
      log.checkpoint(3L)
      log.expireBefore(3L)
      val afterTrunc = log.read(None)
      assert(afterTrunc.columns.sorted.toSeq == full.columns.sorted.toSeq
        && afterTrunc.count() == src.count(),
        "checkpoint truncation must not lose the evolution history")
      // OPTIMIZE heals: packed files all carry the wide schema
      log.optimize(targetFiles = 2)
      val healedSchemas = log.resolve(None).schemaOf.values
        .map(_.fields.map(f =>
          s"${f.name}:${f.dataType.simpleString}").sorted.toSeq)
        .toSeq.distinct
      assert(log.resolve(None).data.size == 2 &&
        healedSchemas.size == 1,
        s"optimize must heal heterogeneity, got $healedSchemas")
      def shaped(df: DataFrame, side: String) = {
        val withCust =
          if (df.columns.contains("o_custkey")) df
          else df.withColumn("o_custkey", lit(null).cast("long"))
        withCust.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          col("bonus").cast("double").as("bonus"))
      }
      shaped(log.read(None), "live")
        .unionByName(shaped(narrow, "v1"))
        .unionByName(shaped(inc, "inc"))
        .orderBy("side", "o_orderkey")
    }),

    // OPTIMIZE ZORDER BY on the commit log: the layout rewrite that
    // buys MULTI-AXIS span pruning, committed as the same row-
    // preserving REWRITE as q125. Before: append-ordered files are
    // clustered on o_orderkey only, so an o_custkey range prunes
    // NOTHING. After ZOrder.cluster over (o_orderkey, o_custkey) and
    // a re-span, BOTH axes serve strict-subset scans — asserted
    // in-query; content is a multiset no-op gated by the plain oracle
    "q128_commitlog_zorder" -> ((s, d) => {
      val root = scratch(s, "q128", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      // four appends of key bands, two files each: clustered on
      // o_orderkey by construction, o_custkey uniform within every file
      log.append(band(lo, lo + e).repartition(2))
      log.append(band(lo + e + 1, lo + 2 * e).repartition(2))
      log.append(band(lo + 2 * e + 1, lo + 3 * e).repartition(2))
      log.append(band(lo + 3 * e + 1, hi).repartition(2))
      log.buildStats()
      val Array(clo, chi) = src
        .agg(min("o_custkey"), max("o_custkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val custPred =
        s"o_custkey >= $clo and o_custkey <= ${clo + (chi - clo) / 8}"
      val keyPred =
        s"o_orderkey >= $lo and o_orderkey <= ${lo + e / 2}"
      val before = log.candidateDataFiles(custPred)
      // contiguous fixtures: custkey is uniform within every
      // key-banded file, so the second axis prunes NOTHING before the
      // rewrite. Gappy scaled unions (ScalingBench's shifted copies)
      // correlate the two keys, so the no-pruning claim only binds
      // when every eighth of the key domain actually holds rows
      val e8 = (hi - lo) / 8
      val contiguous = (0 until 8).forall { i =>
        src.filter(col("o_orderkey").between(
          lo + i * e8 + (if (i == 0) 0L else 1L), lo + (i + 1) * e8))
          .limit(1).count() > 0
      }
      assert(before.isDefined &&
        (!contiguous || before.get.size == log.liveFiles(None).size),
        s"pre-zorder, a custkey range must prune nothing on a " +
          s"contiguous domain: ${before.map(_.size)}")
      val vPre = log.latestVersion()
      log.optimize(targetFiles = 8,
        zorderBy = Seq("o_orderkey", "o_custkey"))
      log.buildStats()
      val liveN = log.liveFiles(None).size
      val candC = log.candidateDataFiles(custPred)
      val candK = log.candidateDataFiles(keyPred)
      assert(candC.exists(c => c.nonEmpty && c.size < liveN) &&
        candK.exists(c => c.nonEmpty && c.size < liveN),
        s"post-zorder both axes must prune: cust=${candC.map(_.size)} " +
          s"key=${candK.map(_.size)} of $liveN")
      assert(log.readFiltered(custPred).count() ==
        log.read(None).filter(custPred).count(),
        "pruning must never change the answer")
      assert(log.read(Some(vPre)).count() == log.read(None).count(),
        "the rewrite must preserve content for time travel")
      log.read(None)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // EXPECTATIONS ∘ COMMIT LOG: the write-time gate on the
    // multi-writer path — a shared table is exactly where unvetted
    // producers' bad rows arrive. Accepted rows commit through the
    // normal CAS; violators quarantine with their rule names; an
    // all-violations batch burns NO version. Asserted in-query:
    // version accounting, the None case, quarantine on both batches
    "q129_commitlog_screened" -> ((s, d) => {
      val root = scratch(s, "q129", d)
      val quar = scratch(s, "q129quar", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      val rules = Seq(Expectations.Rule("key_mod", "o_orderkey % 7 <> 0"))
      val (v1, q1) = log.appendScreened(
        src.filter(col("o_orderkey") <= mid), rules, quar)
      val (v2, q2) = log.appendScreened(
        src.filter(col("o_orderkey") > mid), rules, quar)
      assert(v1.contains(1L) && v2.contains(2L) && q1 > 0 && q2 > 0,
        s"both batches must commit and quarantine: $v1/$q1 $v2/$q2")
      // an all-violations batch must burn no version (keys shifted by
      // a multiple of 7 past hi: still all-violating, and excludable
      // from the oracle-facing quarantine read)
      val shift = (hi / 7 + 1) * 7
      val (v3, q3) = log.appendScreened(
        src.filter(col("o_orderkey") % 7 === 0).limit(50)
          .withColumn("o_orderkey", col("o_orderkey") + lit(shift)),
        rules, quar)
      assert(v3.isEmpty && q3 > 0 && log.latestVersion() == 2L,
        "an all-violations batch must quarantine without committing")
      log.read(None)
        .select(lit("lake").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          lit("").as("violated"))
        .unionByName(s.read.parquet(quar)
          .filter(col("o_orderkey") <= lit(hi)) // drop the v3 dupes
          .select(lit("quarantine").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice"), col("violated")))
        .orderBy("side", "o_orderkey")
    }),

    // STATS IN THE COMMIT LOG (the Delta per-AddFile stats design):
    // every commit carries min/max spans + row counts for its OWN
    // files, so multi-writer file skipping needs no shared sidecar at
    // all — each writer's spans ride its own atomic commit and are
    // live the moment the commit is visible. TWO writer handles
    // interleave disjoint-band appends with NO buildStats call, and a
    // range probe still scans a strict subset of live files
    // (asserted, and asserted to have come from the log, not a
    // sidecar); spans survive checkpoint + retention truncation
    // (asserted across expireBefore); an OPTIMIZE ZORDER's packed
    // outputs carry their own spans, restoring skipping on the new
    // layout (asserted). Pruning never changes the answer.
    "q131_commit_stats_in_log" -> ((s, d) => {
      val root = scratch(s, "q131", d)
      val a = CommitLog(s, root).init()
      val b = CommitLog(s, root) // second writer, same log
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 8
      def band(x: Long, y: Long) =
        src.filter(col("o_orderkey").between(x, y))
      a.append(band(lo, lo + 2 * e).orderBy("o_orderkey").coalesce(1))
      b.append(band(lo + 2 * e + 1, lo + 5 * e)
        .orderBy("o_orderkey").coalesce(1))
      a.append(band(lo + 5 * e + 1, hi)
        .orderBy("o_orderkey").coalesce(1))
      val pred =
        s"o_orderkey >= ${lo + 3 * e} and o_orderkey <= ${lo + 4 * e}"
      // gappy key domains (ScalingBench's shifted unions) can leave
      // the band empty — pruning to zero files is then correct
      val bandHasRows = src.filter(expr(pred)).limit(1).count() > 0
      def assertSubset(tag: String): Unit = {
        val live = a.liveFiles(None)
        val cand = a.candidateDataFiles(pred)
        assert(cand.isDefined && cand.get.size < live.size &&
          (cand.get.nonEmpty || !bandHasRows),
          s"$tag: log-carried spans must prune to a strict subset " +
            s"(${cand.map(_.size)} of ${live.size})")
      }
      assertSubset("no sidecar")
      assert(!FileStats.trusted(s, root),
        "the prune must have come from the log, not a sidecar")
      a.expireBefore(3L) // checkpoint at v3, drop v1/v2 manifests
      assertSubset("after retention truncation")
      val vOpt = a.optimize(targetFiles = 4, zorderBy = Seq("o_orderkey"))
      assert(vOpt.isDefined, "optimize must commit a rewrite")
      assertSubset("after optimize (rewrite outputs carry spans)")
      assert(a.readFiltered(pred).count() ==
        a.read(None).filter(pred).count(),
        "pruning must never change the answer")
      a.readFiltered(pred).orderBy("o_orderkey")
    }),

    // OPTIMIZE WHERE (selective compaction through log-carried
    // spans): only files whose spans might hold predicate-matching
    // rows rewrite — whole files, so the rewrite stays
    // row-preserving — and files outside the band survive BYTE-
    // untouched (same names in the live set). The Delta OPTIMIZE
    // WHERE semantics with span pruning standing in for partition
    // predicates: at 100 TB you compact the hot ingest band, not the
    // whole table. Strict-subset rewrite asserted in-query.
    "q132_commitlog_optimize_where" -> ((s, d) => {
      val root = scratch(s, "q132", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(x: Long, y: Long) =
        src.filter(col("o_orderkey").between(x, y))
      log.append(band(lo, lo + e).orderBy("o_orderkey").coalesce(1))
      log.append(band(lo + e + 1, lo + 2 * e)
        .orderBy("o_orderkey").coalesce(1))
      log.append(band(lo + 2 * e + 1, lo + 3 * e)
        .orderBy("o_orderkey").coalesce(1))
      log.append(band(lo + 3 * e + 1, hi)
        .orderBy("o_orderkey").coalesce(1))
      val before = log.liveFiles(None)
      val v = log.optimize(targetFiles = 1,
        where = Some(s"o_orderkey <= ${lo + 2 * e}"))
      assert(v.isDefined, "selective optimize must commit a rewrite")
      val rw = log.commit(v.get)
      assert(rw.removed.toSet.subsetOf(before.toSet) &&
        rw.removed.size < before.size,
        s"OPTIMIZE WHERE must rewrite a STRICT subset " +
          s"(${rw.removed.size} of ${before.size}) — the file holding " +
          "the key max always sits outside the band")
      assert((before.toSet -- rw.removed.toSet)
        .subsetOf(log.liveFiles(None).toSet),
        "files outside the predicate band must survive untouched")
      assert(log.read(None).count() == src.count(),
        "selective compaction must be row-preserving")
      log.read(None).orderBy("o_orderkey")
    }),

    // DESCRIBE HISTORY with operation metrics from manifests ALONE
    // (zero data-file opens at any lake size — every commit already
    // carries its files' row counts): one row per version with kind,
    // file counts, row counts, removed counts. The rewrite reports
    // its packed TOTAL (tombstones subtract at read time, not in the
    // pack); the delete reports its tombstone batch. The audit
    // surface an ops team reads first.
    "q133_commit_history" -> ((s, d) => {
      val root = scratch(s, "q133", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val mid = src.agg(expr(
        "min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) div 2")
        .as("m")).head().getLong(0)
      log.append(src.filter(col("o_orderkey") <= mid)
        .orderBy("o_orderkey").coalesce(1)) // v1
      log.append(src.filter(col("o_orderkey") > mid)
        .orderBy("o_orderkey").coalesce(1)) // v2
      val minKey = src.agg(min("o_orderkey")).head().getLong(0)
      log.deleteKeysMor(
        src.filter(col("o_orderkey") === minKey)
          .select("o_orderkey").coalesce(1),
        Seq("o_orderkey")) // v3: one tombstone row
      log.optimize(targetFiles = 1) // v4: packs both data files
      log.history()
        .select("version", "kind", "n_files", "n_rows", "n_removed")
        .orderBy("version")
    }),

    // CDC REPLICATION OFF THE COMMIT LOG (the q93 story on the
    // multi-writer flavor — Delta CDF shape): changesSince emits
    // appends as `_op=insert` rows and delete commits as `_op=delete`
    // KEYS, each carrying its `_commit_version`; a replica built from
    // NOTHING but the feed (applied in commit order: first insert
    // bootstraps, later inserts upsert, deletes delete by key)
    // converges to the source's live state, and a FULL-FEED REPLAY
    // leaves it untouched (upserts of identical rows and deletes of
    // absent keys are no-ops — idempotence without consumer state).
    // Source and replica read back under one oracle.
    "q134_commit_replication" -> ((s, d) => {
      val root = scratch(s, "q134", d)
      val log = CommitLog(s, s"$root/src").init()
      val rep = s"$root/replica"
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      log.append(band(lo, lo + 2 * e)) // v1
      log.append(band(lo + 2 * e + 1, hi)) // v2
      log.deleteKeysMor( // v3: a band overlapping v1
        band(lo, lo + e).select("o_orderkey"), Seq("o_orderkey"))
      // v4: NEW keys (shifted past hi) — commit-log appends are
      // multiset appends and its tombstones kill a key in EVERY file,
      // so replication convergence demands inserts of fresh keys (the
      // same contract Delta CDF consumers rely on: an insert is a new
      // row, not a resurrection)
      log.append(band(lo, lo + e / 2)
        .withColumn("o_orderkey", col("o_orderkey") + lit(hi + 1L))) // v4
      def applyFeed(): Unit = {
        val feed = log.changesSince(0L).localCheckpoint(true)
        // ONE collect resolves (version, op) — the old per-version
        // head() probes each cost a driver job for a value the
        // distinct pairs already carry (guide §1.2)
        val vops = feed.select("_commit_version", "_op").distinct()
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (v, ops) =>
            assert(ops.length == 1,
              s"v$v carries mixed ops: ${ops.map(_._2).mkString(",")}")
            (v, ops.head._2)
          }
        vops.foreach { case (v, op) =>
          val payload = feed.filter(col("_commit_version") === v)
            .drop("_op", "_commit_version")
          if (op == "delete")
            RowOps.deleteKeys(s, rep,
              payload.select("o_orderkey"), Seq("o_orderkey"))
          else if (!new java.io.File(rep).exists())
            payload.write.parquet(rep)
          else RowOps.upsert(s, rep, payload, Seq("o_orderkey"))
        }
      }
      applyFeed()
      val afterFirst = s.read.parquet(rep).count()
      applyFeed() // FULL replay: every change re-applied
      assert(s.read.parquet(rep).count() == afterFirst,
        "a full-feed replay must leave the replica untouched")
      assert(s.read.parquet(rep).count() == log.read(None).count(),
        "the replica must converge to the source's live state")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "source")
        .unionByName(shaped(s.read.parquet(rep), "replica"))
        .orderBy("side", "o_orderkey")
    }),

    // DV-AWARE CHANGE FEED (r10 — closes the honest refusal): a
    // POSITIONAL delete commit decomposes into full-row pre-images —
    // the dv marks name exact (file, row position) rows, all still
    // readable because data files are immutable — so CDC replication
    // continues across zero-rewrite deletes instead of re-baselining.
    // In-query asserts: the delete batch is exactly the marked rows
    // with EVERY column populated (full pre-image, unlike the keyed
    // feed's key-only rows), the replica built from NOTHING but the
    // feed converges to the source, and a full-feed replay is a no-op
    "q152_dv_change_feed" -> ((s, d) => {
      val root = scratch(s, "q152", d)
      val log = CommitLog(s, s"$root/src").init()
      val rep = s"$root/replica"
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      log.append(band(lo, lo + 2 * e)
        .repartition(3, col("o_custkey"))) // v1: interleaved files
      val (v2, marked) = log.deleteWhereMor("o_orderkey % 7 = 3") // v2
      assert(marked > 0)
      log.append(band(lo, lo + e / 2)
        .withColumn("o_orderkey",
          col("o_orderkey") + lit(hi + 1L))) // v3: fresh keys
      val feed = log.changesSince(0L).localCheckpoint(true)
      val dels = feed.filter(col("_op") === "delete")
      assert(dels.count() == marked,
        s"the dv feed must emit exactly the marked rows: " +
          s"${dels.count()} vs $marked")
      assert(dels.filter(col("o_custkey").isNull ||
        col("o_totalprice").isNull).count() == 0,
        "dv delete rows must be FULL pre-images, not key-only rows")
      // ONE driver probe resolves the version order AND each version's
      // op class (single-op commits here: append=insert, dv
      // delete=delete) — the per-version head() probes re-filtered the
      // whole feed for a one-string answer, twice per applyFeed
      val vops = feed.select("_commit_version", "_op").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val opOf = vops.toMap
      def applyFeed(): Unit = {
        val versions = vops.map(_._1).distinct.sorted
        versions.foreach { v =>
          val batch = feed.filter(col("_commit_version") === v)
          val op = opOf(v)
          val payload = batch.drop("_op", "_commit_version")
          if (op == "delete")
            RowOps.deleteKeys(s, rep,
              payload.select("o_orderkey"), Seq("o_orderkey"))
          else if (!new java.io.File(rep).exists())
            payload.write.parquet(rep)
          else RowOps.upsert(s, rep, payload, Seq("o_orderkey"))
        }
      }
      applyFeed()
      val afterFirst = s.read.parquet(rep).count()
      applyFeed() // FULL replay: every change re-applied
      assert(s.read.parquet(rep).count() == afterFirst,
        "a full-feed replay must leave the replica untouched")
      assert(s.read.parquet(rep).count() == log.read(None).count(),
        "the replica must converge to the DV-survivor live state")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "source")
        .unionByName(shaped(s.read.parquet(rep), "replica"))
        .orderBy("side", "o_orderkey")
    }),

    // SQL CDC + TABLE LIFECYCLE VERBS (r10): `table_changes('t',
    // start[, end])` — Delta's CDC TVF with INCLUSIVE version bounds
    // — grafts the change feed into any SELECT; `TRUNCATE TABLE` is
    // one zero-file replace commit (data files stay readable for
    // time travel, no per-row work at any size); `SHOW CREATE TABLE`
    // reconstructs the DDL from the log's own metadata. Everything
    // here drives through lake.sql only. In-query asserts: the
    // reconstructed DDL carries schema/properties/constraints, the
    // positional-delete batch in the feed is full pre-images,
    // TRUNCATE leaves zero live rows while the pre-truncate version
    // still serves
    "q153_sql_cdc_lifecycle" -> ((s, d) => {
      val root = scratch(s, "q153", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t153 (o_orderkey BIGINT, o_custkey " +
        "BIGINT, o_totalprice DOUBLE) USING commitlog " +
        "TBLPROPERTIES ('delete.mode'='positional')")
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      src.filter(col("o_orderkey") <= lo + e)
        .createOrReplaceTempView("q153_a")
      src.filter(col("o_orderkey") > lo + e &&
          col("o_orderkey") <= lo + 2 * e)
        .createOrReplaceTempView("q153_b")
      lm.sql("INSERT INTO t153 SELECT * FROM q153_a")
      lm.sql("INSERT INTO t153 SELECT * FROM q153_b")
      lm.sql("DELETE FROM t153 WHERE o_orderkey % 3 = 0") // dv marks
      val ddl = lm.sql("SHOW CREATE TABLE t153")
        .head().getString(0)
      assert(ddl.contains("o_orderkey BIGINT") &&
        ddl.contains("USING commitlog") &&
        ddl.contains("'delete.mode' = 'positional'"),
        s"SHOW CREATE TABLE must reconstruct the DDL: $ddl")
      val feed = lm.sql("SELECT _op, o_orderkey, o_custkey, " +
        "o_totalprice FROM table_changes('t153', 1)")
        .localCheckpoint(true)
      assert(feed.filter(col("_op") === "delete")
        .filter(col("o_custkey").isNull).count() == 0,
        "positional-delete feed rows must be full pre-images")
      val log = lm.commitLog("t153")
      val preTruncate = log.latestVersion()
      lm.sql("TRUNCATE TABLE t153")
      assert(lm.sql("SELECT count(*) FROM t153")
        .head().getLong(0) == 0L, "TRUNCATE must empty the live set")
      assert(lm.sql(s"SELECT count(*) FROM t153 VERSION AS OF " +
        s"$preTruncate").head().getLong(0) ==
        feed.filter(col("_op") === "insert").count() -
          feed.filter(col("_op") === "delete").count(),
        "the pre-truncate version must still serve")
      feed.orderBy("_op", "o_orderkey")
    }),

    // SQL-TEXT KERNEL SURFACE (r10): `SqlFunctions.register` installs
    // the native codegen kernels as session SQL functions — the same
    // catalyst nodes the Column API builds, so SQL-text and Column
    // queries are plan-identical (no UDF wrapping). The portable hash
    // family is the oracle: DuckDB replays the identical charFold
    // arithmetic and the shingle window count relationally
    "q156_sql_functions" -> ((s, d) => {
      graft.functions.SqlFunctions.register(s)
      docs(s, d).createOrReplaceTempView("q156_docs")
      val out = s.sql(
        "SELECT doc_id, graft_charfold(text, 131) AS fp131, " +
          "graft_charfold(text, 137) AS fp137, " +
          "size(graft_shingles(split(text, ' '), 3)) AS n_windows " +
          "FROM q156_docs ORDER BY doc_id")
      assert(!out.queryExecution.executedPlan.toString
        .contains("ScalaUDF"),
        "registered kernels must not wrap as UDFs")
      out
    }),

    // FILES METADATA TVF (r10 — the Iceberg `files` table):
    // `FROM table_files('t'[, version])` serves one row per live
    // file off manifests + file statuses alone — zero data-file
    // opens at any table size. In-query asserts: every data file
    // reports rendered span bounds, and the historical version's
    // file set is smaller. The oracle checks the aggregate the
    // metadata must reproduce exactly: file count by construction,
    // row total == the inserted band
    "q157_sql_table_files" -> ((s, d) => {
      val root = scratch(s, "q157", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t157 (o_orderkey BIGINT, o_totalprice " +
        "DOUBLE) USING commitlog")
      val src = ord(s, d).select("o_orderkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      src.filter(col("o_orderkey") <= lo + e).coalesce(1)
        .createOrReplaceTempView("q157_a")
      // second file = band A's keys shifted past hi — never empty
      // whatever the key domain's gaps (shifted-union fixtures leave
      // (lo+e, lo+2e] hollow), so the historical-set assert holds
      src.filter(col("o_orderkey") <= lo + e)
        .withColumn("o_orderkey", col("o_orderkey") + lit(hi + 1L))
        .coalesce(1)
        .createOrReplaceTempView("q157_b")
      lm.sql("INSERT INTO t157 SELECT * FROM q157_a") // 1 file
      lm.sql("INSERT INTO t157 SELECT * FROM q157_b") // 1 file
      // data-CARRYING files only: the founding anchor file now
      // reports an explicit num_rows = 0 (and carries no spans)
      val perFile = lm.sql("SELECT * FROM table_files('t157') " +
        "WHERE num_rows > 0").collect()
      assert(perFile.nonEmpty && perFile.forall(r =>
        r.getAs[Map[String, String]]("bounds").get("o_orderkey")
          .exists(_.matches("\\[\\d+, \\d+\\]"))),
        "every data file must render its o_orderkey span")
      val hiV = lm.commitLog("t157").latestVersion()
      assert(lm.sql(s"SELECT count(*) FROM table_files('t157', " +
        s"${hiV - 1})").head().getLong(0) <
        lm.sql("SELECT count(*) FROM table_files('t157')")
          .head().getLong(0),
        "the historical file set must be smaller")
      lm.sql("SELECT count(*) AS n_files, sum(num_rows) AS n_rows " +
        "FROM table_files('t157') WHERE num_rows > 0")
    }),

    // SQL SHALLOW CLONE (r10): `CREATE TABLE c SHALLOW CLONE b` — the
    // zero-copy clone through pure SQL. The founding commit
    // RE-REFERENCES the source's live files (O(metadata) at any data
    // size — cloning a 100 TB table moves zero bytes), then the two
    // logs are INDEPENDENT: the base's copy-on-write DELETE and the
    // clone's INSERT never touch each other. In-query asserts: the
    // clone owns ZERO data files at clone time (borrow-table serving),
    // and after divergence the base lost its band while the clone
    // kept it and gained its own
    "q154_sql_shallow_clone" -> ((s, d) => {
      val root = scratch(s, "q154", d)
      val lm = LakeManager(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      src.filter(col("o_orderkey") <= lo + 2 * e)
        .createOrReplaceTempView("q154_ab")
      src.filter(col("o_orderkey") > lo + 2 * e &&
          col("o_orderkey") <= lo + 3 * e)
        .createOrReplaceTempView("q154_c")
      lm.sql("CREATE TABLE b154 USING commitlog AS " +
        "SELECT * FROM q154_ab")
      lm.sql("CREATE TABLE c154 SHALLOW CLONE b154")
      assert(lake.SchemaTools
        .listDataFiles(s, s"$root/c154/data").isEmpty,
        "a shallow clone must own zero data files at clone time")
      lm.sql("DELETE FROM b154 WHERE o_orderkey % 3 = 0")
      lm.sql("INSERT INTO c154 SELECT * FROM q154_c")
      def shaped(name: String) =
        lm.sql(s"SELECT '$name' AS side, o_orderkey, o_custkey, " +
          s"o_totalprice FROM ${name}154")
      shaped("b").unionByName(shaped("c"))
        .orderBy("side", "o_orderkey")
    }),

    // SQL TYPE WIDENING (r10 — Delta type widening): `ALTER TABLE t
    // ALTER COLUMN c TYPE BIGINT` records the widened type by a
    // zero-row append — no data rewritten; the drift union promotes
    // every reader and positional INSERT conformance follows the
    // DECLARED order pinned as a table property. In-query asserts:
    // the beyond-INT batch REFUSES before the widening (ANSI
    // overflow), inserts cleanly after it, and the ALTER touches
    // zero data files
    "q155_sql_type_widening" -> ((s, d) => {
      val root = scratch(s, "q155", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t155 (o_orderkey INT, o_custkey INT, " +
        "o_totalprice DOUBLE) USING commitlog")
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      src.filter(col("o_orderkey") <= lo + e)
        .createOrReplaceTempView("q155_a")
      // band B = band A's OWN keys shifted beyond INT range — never
      // empty whatever the key domain's gaps (ScalingBench's shifted
      // unions leave (lo+e, lo+2e] hollow), so the refusal assert
      // always has rows to refuse on
      src.filter(col("o_orderkey") <= lo + e)
        .withColumn("o_orderkey",
          col("o_orderkey") + lit(5000000000L))
        .createOrReplaceTempView("q155_b")
      lm.sql("INSERT INTO t155 SELECT * FROM q155_a")
      val refused =
        try { lm.sql("INSERT INTO t155 SELECT * FROM q155_b"); false }
        catch { case _: Exception => true }
      assert(refused,
        "a beyond-INT batch must refuse before the widening")
      val log = lm.commitLog("t155")
      val filesBefore = log.liveFiles(None).toSet
      lm.sql("ALTER TABLE t155 ALTER COLUMN o_orderkey TYPE BIGINT")
      assert(filesBefore.subsetOf(log.liveFiles(None).toSet),
        "type widening must rewrite zero data files")
      lm.sql("INSERT INTO t155 SELECT * FROM q155_b") // now legal
      lm.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t155 " +
        "ORDER BY o_orderkey")
    }),

    // ROW-LEVEL MERGE on the multi-writer flavor (Delta MERGE):
    // matched keys update, unmatched keys insert, only key-holding
    // files rewrite (span-pruned candidates, then a key semi-join),
    // and the swap is ONE atomic `upsert` commit. The asserts keep
    // the 100 TB bounds: strict-subset file touch, time travel
    // serving the pre-merge prices, increment consumers refusing
    // across the merge and resuming after re-baselining. The
    // ConcurrentAppend conflict matrix is CommitLogSpec's.
    "q135_commitlog_upsert" -> ((s, d) => {
      val root = scratch(s, "q135", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 8
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      log.append(band(lo, lo + 4 * e)
        .repartitionByRange(4, col("o_orderkey"))) // v1
      log.append(band(lo + 4 * e + 1, lo + 6 * e)
        .repartitionByRange(2, col("o_orderkey"))) // v2
      val vPre = log.latestVersion()
      val filesBefore = log.liveFiles(None).size
      val updates = band(lo, lo + e)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      val inserts = band(lo + 6 * e + 1, lo + 7 * e)
      val nUpd = updates.count()
      val (vUp, touched) =
        log.upsert(updates.unionByName(inserts), Seq("o_orderkey"))
      assert(touched > 0 && touched < filesBefore,
        s"merge must rewrite a strict subset: $touched of $filesBefore")
      def bandSum(df: DataFrame) = df
        .filter(col("o_orderkey").between(lo, lo + e))
        .agg(sum("o_totalprice")).head().getDouble(0)
      val preSum = bandSum(log.read(Some(vPre)))
      val liveSum = bandSum(log.read(None))
      assert(math.abs(liveSum - (preSum + 1000.0 * nUpd)) <
        1e-9 * math.abs(liveSum),
        "time travel must serve the pre-merge prices")
      val refused =
        try { log.readSince(vPre).count(); false }
        catch { case _: IllegalArgumentException => true }
      assert(refused,
        "an increment across the merge must refuse — re-baseline")
      log.append(band(lo + 7 * e + 1, hi)) // post-merge tail
      assert(log.readSince(vUp).count() ==
        band(lo + 7 * e + 1, hi).count(),
        "increments must resume cleanly after the merge")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "live")
        .unionByName(shaped(log.read(Some(vPre)), "pre"))
        .unionByName(shaped(log.readSince(vUp), "inc"))
        .orderBy("side", "o_orderkey")
    }),

    // RESTORE on the commit log (Delta RESTORE TABLE ... TO VERSION):
    // one metadata-only commit resets the live state to the target's
    // resolution — a bad delete and a bad append are undone together
    // without rewriting a byte of data — while history is PRESERVED
    // (the abandoned tip still time-travels). The target's spans ride
    // the restore manifest, so file skipping serves immediately;
    // increment consumers refuse across it and resume after.
    "q136_commitlog_restore" -> ((s, d) => {
      val root = scratch(s, "q136", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      log.append(band(lo, lo + e)
        .repartitionByRange(2, col("o_orderkey"))) // v1
      log.append(band(lo + e + 1, lo + 2 * e)
        .repartitionByRange(2, col("o_orderkey"))) // v2
      val vTarget = log.latestVersion()
      log.deleteKeysMor( // v3: the "bad delete"
        band(lo, lo + e / 4).select("o_orderkey"), Seq("o_orderkey"))
      log.append(band(lo + 2 * e + 1, lo + 3 * e)) // v4: "bad append"
      val tipCount = log.read(None).count()
      val vR = log.restore(vTarget) // v5
      assert(vR == vTarget + 3 && log.latestVersion() == vR,
        "restore must be a NEW commit, not history rewriting")
      assert(log.read(None).count() == band(lo, lo + 2 * e).count(),
        "the restored state must equal the target's exactly")
      assert(log.read(Some(vR - 1)).count() == tipCount,
        "the abandoned tip must still time-travel")
      val cand = log.candidateDataFiles(
        s"o_orderkey >= $lo and o_orderkey <= ${lo + e / 4}")
      assert(cand.isDefined &&
        cand.get.size < log.liveFiles(None).size,
        s"restored spans must prune immediately: ${cand.map(_.size)}")
      val refused =
        try { log.readSince(vTarget).count(); false }
        catch { case _: IllegalArgumentException => true }
      assert(refused,
        "an increment across the restore must refuse — re-baseline")
      log.append(band(lo + 3 * e + 1, hi)) // v6
      assert(log.readSince(vR).count() ==
        band(lo + 3 * e + 1, hi).count(),
        "increments must resume cleanly after the restore")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "live")
        .unionByName(shaped(log.read(Some(vR - 1)), "tip"))
        .unionByName(shaped(log.readSince(vR), "inc"))
        .orderBy("side", "o_orderkey")
    }),

    // SHALLOW CLONE of a multi-writer dataset (Delta SHALLOW CLONE):
    // the clone's founding commit RE-REFERENCES the source's live
    // files — zero data bytes move, O(metadata) at any size (asserted:
    // the clone's data dir is EMPTY right after cloning) — and carries
    // the source's tombstones and spans, so subtraction and skipping
    // serve immediately. Afterwards the two logs are independent: a
    // clone-side merge never touches the source, a source-side append
    // never reaches the clone.
    "q137_commitlog_clone" -> ((s, d) => {
      val root = scratch(s, "q137", d)
      val log = CommitLog(s, s"$root/src").init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      log.append(band(lo, lo + 2 * e)
        .repartitionByRange(3, col("o_orderkey"))) // v1
      log.append(band(lo + 2 * e + 1, lo + 3 * e)) // v2
      log.deleteKeysMor( // v3
        band(lo, lo + e / 4).select("o_orderkey"), Seq("o_orderkey"))
      val clone = log.cloneTo(s"$root/clone")
      assert(Option(new java.io.File(s"$root/clone/data").listFiles)
        .forall(_.isEmpty),
        "a shallow clone must copy ZERO data files")
      val srcCount = log.read(None).count()
      assert(clone.read(None).count() == srcCount,
        "the clone must serve the source state through the borrow")
      val cand = clone.candidateDataFiles(
        s"o_orderkey >= ${lo + 2 * e + 1} and o_orderkey <= ${lo + 3 * e}")
      assert(cand.isDefined &&
        cand.get.size < clone.liveFiles(None).size,
        s"borrowed spans must prune on the clone: ${cand.map(_.size)}")
      // clone-side MERGE (+500 on the second quarter) — source blind
      val (_, touched) = clone.upsert(
        band(lo + e + 1, lo + 2 * e)
          .withColumn("o_totalprice", col("o_totalprice") + lit(500.0)),
        Seq("o_orderkey"))
      assert(touched > 0 && log.read(None).count() == srcCount,
        "a clone-side merge must leave the source untouched")
      // source-side append — clone blind
      log.append(band(lo + 3 * e + 1, hi))
      assert(clone.read(None).count() == srcCount,
        "a source-side append must leave the clone untouched")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "source")
        .unionByName(shaped(clone.read(None), "clone"))
        .orderBy("side", "o_orderkey")
    }),

    // STREAMING CDC MERGE into the multi-writer log — the Delta
    // `foreachBatch` + MERGE pattern made exactly-once at the COMMIT
    // level: each micro-batch applies as one keyed copy-on-write
    // upsert whose commit records (appId, batchId), so a TOTAL replay
    // (fresh checkpoint redelivering every batch) lands NOTHING — no
    // burned versions, no pointless rewrites — and the mark survives
    // log truncation. Later batches re-key earlier rows, so the final
    // table is keyed last-write-wins in arrival order (mtimes forced
    // strictly increasing, one file per batch under
    // maxFilesPerTrigger=1).
    "q138_commitlog_stream_merge" -> ((s, d) => {
      val root = scratch(s, "q138", d)
      val srcDir = scratch(s, "q138src", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 4
      def band(a: Long, b: Long) =
        src.filter(col("o_orderkey").between(a, b))
      val feeds = Seq(
        band(lo, lo + 2 * e), // b0: the founding snapshot
        band(lo + e + 1, lo + 3 * e) // b1: updates + inserts
          .withColumn("o_totalprice",
            col("o_totalprice") + lit(100.0)),
        band(lo, lo + e) // b2: re-keys the first quarter again
          .withColumn("o_totalprice",
            col("o_totalprice") + lit(7.0)))
      val hfs = new org.apache.hadoop.fs.Path(srcDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val t0 = System.currentTimeMillis()
      feeds.zipWithIndex.foreach { case (df, i) =>
        val dir = s"$srcDir/b$i"
        df.coalesce(1).write.parquet(dir)
        SchemaTools.listDataFiles(s, dir).foreach(f =>
          hfs.setTimes(new org.apache.hadoop.fs.Path(f),
            t0 + i * 60000L, -1))
      }
      val sch = s.read.parquet(s"$srcDir/b0").schema
      def run(ckpt: String): Unit = {
        val q = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$srcDir/b*")
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            log.upsertOnce(batch, Seq("o_orderkey"), "cdc", id)
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run(s"$root/_ckpt1")
      val vAfter = log.latestVersion()
      assert(vAfter == 3L,
        "three micro-batches must land as three merge commits")
      run(s"$root/_ckpt2") // TOTAL replay through a fresh checkpoint
      assert(log.latestVersion() == vAfter,
        "a replayed CDC delivery must burn no versions")
      log.checkpoint(vAfter)
      log.expireBefore(vAfter)
      assert(log.upsertOnce(feeds(2), Seq("o_orderkey"),
        "cdc", 1L).isEmpty,
        "the merge high-water mark must survive log truncation")
      log.read(None)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // SCREENED MERGE on the multi-writer flavor (expectations ∘
    // upsert, the q123 contract moved onto the commit log): violators
    // quarantine with their rule names and never reach the merge — a
    // rejected UPDATE's key keeps its CURRENT row — while accepted
    // rows land as ONE atomic merge commit with the usual bounds
    // (strict-subset touch, pre-merge time travel).
    "q139_commitlog_merge_screened" -> ((s, d) => {
      val root = scratch(s, "q139", d)
      val quar = scratch(s, "q139quar", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi0 - lo) / 2
      log.append(src.filter(col("o_orderkey") <= mid)
        .repartitionByRange(4, col("o_orderkey"))) // v1
      log.append(src.filter(col("o_orderkey") > mid)
        .repartitionByRange(4, col("o_orderkey"))) // v2
      val vPre = log.latestVersion()
      val filesBefore = log.liveFiles(None).size
      val hi = lo + (hi0 - lo) / 8
      val updates = src.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = src.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      val (res, nQ) = log.upsertScreened(
        updates.unionByName(inserts), Seq("o_orderkey"),
        Seq(Expectations.Rule("key_mod", "o_orderkey % 7 <> 0")), quar)
      val (vUp, touched) = res.get
      assert(vUp == vPre + 1 && nQ > 0,
        "accepted rows must land as ONE merge commit, violators out")
      assert(touched > 0 && touched < filesBefore,
        s"screened merge must touch a strict subset: " +
          s"$touched of $filesBefore")
      assert(log.read(Some(vPre)).count() == src.count(),
        "time travel before the screened merge must serve the source")
      val quarRows = s.read.parquet(quar)
      assert(quarRows.filter(col("o_orderkey") <= lit(hi)).count() > 0
        && quarRows.filter(col("o_orderkey") > lit(hi0)).count() > 0,
        "the fixture must quarantine updates AND inserts")
      log.read(None)
        .select(lit("lake").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          lit("").as("violated"))
        .unionByName(quarRows.select(lit("quarantine").as("side"),
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("violated")))
        .orderBy("side", "o_orderkey")
    }),

    // EXPECTATIONS ∘ MERGE (r7 Next #7): write-time rules composed
    // with the keyed upsert — a CDC feed is exactly where bad rows
    // arrive, and they must quarantine for triage, not corrupt the
    // merge or reject the whole batch. Screened rows (key % 7 == 0,
    // hitting both the update band and the inserts) land at the
    // quarantine path with their rule names; accepted rows take the
    // normal copy-on-write merge. The asserts keep the 100 TB bounds:
    // strict-subset file touch, a non-empty quarantine on BOTH flanks
    // (a rejected UPDATE's key must keep its original row — the
    // oracle proves it does)
    "q123_upsert_screened" -> ((s, d) => {
      val root = scratch(s, "q123", d)
      val quar = scratch(s, "q123quar", d)
      val src = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val per = math.max(src.count() / 8L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("o_orderkey"))
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      val updates = src.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", lit(-1.0))
      val inserts = src.filter(col("o_orderkey").between(lo, hi))
        .select((col("o_orderkey") + lit(hi0) + lit(1L))
            .as("o_orderkey"),
          col("o_custkey"), lit(0.5).as("o_totalprice"))
      val batch = updates.unionByName(inserts)
      val st = RowOps.upsertScreened(s, root, batch, Seq("o_orderkey"),
        Seq(Expectations.Rule("key_mod", "o_orderkey % 7 <> 0")), quar)
      assert(st.filesTouched > 0 && st.filesTouched < st.filesTotal,
        s"screened upsert must rewrite a strict subset of files: $st")
      val quarRows = s.read.parquet(quar)
      assert(quarRows.filter(col("o_orderkey") <= lit(hi)).count() > 0 &&
        quarRows.filter(col("o_orderkey") > lit(hi0)).count() > 0,
        "the fixture must quarantine updates AND inserts")
      s.read.parquet(root)
        .select(lit("lake").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          lit("").as("violated"))
        .unionByName(quarRows.select(lit("quarantine").as("side"),
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("violated")))
        .orderBy("side", "o_orderkey")
    }),

    // TIME-BAND FILE SKIPPING (r8 Next #1): `_stats` spans now cover
    // timestamp/date/string columns, so the canonical lake probe — a
    // time band — prunes the FILE LISTING itself. Layout: shipdate-
    // sorted files (what any ingest-ordered or time-clustered lake
    // has). In-query asserts are the operator contract: the band's
    // candidates are a strict subset; the declarative reader scans
    // only them (df.inputFiles IS the pruned index); a bare STRING
    // literal band prunes identically to the typed-literal one (the
    // way every ad-hoc probe is written); pruning never changes the
    // answer
    "q140_time_band_skipping" -> ((s, d) => {
      val root = scratch(s, "q140", d)
      val src = li(s, d).select("l_orderkey", "l_linenumber",
        "l_shipdate", "l_quantity")
      val per = math.max(src.count() / 16L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
      FileStats.build(s, root)
      val nFiles = SchemaTools.listDataFiles(s, root).size
      val pred = "l_shipdate >= timestamp'1996-01-01 00:00:00' and " +
        "l_shipdate < timestamp'1997-01-01 00:00:00'"
      val predStr = "l_shipdate >= '1996-01-01' and " +
        "l_shipdate < '1997-01-01'"
      val cand = FileStats.candidatesForColBounds(s, root,
        FileStats.typedBounds(s, pred)).get
      val candStr = FileStats.candidatesForColBounds(s, root,
        FileStats.typedBounds(s, predStr)).get
      assert(cand.nonEmpty && cand.size * 2 <= nFiles,
        s"a 1-of-7-years band must prune most files: " +
          s"${cand.size}/$nFiles")
      assert(candStr.toSet == cand.toSet,
        "string-literal and typed-literal bands must prune identically")
      val got = LakeReader(s, root).filter(pred).load()
      assert(got.inputFiles.length <= cand.size &&
        got.inputFiles.length < nFiles,
        s"declarative reader must scan only candidates: " +
          s"${got.inputFiles.length} vs ${cand.size}/$nFiles")
      assert(got.count() == s.read.parquet(root).filter(pred).count(),
        "pruning must never change the answer")
      got.groupBy(date_trunc("month", col("l_shipdate"))
          .as("ship_month"))
        .agg(sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("ship_month")
    }),

    // BLOOM POINT-LOOKUP FILE SKIPPING: the probe min/max spans CANNOT
    // serve — `key = <value>` on a high-cardinality key whose values
    // INTERLEAVE across files (UUIDs, content hashes, hash-distributed
    // ids), where every file's span covers nearly the whole domain.
    // Opt-in per-file bloom filters in the `_stats` sidecar (the Delta
    // bloom-index design) prune the listing for equality and IN
    // probes, in both canonical domains (string keys and integral
    // keys). In-query asserts: the hash-shuffled layout defeats span
    // pruning (spans keep everything), blooms cut the same probe to
    // the one file actually holding the key, the declarative reader
    // scans only bloom survivors, an IN-list keeps at most its arity
    // in files, an absent key proves out EVERY file, and pruning never
    // changes the answer
    "q145_bloom_point_lookup" -> ((s, d) => {
      val root = scratch(s, "q145", d)
      val src = docs(s, d)
        .withColumn("doc_key",
          concat(col("lang"), lit("-"), col("doc_id")))
        .select("doc_id", "doc_key", "lang", "n_chars")
      // hash-shuffle so every file's key span covers ~the full domain
      src.repartition(16, pmod(col("doc_id") * 2654435761L, lit(16)))
        .write.parquet(root)
      FileStats.build(s, root, bloomCols = Seq("doc_key", "doc_id"))
      val nFiles = SchemaTools.listDataFiles(s, root).size
      val strPred = "doc_key = 'unused'"
        .replace("unused", src.filter(col("doc_id") === 42L)
          .select("doc_key").head().getString(0))
      // span pruning alone keeps (nearly) everything on this layout
      val spanOnly = FileStats.candidatesForColBounds(s, root,
        FileStats.typedBounds(s, strPred)).get
      assert(spanOnly.size * 2 > nFiles,
        s"interleaved keys must defeat span pruning " +
          s"(${spanOnly.size}/$nFiles) — else this probe needs no bloom")
      val strCand = FileStats.candidatesForPredicate(s, root, strPred).get
      assert(strCand.size == 1,
        s"a string-key bloom probe must isolate the holding file: " +
          s"${strCand.size}/$nFiles")
      val inPred = "doc_id IN (5, 6, 7)"
      val inCand = FileStats.candidatesForPredicate(s, root, inPred).get
      assert(inCand.nonEmpty && inCand.size <= 3 && inCand.size < nFiles,
        s"an IN probe keeps at most its arity in files: " +
          s"${inCand.size}/$nFiles")
      assert(FileStats.candidatesForPredicate(s, root,
          "doc_key = 'zz-no-such-key'").get.isEmpty,
        "an absent key must prove out every file")
      val byKey = LakeReader(s, root).filter(strPred).load()
      assert(byKey.inputFiles.length <= strCand.size,
        "the declarative reader must scan only bloom survivors")
      assert(byKey.count() ==
        s.read.parquet(root).filter(strPred).count(),
        "bloom pruning must never change the answer")
      byKey.unionByName(LakeReader(s, root).filter(inPred).load())
        .orderBy("doc_id")
    }),

    // TIME-BAND SKIPPING ON THE COMMIT LOG (r8 Next #1, log-carried):
    // every append records typed spans inside its own atomic manifest,
    // so an events-table time probe prunes the file listing the moment
    // each commit is visible — no sidecar, no shared maintenance —
    // and the probe is written the way every ad-hoc one is: bare
    // string literals. Asserts: a band inside the middle append's
    // window lists a strict subset of live files; pruning never
    // changes the answer
    "q141_commitlog_time_band" -> ((s, d) => {
      val root = scratch(s, "q141", d)
      val log = CommitLog(s, root).init()
      val src = ev(s, d).select("event_id", "ts", "event_type", "value")
      def band(a: String, b: String) = src.filter(
        col("ts") >= lit(a).cast("timestamp") &&
          col("ts") < lit(b).cast("timestamp"))
      log.append(band("2024-01-01", "2024-01-11")
        .orderBy("ts").coalesce(1))
      log.append(band("2024-01-11", "2024-01-21")
        .orderBy("ts").coalesce(1))
      log.append(band("2024-01-21", "2024-02-01")
        .orderBy("ts").coalesce(1))
      val pred = "ts >= '2024-01-12' and ts < '2024-01-19'"
      val live = log.liveFiles(None)
      val cand = log.candidateDataFiles(pred)
      assert(cand.isDefined && cand.get.nonEmpty &&
        cand.get.size < live.size,
        s"the ts band must list a strict subset " +
          s"(${cand.map(_.size)} of ${live.size})")
      assert(log.readFiltered(pred).count() ==
        log.read(None).filter(pred).count(),
        "pruning must never change the answer")
      log.readFiltered(pred)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id")
    }),

    // HIVE-PARTITIONED COMMIT LOG (r8 Next #4): the multi-writer
    // flavor holding the layout most real lakes use. Files nest under
    // data/<k>=<v>/ with partition-qualified names in the manifests,
    // and each file's partition VALUE rides its log-carried spans as
    // an exact interval — so partition pruning at resolution IS span
    // pruning, with zero new machinery. In-query asserts: a
    // partition-value predicate lists ONLY that partition's committed
    // files (strict subset); a keyed merge's rewritten inputs all
    // live in the matched keys' partition; appends from two writers
    // into different partitions land as independent commits
    "q142_commitlog_partitioned" -> ((s, d) => {
      val root = scratch(s, "q142", d)
      val log = CommitLog(s, root).initPartitioned(Seq("o_orderstatus"))
      val src = ord(s, d).select("o_orderkey", "o_custkey",
        "o_totalprice", "o_orderstatus")
      // two writers, different partitions: independent commits v1/v2
      log.append(src.filter(col("o_orderstatus") === "O"))
      log.append(src.filter(col("o_orderstatus") =!= "O"))
      assert(log.latestVersion() == 2L)
      val live = log.liveFiles(None)
      val cand = log.candidateDataFiles("o_orderstatus = 'F'")
      assert(cand.exists(c => c.nonEmpty && c.size < live.size &&
        c.forall(_.startsWith("o_orderstatus=F/"))),
        s"partition predicate must list only F files: " +
          s"${cand.map(_.take(3))} of ${live.size}")
      val Array(lo, hi0) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      // keyed merge whose batch lives entirely in partition F
      val updates = src
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderkey") <= lit(hi))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      val (vUp, t) = log.upsert(updates, Seq("o_orderkey"))
      assert(t > 0, "the band must touch at least one file")
      val removed = log.commit(vUp).removed
      assert(removed.nonEmpty &&
        removed.forall(_.startsWith("o_orderstatus=F/")),
        s"merge must rewrite only the matched partition: $removed")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      shaped(log.read(None), "live")
        .unionByName(shaped(log.readFiltered("o_orderstatus = 'F'"), "f"))
        .orderBy("side", "o_orderkey")
    }),

    // SQL DML ON MANAGED TABLES (r8 Next #5): a cataloged commit-log
    // table mutated PURELY through SQL statements — INSERT INTO
    // bootstraps it, MERGE applies a CDC batch (update-all/insert-all
    // through the keyed copy-on-write upsert), DELETE WHERE rewrites
    // only files holding matching rows — and read back through the
    // same registered view with plain spark.sql. The dispatcher
    // parses the statement, evaluates the query subtree through the
    // analyzer (temp views resolve), and routes to the commit
    // protocol, so every mutation is an atomic versioned commit
    "q143_sql_dml" -> ((s, d) => {
      val root = scratch(s, "q143", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t143")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q143_src")
      lm.sql("INSERT INTO t143 SELECT * FROM q143_src")
      val Array(lo, hi0) = s.sql(
        "SELECT min(o_orderkey), max(o_orderkey) FROM q143_src").head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val hi = lo + (hi0 - lo) / 8
      // CDC batch: +1000 on the first eighth, shifted inserts
      s.sql(
        s"""SELECT o_orderkey, o_custkey, o_totalprice + 1000.0
           |  AS o_totalprice FROM q143_src WHERE o_orderkey <= $hi
           |UNION ALL
           |SELECT o_orderkey + ${hi0 + 1L}, o_custkey, 0.5
           |FROM q143_src WHERE o_orderkey <= $hi""".stripMargin)
        .createOrReplaceTempView("q143_cdc")
      lm.sql("MERGE INTO t143 t USING q143_cdc s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      lm.sql("DELETE FROM t143 WHERE o_custkey % 10 = 3")
      val log = lm.commitLog("t143")
      assert(log.latestVersion() == 3L,
        "INSERT, MERGE, DELETE must be exactly three commits")
      assert(log.read(Some(2L)).count() > log.read(None).count(),
        "time travel before the DELETE must serve the deleted rows")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t143 " +
        "ORDER BY o_orderkey")
    }),

    // SQL UPDATE ON MANAGED TABLES (q143's missing verb): `UPDATE t
    // SET c = expr, ... WHERE pred` dispatches to the copy-on-write
    // CommitLog.updateWhere — span-pruned candidates, only files
    // HOLDING matching rows rewrite, every assignment sees the
    // PRE-update row (standard SQL: the o_totalprice expression reads
    // the OLD o_custkey even though o_custkey is also assigned), and
    // qualified references (t.c) resolve by stripping the target
    // qualifier. Time travel serves the pre-update rows
    "q144_sql_update" -> ((s, d) => {
      val root = scratch(s, "q144", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t144")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderstatus").createOrReplaceTempView("q144_src")
      lm.sql("INSERT INTO t144 SELECT * FROM q144_src")
      lm.sql("UPDATE t144 t SET " +
        "t.o_totalprice = t.o_totalprice * 2.0 + t.o_custkey, " +
        "t.o_custkey = t.o_custkey + 7 " +
        "WHERE t.o_orderstatus = 'F' AND t.o_orderkey % 4 = 1")
      val log = lm.commitLog("t144")
      assert(log.latestVersion() == 2L,
        "INSERT then UPDATE must be exactly two commits")
      assert(log.commit(2L).removed.nonEmpty,
        "the UPDATE must be a copy-on-write rewrite, not an append")
      val pre = log.read(Some(1L))
      assert(pre.count() == log.read(None).count(),
        "UPDATE must not change the row count")
      assert(
        pre.agg(sum("o_totalprice")).head().getDouble(0) <
          log.read(None).agg(sum("o_totalprice")).head().getDouble(0),
        "time travel before the UPDATE must serve the old values")
      // a no-match UPDATE burns no commit
      lm.sql("UPDATE t144 SET o_totalprice = 0.0 " +
        "WHERE o_orderstatus = 'no-such-status'")
      assert(log.latestVersion() == 2L,
        "a no-match UPDATE must not commit")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice, " +
        "o_orderstatus FROM t144 ORDER BY o_orderkey")
    }),

    // SQL TIME TRAVEL (SELECT-side): `FROM t VERSION AS OF n` and
    // `TIMESTAMP AS OF <expr>` over a managed commit-log table — the
    // dispatcher grafts the versioned read's analyzed plan under the
    // table's alias inside the parsed statement, so travels, the live
    // view, joins, and qualified references all compose in ONE
    // statement. TIMESTAMP resolution is the Delta rule (latest
    // commit at-or-before), probed here with commit v1's own recorded
    // instant (strictly-monotone commit clocks make that exact)
    "q146_sql_time_travel" -> ((s, d) => {
      val root = scratch(s, "q146", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t146")
      ord(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q146_src")
      val Array(lo, hi) = s.sql(
        "SELECT min(o_orderkey), max(o_orderkey) FROM q146_src").head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      lm.sql(s"INSERT INTO t146 SELECT * FROM q146_src " +
        s"WHERE o_orderkey <= $mid")
      lm.sql(s"INSERT INTO t146 SELECT * FROM q146_src " +
        s"WHERE o_orderkey > $mid")
      val log = lm.commitLog("t146")
      assert(log.latestVersion() == 2L)
      val t1 = log.commit(1L).ts
      val out = lm.sql(
        s"""SELECT 'v1' AS side, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
           |    AS total
           |FROM t146 VERSION AS OF 1
           |UNION ALL
           |SELECT 'ts', count(*),
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
           |FROM t146 TIMESTAMP AS OF CAST($t1 / 1000.0 AS TIMESTAMP)
           |UNION ALL
           |SELECT 'live', count(*),
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
           |FROM t146
           |ORDER BY side""".stripMargin)
      val byue = out.collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap
      assert(byue("v1") == byue("ts") && byue("v1") < byue("live"),
        s"both travels must serve v1, strictly fewer than live: $byue")
      out
    }),

    // CHECK CONSTRAINTS AS TABLE METADATA (Delta constraint parity):
    // `ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)` commits a META
    // entry to the log itself — transactional like every commit, so
    // adding validates live data as of a planned version (refusing if
    // any row violates), every data-adding writer re-reads the set
    // inside its commit retry loop, checkpoints fold it, and history
    // shows it as a zero-file operation. Violating writes REFUSE the
    // whole batch (Delta CHECK semantics, not screening)
    "q147_sql_constraints" -> ((s, d) => {
      val root = scratch(s, "q147", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t147")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q147_src")
      lm.sql("INSERT INTO t147 SELECT * FROM q147_src")
      lm.sql("ALTER TABLE t147 ADD CONSTRAINT pos CHECK " +
        "(o_totalprice > 0)")
      val log = lm.commitLog("t147")
      assert(log.constraints(None) == Map("pos" -> "(o_totalprice > 0)")
        || log.constraints(None) == Map("pos" -> "o_totalprice > 0"),
        s"the set must stand: ${log.constraints(None)}")
      def mustRefuse(stmt: String): Unit = {
        val refused =
          try { lm.sql(stmt); false }
          catch { case _: Exception => true }
        assert(refused, s"must refuse: $stmt")
      }
      // a violating INSERT refuses the WHOLE batch
      mustRefuse("INSERT INTO t147 VALUES (0, 0, -5.0)")
      // adding a constraint live data violates refuses
      mustRefuse("ALTER TABLE t147 ADD CONSTRAINT big CHECK " +
        "(o_totalprice > 100000)")
      // a proving batch lands
      lm.sql("INSERT INTO t147 VALUES (-1, -1, 1.0)")
      // drop, and the formerly-refused shape lands
      lm.sql("ALTER TABLE t147 DROP CONSTRAINT pos")
      assert(log.constraints(None).isEmpty)
      lm.sql("INSERT INTO t147 VALUES (-2, -2, -5.0)")
      // the meta commits are versioned operations: the set at the ADD
      // is visible historically even after the DROP
      assert(log.constraints(Some(2L)).contains("pos"))
      // NOT NULL invariants (Delta column invariants) ride the SAME
      // meta machinery: SET validates live data first, a violating
      // INSERT refuses the whole batch in the writer's CAS loop, and
      // DROP re-legalizes the shape
      lm.sql("ALTER TABLE t147 ALTER COLUMN o_custkey SET NOT NULL")
      assert(log.notNullColumns(None) == Seq("o_custkey"),
        s"the invariant must stand: ${log.notNullColumns(None)}")
      mustRefuse("INSERT INTO t147 VALUES (-3, NULL, 2.0)")
      lm.sql("ALTER TABLE t147 ALTER COLUMN o_custkey DROP NOT NULL")
      assert(log.notNullColumns(None).isEmpty,
        "DROP NOT NULL must clear the invariant")
      s.sql("SELECT * FROM t147 ORDER BY o_orderkey")
    }),

    // POSITIONAL DELETION VECTORS (Delta DV parity): DELETE WHERE with
    // ZERO data-file writes — matching rows are marked by (file, row
    // position) in a dv-* tombstone committed like any delete, so an
    // arbitrary-predicate delete on a 100 TB table costs O(matched
    // rows of metadata), not a rewrite of every touched file. Readers
    // subtract marks with one (file, pos) anti-join; time travel
    // before the mark serves the rows; re-deleting the same band is a
    // no-op that burns no commit; OPTIMIZE is the fold (re-homed rows
    // apply the marks). In-query asserts: the delete commit references
    // ONLY dv files and removes nothing, every data file stays
    // byte-identical (name + length), and the folded read equals the
    // marked read
    "q149_dv_delete" -> ((s, d) => {
      val root = scratch(s, "q149", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d).select("o_orderkey", "o_custkey",
        "o_totalprice")
      log.append(src.repartition(4, col("o_orderkey"))) // v1
      def dataFiles() = SchemaTools.listDataFiles(s, s"$root/data")
        .filterNot(f => new org.apache.hadoop.fs.Path(f).getName
          .startsWith("dv-"))
        .map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .getFileStatus(p)
          (p.getName, st.getLen)
        }.sortBy(_._1)
      val before = dataFiles()
      val (v2, marked) = log.deleteWhereMor("o_orderkey % 7 = 3")
      assert(marked > 0, "the band must mark rows")
      assert(dataFiles() == before,
        "a positional delete must leave every data file byte-identical")
      val c2 = log.commit(v2)
      assert(c2.removed.isEmpty && c2.files.nonEmpty &&
        c2.files.forall(_.startsWith("dv-")),
        s"the delete commit must reference only dv files: $c2")
      // re-delete of the same band: nothing fresh to mark, no commit
      val (v2b, again) = log.deleteWhereMor("o_orderkey % 7 = 3")
      assert(v2b == v2 && again == 0L,
        "re-marking the same band must burn no commit")
      // time travel before the mark serves the rows
      assert(log.read(Some(1L)).count() == src.count())
      val (_, m2) = log.deleteWhereMor("o_custkey % 5 = 2") // v3
      assert(m2 > 0)
      val markedRead = log.read(None)
      val expect = src
        .filter(!(col("o_orderkey") % 7 === 3) &&
          !(col("o_custkey") % 5 === 2))
      assert(markedRead.count() == expect.count(),
        "the subtracted read must equal the predicate complement")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      val mor = shaped(markedRead, "mor")
      // OPTIMIZE folds the marks: re-homed rows apply them, the read
      // is unchanged, and the rewritten layout carries no mark debt
      log.optimize(targetFiles = 2)
      val folded = shaped(log.read(None), "folded")
      mor.unionByName(folded).orderBy("side", "o_orderkey")
    }),

    // MAINTENANCE SQL SURFACE (Delta's OPTIMIZE/VACUUM/RESTORE/
    // DESCRIBE HISTORY verbs, the r9 gap): one lifecycle driven
    // PURELY through lake.sql(...) — appends and deletes as SQL DML,
    // then OPTIMIZE ZORDER BY packs the live set (asserting its
    // metrics row), a second DELETE is undone by RESTORE ... VERSION
    // AS OF (asserting ITS metrics row), DESCRIBE HISTORY lists the
    // six commits with their kinds, and VACUUM RETAIN 0 HOURS
    // reclaims exactly a planted crashed-writer's staged debris while
    // provably eating nothing any commit references (live and
    // time-travel reads still serve afterwards)
    "q150_sql_maintenance" -> ((s, d) => {
      val root = scratch(s, "q150", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t150")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q150_src")
      val Array(lo, hi) = s.sql(
        "SELECT min(o_orderkey), max(o_orderkey) FROM q150_src").head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      lm.sql("INSERT INTO t150 SELECT /*+ REPARTITION(3) */ * " +
        s"FROM q150_src WHERE o_orderkey <= $mid") // v1
      lm.sql("INSERT INTO t150 SELECT /*+ REPARTITION(2) */ * " +
        s"FROM q150_src WHERE o_orderkey > $mid") // v2
      lm.sql("DELETE FROM t150 WHERE o_custkey % 10 = 3") // v3
      val m = lm.sql("OPTIMIZE t150 ZORDER BY (o_orderkey)").head()
      assert(m.getAs[Boolean]("rewrote") &&
        m.getAs[Long]("version") == 4L &&
        m.getAs[Long]("files_before") > 1L &&
        m.getAs[Long]("files_after") == 1L,
        s"OPTIMIZE metrics must report the v4 pack-to-one: $m")
      lm.sql("DELETE FROM t150 WHERE o_orderkey % 7 = 3") // v5
      val r = lm
        .sql("RESTORE TABLE t150 TO VERSION AS OF 4").head()
      assert(r.getAs[Long]("restored_version") == 4L &&
        r.getAs[Long]("new_version") == 6L,
        s"RESTORE metrics must report v4 -> v6: $r")
      val hist = lm.sql("DESCRIBE HISTORY t150")
        .orderBy("version").collect()
      assert(hist.map(_.getAs[Long]("version")).sameElements(1L to 6L)
        && hist.map(_.getAs[String]("kind")).sameElements(Seq(
          "append", "append", "upsert", "rewrite", "upsert",
          "restore")),
        s"DESCRIBE HISTORY must list the six commits in kind order")
      // a crashed writer's staged debris is the ONLY unreferenced
      // byte in the table — RETAIN 0 HOURS reclaims it and nothing
      // else (every committed file stays referenced and readable)
      val staged = new org.apache.hadoop.fs.Path(
        s"$root/t150/_staged/crashed-writer.parquet")
      val fs = staged.getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = fs.create(staged, true)
      out.write("debris".getBytes("UTF-8")); out.close()
      val vac = lm.sql("VACUUM t150 RETAIN 0 HOURS").head()
      assert(vac.getAs[Long]("files_deleted") == 1L,
        s"VACUUM must reclaim exactly the staged debris: $vac")
      val log = lm.commitLog("t150")
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "live")
        .unionByName(shaped(log.read(Some(5L)), "v5"))
        .orderBy("side", "o_orderkey")
    }),

    // SQL TABLE LIFECYCLE (the DDL half of the managed surface):
    // CREATE TABLE ... USING commitlog with a declared schema — the
    // declaration is REAL: a zero-row founding append records it, the
    // first INSERT conforms positionally against it, a declared NOT
    // NULL column lands as an enforced invariant, and TBLPROPERTIES
    // ride a meta commit. CTAS creates-and-populates in one
    // statement; IF NOT EXISTS is a no-op against a standing table;
    // DROP TABLE PURGE removes catalog entry, SQL view, and files
    "q151_sql_create_table" -> ((s, d) => {
      val root = scratch(s, "q151", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t151 (o_orderkey BIGINT NOT NULL, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING commitlog " +
        "TBLPROPERTIES ('team'='data-eng')")
      val log = lm.commitLog("t151")
      assert(log.notNullColumns(None) == Seq("o_orderkey"),
        "the declared NOT NULL must stand as an invariant")
      assert(log.properties(None).get("team").contains("data-eng") &&
        log.properties(None).get("graft.column.order")
          .contains("o_orderkey,o_custkey,o_totalprice"),
        s"TBLPROPERTIES and the declared order must ride the " +
          s"create: ${log.properties(None)}")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q151_src")
      lm.sql("INSERT INTO t151 SELECT * FROM q151_src")
      def mustRefuse(stmt: String): Unit = {
        val refused =
          try { lm.sql(stmt); false }
          catch { case _: Exception => true }
        assert(refused, s"must refuse: $stmt")
      }
      // the declared invariant gates SQL INSERTs from the start
      mustRefuse("INSERT INTO t151 VALUES (NULL, 1, 1.0)")
      // the declared schema is the conformance target: wrong arity
      mustRefuse("INSERT INTO t151 VALUES (1, 2)")
      // IF NOT EXISTS over a standing table is a no-op
      val vBefore = log.latestVersion()
      lm.sql("CREATE TABLE IF NOT EXISTS t151 (x BIGINT) " +
        "USING commitlog")
      assert(log.latestVersion() == vBefore &&
        !lm.commitLog("t151").read(None).columns.contains("x"),
        "IF NOT EXISTS must not touch the standing table")
      mustRefuse("CREATE TABLE t151 (x BIGINT) USING commitlog")
      // CTAS creates-and-populates; DROP PURGE removes it fully
      lm.sql("CREATE TABLE t151b USING commitlog AS " +
        "SELECT * FROM q151_src WHERE o_custkey % 2 = 0")
      assert(lm.tables.contains("t151b") &&
        s.sql("SELECT count(*) FROM t151b").head().getLong(0) > 0L)
      lm.sql("DROP TABLE t151b PURGE")
      assert(!lm.tables.contains("t151b"),
        "DROP TABLE must deregister")
      assert(!new org.apache.hadoop.fs.Path(s"$root/t151b")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(s"$root/t151b")),
        "PURGE must delete the files")
      lm.sql("DROP TABLE IF EXISTS t151b") // no-op, no throw
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t151 " +
        "ORDER BY o_orderkey")
    }),

    // [CREATE OR] REPLACE TABLE (Delta's semantics): a STANDING
    // managed table's live set swaps by ONE `replace` commit, so
    // HISTORY SURVIVES — time travel before the replace still
    // serves; OR CREATE over nothing standing is a plain CREATE;
    // bare REPLACE refuses a missing table with the remedy
    "q158_sql_replace_table" -> ((s, d) => {
      val root = scratch(s, "q158", d)
      val lm = LakeManager(s, root).init()
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q158_src")
      // OR CREATE over nothing standing = plain CREATE
      lm.sql("CREATE OR REPLACE TABLE t158 USING commitlog AS " +
        "SELECT * FROM q158_src WHERE o_custkey % 2 = 0")
      val log = lm.commitLog("t158")
      val vFirst = log.latestVersion()
      // the swap is ONE replace commit on the standing log — not a
      // drop+create (which would orphan history and readers)
      lm.sql("CREATE OR REPLACE TABLE t158 USING commitlog AS " +
        "SELECT * FROM q158_src WHERE o_custkey % 2 = 1")
      assert(log.latestVersion() == vFirst + 1 &&
        log.commit(log.latestVersion()).kind == "replace",
        "the swap must be ONE replace commit")
      val refused =
        try {
          lm.sql("REPLACE TABLE nosuch158 USING commitlog AS " +
            "SELECT * FROM q158_src")
          false
        } catch { case _: Exception => true }
      assert(refused, "bare REPLACE must refuse a missing table")
      // live = post-replace (odd custkeys); before = pre-replace
      // travel (even custkeys) — history survived the swap
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "live")
        .unionByName(shaped(log.read(Some(vFirst)), "before"))
        .orderBy("side", "o_orderkey")
    }),

    // GENERALIZED MERGE (the full Delta grammar, one atomic commit
    // each): conditional WHEN MATCHED DELETE/UPDATE routed by a CDC
    // op column, conditional WHEN NOT MATCHED INSERT (an op the
    // clauses don't claim is DISCARDED), then a keep-set sync whose
    // WHEN NOT MATCHED BY SOURCE clauses delete surrogate rows and
    // zero the rest. Matched/insert work prunes to the source's key
    // envelope; NMBS examines every live row (Delta's shape too).
    // Both merges are ONE commit; the post-CDC state time-travels.
    "q159_sql_merge_full" -> ((s, d) => {
      val root = scratch(s, "q159", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t159")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q159_src")
      lm.sql("INSERT INTO t159 SELECT * FROM q159_src") // v1
      // CDC batch: D deletes, U updates, I inserts under surrogate
      // keys; op 'X' must fall through every clause and be discarded
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice, 'D' AS op
        FROM q159_src WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, 'U'
        FROM q159_src WHERE o_orderkey % 3 = 1
        UNION ALL
        SELECT o_orderkey + 1000000, o_custkey, o_totalprice, 'I'
        FROM q159_src WHERE o_orderkey % 3 = 2
        UNION ALL
        SELECT o_orderkey + 2000000, o_custkey, o_totalprice, 'X'
        FROM q159_src WHERE o_orderkey % 3 = 2""")
        .createOrReplaceTempView("q159_cdc")
      lm.sql("MERGE INTO t159 t USING q159_cdc s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET " +
        "o_totalprice = s.o_totalprice + 10.0 " +
        "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT " +
        "(o_orderkey, o_custkey, o_totalprice) " +
        "VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)") // v2
      val log = lm.commitLog("t159")
      val vCdc = log.latestVersion()
      assert(vCdc == 2L, "the CDC apply must be ONE commit")
      // keep-set sync: only the U-updated keys stay listed; unlisted
      // rows face the NMBS clauses (first-true wins)
      s.sql("SELECT o_orderkey FROM q159_src WHERE o_orderkey % 3 = 1")
        .createOrReplaceTempView("q159_keep")
      lm.sql("MERGE INTO t159 t USING q159_keep s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey >= 1000000 " +
        "THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET " +
        "o_totalprice = 0.0") // v3
      assert(log.latestVersion() == 3L,
        "the keep-set sync must be ONE commit")
      def shaped159(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped159(log.read(Some(vCdc)), "cdc")
        .unionByName(shaped159(log.read(None), "sync"))
        .orderBy("side", "o_orderkey")
    }),

    // MERGE WITH SCHEMA EVOLUTION (Delta's clause, parsed by Spark's
    // own grammar): star expansion assigns every SOURCE column, the
    // source-only o_totalprice APPENDS to the schema as one commit —
    // untouched rows read NULL through the log's per-commit schema
    // registry (zero rewrite of unaffected files; the q127 conform
    // machinery), and the pre-evolution version still serves the old
    // two-column shape (asserted)
    "q160_sql_merge_evolution" -> ((s, d) => {
      val root = scratch(s, "q160", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t160")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q160_src")
      lm.sql("INSERT INTO t160 SELECT o_orderkey, o_custkey " +
        "FROM q160_src") // v1: two columns
      // evolving CDC: even keys match (update-star brings the new
      // column), odd keys arrive as surrogate inserts carrying it
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM q160_src WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey + 1000000, o_custkey, o_totalprice
        FROM q160_src WHERE o_orderkey % 2 = 1""")
        .createOrReplaceTempView("q160_cdc")
      lm.sql("MERGE WITH SCHEMA EVOLUTION INTO t160 t " +
        "USING q160_cdc s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *") // v2
      val log = lm.commitLog("t160")
      assert(log.read(Some(1L)).columns.toSeq ==
        Seq("o_orderkey", "o_custkey"),
        "history must keep the pre-evolution schema")
      assert(log.latestVersion() == 2L,
        "the evolving merge must be ONE commit")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t160 " +
        "ORDER BY o_orderkey")
    }),

    // COPY INTO (Databricks' idempotent ingest verb, Delta's file-
    // identity dedup): files load EXACTLY ONCE by (path, size, mtime)
    // — the second statement sees batch1 already recorded and loads
    // only batch2's files; a full rerun loads nothing and burns NO
    // commit. The loaded-file registry is a per-run parquet manifest
    // referenced from the commit by a namespaced table property —
    // transactional, versioned, checkpoint-folded; dedup is one
    // left_anti join of the candidate listing against the manifests.
    "q161_sql_copy_into" -> ((s, d) => {
      val root = scratch(s, "q161", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t161")
      val src = s"$root/_staging"
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 2 === 0)
        .repartition(3).write.parquet(s"$src/batch1")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 2 === 1)
        .repartition(2).write.parquet(s"$src/batch2")
      def copy(): (Long, Long) = {
        val r = lm.sql(s"COPY INTO t161 FROM '$src' " +
          "FILEFORMAT = PARQUET").head()
        (r.getLong(1), r.getLong(0)) // (files, rows)
      }
      val first = lm.sql(s"COPY INTO t161 FROM '$src' " +
        "FILEFORMAT = PARQUET PATTERN = 'batch1/*.parquet'").head()
      assert(first.getLong(1) == 3L, "batch1 is three files")
      val (f2, _) = copy()
      assert(f2 == 2L,
        "the full-source copy must load ONLY batch2 (batch1 is " +
          s"already recorded); loaded $f2")
      val log = lm.commitLog("t161")
      val vDone = log.latestVersion()
      val (f3, r3) = copy()
      assert(f3 == 0L && r3 == 0L && log.latestVersion() == vDone,
        "a fully-loaded source must load nothing and burn no commit")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t161 " +
        "ORDER BY o_orderkey")
    }),

    // IDENTITY + GENERATED COLUMNS (Delta's auto columns, Spark's own
    // CREATE TABLE grammar): `row_id` allocates off a HIGH-WATER MARK
    // that rides the SAME commit as the rows (two sequential batches
    // continue the sequence — start 100, step 3), and `bucket`
    // computes from its expression on every insert. Allocation is one
    // per-partition-offset index pass (no global sort); a sorted
    // INSERT makes the assignment order deterministic, which is what
    // the oracle pins. The SQL surface refuses explicit ALWAYS
    // values, UPDATEs to auto columns or their inputs, and MERGE on
    // GENERATED columns (identity-only tables merge — q166).
    "q162_sql_identity_generated" -> ((s, d) => {
      val root = scratch(s, "q162", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t162 (" +
        "row_id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 100 INCREMENT BY 3), " +
        "o_orderkey BIGINT, o_totalprice DOUBLE, " +
        "bucket INT GENERATED ALWAYS AS " +
        "(CAST(o_orderkey % 10 AS INT)), " +
        "src STRING DEFAULT 'tpch') USING commitlog")
      ord(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q162_src")
      lm.sql("INSERT INTO t162 SELECT o_orderkey, o_totalprice " +
        "FROM q162_src WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey")
      lm.sql("INSERT INTO t162 SELECT o_orderkey, o_totalprice " +
        "FROM q162_src WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey")
      val log = lm.commitLog("t162")
      // the mark advanced once per batch, atomically with its rows
      assert(log.properties(None)
        .contains("graft.identity.hwm.row_id"),
        "the high-water mark must ride the table properties")
      assert(s.sql("SELECT count(DISTINCT row_id) = count(*) FROM t162")
        .head().getBoolean(0), "identity values must be unique")
      s.sql("SELECT row_id, o_orderkey, o_totalprice, bucket, src " +
        "FROM t162 ORDER BY row_id")
    }),

    // DEEP CLONE (Delta's bare CLONE): an independent PHYSICAL copy —
    // file bytes copy DISTRIBUTED (one task per file), the founding
    // commit references the copies. Works on exactly the shapes the
    // zero-copy clone refuses: a hive-partitioned layout with
    // standing positional deletes (copies are byte-identical, so dv
    // positions stay valid; partition names resolve under the clone's
    // own basePath). The source diverges AFTER the clone — the clone
    // must not see it (asserted by the oracle: pre-divergence state).
    "q163_sql_deep_clone" -> ((s, d) => {
      val root = scratch(s, "q163", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t163 (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE, bucket STRING) USING commitlog " +
        "PARTITIONED BY (bucket) " +
        "TBLPROPERTIES ('delete.mode'='positional')")
      ord(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q163_src")
      lm.sql("INSERT INTO t163 SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderkey % 4 AS STRING) FROM q163_src")
      lm.sql("DELETE FROM t163 WHERE o_orderkey % 7 = 3") // dv marks
      lm.sql("CREATE TABLE t163c CLONE t163")
      // source diverges after the fork; the clone is unaffected
      lm.sql("DELETE FROM t163 WHERE o_orderkey % 2 = 0")
      assert(!new org.apache.hadoop.fs.Path(s"$root/t163c/_base.json")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(
          s"$root/t163c/_base.json")),
        "a deep clone borrows nothing")
      s.sql("SELECT o_orderkey, o_totalprice, bucket FROM t163c " +
        "ORDER BY o_orderkey")
    }),

    // PARTITION BY A GENERATED COLUMN — the canonical Delta layout
    // for time-partitioned lakes: writers insert (event_id, ts) and
    // the declared `day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))`
    // computes in the resolver and lands as the hive partition, so
    // ingest NEVER hand-maintains the bucket and a one-day filter
    // prunes to that day's files (asserted: strict-subset scan).
    "q164_sql_generated_partition" -> ((s, d) => {
      val root = scratch(s, "q164", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t164 (event_id BIGINT, ts TIMESTAMP, " +
        "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
        "USING commitlog PARTITIONED BY (day)")
      Tables.events(s, d).select("event_id", "ts")
        .createOrReplaceTempView("q164_src")
      lm.sql("INSERT INTO t164 SELECT event_id, ts FROM q164_src")
      val log = lm.commitLog("t164")
      val total = log.liveFiles(None).size
      val oneDay = s.sql(
        "SELECT CAST(min(ts) AS DATE) FROM q164_src").head().getDate(0)
      val pruned = scannedFiles(
        s.sql(s"SELECT * FROM t164 WHERE day = DATE'$oneDay'"))
      assert(pruned > 0 && pruned < total,
        s"a one-day filter must scan a strict subset of the " +
          s"partitioned layout: $pruned of $total")
      // DATE round-trips as TIMESTAMP in the final frame (driver
      // canonicalization treats raw date32 as opaque objects)
      s.sql("SELECT event_id, CAST(day AS TIMESTAMP) AS day " +
        "FROM t164 ORDER BY event_id, day")
    }),

    // GENERALIZED MERGE UNDER ACTIVE COLUMN MAPPING: after a logical
    // RENAME COLUMN (zero rewrite), every clause — conditions,
    // assignments, insert values — speaks the NEW name; the executor
    // translates once to the files' frozen physical names (the
    // upsert discipline) and the merge runs mapping-oblivious.
    // Rewritten files keep the uniform physical schema; the oracle is
    // the full post-merge logical view.
    "q165_sql_merge_mapped" -> ((s, d) => {
      val root = scratch(s, "q165", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t165")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q165_src")
      lm.sql("INSERT INTO t165 SELECT * FROM q165_src") // v1
      lm.sql("ALTER TABLE t165 RENAME COLUMN o_totalprice TO price")
      // CDC keyed on DISTINCT orderkeys (the testdata carries dup
      // keys; a dup-keyed source must refuse, so aggregate first)
      s.sql("""SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
          CAST(NULL AS DOUBLE) AS price, 'D' AS op
        FROM q165_src WHERE o_orderkey % 7 = 3 GROUP BY o_orderkey
        UNION ALL
        SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
          'U'
        FROM q165_src
        WHERE o_orderkey % 7 <> 3 AND o_orderkey % 2 = 0
        GROUP BY o_orderkey
        UNION ALL
        SELECT o_orderkey + 1000000, max(o_custkey),
          max(o_totalprice), 'I'
        FROM q165_src WHERE o_orderkey % 7 = 3 GROUP BY o_orderkey""")
        .createOrReplaceTempView("q165_cdc")
      val vPre = lm.commitLog("t165").latestVersion()
      lm.sql("MERGE INTO t165 t USING q165_cdc s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET " +
        "price = t.price * 2 " +
        "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT " +
        "(o_orderkey, o_custkey, price) " +
        "VALUES (s.o_orderkey, s.o_custkey, s.price)")
      assert(lm.commitLog("t165").latestVersion() == vPre + 1,
        "the mapped merge must be ONE commit")
      // the lifted row-level writers speak the logical name too
      lm.sql("UPDATE t165 SET price = price + 0.5 " +
        "WHERE o_orderkey % 10 = 1")
      lm.sql("DELETE FROM t165 WHERE price < 1000.0")
      s.sql("SELECT o_orderkey, o_custkey, price FROM t165 " +
        "ORDER BY o_orderkey, o_custkey, price")
    }),

    // MERGE INTO AN IDENTITY TABLE (Delta's current rule, lifted from
    // the historical refusal): WHEN NOT MATCHED inserts ALLOCATE off
    // the high-water mark, the mark advance riding the SAME CAS as
    // the merge commit (a racing writer re-reads and re-allocates);
    // matched rows keep their standing ids; SET / explicit-ALWAYS
    // INSERT values refuse. Which insert row draws which id is
    // partitioning-dependent (Delta's contract too), so the oracle
    // pins per-row DATA plus the deterministic AGGREGATE identity
    // facts: unique and contiguous (count distinct = max-min+1 = n).
    "q166_sql_merge_identity" -> ((s, d) => {
      val root = scratch(s, "q166", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t166 (" +
        "row_id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 100 INCREMENT BY 1), " +
        "o_orderkey BIGINT, o_totalprice DOUBLE) USING commitlog")
      ord(s, d).groupBy("o_orderkey")
        .agg(max(col("o_totalprice")).as("o_totalprice"))
        .createOrReplaceTempView("q166_src")
      lm.sql("INSERT INTO t166 SELECT o_orderkey, o_totalprice " +
        "FROM q166_src WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey")
      val log = lm.commitLog("t166")
      val vPre = log.latestVersion()
      lm.sql("MERGE INTO t166 t USING q166_src s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET " +
        "o_totalprice = s.o_totalprice + 1.0 " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) " +
        "VALUES (s.o_orderkey, s.o_totalprice)") // allocates
      assert(log.latestVersion() == vPre + 1L,
        "merge + identity allocation must be ONE commit")
      val n = log.read(None).count()
      assert(log.properties(None)("graft.identity.hwm.row_id").toLong
        == 100L + n - 1L, "the mark must ride the merge commit")
      val t = log.read(None)
      val rows = t.select(lit("row").as("part"),
        col("o_orderkey").cast("double").as("a"),
        col("o_totalprice").cast("double").as("b"))
      val ids = t.agg(
          countDistinct(col("row_id")).cast("double").as("a"),
          (max(col("row_id")) - min(col("row_id")) + 1L)
            .cast("double").as("b"))
        .select(lit("ids").as("part"), col("a"), col("b"))
      rows.unionByName(ids).orderBy("part", "a", "b")
    }),

    // CHANGE DATA FEED OVER MERGE (Delta's enableChangeDataFeed):
    // with the opt-in table property, a generalized MERGE persists its
    // EXACT change rows (insert / update_preimage / update_postimage /
    // delete) as _change_data files in the SAME commit, so
    // table_changes() decomposes the merge instead of refusing —
    // in-query assert: a replica folded from the feed (delete/
    // preimage keys retire, postimage/insert rows apply) equals the
    // live read. Off the property, mutating commits still refuse
    // (asserted) — the scale-honest default stays.
    "q167_sql_cdf_merge" -> ((s, d) => {
      val root = scratch(s, "q167", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t167 (o_orderkey BIGINT, o_custkey " +
        "BIGINT, o_totalprice DOUBLE) USING commitlog " +
        "TBLPROPERTIES ('cdf.enabled'='true')")
      ord(s, d).groupBy("o_orderkey")
        .agg(max(col("o_custkey")).as("o_custkey"),
          max(col("o_totalprice")).as("o_totalprice"))
        .createOrReplaceTempView("q167_src")
      lm.sql("INSERT INTO t167 SELECT * FROM q167_src")
      val log = lm.commitLog("t167")
      val v0 = log.latestVersion()
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice,
          CASE WHEN o_orderkey % 3 = 0 THEN 'D'
               WHEN o_orderkey % 3 = 1 THEN 'U' END AS op
        FROM q167_src WHERE o_orderkey % 3 < 2
        UNION ALL
        SELECT o_orderkey + 1000000, o_custkey, o_totalprice, 'I'
        FROM q167_src WHERE o_orderkey % 3 = 2""")
        .createOrReplaceTempView("q167_cdc")
      lm.sql("MERGE INTO t167 t USING q167_cdc s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET " +
        "o_totalprice = s.o_totalprice + 5.0 " +
        "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT " +
        "(o_orderkey, o_custkey, o_totalprice) " +
        "VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)")
      assert(log.latestVersion() == v0 + 1,
        "merge + change-data persistence must be ONE commit")
      // table_changes bounds are INCLUSIVE (Delta's TVF contract) —
      // the feed starts at the merge commit, not the base load
      val feed = lm.sql(
        s"SELECT * FROM table_changes('t167', ${v0 + 1})")
        .localCheckpoint(true)
      // replica fold: retired keys drop, new images apply
      val retired = feed
        .filter(col("_op").isin("delete", "update_preimage"))
        .select("o_orderkey")
      val applied = feed
        .filter(col("_op").isin("insert", "update_postimage"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val replica = log.read(Some(v0))
        .join(retired, Seq("o_orderkey"), "left_anti")
        .unionByName(applied)
      assert(replica.exceptAll(log.read(None)).isEmpty &&
        log.read(None).exceptAll(replica).isEmpty,
        "the CDF-folded replica must converge to the live read")
      // without the property the feed still refuses mutating commits
      lm.sql("CREATE TABLE t167b (k BIGINT, v BIGINT) USING commitlog")
      lm.sql("INSERT INTO t167b VALUES (1, 10)")
      lm.sql("UPDATE t167b SET v = 11 WHERE k = 1")
      val refused =
        try { lm.sql("SELECT * FROM table_changes('t167b', 1)")
          .collect(); false }
        catch { case _: Exception => true }
      assert(refused,
        "without cdf.enabled a mutating commit must refuse the feed")
      feed.select(col("_op"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        .orderBy("_op", "o_orderkey")
    }),

    // COPY INTO FROM CSV WITH SCHEMA EVOLUTION: the ingest verb's
    // format dispatch beyond parquet — CSV text values CAST to the
    // standing column types, FORMAT_OPTIONS pass through to the
    // reader (incl. a quoted value CONTAINING ')' — the statement
    // must still shape-match, not fall through to the stock parser),
    // and COPY_OPTIONS ('mergeSchema'='true') appends the second
    // batch's source-only column exactly like MERGE evolution
    // (untouched rows read NULL). File-identity idempotence asserted:
    // the rerun loads nothing and burns no commit.
    "q168_sql_copy_csv" -> ((s, d) => {
      val root = scratch(s, "q168", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t168 (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE) USING commitlog")
      val src = s"$root/_csv_src"
      val base = ord(s, d).groupBy("o_orderkey")
        .agg(max(col("o_totalprice")).as("o_totalprice"))
      base.filter(col("o_orderkey") % 2 === 0)
        .coalesce(1).write.option("header", "true").csv(s"$src/b1")
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_comment",
          when(col("o_orderkey") % 100 === 1, lit("(n/a)"))
            .otherwise(concat(lit("c("), col("o_orderkey"), lit(")"))))
        .coalesce(1).write.option("header", "true").csv(s"$src/b2")
      val r1 = lm.sql(s"COPY INTO t168 FROM '$src' FILEFORMAT = CSV " +
        "PATTERN = 'b1/*.csv' FORMAT_OPTIONS ('header' = 'true')")
        .head()
      assert(r1.getLong(1) == 1L, "batch1 is one CSV file")
      // ')' inside a quoted option value + schema evolution in one go
      lm.sql(s"COPY INTO t168 FROM '$src' FILEFORMAT = CSV " +
        "PATTERN = 'b2/*.csv' " +
        "FORMAT_OPTIONS ('header' = 'true', 'nullValue' = '(n/a)') " +
        "COPY_OPTIONS ('mergeSchema' = 'true')")
      val log = lm.commitLog("t168")
      val vDone = log.latestVersion()
      val r3 = lm.sql(s"COPY INTO t168 FROM '$src' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header' = 'true') " +
        "COPY_OPTIONS ('mergeSchema' = 'true')").head()
      assert(r3.getLong(1) == 0L && log.latestVersion() == vDone,
        "a fully-loaded source must load nothing and burn no commit")
      s.sql("SELECT o_orderkey, o_totalprice, o_comment FROM t168 " +
        "ORDER BY o_orderkey")
    }),

    // LIQUID CLUSTERING (Delta's CLUSTER BY): the keys ride CREATE
    // TABLE as metadata (not a partitioning), and bare OPTIMIZE
    // re-clusters INCREMENTALLY — the first run z-orders everything,
    // the steady-state run burns no commit, and after new data lands
    // only THOSE files rewrite (asserted off the commit log: the
    // incremental rewrite's removed set == the files added since the
    // last run). At 100 TB each OPTIMIZE costs the new data since the
    // last run, never the lake; the z-ordered layout serves multi-axis
    // span pruning (asserted: a clustering-key band scans a strict
    // subset of live files).
    "q169_sql_cluster_by" -> ((s, d) => {
      val root = scratch(s, "q169", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t169 (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_totalprice DOUBLE) USING commitlog " +
        "CLUSTER BY (o_custkey, o_totalprice) " +
        "TBLPROPERTIES ('optimize.target.files'='8')")
      val log = lm.commitLog("t169")
      assert(log.clusterKeys() == Seq("o_custkey", "o_totalprice"),
        "CLUSTER BY must record the keys as table metadata")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q169_src")
      lm.sql("INSERT INTO t169 SELECT * FROM q169_src " +
        "WHERE o_orderkey % 2 = 0")
      val r1 = lm.sql("OPTIMIZE t169").head()
      assert(r1.getBoolean(3), "the first OPTIMIZE clusters everything")
      val vSteady = log.latestVersion()
      val r2 = lm.sql("OPTIMIZE t169").head()
      assert(!r2.getBoolean(3) && log.latestVersion() == vSteady,
        "steady state re-cluster must be a no-op burning no commit")
      val clusteredSet = log.liveFiles(None).toSet
      lm.sql("INSERT INTO t169 SELECT * FROM q169_src " +
        "WHERE o_orderkey % 2 = 1")
      val newFiles = log.liveFiles(None).toSet -- clusteredSet
      val r3 = lm.sql("OPTIMIZE t169").head()
      assert(r3.getBoolean(3))
      assert(log.commit(r3.getLong(0)).removed.toSet == newFiles,
        "incremental re-cluster touches ONLY the new files")
      // the clustered layout prunes a clustering-key band. The band is
      // assert-only (the returned relation below is the full table),
      // so derive it from the data: the LOWEST key value is selective
      // at every sf, where a fixed "<= 100" covered most of sf0.001's
      // ~150-key space and pruned nothing (bit the sf0.001 verify)
      val live = log.liveFiles(None)
      val loKey = s.table("t169").agg(min(col("o_custkey")))
        .head().getLong(0)
      val band = log.candidateDataFiles(s"o_custkey <= $loKey")
      assert(band.exists(c => c.size < live.size),
        s"a clustering-key band must scan a strict subset: " +
          s"${band.map(_.size)} of ${live.size}")
      // ALTER ... CLUSTER BY: key-aware markers invalidate the old
      // layout, so the next bare OPTIMIZE re-clusters EVERYTHING
      lm.sql("ALTER TABLE t169 CLUSTER BY (o_orderkey)")
      val allLive = log.liveFiles(None).toSet
      val r4 = lm.sql("OPTIMIZE t169").head()
      assert(r4.getBoolean(3) &&
        log.commit(r4.getLong(0)).removed.toSet == allLive,
        "new keys must re-cluster every file laid out under the old")
      val r5 = lm.sql("OPTIMIZE t169").head()
      assert(!r5.getBoolean(3), "steady state under the new keys")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t169 " +
        "ORDER BY o_orderkey, o_custkey, o_totalprice")
    }),

    // DYNAMIC FILE PRUNING FOR JOINS (Databricks DFP / Spark DPP,
    // re-expressed over the `_stats` sidecar so it serves
    // UNPARTITIONED key-clustered layouts): the fact⋈dim predicate
    // only exists at RUN time — the dim rows surviving their own
    // filter — so static skipping gets nothing. DynamicPruning
    // realizes the dim's join-key domain (min/max + the exact value
    // set under a cap) and prunes the fact's FILE LISTING through the
    // same span+bloom surface ad-hoc predicates use, then re-applies
    // the domain as a row residual (parquet row-group pruning inside
    // survivors). At 100 TB this is THE star-schema scan: a dim
    // filter selecting 3 of 15k keys reads ~1 of N key-clustered
    // fact files instead of all of them. In-query asserts: the
    // pruned scan reads a strict minority of files; pruning never
    // changes the join answer
    "q170_dynamic_file_pruning" -> ((s, d) => {
      val root = scratch(s, "q170", d)
      val src = li(s, d).select("l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice")
      val per = math.max(src.count() / 16L, 50L)
      LakeWriter(s, root, WriteMode.Overwrite, maxRecordsPerFile = per)
        .write(src.orderBy("l_orderkey", "l_linenumber"))
      FileStats.build(s, root, bloomCols = Seq("l_orderkey"))
      val nFiles = SchemaTools.listDataFiles(s, root).size
      // the dim filter is NOT on the fact column: it realizes at run
      // time to exactly {0, 997, 1994} ∩ keyspace — 2-3 keys at any sf
      val dim = ord(s, d)
        .filter("o_orderkey % 997 = 0 AND o_orderkey < 3000")
        .select("o_orderkey", "o_totalprice")
      val pruned = DynamicPruning.prunedFactScan(
        s, root, dim, Seq("l_orderkey" -> "o_orderkey"))
      assert(pruned.inputFiles.length * 2 < nFiles,
        s"3 keys must prune to a strict minority of files: " +
          s"${pruned.inputFiles.length}/$nFiles")
      val joined = DynamicPruning.joinPruned(
        s, root, dim, Seq("l_orderkey" -> "o_orderkey"))
      assert(joined.count() ==
        s.read.parquet(root).join(dim,
          col("l_orderkey") === col("o_orderkey")).count(),
        "dynamic pruning must never change the join answer")
      joined.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec12(col("l_extendedprice"))).cast("double")
            .as("sum_price"),
          max(dec12(col("o_totalprice"))).cast("double")
            .as("o_total"))
        .orderBy("l_orderkey")
    }),

    // MATERIALIZED VIEW WITH INCREMENTAL REFRESH (the Databricks MV
    // discipline over this engine's change data feed): the view is a
    // commit-log table + metadata; REFRESH reads table_changes past
    // the sync point, recomputes ONLY the group keys that moved (a
    // semi-join-pruned source scan), and one generalized merge
    // upserts changed groups / inserts new ones / retires vanished
    // ones atomically. Refresh cost ∝ changed keys, never view or
    // source size — the 100 TB contract for derived tables.
    // Recompute-by-key needs no algebraic inverse, so ANY aggregate
    // maintains (not just abelian folds). In-query asserts: the
    // refresh names exactly the moved groups (a strict minority);
    // the refreshed view equals a full recompute; a second refresh
    // is a no-op burning no commit
    "q171_sql_materialized_view" -> ((s, d) => {
      val root = scratch(s, "q171", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t171s (o_orderkey BIGINT, o_custkey " +
        "BIGINT, o_totalprice DOUBLE) USING commitlog " +
        s"TBLPROPERTIES ('${CommitLog.CdfEnabledKey}'='true')")
      ord(s, d).groupBy("o_orderkey")
        .agg(max("o_custkey").as("o_custkey"),
          max("o_totalprice").as("o_totalprice"))
        .createOrReplaceTempView("q171_src")
      lm.sql("INSERT INTO t171s SELECT * FROM q171_src")
      lm.sql("CREATE MATERIALIZED VIEW t171mv AS " +
        "SELECT o_custkey, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) " +
        "AS total FROM t171s GROUP BY o_custkey")
      val mvLog = lm.commitLog("t171mv")
      // recompute through spark.sql over the registered temp view —
      // NOT lm.sql, whose MV query rewrite would answer a fresh-MV-
      // matching aggregate FROM the view and make the check circular
      def recompute() = s.sql("SELECT o_custkey, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) " +
        "AS total FROM t171s GROUP BY o_custkey")
      // three flavors of source movement: copy-on-write UPDATE,
      // DELETE (groups where every row vanishes retire), and a MERGE
      // landing brand-new groups — all decompose through the CDF
      lm.sql("UPDATE t171s SET o_totalprice = o_totalprice + 10.0 " +
        "WHERE o_custkey % 7 = 1")
      lm.sql("DELETE FROM t171s WHERE o_custkey % 7 = 2")
      lm.sql("MERGE INTO t171s USING (SELECT o_orderkey + 1000000 " +
        "AS o_orderkey, o_custkey + 100000 AS o_custkey, " +
        "o_totalprice FROM q171_src WHERE o_custkey % 7 = 3) s " +
        "ON t171s.o_orderkey = s.o_orderkey " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, " +
        "o_totalprice) VALUES (s.o_orderkey, s.o_custkey, " +
        "s.o_totalprice)")
      val m = lm.sql("REFRESH MATERIALIZED VIEW t171mv").head()
      assert(m.getBoolean(3), "the refresh must fold the window")
      val total = recompute().count()
      assert(m.getLong(2) > 0 && m.getLong(2) * 2 < total,
        s"only the moved groups recompute: ${m.getLong(2)}/$total")
      val mv = lm.commitLog("t171mv").read(None)
      assert(mv.count() == total &&
        mv.unionByName(recompute()).distinct().count() == total,
        "the refreshed view must equal a full recompute")
      val vAfter = mvLog.latestVersion()
      val m2 = lm.sql("REFRESH MATERIALIZED VIEW t171mv").head()
      assert(!m2.getBoolean(3) && mvLog.latestVersion() == vAfter,
        "a second refresh is a no-op burning no commit")
      lm.sql("SELECT o_custkey, n, total FROM t171mv " +
        "ORDER BY o_custkey")
    }),

    // MV QUERY REWRITE (the classic materialized-view answering
    // discipline, syntactic-match flavor): an aggregate over the
    // SOURCE whose GROUP BY keys and (aliased) aggregate expressions
    // match a FRESH view answers from the view's files — O(groups)
    // scanned instead of O(rows), the 100 TB dashboard-query path.
    // Soundness is freshness: one metadata read compares the view's
    // sync point to the source tip; a stale view NEVER serves (the
    // direct plan runs, seeing the unfolded mutation), and REFRESH
    // resumes the rewrite. In-query asserts pin all three plan
    // shapes by the files the analyzed plan reads.
    "q172_mv_query_rewrite" -> ((s, d) => {
      val root = scratch(s, "q172", d)
      val lm = LakeManager(s, root).init()
      def reads(df: DataFrame): Seq[String] =
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location.inputFiles.toSeq
            case _ => Nil
          }
        }.flatten
      lm.sql("CREATE TABLE t172s (l_returnflag STRING, " +
        "l_linestatus STRING, l_quantity DOUBLE) USING commitlog " +
        s"TBLPROPERTIES ('${CommitLog.CdfEnabledKey}'='true')")
      li(s, d).select("l_returnflag", "l_linestatus", "l_quantity")
        .createOrReplaceTempView("q172_src")
      lm.sql("INSERT INTO t172s SELECT * FROM q172_src")
      lm.sql("CREATE MATERIALIZED VIEW t172mv AS " +
        "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) " +
        "AS sum_qty FROM t172s GROUP BY l_returnflag, l_linestatus")
      val q = "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) " +
        "AS sum_qty FROM t172s GROUP BY l_returnflag, l_linestatus"
      val fresh = reads(lm.sql(q))
      assert(fresh.nonEmpty && fresh.forall(_.contains("/t172mv/")),
        s"a fresh view must serve the matching aggregate: $fresh")
      lm.sql("DELETE FROM t172s WHERE l_quantity < 5")
      val stale = reads(lm.sql(q))
      assert(stale.nonEmpty && stale.forall(_.contains("/t172s/")),
        s"a stale view must never serve: $stale")
      lm.sql("REFRESH MATERIALIZED VIEW t172mv")
      val back = lm.sql(q)
      assert(reads(back).forall(_.contains("/t172mv/")),
        "refresh must resume the rewrite")
      back.orderBy("l_returnflag", "l_linestatus")
    }),

    // METADATA-ONLY AGGREGATES (Delta's metadata-only query
    // optimization): `SELECT count(*)/min/max FROM t` answers from
    // the commit manifests' per-file stats — one manifest fold, a
    // one-row plan with ZERO scan relations. O(files) metadata
    // instead of O(rows) data at 100 TB. Sound by construction:
    // serves only when exactness is provable (numeric spans on every
    // file, no merge-on-read marks); copy-on-write rewrites carry
    // fresh spans so DELETE stays metadata-served, while standing
    // positional marks decline to the direct plan (asserted per
    // phase via the files the analyzed plan reads).
    "q173_metadata_only_agg" -> ((s, d) => {
      val root = scratch(s, "q173", d)
      val lm = LakeManager(s, root).init()
      def scans(df: DataFrame): Int =
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l
        }.size
      lm.sql("CREATE TABLE t173 (l_orderkey BIGINT, " +
        "l_quantity DOUBLE) USING commitlog")
      li(s, d).select("l_orderkey", "l_quantity")
        .createOrReplaceTempView("q173_src")
      lm.sql("INSERT INTO t173 SELECT * FROM q173_src")
      val q = "SELECT count(*) AS n, min(l_orderkey) AS mnk, " +
        "max(l_orderkey) AS mxk, min(l_quantity) AS mnq, " +
        "max(l_quantity) AS mxq FROM t173"
      val all = lm.sql(q)
      assert(scans(all) == 0,
        "the metadata plan must contain no scan relation")
      lm.sql("DELETE FROM t173 WHERE l_quantity < 10")
      val cow = lm.sql(q)
      assert(scans(cow) == 0,
        "copy-on-write rewrites carry fresh spans: still metadata")
      lm.sql("ALTER TABLE t173 SET TBLPROPERTIES " +
        "('delete.mode'='positional')")
      lm.sql("DELETE FROM t173 WHERE l_quantity > 45")
      val mor = lm.sql(q)
      assert(scans(mor) > 0,
        "standing positional marks must decline to the direct plan")
      all.withColumn("phase", lit("all"))
        .unionByName(cow.withColumn("phase", lit("cow")))
        .unionByName(mor.withColumn("phase", lit("mor")))
        .select("phase", "n", "mnk", "mxk", "mnq", "mxq")
        .orderBy("phase")
    }),

    // DELETION-VECTOR PURGE (Delta's `REORG TABLE ... APPLY (PURGE)`):
    // positional deletes leave zero-rewrite dv marks that EVERY read
    // subtracts; the purge verb folds that standing read debt —
    // rewrite ONLY the files carrying marks (the dead rows drop
    // physically) and retire the fully-applied dv tombstones in the
    // SAME commit. At 100 TB the rewrite cost is the marked fraction,
    // never the lake. In-query asserts: unmarked files survive the
    // purge UNTOUCHED (same names live before/after), the standing dv
    // set drops to zero, reads are identical across the purge, and a
    // steady-state rerun burns no commit
    "q174_sql_reorg_purge" -> ((s, d) => {
      val root = scratch(s, "q174", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t174 (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_totalprice DOUBLE) USING commitlog " +
        "TBLPROPERTIES ('delete.mode'='positional')")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q174_src")
      // four mod-class batches: the delete's predicate only matches
      // rows in ONE class, so only that batch's files take marks
      (0 to 3).foreach(m => lm.sql(
        s"INSERT INTO t174 SELECT * FROM q174_src WHERE o_orderkey % 4 = $m"))
      val log = lm.commitLog("t174")
      lm.sql("DELETE FROM t174 WHERE o_orderkey % 4 = 1 " +
        "AND o_custkey % 3 = 0")
      val r0 = log.resolve(None)
      assert(r0.tombstones.nonEmpty,
        "positional delete must leave standing dv marks")
      val markedBefore = SchemaTools.distinctStrings(s.read
        .parquet(r0.tombstones.map(n => s"$root/t174/data/$n"): _*),
        "__dv_file").toSet
      val preRows = s.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM t174")
        .localCheckpoint(true)
      val liveBefore = log.liveFiles(None).toSet
      val rr = lm.sql("REORG TABLE t174 APPLY (PURGE)").head()
      assert(rr.getBoolean(3), "a standing mark set must rewrite")
      val r1 = log.resolve(None)
      assert(r1.tombstones.isEmpty,
        "the purge must retire every fully-applied dv tombstone")
      val removed = log.commit(rr.getLong(0)).removed
        .filterNot(r0.tombstones.toSet).toSet
      assert(removed == markedBefore,
        s"the purge must rewrite exactly the marked files: " +
          s"$removed vs $markedBefore")
      assert((liveBefore -- markedBefore).subsetOf(
        log.liveFiles(None).toSet),
        "unmarked files must survive the purge untouched")
      assert(preRows.exceptAll(s.sql(
          "SELECT o_orderkey, o_custkey, o_totalprice FROM t174"))
        .isEmpty, "reads must be identical across the purge")
      val vAfter = log.latestVersion()
      val rr2 = lm.sql("REORG TABLE t174 APPLY (PURGE)").head()
      assert(!rr2.getBoolean(3) && log.latestVersion() == vAfter,
        "a mark-free rerun must be a no-op burning no commit")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t174 " +
        "ORDER BY o_orderkey, o_custkey, o_totalprice")
    }),

    // MERGE ON A GENERATED-COLUMN TABLE (Delta's rule, closing this
    // engine's last MERGE refusal): the generation expression
    // RECOMPUTES on update-fired rows (over their POST-update values)
    // and on inserted rows (after clause values land); explicit
    // SET/INSERT assignments of the generated column refuse; star
    // expansion (`UPDATE SET *` / `INSERT *`) excludes generated
    // columns, so a source without them merges cleanly. Carried rows
    // keep their standing bytes — at 100 TB the recompute cost rides
    // only the rewritten files. In-query asserts: the generation
    // invariant holds on every row after both merges, updates flip
    // tiers, and the explicit-SET refusal fires
    "q175_sql_merge_generated" -> ((s, d) => {
      val root = scratch(s, "q175", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t175 (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE, tier STRING GENERATED ALWAYS AS " +
        "(CASE WHEN o_totalprice >= 150000 THEN 'high' ELSE 'low' " +
        "END)) USING commitlog")
      ord(s, d).groupBy("o_orderkey")
        .agg(max(col("o_totalprice")).as("o_totalprice"))
        .createOrReplaceTempView("q175_base")
      lm.sql("INSERT INTO t175 SELECT o_orderkey, o_totalprice " +
        "FROM q175_base")
      s.sql("""SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
          FROM q175_base WHERE o_orderkey % 5 = 0
          UNION ALL
          SELECT -o_orderkey - 1, CAST(200000.0 AS DOUBLE)
          FROM q175_base WHERE o_orderkey % 7 = 1""")
        .createOrReplaceTempView("q175_chg")
      lm.sql("MERGE INTO t175 t USING q175_chg c " +
        "ON t.o_orderkey = c.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = c.o_totalprice " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) " +
        "VALUES (c.o_orderkey, c.o_totalprice)")
      def violations(): Long = s.sql("SELECT count(*) FROM t175 " +
        "WHERE tier <> CASE WHEN o_totalprice >= 150000 THEN 'high' " +
        "ELSE 'low' END").head().getLong(0)
      assert(violations() == 0L,
        "the generation invariant must hold after the merge")
      assert(s.sql("SELECT count(*) FROM t175 WHERE o_orderkey >= 0 " +
        "AND o_orderkey % 5 = 0 AND tier = 'high'").head().getLong(0)
        > 0L, "doubled prices must flip some rows to the high tier")
      val refused =
        try {
          lm.sql("MERGE INTO t175 t USING q175_chg c " +
            "ON t.o_orderkey = c.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET tier = 'x'")
          false
        } catch { case _: Exception => true }
      assert(refused, "explicit SET of a generated column must refuse")
      // star expansion excludes the generated column: this source
      // carries only (key, price) and both star actions work
      s.sql("""SELECT o_orderkey, o_totalprice * 3 AS o_totalprice
          FROM q175_base WHERE o_orderkey % 9 = 2
          UNION ALL
          SELECT CAST(-999 AS BIGINT), CAST(1.0 AS DOUBLE)""")
        .createOrReplaceTempView("q175_chg2")
      lm.sql("MERGE INTO t175 t USING q175_chg2 c " +
        "ON t.o_orderkey = c.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(violations() == 0L,
        "the invariant must hold after the star merge too")
      // UPDATE on a generation INPUT recomputes the generated column
      // (Delta's rule — the engine, never the user, maintains it)
      lm.sql("UPDATE t175 SET o_totalprice = 999999 " +
        "WHERE o_orderkey = -999")
      assert(s.sql("SELECT tier FROM t175 WHERE o_orderkey = -999")
        .head().getString(0) == "high",
        "the UPDATE must recompute the generated tier")
      assert(violations() == 0L)
      s.sql("SELECT o_orderkey, o_totalprice, tier FROM t175 " +
        "ORDER BY o_orderkey, o_totalprice")
    }),

    // REPLACE WHERE (Delta's predicate-scoped atomic overwrite — the
    // backfill verb): delete the band + land the recomputed rows as
    // ONE commit, so readers see either the old day or the new day,
    // never a mix and never a gap. Only files actually HOLDING
    // matching rows rewrite to their survivors (span-pruned, dv-aware
    // probe); at 100 TB re-deriving one day costs that day's files.
    // Batch rows OUTSIDE the band refuse — the verb is a band swap,
    // not a general write. In-query asserts: files untouched by the
    // band survive byte-identical (same live names), the out-of-band
    // batch refuses, and the swap is atomic (one commit)
    "q176_sql_replace_where" -> ((s, d) => {
      val root = scratch(s, "q176", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t176 (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_totalprice DOUBLE) USING commitlog")
      ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q176_src")
      (0 to 3).foreach(m => lm.sql(
        s"INSERT INTO t176 SELECT * FROM q176_src WHERE o_orderkey % 4 = $m"))
      val log = lm.commitLog("t176")
      val liveBefore = log.liveFiles(None).toSet
      val vBefore = log.latestVersion()
      // the recomputed band: fewer rows (a REPLACE, not an update),
      // prices re-derived
      val rr = lm.sql("INSERT INTO t176 REPLACE WHERE o_orderkey % 4 = 1 " +
        "SELECT o_orderkey, o_custkey, " +
        "o_totalprice + 500000 AS o_totalprice " +
        "FROM q176_src WHERE o_orderkey % 4 = 1 AND o_custkey % 2 = 0")
        .head()
      assert(log.latestVersion() == vBefore + 1,
        "the band swap must be ONE atomic commit")
      val removed = log.commit(rr.getLong(0)).removed.toSet
      assert(removed.nonEmpty && rr.getLong(1) == removed.size.toLong)
      assert((liveBefore -- removed).subsetOf(log.liveFiles(None).toSet),
        "files outside the band must survive untouched")
      val refused =
        try {
          lm.sql("INSERT INTO t176 REPLACE WHERE o_orderkey % 4 = 1 " +
            "SELECT o_orderkey, o_custkey, o_totalprice " +
            "FROM q176_src WHERE o_orderkey % 4 = 2")
          false
        } catch { case _: Exception => true }
      assert(refused, "batch rows outside the band must refuse")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM t176 " +
        "ORDER BY o_orderkey, o_custkey, o_totalprice")
    }),

    // MV REFRESH THROUGH A MERGE (the CDF payoff): an UPDATE-matched
    // MERGE is a non-decomposable upsert WITHOUT the change feed —
    // the refresh would have to full-rebaseline. With cdf.enabled the
    // merge persisted its exact change rows at commit, so the refresh
    // folds THROUGH it incrementally: only the merged keys' groups
    // recompute, and the view-side merge commit rewrites ONLY the
    // view files holding those groups (asserted via the refresh
    // commit's removed set — a strict subset of the view's live
    // files, with untouched files untouched). 100 TB shape: refresh
    // cost tracks the merge's key set, never the view or the source
    "q177_mv_refresh_through_merge" -> ((s, d) => {
      val root = scratch(s, "q177", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t177s (o_orderkey BIGINT, o_custkey " +
        "BIGINT, o_totalprice DOUBLE) USING commitlog " +
        s"TBLPROPERTIES ('${CommitLog.CdfEnabledKey}'='true')")
      ord(s, d).groupBy("o_orderkey")
        .agg(max("o_custkey").as("o_custkey"),
          max("o_totalprice").as("o_totalprice"))
        .createOrReplaceTempView("q177_src")
      lm.sql("INSERT INTO t177s SELECT * FROM q177_src")
      // found the view MULTI-FILE (hold AQE's small-scale coalescing
      // off for the founding compute) so "touches only the changed
      // groups' files" is observable at test scale
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val prevCoalesce = s.conf.get(coalesceKey, "true")
      s.conf.set(coalesceKey, "false")
      try
        lm.sql("CREATE MATERIALIZED VIEW t177mv AS " +
          "SELECT o_custkey, count(*) AS n, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) " +
          "AS total FROM t177s GROUP BY o_custkey")
      finally s.conf.set(coalesceKey, prevCoalesce)
      val mvLog = lm.commitLog("t177mv")
      val liveBefore = mvLog.liveFiles(None).toSet
      assert(liveBefore.size > 1,
        s"fixture wants a multi-file view: ${liveBefore.size}")
      // matched UPDATE + novel INSERT in ONE merge — the upsert kind.
      // Exactly TWO groups move (the min custkey re-prices, one new
      // group lands), so the strict-subset file-touch assertion below
      // holds at any session partitioning
      lm.sql("MERGE INTO t177s USING (SELECT o_orderkey, o_custkey, " +
        "o_totalprice + 5.0 AS o_totalprice FROM q177_src " +
        "WHERE o_custkey = (SELECT min(o_custkey) FROM q177_src) " +
        "UNION ALL SELECT o_orderkey + 9000000, CAST(900001 AS " +
        "BIGINT), 1.25 FROM q177_src " +
        "WHERE o_custkey = (SELECT max(o_custkey) FROM q177_src)) s " +
        "ON t177s.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, " +
        "o_totalprice) VALUES (s.o_orderkey, s.o_custkey, " +
        "s.o_totalprice)")
      val vBefore = mvLog.latestVersion()
      val m = lm.sql("REFRESH MATERIALIZED VIEW t177mv").head()
      assert(m.getBoolean(3) && m.getLong(2) > 0,
        s"the refresh must fold the merge INCREMENTALLY " +
          s"(changed_keys=${m.getLong(2)}; -1 would be a rebaseline)")
      val refreshCommits = (vBefore + 1 to mvLog.latestVersion())
        .map(mvLog.commit).filter(_.kind == "upsert")
      assert(refreshCommits.size == 1, "one view-side merge commit")
      val touched = refreshCommits.head.removed
        .filterNot(_.startsWith("dv-")).toSet
      assert(touched.nonEmpty && touched.subsetOf(liveBefore) &&
        touched.size < liveBefore.size,
        s"the refresh must rewrite ONLY the changed groups' view " +
          s"files: ${touched.size} of ${liveBefore.size}")
      lm.sql("SELECT o_custkey, n, total FROM t177mv " +
        "ORDER BY o_custkey")
    }),

    // COPY INTO, JSON flavor: schema-on-read idempotent ingest of
    // JSON-lines batches — same load-history dedup as q168's CSV
    // (re-running a fully-loaded source burns no commit), plus
    // mergeSchema evolution when a later batch carries a new column.
    // Each batch's schema infers from its own files and then CONFORMS
    // to the table's (the unified-schema rewrite), so per-batch
    // inference drift lands as typed columns, never as silent strings
    "q178_sql_copy_json" -> ((s, d) => {
      val root = scratch(s, "q178", d)
      val lm = LakeManager(s, root).init()
      lm.sql("CREATE TABLE t178 (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE) USING commitlog")
      val src = s"$root/_json_src"
      val base = ord(s, d).groupBy("o_orderkey")
        .agg(max(col("o_totalprice")).as("o_totalprice"))
      base.filter(col("o_orderkey") % 2 === 0)
        .coalesce(1).write.json(s"$src/b1")
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_comment",
          concat(lit("j("), col("o_orderkey"), lit(")")))
        .coalesce(1).write.json(s"$src/b2")
      val r1 = lm.sql(s"COPY INTO t178 FROM '$src' FILEFORMAT = JSON " +
        "PATTERN = 'b1/*.json'").head()
      assert(r1.getLong(1) == 1L, "batch1 is one JSON file")
      lm.sql(s"COPY INTO t178 FROM '$src' FILEFORMAT = JSON " +
        "PATTERN = 'b2/*.json' " +
        "COPY_OPTIONS ('mergeSchema' = 'true')")
      val log = lm.commitLog("t178")
      val vDone = log.latestVersion()
      val r3 = lm.sql(s"COPY INTO t178 FROM '$src' FILEFORMAT = JSON " +
        "COPY_OPTIONS ('mergeSchema' = 'true')").head()
      assert(r3.getLong(1) == 0L && log.latestVersion() == vDone,
        "a fully-loaded source must load nothing and burn no commit")
      s.sql("SELECT o_orderkey, o_totalprice, o_comment FROM t178 " +
        "ORDER BY o_orderkey")
    }),

    // MV ROLLUP REWRITE: a query grouping on a strict SUBSET of a
    // fresh view's keys answers from the view by RE-AGGREGATING its
    // groups — sum-of-sums, sum-of-counts, min-of-mins, max-of-maxes
    // (the decomposable-fold algebra; avg is not recoverable from the
    // stored value alone and must fall through to the source). Plan
    // shapes pinned by the files the analyzed plan reads: the rollup
    // serves from the view, the avg query scans the source
    "q179_mv_rollup_rewrite" -> ((s, d) => {
      val root = scratch(s, "q179", d)
      val lm = LakeManager(s, root).init()
      def reads(df: DataFrame): Seq[String] =
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location.inputFiles.toSeq
            case _ => Nil
          }
        }.flatten
      lm.sql("CREATE TABLE t179 (g1 BIGINT, g2 BIGINT, v BIGINT, " +
        "w DOUBLE) USING commitlog")
      ord(s, d).select(
          (col("o_custkey") % 37).as("g1"),
          (col("o_orderkey") % 11).as("g2"),
          col("o_orderkey").as("v"),
          col("o_totalprice").as("w"))
        .createOrReplaceTempView("q179_src")
      lm.sql("INSERT INTO t179 SELECT * FROM q179_src")
      lm.sql("CREATE MATERIALIZED VIEW t179mv AS " +
        "SELECT g1, g2, count(*) AS n, sum(v) AS sv, " +
        "min(w) AS mnw, max(w) AS mxw FROM t179 GROUP BY g1, g2")
      val q = "SELECT g1, count(*) AS n2, sum(v) AS sv2, " +
        "min(w) AS mnw2, max(w) AS mxw2 FROM t179 GROUP BY g1"
      val rollup = lm.sql(q)
      val fr = reads(rollup)
      assert(fr.nonEmpty && fr.forall(_.contains("/t179mv/")),
        s"the key-subset rollup must serve from the view: $fr")
      val fa = reads(lm.sql(
        "SELECT g1, avg(w) AS aw FROM t179 GROUP BY g1"))
      assert(fa.nonEmpty && fa.forall(_.contains("/t179/")),
        s"avg is not decomposable — it must scan the source: $fa")
      rollup.orderBy("g1")
    }),

    // MV PREDICATE PUSHDOWN: a WHERE over GROUP KEYS above a matching
    // aggregate rewrites ONTO the view (a row-level filter on key
    // columns selects whole groups, so it commutes with the view's
    // pre-aggregation) — composed here with the rollup re-aggregation
    // in one query, the commonest real dashboard shape over an MV.
    // Guards asserted: a predicate touching a NON-key column falls
    // through to the source, as does one calling a named function
    // (could be nondeterministic)
    "q180_mv_predicate_rewrite" -> ((s, d) => {
      val root = scratch(s, "q180", d)
      val lm = LakeManager(s, root).init()
      def reads(df: DataFrame): Seq[String] =
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location.inputFiles.toSeq
            case _ => Nil
          }
        }.flatten
      lm.sql("CREATE TABLE t180 (g1 BIGINT, g2 BIGINT, v BIGINT, " +
        "w DOUBLE) USING commitlog")
      ord(s, d).select(
          (col("o_custkey") % 37).as("g1"),
          (col("o_orderkey") % 11).as("g2"),
          col("o_orderkey").as("v"),
          col("o_totalprice").as("w"))
        .createOrReplaceTempView("q180_src")
      lm.sql("INSERT INTO t180 SELECT * FROM q180_src")
      lm.sql("CREATE MATERIALIZED VIEW t180mv AS " +
        "SELECT g1, g2, count(*) AS n, sum(v) AS sv " +
        "FROM t180 GROUP BY g1, g2")
      // exact keys + key predicate: filter the view, project
      val qe = "SELECT g1, g2, count(*) AS n2, sum(v) AS sv2 " +
        "FROM t180 WHERE g1 < 20 GROUP BY g1, g2"
      val fe = reads(lm.sql(qe))
      assert(fe.nonEmpty && fe.forall(_.contains("/t180mv/")),
        s"exact keys + key WHERE must serve from the view: $fe")
      // key subset + key predicate (incl. arithmetic): filter, re-agg
      val qs = "SELECT g2, count(*) AS n2, sum(v) AS sv2 " +
        "FROM t180 WHERE g1 % 2 = 0 GROUP BY g2"
      val sub = lm.sql(qs)
      val fs2 = reads(sub)
      assert(fs2.nonEmpty && fs2.forall(_.contains("/t180mv/")),
        s"key-subset + key WHERE must serve from the view: $fs2")
      // a NON-key predicate filters rows inside groups: NOT sound on
      // the view, must scan the source
      val fn = reads(lm.sql("SELECT g2, count(*) AS n2 FROM t180 " +
        "WHERE v % 3 = 0 GROUP BY g2"))
      assert(fn.nonEmpty && fn.forall(_.contains("/t180/")),
        s"a non-key WHERE must fall through to the source: $fn")
      sub.orderBy("g2")
    }),

    // MV AVG + HAVING REWRITE (what real dashboards emit): avg(x)
    // decomposes as sum(stored sum_x)/sum(stored count_x) when the
    // view stores BOTH over the same argument (count(*) is not
    // accepted — avg ignores NULLs, count(*) does not), and a HAVING
    // whose every function call restates a select-list aggregate
    // becomes a post-filter on the rewritten plan. Guards asserted:
    // avg falls through when the view lacks the matching count, and a
    // HAVING naming an aggregate the select list lacks falls through
    "q181_mv_avg_having" -> ((s, d) => {
      val root = scratch(s, "q181", d)
      val lm = LakeManager(s, root).init()
      def reads(df: DataFrame): Seq[String] =
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources
              .LogicalRelation => l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location.inputFiles.toSeq
            case _ => Nil
          }
        }.flatten
      lm.sql("CREATE TABLE t181 (g1 BIGINT, g2 BIGINT, v BIGINT, " +
        "w DOUBLE) USING commitlog")
      // w is integer-valued so double sums are order-exact and the
      // decomposed avg is bit-identical to the direct one
      ord(s, d).select(
          (col("o_custkey") % 37).as("g1"),
          (col("o_orderkey") % 11).as("g2"),
          col("o_orderkey").as("v"),
          (col("o_orderkey") % 97).cast("double").as("w"))
        .createOrReplaceTempView("q181_src")
      lm.sql("INSERT INTO t181 SELECT * FROM q181_src")
      lm.sql("CREATE MATERIALIZED VIEW t181mv AS " +
        "SELECT g1, g2, sum(w) AS sw, count(w) AS cw, sum(v) AS sv " +
        "FROM t181 GROUP BY g1, g2")
      // rollup avg + HAVING restating a select aggregate: both ride
      // the view (sum-of-sums / sum-of-counts, post-filter)
      val served = lm.sql("SELECT g1, avg(w) AS aw, sum(v) AS sv2 " +
        "FROM t181 GROUP BY g1 HAVING sum(v) % 7 < 4")
      val fr = reads(served)
      assert(fr.nonEmpty && fr.forall(_.contains("/t181mv/")),
        s"rollup avg + HAVING must serve from the view: $fr")
      val totalGroups =
        lm.sql("SELECT g1 FROM t181 GROUP BY g1").count()
      val kept = served.count()
      assert(kept > 0 && kept < totalGroups,
        s"the HAVING must actually filter: $kept of $totalGroups")
      // exact keys: avg not stored directly, still served per-row
      // from the stored sum/count pair
      val fe = reads(lm.sql(
        "SELECT g1, g2, avg(w) AS aw FROM t181 GROUP BY g1, g2"))
      assert(fe.nonEmpty && fe.forall(_.contains("/t181mv/")),
        s"exact-key avg must serve from the sum/count pair: $fe")
      // the view stores sum(v) but no count(v): avg(v) is not
      // decomposable from what is stored — source scan
      val fv = reads(lm.sql(
        "SELECT g1, avg(v) AS av FROM t181 GROUP BY g1"))
      assert(fv.nonEmpty && fv.forall(_.contains("/t181/")),
        s"avg without a stored count must scan the source: $fv")
      // HAVING naming an aggregate the select list lacks: no output
      // column to post-filter on — source scan
      val fh = reads(lm.sql("SELECT g1, sum(v) AS sv2 FROM t181 " +
        "GROUP BY g1 HAVING max(w) > 0"))
      assert(fh.nonEmpty && fh.forall(_.contains("/t181/")),
        s"a novel HAVING aggregate must fall through: $fh")
      served.orderBy("g1")
    }),

    // CHANGE DATA FEED ACROSS SCHEMA DRIFT: a feed range spanning an
    // add-column append conforms each commit's increment to that
    // commit's OWN schema and unions allow-missing — the narrow
    // pre-drift increment serves exactly the narrow shape (asserted;
    // the consumer sees evolution exactly as readSince delivers it),
    // and a replica FOLDING the feed commit-by-commit (appends as
    // appends, keyed tombstones as keyed deletes) converges to the
    // source's live state including the promoted union schema. One
    // oracle gates both sides
    "q182_cdf_across_drift" -> ((s, d) => {
      val root = scratch(s, "q182", d)
      val log = CommitLog(s, root).init()
      val src = ord(s, d)
      val Array(lo, hi) = src
        .agg(min("o_orderkey"), max("o_orderkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val e = (hi - lo) / 3
      // v1: the narrow founding schema (key, price)
      log.append(src.filter(col("o_orderkey").between(lo, lo + e))
        .select(col("o_orderkey"), col("o_totalprice")))
      // v2: column ADD — o_custkey appears
      log.append(src.filter(col("o_orderkey") > lo + e)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey")))
      // v3: keyed delete (merge-on-read tombstone keys)
      log.deleteKeysMor(
        src.filter(pmod(col("o_orderkey"), lit(5L)) === 0L)
          .select("o_orderkey"),
        Seq("o_orderkey"))
      // the NARROW pre-drift range must serve the narrow schema —
      // conformance is per-commit, never a retroactive widen
      val pre = log.changesSince(0L, Some(1L))
      assert(pre.columns.sorted.toSeq ==
        Seq("_commit_version", "_op", "o_orderkey", "o_totalprice"),
        s"the pre-drift increment must stay narrow: " +
          s"${pre.columns.sorted.toSeq}")
      // replica: fold the feed commit-by-commit into a second log —
      // the commit KIND comes from the source's metadata (O(1)
      // driver-side), the rows from changesSince, so the replica
      // evolves exactly as the source did
      val dst = CommitLog(s, s"$root/replica").init()
      (1L to log.latestVersion()).foreach { v =>
        val inc = log.changesSince(v - 1, Some(v))
          .drop("_commit_version")
        log.commit(v).kind match {
          case "append" => dst.append(inc.drop("_op"))
          case "delete" => dst.deleteKeysMor(
            inc.select("o_orderkey"), Seq("o_orderkey"))
          case k => sys.error(s"$k inside the fold — re-baseline")
        }
      }
      def shaped(df: DataFrame, side: String) =
        df.select(lit(side).as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      shaped(log.read(None), "source")
        .unionByName(shaped(dst.read(None), "replica"))
        .orderBy("side", "o_orderkey")
    }),

    // TABLE PROPERTIES AS META COMMITS (Delta TBLPROPERTIES parity):
    // `ALTER TABLE ... SET/UNSET TBLPROPERTIES` ride the same meta-
    // commit machinery as CHECK constraints — property changes are
    // transactional, versioned (the set at any historical version is
    // readable), checkpoint-folded, and non-breaking for incremental
    // consumers; `SHOW TBLPROPERTIES` reads the resolved set back
    "q148_sql_tblproperties" -> ((s, d) => {
      val root = scratch(s, "q148", d)
      val lm = LakeManager(s, root).init()
      lm.addCommitLog("t148")
      ord(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q148_src")
      lm.sql("INSERT INTO t148 SELECT * FROM q148_src") // v1
      lm.sql("ALTER TABLE t148 SET TBLPROPERTIES " +
        "('team'='data-eng', 'pii'='false')") // v2
      lm.sql("ALTER TABLE t148 SET TBLPROPERTIES ('pii'='true')") // v3
      lm.sql("ALTER TABLE t148 UNSET TBLPROPERTIES ('team')") // v4
      val log = lm.commitLog("t148")
      assert(log.latestVersion() == 4L)
      assert(log.properties(Some(2L)) ==
        Map("team" -> "data-eng", "pii" -> "false"),
        "the set at a historical version must be readable")
      assert(log.properties(None) == Map("pii" -> "true"))
      def mustRefuse(stmt: String): Unit = {
        val refused =
          try { lm.sql(stmt); false }
          catch { case _: Exception => true }
        assert(refused, s"must refuse: $stmt")
      }
      mustRefuse("ALTER TABLE t148 UNSET TBLPROPERTIES ('absent')")
      lm.sql("ALTER TABLE t148 UNSET TBLPROPERTIES IF EXISTS ('absent')")
      assert(log.latestVersion() == 4L,
        "an IF EXISTS no-op must not burn a commit")
      lm.sql("SHOW TBLPROPERTIES t148")
        .select(concat(lit("prop:"), col("key")).as("k"),
          col("value").as("v"))
        .unionByName(s.sql(
          "SELECT 'rows' AS k, CAST(count(*) AS STRING) AS v FROM t148"))
        .orderBy("k")
    }),

    // COMMIT-LOG RETENTION: expire the prefix behind a checkpoint —
    // files stranded by the pre-boundary replace are reclaimed
    // (asserted by data-file count arithmetic), the live and boundary
    // reads are untouched, and vacuum after expiry finds nothing more
    // to do (and provably does not eat data only a checkpoint still
    // references)
    "q115_commit_retention" -> ((s, d) => {
      val root = scratch(s, "q115", d)
      val log = CommitLog(s, root).init()
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      log.append(slice(col("o_custkey") < 100)) // v1
      log.append(slice(col("o_custkey").between(700, 720))) // v2
      log.replace(slice(col("o_custkey") >= 1400), 2L) // v3
      log.append(slice(col("o_custkey").between(300, 320))) // v4
      def nData = SchemaTools
        .listDataFiles(s, s"$root/data").size
      val before = nData
      val reclaimed = log.expireBefore(3L)
      assert(reclaimed > 0, "the replaced-away files must reclaim")
      assert(nData == before - reclaimed,
        "exactly the stranded files leave the data dir")
      assert(log.vacuum(retentionMs = 0L) == 0,
        "vacuum after expiry must find nothing — and must not eat " +
          "data only a checkpoint references")
      log.read(Some(3L))
        .select(lit("v3").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(log.read(None)
          .select(lit("live").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // COMMIT-LOG DATASETS IN THE CATALOG: the multi-writer flavor
    // becomes a SQL table whose view resolves the LOG — a
    // moved-but-uncommitted file stays invisible to spark.sql
    // (asserted), every commit refreshes the view, and a TimeFly
    // dimension joins it THROUGH SQL under one oracle
    "q113_catalog_commitlog" -> ((s, d) => {
      val root = scratch(s, "q113", d)
      val mgr = LakeManager(s, root).init()
      val log = mgr.addCommitLog("ledger")
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      val n1 = slice(col("o_custkey") < 100).count()
      log.append(slice(col("o_custkey") < 100))
      // a crashed writer's moved-but-uncommitted file: invisible to SQL
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      slice(col("o_custkey") >= 1400).coalesce(1)
        .write.parquet(s"$root/ledger/_staged/ghost")
      SchemaTools.listDataFiles(s, s"$root/ledger/_staged/ghost")
        .foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          fs.rename(p, new org.apache.hadoop.fs.Path(
            s"$root/ledger/data", p.getName))
        }
      assert(s.sql("SELECT count(*) FROM ledger").head.getLong(0) == n1,
        "uncommitted files must stay invisible to the SQL view")
      mgr.addDataset("cust_dim")
      mgr.dataset("cust_dim").writer(WriteMode.Overwrite)
        .write(cust(s, d).select("c_custkey", "c_name"))
      log.append(slice(col("o_custkey").between(700, 720)))
      s.sql(
        """SELECT l.o_orderkey, l.o_custkey, c.c_name
          |FROM ledger l JOIN cust_dim c ON l.o_custkey = c.c_custkey
          |ORDER BY l.o_orderkey""".stripMargin)
    }),

    // COMMIT-LOG CHECKPOINT (the Delta _checkpoint pattern): fold the
    // resolved live set at a version into one file so readers replay
    // O(commits-since-checkpoint), not the whole log. Checkpoints are
    // a performance fact only — a replace AFTER the checkpoint still
    // resets the live set (asserted by the live side), and the
    // checkpointed version stays byte-identically readable (the v2
    // side; equality with the pre-checkpoint resolution asserted
    // in-query)
    "q104_commit_checkpoint" -> ((s, d) => {
      val root = scratch(s, "q104", d)
      val log = CommitLog(s, root).init()
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def slice(p: org.apache.spark.sql.Column) =
        ord(s, d).filter(p).select(cols.map(col): _*)
      log.append(slice(col("o_custkey") < 100)) // v1
      log.append(slice(col("o_custkey").between(700, 720))) // v2
      val before = log.liveFiles(Some(2L)).sorted
      log.checkpoint(2L)
      assert(log.liveFiles(Some(2L)).sorted == before,
        "a checkpoint must not change what a version resolves to")
      log.append(slice(col("o_custkey").between(300, 320))) // v3
      log.replace(slice(col("o_custkey") >= 1400), 3L) // v4
      log.append(slice(col("o_custkey").between(200, 220))) // v5
      log.read(Some(2L))
        .select(lit("v2").as("side"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(log.read(None)
          .select(lit("live").as("side"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
        .orderBy("side", "o_orderkey")
    }),

    // ORC source+sink through the same dispatch surface as csv/ipc:
    // parquet -> zstd ORC -> content-inferred LakeReader scan (the
    // format comes from the directory's file extensions, asserted
    // in-query). ORC is the second footer-stats columnar format Spark
    // ships natively; the oracle reads the original parquet, so type
    // or value drift anywhere in the roundtrip hash-mismatches
    "q102_orc_roundtrip" -> ((s, d) => {
      val tmp = scratch(s, "q102", d)
      cust(s, d).select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .write.mode("overwrite").option("compression", "zstd").orc(tmp)
      val lr = LakeReader.fromPath(s, tmp)
      assert(lr.format == "orc",
        s"extension inference must pick orc, got ${lr.format}")
      lr.load().orderBy("c_custkey")
    }),

    // Arrow IPC (Feather v2) source+sink under the oracle: parquet ->
    // IPC file -> LakeReader ipc scan -> rows. The oracle reads the same
    // parquet directly, so a value/type drift anywhere in the Arrow codec
    // (timestamps, decimals-as-double policy, nulls) hash-mismatches.
    "q57_ipc_roundtrip" -> ((s, d) => {
      val tmp = scratch(s, "q57", d)
      val src = Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast("long").as("nation_key"),
          col("n_name").as("nation"), col("r_name").as("region"))
      // zstd-compressed record batches — the reference feather writer's
      // default; the read path decompresses via CommonsCompressionFactory
      ArrowIpc.write(src, s"$tmp/nations.arrow",
        compression = Some("zstd"))
      LakeReader.fromPath(s, s"$tmp/nations.arrow")
        .load()
        .orderBy("nation_key")
    }),

    // deliberate skew control under the oracle: the salted join must be
    // EXACTLY the unsalted join (each probe row gets one salt, the build
    // side is exploded across all salts), verified through a revenue
    // aggregation — the hot-key survival story for 100 TB joins AQE
    // can't split (operators/SkewJoin.scala)
    "q58_salted_join" -> ((s, d) => {
      val probe = li(s, d).select(col("l_orderkey").as("okey"),
        col("l_extendedprice"), col("l_discount"))
      val build = ord(s, d).select(col("o_orderkey").as("okey"),
        col("o_orderstatus"))
      operators.SkewJoin.saltedJoin(probe, build, Seq("okey"), factor = 8)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(dec12(col("l_extendedprice")) *
            (lit(1).cast("decimal(3,2)") - dec3(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // time-interval batched write (K8, writer.py:292-385) under the
    // oracle: the writer splits the input into [w, w+7 days) windows
    // (driver loop bounded by window count, each window's write fully
    // distributed) — the reassembled dataset must be EXACTLY the input
    "q59_batched_write" -> ((s, d) => {
      val tmp = scratch(s, "q59", d)
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      LakeWriter(s, tmp, WriteMode.Append)
        .writeBatched(ev, "ts", "7 days")
      s.read.parquet(tmp)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // TimeFly lifecycle under the oracle: snapshot twice, overwrite
    // current, then DELETE the older snapshot — the as-of rule (first
    // snapshot with id > t, else current; timefly.py:337-352) must now
    // resolve past the deleted id to the second snapshot, proving delete
    // (T4) participates in as-of resolution (T6/T7) exactly as the
    // reference
    "q60_timefly_delete" -> ((s, d) => {
      val tmp = scratch(s, "q60", d)
      val tf = TimeFly(s, tmp).init("cust_tf")
      val c = cust(s, d).select("c_custkey", "c_name")
      tf.writer(WriteMode.Overwrite).write(c.filter(col("c_custkey") <= 500))
      val s1 = tf.addSnapshot()
      tf.writer(WriteMode.Overwrite)
        .write(c.filter(col("c_custkey") <= 1000))
      tf.addSnapshot()
      tf.writer(WriteMode.Overwrite).write(c)
      tf.deleteSnapshot(s1)
      tf.read(Some("1970-01-01T00:00:00")).orderBy("c_custkey")
    }),

    // snapshot GC: retention vacuum expires every available snapshot
    // but the NEWEST (the keep-last-restore-point contract), sweeps an
    // orphan snapshot dir (crash debris: copy landed, meta never
    // committed) and a stale _compact_tmp (Compact's crash window).
    // Asserted in-query: stats counts, the expired id moved to
    // `deleted`, debris gone from disk, the survivor still restorable.
    // Current content is untouched — what the oracle hash checks
    "q80_vacuum" -> ((s, d) => {
      val tmp = scratch(s, "q80", d)
      val tf = TimeFly(s, tmp).init("nation_tf")
      val n = Tables.nation(s, d)
      tf.writer(WriteMode.Overwrite).write(n.filter(col("n_nationkey") < 10))
      val s1 = tf.addSnapshot()
      tf.writer(WriteMode.Overwrite).write(n)
      val s2 = tf.addSnapshot()
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        tmp, "snapshot/19990101_000000"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "current/_compact_tmp"))
      val stats = tf.vacuum(olderThan = Some("2099-12-31T23:59:59"))
      assert(stats.orphanDirs == 1 && stats.tmpDirs == 1 &&
        stats.expired == Seq(s1), s"unexpected vacuum stats: $stats")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        tmp, s"snapshot/$s1")), "expired snapshot files must be gone")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        tmp, "snapshot/19990101_000000")), "orphan dir must be gone")
      assert(tf.availableSnapshots() == Seq(s2),
        "the newest snapshot must survive any cutoff")
      // and it still serves as-of reads (resolution rule T6)
      assert(tf.read(Some("1970-01-01T00:00:00")).count() == n.count())
      tf.read(None).orderBy("n_nationkey")
    }),

    // transform hook (K9, writer.py:444-445) under the oracle: the
    // writer-side transform computes a derived column during the write;
    // the read-back must carry it exactly as the SQL expression
    "q61_transform_hook" -> ((s, d) => {
      val tmp = scratch(s, "q61", d)
      LakeWriter(s, tmp, WriteMode.Overwrite,
        transform = df => df.withColumn("price_band",
          when(col("o_totalprice") < 100000.0, "low").otherwise("high")))
        .write(ord(s, d).select("o_orderkey", "o_totalprice"))
      s.read.parquet(tmp).orderBy("o_orderkey")
    }),

    // compression inference (S10, reader footer sniffing): write zstd
    // parquet, infer the codec back from the file footers, and surface
    // the inferred name IN the result — hash-verified against the
    // expected literal
    "q62_compression_infer" -> ((s, d) => {
      val tmp = scratch(s, "q62", d)
      LakeWriter(s, tmp, WriteMode.Overwrite).write(Tables.nation(s, d))
      val codec = SchemaTools.inferCompression(s, tmp)
      s.read.parquet(tmp)
        .withColumn("codec", lit(codec))
        .orderBy("n_nationkey")
    }),

    // catalog remove/list/discover (C2/C4/C5) under the oracle: add
    // three datasets, remove one (with files), then surface the registry
    // count, the directory-walk count AND the spark.catalog view state in
    // the result — the remove must be visible to each, and the remaining
    // datasets must read+join correctly THROUGH spark.sql over the
    // registered views (the C3 mapping, SURVEY §2.12)
    "q63_catalog_remove" -> ((s, d) => {
      val root = scratch(s, "q63", d)
      val lm = LakeManager(s, root).init()
      lm.addDataset("nat").writer(WriteMode.Overwrite)
        .write(Tables.nation(s, d))
      lm.addDataset("reg").writer(WriteMode.Overwrite)
        .write(Tables.region(s, d))
      lm.addDataset("scratch_ds").writer(WriteMode.Overwrite)
        .write(Tables.region(s, d))
      lm.removeDataset("scratch_ds", deleteFiles = true)
      lm.registerViews()
      val viewsOk = s.catalog.tableExists("nat") &&
        s.catalog.tableExists("reg") &&
        !s.catalog.tableExists("scratch_ds")
      s.sql(
        """SELECT n_nationkey, n_name, r_name
          |FROM nat JOIN reg ON n_regionkey = r_regionkey""".stripMargin)
        .withColumn("n_registered", lit(lm.tables.size.toLong))
        .withColumn("n_discovered", lit(lm.discover().size.toLong))
        .withColumn("views_ok", lit(viewsOk))
        .orderBy("n_nationkey")
    }),

    // co-bucketed storage under the oracle: both sides hash-bucketed on
    // the join key at write time, so the join AND the keyed aggregation
    // need zero exchanges (BucketingSpec asserts the plan; this query
    // hash-verifies the results) — the pre-partitioned-storage contract
    // for repeated 100 TB joins
    "q64_bucketed_join" -> ((s, d) => {
      val tmp = scratch(s, "q64", d)
      s.sql("DROP TABLE IF EXISTS q64_orders")
      s.sql("DROP TABLE IF EXISTS q64_lineitem")
      LakeWriter(s, "", WriteMode.Overwrite).writeBucketed(
        ord(s, d).select("o_orderkey", "o_orderstatus"),
        "q64_orders", Seq("o_orderkey"), 8,
        location = Some(s"$tmp/orders_b"))
      LakeWriter(s, "", WriteMode.Overwrite).writeBucketed(
        li(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_quantity")),
        "q64_lineitem", Seq("o_orderkey"), 8,
        location = Some(s"$tmp/lineitem_b"))
      s.table("q64_orders")
        .join(s.table("q64_lineitem"), Seq("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          sum(dec12(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // stream-stream attribution join under the oracle: purchases joined
    // to same-user clicks within a 1-hour lookback, BOTH sides streaming
    // (watermarked interval join, bounded state). Inner-join emission is
    // batch-equivalent under AvailableNow, so the DuckDB oracle is the
    // plain interval self-join. State partitions sized to the keyspace
    // like q35.
    "q65_stream_attribution" -> ((s, d) => {
      SchemaTools.withSessionConf(
        s, "spark.sql.legacy.parquet.nanosAsLong", "true") {
       SchemaTools.withSessionConf(
         s, "spark.sql.shuffle.partitions", "8") {
        val rawSchema = s.read.parquet(s"$d/events.parquet").schema
        val qname = s"graft_q65_${streamEpoch.incrementAndGet()}"
        val src = s.readStream.schema(rawSchema)
          .parquet(s"$d/{events.parquet}")
          .transform(Tables.normalizeTs)
        val q = streaming.EventStream.attributionJoin(src)
          .writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(qname).orderBy("purchase_id", "click_id")
       }
      }
    }),

    // STREAMING MATERIALIZED-VIEW MAINTENANCE: an update-mode windowed
    // aggregation whose per-batch UPDATES are upserted into the lake
    // keyed by (window, type) — each micro-batch re-lands the running
    // aggregate for the touched keys, so after the final batch the
    // lake holds exactly the complete aggregation (the oracle). The
    // feature-store shape: state lives in the store, the SERVED view
    // lives in the lake, and convergence does not depend on batch
    // boundaries (three arrival files force three batches here)
    "q110_stream_mv" -> ((s, d) => {
      SchemaTools.withSessionConf(
        s, "spark.sql.shuffle.partitions", "8") {
        val src = scratch(s, "q110src", d)
        val mv = scratch(s, "q110mv", d)
        val fs = new org.apache.hadoop.fs.Path(src)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val t0 = System.currentTimeMillis()
        (0 until 3).foreach { i =>
          val dir = s"$src/b$i"
          ev(s, d).filter(pmod(col("event_id"), lit(3L)) === i.toLong)
            .coalesce(1).write.parquet(dir)
          SchemaTools.listDataFiles(s, dir).foreach(f =>
            fs.setTimes(new org.apache.hadoop.fs.Path(f),
              t0 + i * 60000L, -1))
        }
        val sch = s.read.parquet(s"$src/b0").schema
        val q = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$src/b*")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(dec12(col("value"))).cast("double").as("total_value"))
          .select(col("window.start").as("hour_start"),
            col("event_type"), col("n"), col("total_value"))
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            if (SchemaTools.listDataFiles(s, mv).isEmpty)
              LakeWriter(s, mv, WriteMode.Overwrite).write(b)
            else {
              RowOps.upsert(s, mv, b,
                Seq("hour_start", "event_type"))
              ()
            }
          }
          .option("checkpointLocation", s"$src/_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(mv).orderBy("hour_start", "event_type")
      }
    }),

    // LEFT-OUTER stream-stream join (conversion tracking): the
    // semantics that separate streaming from batch — a click emits
    // null-padded only once the watermark PROVES its window closed
    // without a purchase; clicks whose window the final watermark
    // leaves open are withheld (the oracle encodes the rule, like
    // q35/q101's open windows)
    "q107_stream_outer_join" -> ((s, d) => {
      SchemaTools.withSessionConf(
        s, "spark.sql.legacy.parquet.nanosAsLong", "true") {
       SchemaTools.withSessionConf(
         s, "spark.sql.shuffle.partitions", "8") {
        val rawSchema = s.read.parquet(s"$d/events.parquet").schema
        val qname = s"graft_q107_${streamEpoch.incrementAndGet()}"
        val src = s.readStream.schema(rawSchema)
          .parquet(s"$d/{events.parquet}")
          .transform(Tables.normalizeTs)
        val q = streaming.EventStream.conversionJoin(src)
          .writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(qname).orderBy("click_id", "purchase_id")
       }
      }
    }),

    // TOML metadata interop under the oracle: init a TimeFly dataset,
    // write data, DELETE the JSON metadata so every subsequent metadata
    // read goes through the reference's _dataset.toml codec, then run a
    // snapshot lifecycle (add manifest-only, as-of resolve) against the
    // TOML-backed metadata — the in-place pydala-lake adoption path
    "q68_toml_adopt" -> ((s, d) => {
      val root = scratch(s, "q68", d)
      val tf = TimeFly(s, root).init("toml_ds", "adopted via TOML")
      LakeWriter(s, tf.currentPath, WriteMode.Overwrite)
        .write(Tables.nation(s, d))
      val jsonMeta = new org.apache.hadoop.fs.Path(root, "_dataset.json")
      jsonMeta.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(jsonMeta, false)
      val tf2 = TimeFly(s, root) // metadata now ONLY _dataset.toml
      val snap = tf2.addSnapshot(manifestOnly = true)
      val tomlOk = tf2.availableSnapshots() == Seq(snap) &&
        tf2.readMeta().at("/dataset/name").asText == "toml_ds" &&
        tf2.snapshotAt(Some("1999-01-01 00:00:00")) == Some(snap) &&
        tf2.snapshotAt(None).isEmpty
      tf2.read()
        .withColumn("toml_ok", lit(tomlOk))
        .orderBy("n_nationkey")
    }),

    // distributed IPC directory under the oracle: the supplier table
    // split across three Arrow-IPC files (mixed zstd/uncompressed record
    // batches), read back as a DIRECTORY — one decode task per file,
    // executor-side (ArrowIpc.readDistributed) — then aggregated
    "q66_ipc_dir_read" -> ((s, d) => {
      val tmp = scratch(s, "q66", d)
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("long").as("s_suppkey"),
          col("s_nationkey").cast("long").as("s_nationkey"),
          col("s_acctbal").cast("double").as("s_acctbal"))
      (0 until 3).foreach { i =>
        ArrowIpc.write(sup.filter(pmod(col("s_suppkey"), lit(3L)) === i),
          s"$tmp/part-$i.arrow",
          compression = if (i % 2 == 0) Some("zstd") else None)
      }
      val dir = LakeReader(s, tmp, "ipc").load()
      require(dir.rdd.getNumPartitions == 3,
        s"expected one task per IPC file, got ${dir.rdd.getNumPartitions}")
      // sum in exact DECIMAL, surface as DOUBLE (engine-portable hash)
      dir.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_bal"))
        .orderBy("s_nationkey")
    }),

    // bucketed storage + delta write-mode under the oracle: seed a
    // bucketed table with half of orders, delta-append ALL orders keyed
    // on the bucket column (only the missing half may land, anti-diffed
    // through the catalog table without shuffling the existing side),
    // then aggregate — result must equal plain orders
    "q67_bucketed_delta" -> ((s, d) => {
      val tmp = scratch(s, "q67", d)
      s.sql("DROP TABLE IF EXISTS q67_orders")
      val o = ord(s, d).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      LakeWriter(s, "", WriteMode.Overwrite).writeBucketed(
        o.filter(col("o_orderkey") % 2 === 0),
        "q67_orders", Seq("o_orderkey"), 8,
        location = Some(s"$tmp/orders_b"))
      LakeWriter(s, "", WriteMode.Delta(subset = Seq("o_orderkey")))
        .writeBucketed(o, "q67_orders", Seq("o_orderkey"), 8,
          location = Some(s"$tmp/orders_b"))
      s.table("q67_orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    })
  )

  // ---- generated portable-hash oracles -------------------------------------

  /** DuckDB expression computing TextFunctions.charFold(e, base): left
    * fold over codepoints, (h*base + code) mod 2^31-1. Lambda vars are
    * deliberately unique (hh/cc/ii) so nesting inside outer lambdas never
    * shadows. */
  /** Byte `pos` (0-based) of the hex string `hx` as an integer — the
    * oracle twin of Multimodal's hex-pair byte arithmetic. */
  private def sqlByte(hx: String, pos: String): String =
    s"((strpos('0123456789ABCDEF', substr($hx, 2*($pos)+1, 1))-1)*16 + " +
      s"strpos('0123456789ABCDEF', substr($hx, 2*($pos)+2, 1))-1)"

  /** m01: reconstruct the planted media BLOBs (same hex construction as
    * Multimodal.plantedMedia) and parse the PNG IHDR / scanned JPEG SOF
    * headers with independent byte ops. */
  private def m01Oracle: String = {
    def b(pos: String) = sqlByte("hx", pos)
    s"""WITH p0 AS (SELECT doc_id, doc_id % 3 AS kind,
       |  1 + doc_id % 640 AS w, 1 + doc_id % 480 AS h,
       |  CASE (doc_id // 3) % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END
       |   AS ct,
       |  doc_id % 7 AS pad, text FROM documents),
       |hx0 AS (SELECT doc_id, CASE
       |  WHEN kind = 0 THEN '89504E470D0A1A0A0000000D49484452' ||
       |   printf('%08X', w) || printf('%08X', h) || '08' ||
       |   printf('%02X', ct) || '00000000000000' ||
       |   '0000000049454E44AE426082'
       |  WHEN kind = 1 THEN 'FFD8FFE000104A46494600010100000100010000' ||
       |   'FFFE' || printf('%04X', pad + 2) ||
       |   substr('414141414141', 1, CAST(pad * 2 AS INT)) ||
       |   'FFC0001108' || printf('%04X', h) || printf('%04X', w) ||
       |   '03012200021101031101' || 'FFD9'
       |  ELSE hex(encode(text)) END AS hx FROM p0),
       |m AS (SELECT doc_id, hx,
       |  CAST(octet_length(unhex(hx)) AS BIGINT) AS n_bytes,
       |  CASE WHEN substr(hx, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
       |   WHEN substr(hx, 1, 8) = '89504E47' THEN 'image/png'
       |   WHEN substr(hx, 1, 8) = '47494638' THEN 'image/gif'
       |   WHEN substr(hx, 1, 8) = '52494646' THEN 'audio/wav'
       |   WHEN substr(hx, 1, 8) = '664C6143' THEN 'audio/flac'
       |   ELSE 'application/octet-stream' END AS mime,
       |  list_min(list_filter(range(2, 247), p ->
       |   ${b("p")} = 255 AND (${b("p + 1")} = 192 OR ${b("p + 1")} = 194)))
       |   AS sof FROM hx0)
       |SELECT doc_id AS media_id, n_bytes, mime AS sniffed_mime,
       | CAST(CASE WHEN mime = 'image/png' THEN
       |    ${b("16")} * 16777216 + ${b("17")} * 65536 +
       |    ${b("18")} * 256 + ${b("19")}
       |   WHEN mime = 'image/jpeg' AND sof IS NOT NULL THEN
       |    ${b("sof + 7")} * 256 + ${b("sof + 8")} END AS BIGINT) AS width,
       | CAST(CASE WHEN mime = 'image/png' THEN
       |    ${b("20")} * 16777216 + ${b("21")} * 65536 +
       |    ${b("22")} * 256 + ${b("23")}
       |   WHEN mime = 'image/jpeg' AND sof IS NOT NULL THEN
       |    ${b("sof + 5")} * 256 + ${b("sof + 6")} END AS BIGINT) AS height,
       | CAST(CASE WHEN mime = 'image/png' THEN
       |    CASE ${b("25")} WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
       |     WHEN 4 THEN 2 WHEN 6 THEN 4 END
       |   WHEN mime = 'image/jpeg' AND sof IS NOT NULL THEN ${b("sof + 9")}
       |   END AS BIGINT) AS channels
       |FROM m ORDER BY media_id""".stripMargin
  }

  private def sqlCharFold(e: String, base: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e) + 1), " +
      s"ii -> CAST(ascii(substring($e, CAST(ii AS INT), 1)) AS BIGINT))), " +
      s"(hh, cc) -> (hh * $base + cc) % 2147483647)"

  private def d08Oracle: String =
    s"""SELECT doc_id,
       | ${sqlCharFold("text", 131)} AS rolling_fp,
       | (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      t -> ${sqlCharFold("t", 137)})),
       |   (a, x) -> a + x)) % 2147483647 AS bag_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  private def d06Oracle: String = {
    val numHashes = 64
    val bands = 32
    val rows = numHashes / bands
    val minCols = (0 until numHashes)
      .map(i => s"min((f1 + $i * f2) % 2147483647) AS m$i").mkString(", ")
    def bandExpr(b: Int): String =
      (0 until rows)
        .map(r => s"m${b * rows + r}")
        .foldLeft("CAST(0 AS BIGINT)")((acc, m) =>
          s"(($acc) * 131 + $m) % 2147483647")
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandExpr(b)} AS bh FROM sig")
      .mkString(" UNION ALL ")
    val eqSum = (0 until numHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
       |  FROM toks),
       |hs AS (SELECT doc_id, ${sqlCharFold("shingle", 131)} AS f1,
       |  ${sqlCharFold("shingle", 137)} AS f2 FROM sh),
       |sig AS (SELECT doc_id, $minCols FROM hs GROUP BY doc_id),
       |bnd AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh
       |   AND a.doc_id < b.doc_id)
       |SELECT id1, id2, est_jaccard FROM (
       |  SELECT id1, id2, CAST($eqSum AS DOUBLE) / 64.0 AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = id1
       |   JOIN sig sb ON sb.doc_id = id2) t
       |WHERE est_jaccard >= 0.2 ORDER BY id1, id2""".stripMargin
  }

  private def d07Oracle: String = {
    val bits = Dedup.SimhashBits
    val maxDist = 3
    val chunks = maxDist + 1
    val bitsPer = bits / chunks
    val mask = (1 << bitsPer) - 1
    val th = s"${sqlCharFold("t", 131)} + (${sqlCharFold("t", 137)} << 31)"
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |ths AS (SELECT doc_id, list_transform(tk, t -> $th) AS th FROM toks),
       |sg AS (SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, $bits), b ->
       |      CASE WHEN list_reduce(list_prepend(0,
       |          list_transform(th, h ->
       |            CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)),
       |          (a, x) -> a + x) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
       |    (a, x) -> a + x) AS sig
       |  FROM ths),
       |ch AS (SELECT doc_id, sig, unnest(range(0, $chunks)) AS c FROM sg),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |   CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |  FROM ch a JOIN ch b ON a.c = b.c
       |   AND ((a.sig >> (a.c * $bitsPer)) & $mask) =
       |       ((b.sig >> (b.c * $bitsPer)) & $mask)
       |   AND a.doc_id < b.doc_id)
       |SELECT id1, id2, hamming FROM cand WHERE hamming <= $maxDist
       |ORDER BY id1, id2""".stripMargin
  }

  /** d09: the d04 Jaccard pairs (same CTE chain) closed transitively with
    * a recursive CTE; cluster id = min reachable id (incl. self). */
  /** q85/q88: the keyed merge replayed relationally (shared — the
    * streaming variant's replay idempotence makes the states equal). */
  private def mergeOracle: String =

      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM src),
        |upd AS (SELECT o_orderkey, o_custkey,
        |    CAST(-1.0 AS DOUBLE) AS o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND hi),
        |ins AS (SELECT o_orderkey + hi0 + 1 AS o_orderkey, o_custkey,
        |    CAST(0.5 AS DOUBLE) AS o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND hi),
        |keep AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey < b.lo OR s.o_orderkey > b.hi)
        |SELECT * FROM keep
        |UNION ALL SELECT * FROM upd
        |UNION ALL SELECT * FROM ins
        |ORDER BY o_orderkey""".stripMargin

  /** e17 + e27: sign-binarized signatures, bit_count(xor) distance —
    * the bit-63 case lands as Long.MinValue exactly as Spark's
    * shiftleft does. One oracle gates the direct operator AND the
    * persisted-index serve (signatures have no trained parameters, so
    * append-maintained rows equal a from-scratch rebuild's). */
  private def e17Oracle: String =
    """WITH v AS (
      |  SELECT vec_id,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |sig AS (SELECT vec_id,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(range(1, 65),
      |      i -> CASE WHEN emb[i] > 0.0 THEN
      |             CASE WHEN i = 64
      |               THEN (-9223372036854775807::BIGINT - 1)
      |               ELSE 1::BIGINT << (i - 1) END
      |           ELSE 0::BIGINT END)),
      |    (a, b) -> a | b) AS sig FROM v),
      |pp AS (SELECT q.vec_id AS id1, c.vec_id AS id2,
      |  CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS hamming
      |  FROM sig q JOIN sig c
      |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT id1, id2, hamming, rank FROM (
      |  SELECT id1, id2, hamming,
      |   CAST(row_number() OVER (PARTITION BY id1
      |     ORDER BY hamming ASC, id2 ASC) AS BIGINT) AS rank
      |  FROM pp) t
      |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin

  /** e16 + e26: PQ encode + ADC replayed relationally — same
    * hash-stratified pivot CTE as e04, per-(vector, subspace) argmin
    * via row_number, squared L2 as the identical left fold. e26 serves
    * from the persisted codes-only index; decode(encode(v)) IS the
    * reconstruction this oracle scores, so one oracle gates both. */
  /** e28/e29: true IVFADC replayed relationally (see the map
    * comment at the e28 entries). */
  private def e28Oracle: String =
      """WITH v AS (
        |  SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_transform(emb, x -> x * x),
        |       (acc, x) -> acc + x)) AS nrm FROM v),
        |cpiv AS (SELECT vec_id AS cell, emb AS pemb, nrm AS pnrm FROM n
        |  WHERE vec_id IN (SELECT vec_id FROM n
        |   ORDER BY (((vec_id % 2147483647 + 1000003) * 48271)
        |             % 2147483647 * 48271) % 2147483647 ASC,
        |            vec_id ASC LIMIT 16)),
        |ca AS (SELECT vec_id, cell FROM (
        |  SELECT n.vec_id, p.cell,
        |   row_number() OVER (PARTITION BY n.vec_id
        |     ORDER BY list_reduce(list_transform(range(1, 65),
        |         i -> n.emb[i] * p.pemb[i]), (acc, x) -> acc + x)
        |       / (n.nrm * p.pnrm) DESC,
        |              p.cell ASC) AS pr
        |  FROM n, cpiv p) t WHERE pr = 1),
        |qa AS (SELECT vec_id, cell FROM (
        |  SELECT n.vec_id, p.cell,
        |   row_number() OVER (PARTITION BY n.vec_id
        |     ORDER BY list_reduce(list_transform(range(1, 65),
        |         i -> n.emb[i] * p.pemb[i]), (acc, x) -> acc + x)
        |       / (n.nrm * p.pnrm) DESC,
        |              p.cell ASC) AS pr
        |  FROM n, cpiv p WHERE n.vec_id < 10) t WHERE pr <= 4),
        |ppiv AS (SELECT vec_id AS pid, emb AS xemb, nrm AS xnrm FROM n
        |  WHERE vec_id IN (SELECT vec_id FROM n
        |   ORDER BY (((vec_id % 2147483647 + 1000003) * 48271)
        |             % 2147483647 * 48271) % 2147483647 ASC,
        |            vec_id ASC LIMIT 32)),
        |pcell AS (SELECT pid, cell FROM (
        |  SELECT pv.pid, c.cell,
        |   row_number() OVER (PARTITION BY pv.pid
        |     ORDER BY list_reduce(list_transform(range(1, 65),
        |         i -> pv.xemb[i] * c.pemb[i]), (acc, x) -> acc + x)
        |       / (pv.xnrm * c.pnrm) DESC,
        |              c.cell ASC) AS pr
        |  FROM ppiv pv, cpiv c) t WHERE pr = 1),
        |pres AS (SELECT pv.pid,
        |   list_transform(range(1, 65),
        |     i -> pv.xemb[i] - c.pemb[i]) AS rres
        |  FROM ppiv pv JOIN pcell pc ON pc.pid = pv.pid
        |   JOIN cpiv c ON c.cell = pc.cell),
        |cres AS (SELECT n.vec_id, ca.cell,
        |   list_transform(range(1, 65),
        |     i -> n.emb[i] - c.pemb[i]) AS res
        |  FROM n JOIN ca ON ca.vec_id = n.vec_id
        |   JOIN cpiv c ON c.cell = ca.cell),
        |cs AS (SELECT vec_id, j,
        |    list_slice(res, j * 2 + 1, j * 2 + 2) AS sv
        |  FROM cres, range(32) r(j)),
        |ps AS (SELECT pid, j,
        |    list_slice(rres, j * 2 + 1, j * 2 + 2) AS pv
        |  FROM pres, range(32) r(j)),
        |dj AS (SELECT cs.vec_id, cs.j, ps.pid, ps.pv,
        |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |     list_transform(range(1, 3),
        |       i -> (cs.sv[i] - ps.pv[i]) * (cs.sv[i] - ps.pv[i]))),
        |     (a, x) -> a + x) AS d
        |  FROM cs JOIN ps ON cs.j = ps.j),
        |best AS (SELECT vec_id, j, pv FROM (
        |   SELECT vec_id, j, pv, row_number() OVER (
        |     PARTITION BY vec_id, j ORDER BY d ASC, pid ASC) AS rn
        |   FROM dj) t WHERE rn = 1),
        |reconr AS (SELECT vec_id, flatten(list(pv ORDER BY j)) AS rr
        |  FROM best GROUP BY vec_id),
        |rv AS (SELECT cr.vec_id,
        |   list_transform(range(1, 65),
        |     i -> c.pemb[i] + r.rr[i]) AS rvv
        |  FROM cres cr JOIN cpiv c ON c.cell = cr.cell
        |   JOIN reconr r ON r.vec_id = cr.vec_id),
        |pp AS (SELECT qa.vec_id AS id1, ca.vec_id AS id2,
        |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |     list_transform(range(1, 65),
        |       i -> (q.emb[i] - c.rvv[i]) * (q.emb[i] - c.rvv[i]))),
        |     (a, x) -> a + x) AS adist
        |  FROM qa JOIN ca ON qa.cell = ca.cell
        |    AND qa.vec_id <> ca.vec_id
        |   JOIN v q ON q.vec_id = qa.vec_id
        |   JOIN rv c ON c.vec_id = ca.vec_id)
        |SELECT id1, id2, adist, rank FROM (
        |  SELECT id1, id2, adist,
        |   CAST(row_number() OVER (PARTITION BY id1
        |     ORDER BY adist ASC, id2 ASC) AS BIGINT) AS rank
        |  FROM pp) t
        |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin

  private def e16Oracle: String =
    """WITH v AS (
      |  SELECT vec_id,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |piv AS (SELECT vec_id AS cell, emb AS pemb FROM v
      |  WHERE vec_id IN (SELECT vec_id FROM v
      |   ORDER BY (((vec_id % 2147483647 + 1000003) * 48271)
      |             % 2147483647 * 48271) % 2147483647 ASC,
      |            vec_id ASC LIMIT 32)),
      |cs AS (SELECT vec_id, j,
      |    list_slice(emb, j * 2 + 1, j * 2 + 2) AS sv
      |  FROM v, range(32) r(j)),
      |ps AS (SELECT cell, j,
      |    list_slice(pemb, j * 2 + 1, j * 2 + 2) AS pv
      |  FROM piv, range(32) r(j)),
      |dj AS (SELECT cs.vec_id, cs.j, ps.cell, ps.pv,
      |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |     list_transform(range(1, 3),
      |       i -> (cs.sv[i] - ps.pv[i]) * (cs.sv[i] - ps.pv[i]))),
      |     (a, x) -> a + x) AS d
      |  FROM cs JOIN ps ON cs.j = ps.j),
      |best AS (SELECT vec_id, j, pv FROM (
      |   SELECT vec_id, j, pv, row_number() OVER (
      |     PARTITION BY vec_id, j ORDER BY d ASC, cell ASC) AS rn
      |   FROM dj) t WHERE rn = 1),
      |recon AS (SELECT vec_id, flatten(list(pv ORDER BY j)) AS rv
      |  FROM best GROUP BY vec_id),
      |pp AS (SELECT q.vec_id AS id1, c.vec_id AS id2,
      |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |     list_transform(range(1, 65),
      |       i -> (q.emb[i] - c.rv[i]) * (q.emb[i] - c.rv[i]))),
      |     (a, x) -> a + x) AS adist
      |  FROM v q JOIN recon c
      |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT id1, id2, adist, rank FROM (
      |  SELECT id1, id2, adist,
      |   CAST(row_number() OVER (PARTITION BY id1
      |     ORDER BY adist ASC, id2 ASC) AS BIGINT) AS rank
      |  FROM pp) t
      |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin

  /** e19: the three Lloyd iterations unrolled — each is (D) integer
    * squared-L2 per (vector, centroid), (A) min-distance-then-min-cid
    * assignment via the min-of-min idiom, (S) floor(sum/count) centroid
    * update, (C) empty clusters coalescing to their previous centroid.
    * All arithmetic is exact (BIGINT or dyadic doubles), so the
    * unrolled replay is bit-identical to Spark's loop. */
  private def e19Oracle: String =
    s"""WITH ${kmeansCtes()}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM A3
       |ORDER BY vec_id""".stripMargin

  /** e20: the trained coarse quantizer serving IVF — the e19 CTEs give
    * cells (A3) and per-(vector, centroid) distances (D3); queries
    * probe their nProbe nearest TRAINED centroids (exact-integer d,
    * ties to the lower cid) and rerank candidates by exact cosine,
    * the e04 scoring verbatim. */
  private def e20Oracle: String = {
    val nProbe = 2
    val k = 5
    def psim(embA: String, nrmA: String, embB: String, nrmB: String) =
      s"list_reduce(list_transform(range(1, 65), i -> $embA[i] * $embB[i]), " +
        s"(acc, x) -> acc + x) / ($nrmA * $nrmB)"
    s"""WITH ${kmeansCtes()},
       |n AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |nn AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM n),
       |qa AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d ASC, cid ASC) AS pr
       |  FROM D3 WHERE vec_id < 10) t WHERE pr <= $nProbe),
       |pp AS (SELECT qa.vec_id AS id1, ca.vec_id AS id2,
       |  ${psim("a.emb", "a.nrm", "b.emb", "b.nrm")} AS sim
       |  FROM qa JOIN A3 ca ON qa.cell = ca.cid
       |    AND qa.vec_id <> ca.vec_id
       |   JOIN nn a ON a.vec_id = qa.vec_id
       |   JOIN nn b ON b.vec_id = ca.vec_id)
       |SELECT id1, id2, sim, rank FROM (
       |  SELECT id1, id2, sim,
       |   CAST(row_number() OVER (PARTITION BY id1
       |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
       |  FROM pp) t
       |WHERE rank <= $k ORDER BY id1, rank""".stripMargin
  }

  /** The unrolled-Lloyd CTE chain shared by e19/e20 (see e19Oracle's
    * scaladoc for the arithmetic-exactness argument). Ends at D3/A3:
    * the third assignment pass and its per-centroid distances. */
  private def kmeansCtes(): String = {
    def iter(t: Int, update: Boolean): String = {
      val prev = s"C${t - 1}"
      val d =
        s"""D$t AS (SELECT L.vec_id, C.cid,
           |  sum((L.q - C.v) * (L.q - C.v)) AS d
           | FROM L JOIN $prev C ON L.i = C.i GROUP BY 1, 2),
           |A$t AS (SELECT d.vec_id, min(d.cid) AS cid
           | FROM D$t d JOIN (SELECT vec_id, min(d) AS md FROM D$t
           |   GROUP BY 1) m
           |  ON d.vec_id = m.vec_id AND d.d = m.md
           | GROUP BY 1)""".stripMargin
      if (!update) d
      else d + "," +
        s"""
           |S$t AS (SELECT a.cid, L.i,
           |  CAST(floor(CAST(sum(L.q) AS DOUBLE) / count(*)) AS BIGINT)
           |    AS v
           | FROM A$t a JOIN L ON L.vec_id = a.vec_id GROUP BY 1, 2),
           |C$t AS (SELECT c.cid, c.i, coalesce(s.v, c.v) AS v
           | FROM $prev c LEFT JOIN S$t s
           |  ON s.cid = c.cid AND s.i = c.i)""".stripMargin
    }
    s"""L AS (
       |  SELECT vec_id, CAST(i AS BIGINT) AS i,
       |         CAST(floor(CAST(u AS DOUBLE) * 64.0) AS BIGINT) AS q
       |  FROM (SELECT vec_id,
       |          unnest(range(len(embedding))) AS i,
       |          unnest(embedding) AS u
       |        FROM embeddings)),
       |C0 AS (
       |  SELECT r.cid, L.i, L.q AS v
       |  FROM (SELECT vec_id,
       |          CAST(row_number() OVER (ORDER BY vec_id) - 1
       |            AS INTEGER) AS cid
       |        FROM (SELECT vec_id FROM embeddings
       |              ORDER BY vec_id LIMIT 8)) r
       |  JOIN L ON L.vec_id = r.vec_id),
       |${iter(1, update = true)},
       |${iter(2, update = true)},
       |${iter(3, update = false)}""".stripMargin
  }

  private def d09Oracle: String =
    d09Labels + "\nSELECT doc_id, cluster_id FROM labels ORDER BY doc_id"

  /** The three unrolled BPE training rounds as a CTE chain ending in
    * t1/t2/t3 (the merges) and v3 (the re-segmented vocabulary) —
    * shared by the d43 and d48 oracles. */
  private def bpeCtes: String =
    """WITH v0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n,
        |    left('|' || regexp_replace(word, '(.)', '\1||', 'g'),
        |         3*length(word)) AS seg
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY word),
        |p1 AS (
        |  SELECT z.s1, z.s2, CAST(sum(n) AS BIGINT) AS w FROM (
        |    SELECT n, unnest(list_transform(range(1, len(sy)),
        |      i -> struct_pack(s1 := sy[i], s2 := sy[i+1]))) AS z
        |    FROM (SELECT n, string_split(trim(seg, '|'), '||') AS sy
        |          FROM v0)
        |  ) GROUP BY 1, 2),
        |t1 AS (SELECT * FROM p1 ORDER BY w DESC, s1, s2 LIMIT 1),
        |v1 AS (SELECT word, n,
        |  replace(seg, '|'||t.s1||'||'||t.s2||'|',
        |               '|'||t.s1||t.s2||'|') AS seg
        |  FROM v0, t1 t),
        |p2 AS (
        |  SELECT z.s1, z.s2, CAST(sum(n) AS BIGINT) AS w FROM (
        |    SELECT n, unnest(list_transform(range(1, len(sy)),
        |      i -> struct_pack(s1 := sy[i], s2 := sy[i+1]))) AS z
        |    FROM (SELECT n, string_split(trim(seg, '|'), '||') AS sy
        |          FROM v1)
        |  ) GROUP BY 1, 2),
        |t2 AS (SELECT * FROM p2 ORDER BY w DESC, s1, s2 LIMIT 1),
        |v2 AS (SELECT word, n,
        |  replace(seg, '|'||t.s1||'||'||t.s2||'|',
        |               '|'||t.s1||t.s2||'|') AS seg
        |  FROM v1, t2 t),
        |p3 AS (
        |  SELECT z.s1, z.s2, CAST(sum(n) AS BIGINT) AS w FROM (
        |    SELECT n, unnest(list_transform(range(1, len(sy)),
        |      i -> struct_pack(s1 := sy[i], s2 := sy[i+1]))) AS z
        |    FROM (SELECT n, string_split(trim(seg, '|'), '||') AS sy
        |          FROM v2)
        |  ) GROUP BY 1, 2),
        |t3 AS (SELECT * FROM p3 ORDER BY w DESC, s1, s2 LIMIT 1),
        |v3 AS (SELECT word, n,
        |  replace(seg, '|'||t.s1||'||'||t.s2||'|',
        |               '|'||t.s1||t.s2||'|') AS seg
        |  FROM v2, t3 t)""".stripMargin

  /** The shingle-candidate pair derivation (toks -> sh -> jaccard
    * `pairs`) shared by d09Labels and the d46 edit-distance oracle. */
  private def shinglePairsCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
      |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
      |  FROM toks),
      |sh AS (
      |  SELECT doc_id, shingle FROM sh0
      |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
      |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
      |    FROM documents)),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_both
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT id1, id2 FROM inter
      |   JOIN cnt ca ON ca.doc_id = id1
      |   JOIN cnt cb ON cb.doc_id = id2
      |  WHERE CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
      |    >= 0.2)""".stripMargin

  /** The d09 near-dup connected-components derivation as a CTE chain
    * ending in `labels(doc_id, cluster_id)` — shared by d09/d28/d42. */
  private def d09Labels: String =
    s"""WITH RECURSIVE $shinglePairsCtes,
      |sym AS (
      |  SELECT id1 AS a, id2 AS b FROM pairs
      |  UNION SELECT id2, id1 FROM pairs
      |  UNION SELECT id1, id1 FROM pairs
      |  UNION SELECT id2, id2 FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |labels AS (
      |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
      |""".stripMargin

  /** e04: IVF with deterministic pivots — no literals needed, the whole
    * assignment/probe/rank pipeline is plain SQL. Pivot selection is the
    * hash-stratified rank (Similarity.pivotRank's offset + double-MINSTD
    * permutation — portable, overflow-safe integer arithmetic),
    * reproduced verbatim here. */
  private def e04Oracle: String = e04OracleWhere(None)

  /** e04's IVF oracle, optionally restricting the CANDIDATE side to
    * vec_ids matching `candWhere` (e21 filtered serving) — pivots and
    * probe assignment stay unfiltered, matching ivfTopKFiltered. */
  private def e04OracleWhere(candWhere: Option[String]): String = {
    val nCells = 16
    val nProbe = 4
    val k = 5
    val candClause = candWhere.map(w =>
      s" AND vec_id IN (SELECT vec_id FROM embeddings WHERE $w)")
      .getOrElse("")
    def psim(embA: String, nrmA: String, embB: String, nrmB: String) =
      s"list_reduce(list_transform(range(1, 65), i -> $embA[i] * $embB[i]), " +
        s"(acc, x) -> acc + x) / ($nrmA * $nrmB)"
    s"""WITH v AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v),
       |piv AS (SELECT vec_id AS cell, emb AS pemb, nrm AS pnrm FROM n
       |  WHERE vec_id IN (SELECT vec_id FROM n
       |   ORDER BY (((vec_id % 2147483647 + 1000003) * 48271)
       |             % 2147483647 * 48271) % 2147483647 ASC,
       |            vec_id ASC LIMIT $nCells)),
       |ca AS (SELECT vec_id, cell FROM (
       |  SELECT n.vec_id, p.cell,
       |   row_number() OVER (PARTITION BY n.vec_id
       |     ORDER BY ${psim("n.emb", "n.nrm", "p.pemb", "p.pnrm")} DESC,
       |              p.cell ASC) AS pr
       |  FROM n, piv p) t WHERE pr = 1$candClause),
       |qa AS (SELECT vec_id, cell FROM (
       |  SELECT n.vec_id, p.cell,
       |   row_number() OVER (PARTITION BY n.vec_id
       |     ORDER BY ${psim("n.emb", "n.nrm", "p.pemb", "p.pnrm")} DESC,
       |              p.cell ASC) AS pr
       |  FROM n, piv p WHERE n.vec_id < 10) t WHERE pr <= $nProbe),
       |pp AS (SELECT qa.vec_id AS id1, ca.vec_id AS id2,
       |  ${psim("a.emb", "a.nrm", "b.emb", "b.nrm")} AS sim
       |  FROM qa JOIN ca ON qa.cell = ca.cell AND qa.vec_id <> ca.vec_id
       |   JOIN n a ON a.vec_id = qa.vec_id
       |   JOIN n b ON b.vec_id = ca.vec_id)
       |SELECT id1, id2, sim, rank FROM (
       |  SELECT id1, id2, sim,
       |   CAST(row_number() OVER (PARTITION BY id1
       |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
       |  FROM pp) t
       |WHERE rank <= $k ORDER BY id1, rank""".stripMargin
  }

  /** d13: the full corpus pipeline as one oracle — normalize, gate,
    * exact dedup, Jaccard pairs, recursive-CTE closure, split. */
  private def d13Oracle: String = corpusPipelineOracle(None, None)

  /** The d13 pipeline oracle, parameterized: `where` filters the input
    * corpus; `decontamWhere` selects the held-out split and inserts the
    * 5-gram decontamination stage between exact dedup and near-dup,
    * exactly where CorpusPipeline places it (both sides normalized). */
  private def corpusPipelineOracle(
      where: Option[String], decontamWhere: Option[String]): String = {
    val normExpr = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val src = where.map(w => s"documents WHERE $w").getOrElse("documents")
    val five = "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || " +
      "tk[i+3] || ' ' || tk[i+4]"
    val gate = decontamWhere match {
      case Some(hw) =>
        s"""hotk AS (SELECT string_split($normExpr, ' ') AS tk
           |  FROM documents WHERE $hw),
           |hosh AS (SELECT DISTINCT
           |  unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
           |    i -> $five)) AS shingle FROM hotk),
           |etk AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM e),
           |esh AS (SELECT DISTINCT doc_id,
           |  unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
           |    i -> $five)) AS shingle FROM etk),
           |bad AS (SELECT DISTINCT esh.doc_id FROM esh
           |  JOIN hosh ON esh.shingle = hosh.shingle),
           |e2 AS (SELECT * FROM e
           |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),""".stripMargin
      case None => "e2 AS (SELECT * FROM e),"
    }
    s"""WITH RECURSIVE nrm AS (
       | SELECT doc_id, $normExpr AS norm FROM $src),
       |q AS (SELECT doc_id, norm FROM nrm
       |  WHERE len(string_split(norm, ' ')) >= 30),
       |e AS (SELECT min(doc_id) AS doc_id, norm FROM q GROUP BY norm),
       |$gate
       |toks AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM e2),
       |sh0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
       |  FROM toks),
       |sh AS (
       |  SELECT doc_id, shingle FROM sh0
       |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
       |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
       |    FROM e2)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_both
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT id1, id2 FROM inter
       |   JOIN cnt ca ON ca.doc_id = id1
       |   JOIN cnt cb ON cb.doc_id = id2
       |  WHERE CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
       |    >= 0.6),
       |sym AS (SELECT id1 AS a, id2 AS b FROM pairs
       |  UNION SELECT id2, id1 FROM pairs
       |  UNION SELECT id1, id1 FROM pairs
       |  UNION SELECT id2, id2 FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |cl AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a),
       |kept AS (SELECT e2.doc_id, e2.norm FROM e2
       |  WHERE e2.doc_id NOT IN (SELECT doc_id FROM cl WHERE rep <> doc_id))
       |SELECT doc_id,
       | CASE WHEN (${sqlCharFold("norm", 137)}) % 100 < 80 THEN 'train'
       |      WHEN (${sqlCharFold("norm", 137)}) % 100 < 90 THEN 'val'
       |      ELSE 'test' END AS split
       |FROM kept ORDER BY doc_id""".stripMargin
  }

  /** SRP planes as DuckDB SQL (shared by e03/e05): bucket id = packed
    * sign bits of dot(emb, plane_i), planes embedded as double literals
    * so the oracle reproduces the exact bucketing. */
  private def sqlPlaneList(p: Array[Double]): String =
    p.map(v => s"CAST($v AS DOUBLE)").mkString("list_value(", ", ", ")")

  private def sqlSrpBucket(nBits: Int, seed: Long): String =
    VectorFunctions.srpPlanes(64, nBits, seed).zipWithIndex
      .map { case (p, i) =>
        s"(CASE WHEN list_reduce(list_transform(range(1, 65), " +
          s"ii -> emb[ii] * list_extract(${sqlPlaneList(p)}, ii)), " +
          s"(acc, x) -> acc + x) >= 0 THEN ${1L << i} ELSE 0 END)"
      }
      .mkString(" + ")

  private def e03Oracle: String = {
    val nTables = 4
    val nBits = 4
    val tableCtes = (0 until nTables)
      .map(t => s"bk$t AS (SELECT vec_id, emb, nrm, " +
        s"${sqlSrpBucket(nBits, 42L + t)} AS bucket FROM n)")
      .mkString(",\n")
    val candUnion = (0 until nTables)
      .map(t =>
        s"SELECT q.vec_id AS id1, c.vec_id AS id2 FROM bk$t q " +
          s"JOIN bk$t c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id " +
          s"WHERE q.vec_id < 10")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v),
       |$tableCtes,
       |cand AS ($candUnion),
       |p AS (SELECT id1, id2,
       |  list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
       |  FROM cand JOIN n a ON a.vec_id = id1 JOIN n b ON b.vec_id = id2)
       |SELECT id1, id2, sim, rank FROM (
       |  SELECT id1, id2, sim,
       |   CAST(row_number() OVER (PARTITION BY id1
       |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
       |  FROM p) t
       |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin
  }

  /** e09: e03's SRP ANN over int8-quantized vectors — the `v`/`n` CTEs
    * quantize first (floor(x*127/scale + 0.5), the e07 convention);
    * buckets, candidates, and rerank then reuse e03's exact shape over
    * the integer-valued doubles. */
  private def e09Oracle: String = {
    val nTables = 4
    val nBits = 4
    val tableCtes = (0 until nTables)
      .map(t => s"bk$t AS (SELECT vec_id, emb, nrm, " +
        s"${sqlSrpBucket(nBits, 42L + t)} AS bucket FROM n)")
      .mkString(",\n")
    val candUnion = (0 until nTables)
      .map(t =>
        s"SELECT q.vec_id AS id1, c.vec_id AS id2 FROM bk$t q " +
          s"JOIN bk$t c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id " +
          s"WHERE q.vec_id < 10")
      .mkString(" UNION ")
    s"""WITH v0 AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw
       |  FROM embeddings),
       |sc AS (SELECT vec_id, raw,
       |  list_reduce(list_transform(raw, x -> abs(x)),
       |    (a, x) -> greatest(a, x)) AS scale FROM v0),
       |v AS (SELECT vec_id,
       |  list_transform(raw, x -> CASE WHEN scale = 0
       |    THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(CAST(floor(x * 127 / scale + 0.5) AS BIGINT)
       |         AS DOUBLE) END) AS emb
       |  FROM sc),
       |n AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v),
       |$tableCtes,
       |cand AS ($candUnion),
       |p AS (SELECT id1, id2,
       |  list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
       |  FROM cand JOIN n a ON a.vec_id = id1 JOIN n b ON b.vec_id = id2)
       |SELECT id1, id2, sim, rank FROM (
       |  SELECT id1, id2, sim,
       |   CAST(row_number() OVER (PARTITION BY id1
       |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
       |  FROM p) t
       |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin
  }

  /** e12: two-stage rerank — e09's quantized CTEs produce a 20-deep
    * shortlist per query (same tie-break as the Spark window), then the
    * shortlist pairs re-score against the FULL-precision vectors for
    * the exact top-5. */
  private def e12Oracle: String = {
    val nTables = 4
    val nBits = 4
    val tableCtes = (0 until nTables)
      .map(t => s"bk$t AS (SELECT vec_id, emb, " +
        s"${sqlSrpBucket(nBits, 42L + t)} AS bucket FROM nq)")
      .mkString(",\n")
    val candUnion = (0 until nTables)
      .map(t =>
        s"SELECT q.vec_id AS id1, c.vec_id AS id2 FROM bk$t q " +
          s"JOIN bk$t c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id " +
          s"WHERE q.vec_id < 10")
      .mkString(" UNION ")
    s"""WITH v0 AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw
       |  FROM embeddings),
       |sc AS (SELECT vec_id, raw,
       |  list_reduce(list_transform(raw, x -> abs(x)),
       |    (a, x) -> greatest(a, x)) AS scale FROM v0),
       |vq AS (SELECT vec_id,
       |  list_transform(raw, x -> CASE WHEN scale = 0
       |    THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(CAST(floor(x * 127 / scale + 0.5) AS BIGINT)
       |         AS DOUBLE) END) AS emb
       |  FROM sc),
       |nq AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM vq),
       |$tableCtes,
       |cand AS ($candUnion),
       |pq AS (SELECT id1, id2,
       |  list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS simq
       |  FROM cand JOIN nq a ON a.vec_id = id1 JOIN nq b ON b.vec_id = id2),
       |sh AS (SELECT id1, id2 FROM (
       |  SELECT id1, id2,
       |   row_number() OVER (PARTITION BY id1
       |     ORDER BY simq DESC, id2 ASC) AS rnq
       |  FROM pq) t WHERE rnq <= 20),
       |nf AS (SELECT vec_id, raw AS emb,
       |  sqrt(list_reduce(list_transform(raw, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v0),
       |p AS (SELECT id1, id2,
       |  list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
       |  FROM sh JOIN nf a ON a.vec_id = id1 JOIN nf b ON b.vec_id = id2)
       |SELECT id1, id2, sim, rank FROM (
       |  SELECT id1, id2, sim,
       |   CAST(row_number() OVER (PARTITION BY id1
       |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
       |  FROM p) t
       |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin
  }

  /** q81: three DeltaNearDup batches replayed stage by stage — each
    * stage is q70's gate (exact-key diff + capped Jaccard screen)
    * scored against the lake state its batch actually saw. The Spark
    * side serves stages 2-3 from the `_shingles`/`_keys` sidecars, so
    * the hash match IS the index-served == from-text equality. */
  private def q81Oracle: String = {
    def stage(l: String, surv: String, lake: String): String =
      s"""n$l AS (SELECT (SELECT COUNT(*) FROM $surv) +
         |  (SELECT COUNT(*) FROM $lake) AS n),
         |cap$l AS (SELECT greatest(64, CAST(ceil(n * 0.05) AS BIGINT))
         |  AS cap FROM n$l),
         |sh$l AS (
         |  SELECT s.doc_id, s.shingle FROM sh0 s
         |  WHERE s.doc_id IN (SELECT doc_id FROM $surv)
         |     OR s.doc_id IN (SELECT doc_id FROM $lake)
         |  QUALIFY COUNT(*) OVER (PARTITION BY s.shingle) <=
         |   (SELECT cap FROM cap$l)),
         |cnt$l AS (SELECT doc_id, COUNT(*) AS n FROM sh$l GROUP BY doc_id),
         |inter$l AS (
         |  SELECT a.doc_id AS id_new, b.doc_id AS id_ex, COUNT(*) AS n_both
         |  FROM sh$l a JOIN sh$l b ON a.shingle = b.shingle
         |  WHERE a.doc_id IN (SELECT doc_id FROM $surv)
         |    AND b.doc_id IN (SELECT doc_id FROM $lake)
         |  GROUP BY a.doc_id, b.doc_id),
         |dup$l AS (SELECT DISTINCT id_new FROM inter$l
         |  JOIN cnt$l ca ON ca.doc_id = id_new
         |  JOIN cnt$l cb ON cb.doc_id = id_ex
         |  WHERE CAST(n_both AS DOUBLE) /
         |        CAST(ca.n + cb.n - n_both AS DOUBLE) >= 0.2)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh0 AS (
       |  SELECT DISTINCT doc_id,
       |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
       |  FROM toks),
       |l0 AS (SELECT doc_id FROM documents WHERE doc_id % 5 IN (1, 2)),
       |sA AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
       |${stage("A", "sA", "l0")},
       |l1 AS (SELECT doc_id FROM l0 UNION ALL
       |  SELECT doc_id FROM sA
       |  WHERE doc_id NOT IN (SELECT id_new FROM dupA)),
       |sB AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 3),
       |${stage("B", "sB", "l1")},
       |l2 AS (SELECT doc_id FROM l1 UNION ALL
       |  SELECT doc_id FROM sB
       |  WHERE doc_id NOT IN (SELECT id_new FROM dupB)),
       |sC AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 4),
       |${stage("C", "sC", "l2")},
       |lf AS (SELECT doc_id FROM l2 UNION ALL
       |  SELECT doc_id FROM sC
       |  WHERE doc_id NOT IN (SELECT id_new FROM dupC))
       |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
       |FROM documents d JOIN lf USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q84: q81's staged gate chain with two extensions — each stage also
    * EMITS its decision pairs (pr CTEs), and a final stage replays
    * batch B (at-least-once delivery): its
    * exact-gate survivors are exactly B's scored-out ids, re-scored
    * against the final lake. Output = final lake ∪ the CC closure over
    * every emitted pair (the label table the stream folds batch by
    * batch through mergeClusterBatch). */
  private def q84Oracle: String = {
    def stage(l: String, surv: String, lake: String): String =
      s"""n$l AS MATERIALIZED (SELECT (SELECT COUNT(*) FROM $surv) +
         |  (SELECT COUNT(*) FROM $lake) AS n),
         |cap$l AS MATERIALIZED (SELECT greatest(64, CAST(ceil(n * 0.05) AS BIGINT))
         |  AS cap FROM n$l),
         |sh$l AS MATERIALIZED (
         |  SELECT s.doc_id, s.shingle FROM sh0 s
         |  WHERE s.doc_id IN (SELECT doc_id FROM $surv)
         |     OR s.doc_id IN (SELECT doc_id FROM $lake)
         |  QUALIFY COUNT(*) OVER (PARTITION BY s.shingle) <=
         |   (SELECT cap FROM cap$l)),
         |cnt$l AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh$l GROUP BY doc_id),
         |inter$l AS MATERIALIZED (
         |  SELECT a.doc_id AS id_new, b.doc_id AS id_ex, COUNT(*) AS n_both
         |  FROM sh$l a JOIN sh$l b ON a.shingle = b.shingle
         |  WHERE a.doc_id IN (SELECT doc_id FROM $surv)
         |    AND b.doc_id IN (SELECT doc_id FROM $lake)
         |  GROUP BY a.doc_id, b.doc_id),
         |pr$l AS MATERIALIZED (SELECT id_new, id_ex FROM inter$l
         |  JOIN cnt$l ca ON ca.doc_id = id_new
         |  JOIN cnt$l cb ON cb.doc_id = id_ex
         |  WHERE CAST(n_both AS DOUBLE) /
         |        CAST(ca.n + cb.n - n_both AS DOUBLE) >= 0.2),
         |dup$l AS MATERIALIZED (SELECT DISTINCT id_new FROM pr$l)""".stripMargin
    s"""WITH RECURSIVE toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
       |  FROM toks),
       |l0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 20 IN (4, 8)),
       |sA AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
       |${stage("A", "sA", "l0")},
       |l1 AS MATERIALIZED (SELECT doc_id FROM l0 UNION ALL
       |  SELECT doc_id FROM sA
       |  WHERE doc_id NOT IN (SELECT id_new FROM dupA)),
       |sB AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 20 = 12),
       |${stage("B", "sB", "l1")},
       |l2 AS MATERIALIZED (SELECT doc_id FROM l1 UNION ALL
       |  SELECT doc_id FROM sB
       |  WHERE doc_id NOT IN (SELECT id_new FROM dupB)),
       |sD AS MATERIALIZED (SELECT id_new AS doc_id FROM dupB),
       |${stage("D", "sD", "l2")},
       |allp AS MATERIALIZED (
       |  SELECT id_new AS id1, id_ex AS id2 FROM prA
       |  UNION SELECT id_new, id_ex FROM prB
       |  UNION SELECT id_new, id_ex FROM prD),
       |sym AS MATERIALIZED (
       |  SELECT id1 AS a, id2 AS b FROM allp
       |  UNION SELECT id2, id1 FROM allp
       |  UNION SELECT id1, id1 FROM allp
       |  UNION SELECT id2, id2 FROM allp),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |lab AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM reach
       |  GROUP BY a)
       |""".stripMargin
  }

  /** The gate half of the old q84 composite: the lake contents after
    * the three streamed gate lifecycles. */
  private def q84GateOracle: String =
    q84Oracle + "SELECT doc_id FROM l2 ORDER BY doc_id"

  /** The provenance half: the incremental CC label table the pair
    * sink folds. */
  private def q84LabelsOracle: String =
    q84Oracle + "SELECT doc_id, cluster_id FROM lab ORDER BY doc_id"

  /** e06: incremental new×existing embedding near-dup pairs — the same
    * plane literals as e03/e05, candidates restricted to even×odd. */
  private def e06Oracle: String = {
    val nTables = 4
    val nBits = 4
    val threshold = 0.4
    val tableCtes = (0 until nTables)
      .map(t => s"bk$t AS (SELECT vec_id, emb, nrm, " +
        s"${sqlSrpBucket(nBits, 42L + t)} AS bucket FROM n)")
      .mkString(",\n")
    val candUnion = (0 until nTables)
      .map(t =>
        s"SELECT a.vec_id AS id_new, b.vec_id AS id_existing FROM bk$t a " +
          s"JOIN bk$t b ON a.bucket = b.bucket " +
          s"WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v),
       |$tableCtes,
       |cand AS ($candUnion),
       |p AS (SELECT id_new, id_existing,
       |  list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
       |  FROM cand JOIN n a ON a.vec_id = id_new
       |   JOIN n b ON b.vec_id = id_existing)
       |SELECT id_new, id_existing, sim FROM p WHERE sim >= $threshold
       |ORDER BY id_new, id_existing""".stripMargin
  }

  /** q71: the DeltaSemantic write under the oracle — exact-key EXCEPT
    * plus the e06 scorer deciding which new-key rows are dropped. */
  private def q71Oracle: String = {
    val nTables = 4
    val nBits = 4
    val threshold = 0.4
    val tableCtes = (0 until nTables)
      .map(t => s"bk$t AS (SELECT vec_id, emb, nrm, " +
        s"${sqlSrpBucket(nBits, 42L + t)} AS bucket FROM n)")
      .mkString(",\n")
    val candUnion = (0 until nTables)
      .map(t =>
        s"SELECT a.vec_id AS id_new, b.vec_id AS id_existing FROM bk$t a " +
          s"JOIN bk$t b ON a.bucket = b.bucket " +
          s"WHERE a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v),
       |$tableCtes,
       |cand AS ($candUnion),
       |dup AS (SELECT DISTINCT id_new FROM (
       |  SELECT id_new, id_existing,
       |   list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |     (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
       |  FROM cand JOIN n a ON a.vec_id = id_new
       |   JOIN n b ON b.vec_id = id_existing) t WHERE sim >= $threshold)
       |SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
       |WHERE vec_id % 4 <> 0
       |   OR vec_id NOT IN (SELECT id_new FROM dup)
       |ORDER BY vec_id""".stripMargin
  }

  /** e05: SRP-bucketed semantic dedup — candidates from the same plane
    * literals as the Spark plan, exact cosine threshold, recursive-CTE
    * connected components, min-id representative (d09's closure
    * pattern). */
  private def e05Oracle: String = {
    val nTables = 4
    val nBits = 4
    val threshold = 0.4
    val tableCtes = (0 until nTables)
      .map(t => s"bk$t AS (SELECT vec_id, emb, nrm, " +
        s"${sqlSrpBucket(nBits, 42L + t)} AS bucket FROM n)")
      .mkString(",\n")
    val candUnion = (0 until nTables)
      .map(t =>
        s"SELECT a.vec_id AS id1, b.vec_id AS id2 FROM bk$t a " +
          s"JOIN bk$t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id")
      .mkString(" UNION ")
    s"""WITH RECURSIVE v AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |  sqrt(list_reduce(list_transform(emb, x -> x * x),
       |       (acc, x) -> acc + x)) AS nrm FROM v),
       |$tableCtes,
       |cand AS ($candUnion),
       |pairs AS (SELECT id1, id2 FROM (
       |  SELECT id1, id2,
       |   list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
       |     (acc, x) -> acc + x) / (a.nrm * b.nrm) AS sim
       |  FROM cand JOIN n a ON a.vec_id = id1 JOIN n b ON b.vec_id = id2) t
       |  WHERE sim >= $threshold),
       |sym AS (
       |  SELECT id1 AS a, id2 AS b FROM pairs
       |  UNION SELECT id2, id1 FROM pairs
       |  UNION SELECT id1, id1 FROM pairs
       |  UNION SELECT id2, id2 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
       |SELECT a AS vec_id, min(b) AS cluster_id, a = min(b) AS keep
       |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin
  }

  // ---- oracles -------------------------------------------------------------

  private def d59Oracle: String =
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(0, len(tk))) AS pos,
        |    unnest(tk) AS term
        |  FROM toks),
        |bg AS (
        |  SELECT a.term || ' ' || b.term AS phrase, count(*) AS c
        |  FROM pos a JOIN pos b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1 ORDER BY c DESC, phrase ASC LIMIT 1),
        |pt AS (SELECT phrase, string_split(phrase, ' ') AS ts FROM bg)
        |SELECT a.doc_id, pt.phrase AS phrase,
        |  CAST(count(*) AS BIGINT) AS n_matches
        |FROM pt CROSS JOIN pos a JOIN pos b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = pt.ts[1] AND b.term = pt.ts[2]
        |GROUP BY 1, 2 ORDER BY a.doc_id""".stripMargin

  private def d57Oracle: String = {
    def fine(e: String): String =
      s"(256 * (length(bin($e)) - 1) + " +
        s"CAST(floor(CAST(($e) * 256 AS DOUBLE) / " +
        s"power(2, length(bin($e)) - 1)) AS BIGINT) - 256)"
    s"""WITH t AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS term
         | FROM documents),
         |tf AS (
         | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         | FROM t GROUP BY 1, 2),
         |dl AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         | FROM t GROUP BY 1),
         |dfq AS (
         | SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
         | GROUP BY 1),
         |tot AS (
         | SELECT CAST(sum(dl) AS BIGINT) AS l,
         |   CAST(count(*) AS BIGINT) AS n FROM dl),
         |qt AS (
         | SELECT DISTINCT doc_id AS qid, u AS term FROM (
         |  SELECT doc_id,
         |    unnest(array_slice(string_split(text, ' '), 1, 5)) AS u
         |  FROM documents WHERE doc_id % 250 = 7)),
         |sc AS (
         | SELECT qt.qid, tf.doc_id,
         |  (${fine("tot.n")} - ${fine("dfq.df")}) *
         |   ((tf.tf * 22 * 1048576 * tot.l) //
         |    (tf.tf * 10 * tot.l + 3 * tot.l + 9 * dl.dl * tot.n)) AS c
         | FROM qt
         | JOIN tf USING (term)
         | JOIN dl ON tf.doc_id = dl.doc_id
         | JOIN dfq ON tf.term = dfq.term, tot),
         |s AS (
         | SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_q
         | FROM sc GROUP BY 1, 2)
         |SELECT qid, doc_id, score_q,
         | CAST(row_number() OVER (PARTITION BY qid
         |   ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rank
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY qid
         |   ORDER BY score_q DESC, doc_id ASC) <= 5
         |ORDER BY qid, rank""".stripMargin
  }

  def oracleSql: Map[String, String] = ListMap(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_revenue_topn" ->
      """SELECT o_orderkey, o_orderdate,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q04_multi_sort" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
        |ORDER BY c_nationkey ASC NULLS FIRST, c_acctbal DESC NULLS LAST,
        | c_custkey ASC NULLS FIRST""".stripMargin,

    "q05_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q06_distinct_full" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q07_dedup_keep_last" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        | SELECT user_id, event_type, event_id, ts, value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q08_delta_full_row" ->
      """SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |EXCEPT
        |SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "q09_delta_subset_anti" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders b
        |WHERE b.o_orderdate >= TIMESTAMP '1999-01-01' AND NOT EXISTS (
        |  SELECT 1 FROM orders e
        |  WHERE e.o_orderdate < TIMESTAMP '2000-01-01'
        |    AND e.o_orderkey = b.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q10_min_max" ->
      """SELECT min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        | COUNT(*) AS n
        |FROM lineitem""".stripMargin,

    "q11_partition_enum" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q12_cast_keys" ->
      """SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS key_str,
        | CAST(CAST(c_custkey AS VARCHAR) AS BIGINT) AS key_back,
        | CAST(c_nationkey AS BIGINT) AS nation_long
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q13_time_window_agg" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q140_time_band_skipping" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q141_commitlog_time_band" ->
      """SELECT event_id, ts, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-12' AND ts < TIMESTAMP '2024-01-19'
        |ORDER BY event_id""".stripMargin,

    "q142_commitlog_partitioned" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderstatus = 'F' AND o_orderkey <= lo + e
        |      THEN o_totalprice + 1000.0 ELSE o_totalprice END
        |      AS o_totalprice,
        |    o_orderstatus
        |  FROM orders, b)
        |SELECT 'live' AS side, * FROM merged
        |UNION ALL
        |SELECT 'f', * FROM merged WHERE o_orderstatus = 'F'
        |ORDER BY side, o_orderkey""".stripMargin,

    "q143_sql_dml" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey <= lo + e THEN o_totalprice + 1000.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders, b
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, o_custkey, 0.5
        |  FROM orders, b WHERE o_orderkey <= lo + e)
        |SELECT * FROM merged WHERE o_custkey % 10 <> 3
        |ORDER BY o_orderkey""".stripMargin,

    "q149_dv_delete" ->
      """WITH kept AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE NOT (o_orderkey % 7 = 3) AND NOT (o_custkey % 5 = 2))
        |SELECT 'mor' AS side, * FROM kept
        |UNION ALL
        |SELECT 'folded', * FROM kept
        |ORDER BY side, o_orderkey""".stripMargin,

    "q151_sql_create_table" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q158_sql_replace_table" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
        |SELECT 'before' AS side, * FROM src WHERE o_custkey % 2 = 0
        |UNION ALL
        |SELECT 'live', * FROM src WHERE o_custkey % 2 = 1
        |ORDER BY side, o_orderkey""".stripMargin,

    "q161_sql_copy_into" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q164_sql_generated_partition" ->
      """SELECT event_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day
        |FROM events ORDER BY event_id, day""".stripMargin,

    "q165_sql_merge_mapped" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS price
        |  FROM base WHERE o_orderkey % 7 <> 3
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, max(o_custkey),
        |    max(o_totalprice)
        |  FROM base WHERE o_orderkey % 7 = 3 GROUP BY o_orderkey),
        |updated AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 1 THEN price + 0.5
        |         ELSE price END AS price
        |  FROM merged)
        |SELECT * FROM updated WHERE price >= 1000.0
        |ORDER BY 1, 2, 3""".stripMargin,

    "q166_sql_merge_identity" ->
      """WITH src AS (
        |  SELECT o_orderkey, max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM src)
        |SELECT 'row' AS part, CAST(o_orderkey AS DOUBLE) AS a,
        |  CAST(o_totalprice AS DOUBLE) AS b FROM t
        |UNION ALL
        |SELECT 'ids', CAST(count(*) AS DOUBLE),
        |  CAST(count(*) AS DOUBLE) FROM t
        |ORDER BY part, a, b""".stripMargin,

    "q167_sql_cdf_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, max(o_custkey) AS o_custkey,
        |    max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1)
        |SELECT 'delete' AS _op, o_orderkey, o_custkey, o_totalprice
        |FROM src WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'update_preimage', o_orderkey, o_custkey, o_totalprice
        |FROM src WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT 'update_postimage', o_orderkey, o_custkey,
        |  o_totalprice + 5.0
        |FROM src WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT 'insert', o_orderkey + 1000000, o_custkey, o_totalprice
        |FROM src WHERE o_orderkey % 3 = 2
        |ORDER BY _op, o_orderkey""".stripMargin,

    "q168_sql_copy_csv" ->
      """WITH src AS (
        |  SELECT o_orderkey, max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_comment
        |FROM src WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 100 = 1 THEN NULL
        |       ELSE 'c(' || o_orderkey || ')' END
        |FROM src WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    "q169_sql_cluster_by" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey, o_custkey, o_totalprice""".stripMargin,

    "q170_dynamic_file_pruning" ->
      """SELECT l.l_orderkey AS l_orderkey, count(*) AS n,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(max(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS o_total
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey % 997 = 0 AND o.o_orderkey < 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q171_sql_materialized_view" ->
      """WITH src AS (
        |  SELECT o_orderkey, max(o_custkey) AS o_custkey,
        |    max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1),
        |mut AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_custkey % 7 = 1 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS p
        |  FROM src WHERE o_custkey % 7 <> 2
        |  UNION ALL
        |  SELECT o_custkey + 100000, o_totalprice
        |  FROM src WHERE o_custkey % 7 = 3)
        |SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(p AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM mut GROUP BY 1 ORDER BY 1""".stripMargin,

    // the view after the CDF-decomposed merge: the min-custkey group
    // re-prices (+5.0), one novel group (900001) lands at 1.25
    "q177_mv_refresh_through_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, max(o_custkey) AS o_custkey,
        |    max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1),
        |mut AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_custkey = (SELECT min(o_custkey) FROM src)
        |         THEN o_totalprice + 5.0
        |         ELSE o_totalprice END AS p
        |  FROM src
        |  UNION ALL
        |  SELECT CAST(900001 AS BIGINT), 1.25
        |  FROM src WHERE o_custkey = (SELECT max(o_custkey) FROM src))
        |SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(p AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM mut GROUP BY 1 ORDER BY 1""".stripMargin,

    "q178_sql_copy_json" ->
      """WITH src AS (
        |  SELECT o_orderkey, max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_comment
        |FROM src WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'j(' || o_orderkey || ')'
        |FROM src WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // the rollup rewrite re-aggregates the view; the oracle is the
    // direct rollup over the raw rows — identical values prove the
    // sum-of-sums/min-of-mins algebra exact
    "q179_mv_rollup_rewrite" ->
      """WITH src AS (
        |  SELECT o_custkey % 37 AS g1, o_orderkey % 11 AS g2,
        |    o_orderkey AS v, o_totalprice AS w
        |  FROM orders)
        |SELECT g1, CAST(count(*) AS BIGINT) AS n2,
        |  CAST(sum(v) AS BIGINT) AS sv2,
        |  min(w) AS mnw2, max(w) AS mxw2
        |FROM src GROUP BY 1 ORDER BY 1""".stripMargin,

    "q180_mv_predicate_rewrite" ->
      """WITH src AS (
        |  SELECT o_custkey % 37 AS g1, o_orderkey % 11 AS g2,
        |    o_orderkey AS v
        |  FROM orders)
        |SELECT g2, CAST(count(*) AS BIGINT) AS n2,
        |  CAST(sum(v) AS BIGINT) AS sv2
        |FROM src WHERE g1 % 2 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the avg must equal the direct one exactly (integer-valued w ⇒
    // order-exact double sums), the HAVING must filter identically
    "q181_mv_avg_having" ->
      """WITH src AS (
        |  SELECT o_custkey % 37 AS g1, o_orderkey % 11 AS g2,
        |    o_orderkey AS v, CAST(o_orderkey % 97 AS DOUBLE) AS w
        |  FROM orders)
        |SELECT g1, avg(w) AS aw, CAST(sum(v) AS BIGINT) AS sv2
        |FROM src GROUP BY 1 HAVING sum(v) % 7 < 4
        |ORDER BY 1""".stripMargin,

    // both sides converge to the drift-promoted live state: narrow
    // rows carry NULL o_custkey, the keyed delete removes every row
    // whose key the tombstones name
    "q182_cdf_across_drift" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 3 AS e FROM orders),
        |v1 AS (SELECT o_orderkey, o_totalprice,
        |    CAST(NULL AS BIGINT) AS o_custkey
        |  FROM orders, b WHERE o_orderkey BETWEEN lo AND lo + e),
        |v2 AS (SELECT o_orderkey, o_totalprice, o_custkey
        |  FROM orders, b WHERE o_orderkey > lo + e),
        |kept AS (SELECT * FROM (SELECT * FROM v1
        |  UNION ALL SELECT * FROM v2) WHERE o_orderkey % 5 <> 0)
        |SELECT 'replica' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM kept
        |UNION ALL
        |SELECT 'source', o_orderkey, o_custkey, o_totalprice FROM kept
        |ORDER BY side, o_orderkey""".stripMargin,

    "q172_mv_query_rewrite" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE NOT (l_quantity < 5)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q173_metadata_only_agg" ->
      """SELECT 'all' AS phase, count(*) AS n,
        |  min(l_orderkey) AS mnk, max(l_orderkey) AS mxk,
        |  min(l_quantity) AS mnq, max(l_quantity) AS mxq
        |FROM lineitem
        |UNION ALL
        |SELECT 'cow', count(*), min(l_orderkey), max(l_orderkey),
        |  min(l_quantity), max(l_quantity)
        |FROM lineitem WHERE NOT (l_quantity < 10)
        |UNION ALL
        |SELECT 'mor', count(*), min(l_orderkey), max(l_orderkey),
        |  min(l_quantity), max(l_quantity)
        |FROM lineitem
        |WHERE NOT (l_quantity < 10) AND NOT (l_quantity > 45)
        |ORDER BY phase""".stripMargin,

    "q174_sql_reorg_purge" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE NOT (o_orderkey % 4 = 1 AND o_custkey % 3 = 0)
        |ORDER BY o_orderkey, o_custkey, o_totalprice""".stripMargin,

    "q175_sql_merge_generated" ->
      """WITH base AS (
        |  SELECT o_orderkey, max(o_totalprice) AS p FROM orders
        |  GROUP BY 1),
        |m1 AS (
        |  SELECT o_orderkey, p AS bp,
        |    CASE WHEN o_orderkey % 5 = 0 THEN p * 2 ELSE p END AS p
        |  FROM base
        |  UNION ALL
        |  SELECT -o_orderkey - 1, CAST(NULL AS DOUBLE), 200000.0
        |  FROM base WHERE o_orderkey % 7 = 1),
        |m2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey >= 0 AND o_orderkey % 9 = 2
        |         THEN bp * 3 ELSE p END AS p
        |  FROM m1
        |  UNION ALL
        |  SELECT -999, 999999.0)
        |SELECT o_orderkey, p AS o_totalprice,
        |  CASE WHEN p >= 150000 THEN 'high' ELSE 'low' END AS tier
        |FROM m2 ORDER BY o_orderkey, o_totalprice""".stripMargin,

    "q176_sql_replace_where" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 4 <> 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 500000
        |FROM orders WHERE o_orderkey % 4 = 1 AND o_custkey % 2 = 0
        |ORDER BY o_orderkey, o_custkey, o_totalprice""".stripMargin,

    "q163_sql_deep_clone" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(o_orderkey % 4 AS VARCHAR) AS bucket
        |FROM orders WHERE o_orderkey % 7 <> 3
        |ORDER BY o_orderkey""".stripMargin,

    "q162_sql_identity_generated" ->
      """WITH src AS (SELECT o_orderkey, o_totalprice FROM orders),
        |e AS (SELECT o_orderkey, o_totalprice,
        |        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        |      FROM src WHERE o_orderkey % 2 = 0),
        |o AS (SELECT o_orderkey, o_totalprice,
        |        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
        |      FROM src WHERE o_orderkey % 2 = 1),
        |u AS (
        |  SELECT 100 + 3 * rn AS row_id, o_orderkey, o_totalprice
        |  FROM e
        |  UNION ALL
        |  SELECT 100 + 3 * (SELECT count(*) FROM e) + 3 * rn,
        |    o_orderkey, o_totalprice
        |  FROM o)
        |SELECT row_id, o_orderkey, o_totalprice,
        |  CAST(o_orderkey % 10 AS INT) AS bucket, 'tpch' AS src
        |FROM u ORDER BY row_id""".stripMargin,

    "q160_sql_merge_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END
        |    AS o_totalprice
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, o_totalprice
        |FROM base WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    "q159_sql_merge_full" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |cdc AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 3 = 2)
        |SELECT 'cdc' AS side, * FROM cdc
        |UNION ALL
        |SELECT 'sync', o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice ELSE 0.0 END
        |FROM cdc WHERE o_orderkey < 1000000
        |ORDER BY side, o_orderkey""".stripMargin,

    "q150_sql_maintenance" ->
      """WITH kept AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_custkey % 10 <> 3)
        |SELECT 'live' AS side, * FROM kept
        |UNION ALL
        |SELECT 'v5', * FROM kept WHERE o_orderkey % 7 <> 3
        |ORDER BY side, o_orderkey""".stripMargin,

    "q148_sql_tblproperties" ->
      """SELECT 'prop:pii' AS k, 'true' AS v
        |UNION ALL
        |SELECT 'rows', CAST(count(*) AS VARCHAR) FROM orders
        |ORDER BY k""".stripMargin,

    "q147_sql_constraints" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |UNION ALL SELECT -1, -1, 1.0
        |UNION ALL SELECT -2, -2, -5.0
        |ORDER BY o_orderkey""".stripMargin,

    "q146_sql_time_travel" ->
      """WITH b AS (SELECT min(o_orderkey)
        |    + (max(o_orderkey) - min(o_orderkey)) // 2 AS mid
        |  FROM orders),
        |v1 AS (SELECT o_totalprice FROM orders, b
        |  WHERE o_orderkey <= mid)
        |SELECT 'v1' AS side, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |    AS total FROM v1
        |UNION ALL
        |SELECT 'ts', count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |FROM v1
        |UNION ALL
        |SELECT 'live', count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |FROM orders
        |ORDER BY side""".stripMargin,

    "q145_bloom_point_lookup" ->
      """SELECT doc_id, lang || '-' || doc_id AS doc_key, lang, n_chars
        |FROM documents WHERE doc_id = 42 OR doc_id IN (5, 6, 7)
        |ORDER BY doc_id""".stripMargin,

    "q144_sql_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' AND o_orderkey % 4 = 1
        |    THEN o_custkey + 7 ELSE o_custkey END AS o_custkey,
        |  CASE WHEN o_orderstatus = 'F' AND o_orderkey % 4 = 1
        |    THEN o_totalprice * 2.0 + o_custkey
        |    ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q14_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q15_union_insert" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM (
        | SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        | UNION ALL
        | (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |  EXCEPT
        |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')
        |) t ORDER BY o_orderkey""".stripMargin,

    "q16_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
        |FROM events ORDER BY event_id""".stripMargin,

    "q17_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |   PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q18_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q19_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | substring(p_type, 1, 6) AS type_prefix,
        | concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q20_interval_windows" ->
      """SELECT CAST(floor(CAST(date_diff('day', DATE '1995-01-01',
        |   CAST(o_orderdate AS DATE)) AS DOUBLE) / 90.0) AS BIGINT) AS window_id,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_event_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_range_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_within_30d
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "q23_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        | (SELECT max(l.ts) FROM events l
        |  WHERE l.user_id = e.user_id AND l.event_type = 'click'
        |    AND l.ts <= e.ts) AS last_click_ts
        |FROM events e WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,

    "q24_left_outer_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE),
        |          0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q25_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,

    "q26_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q27_lag_lead" ->
      """SELECT event_id, user_id, ts, value,
        | lag(value) OVER w AS prev_value,
        | lead(value) OVER w AS next_value,
        | CAST(row_number() OVER w AS BIGINT) AS rn
        |FROM events WHERE user_id <= 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin,

    "q28_pivot_status" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q29_date_funcs" ->
      """SELECT o_orderkey,
        | year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        | day(o_orderdate) AS dom,
        | CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS due_ts,
        | CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom_ts
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q30_explode_tokens" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        | WHERE doc_id < 200)
        |SELECT doc_id, unnest(range(0, len(tk))) AS pos,
        | unnest(tk) AS token
        |FROM toks ORDER BY doc_id, pos""".stripMargin,

    "q31_regexp" ->
      """SELECT p_partkey,
        | regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
        | regexp_replace(p_type, ' ', '_', 'g') AS type_underscored,
        | regexp_matches(p_name, 'red|blue') AS has_color
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q32_null_funcs" ->
      """SELECT c_custkey,
        | CASE WHEN c_acctbal < 0 THEN 'neg'
        |      WHEN c_acctbal < 5000 THEN 'mid'
        |      ELSE 'high' END AS bal_band,
        | coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q33_lake_pipeline" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM (
        | SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        | FROM customer WHERE c_acctbal > 0) t
        |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,

    "q34_delta_write_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q35_stream_hourly" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |a AS (SELECT date_trunc('hour', ts) AS hour_start,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        | FROM events GROUP BY 1)
        |SELECT hour_start, n, total_value FROM a, m
        |WHERE hour_start + INTERVAL 1 HOUR <= mx
        |ORDER BY hour_start""".stripMargin,

    "q36_schema_unify" ->
      """SELECT c_custkey,
        | CASE WHEN c_custkey % 2 = 0
        |   THEN CAST(CAST(c_acctbal AS REAL) AS DOUBLE)
        |   ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q37_timefly_restore" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "q38_repartition" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q39_csv_roundtrip" ->
      """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q102_orc_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // added = the new third minus the deleted residue; removed = v1
    // rows the delete took
    "q118_release_diff" ->
      """SELECT 'added' AS change, source, count(*) AS n
        |FROM documents WHERE doc_id % 3 = 2 AND doc_id % 7 <> 0
        |GROUP BY source
        |UNION ALL
        |SELECT 'removed', source, count(*)
        |FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 7 = 0
        |GROUP BY source
        |ORDER BY change, source""".stripMargin,

    // the release datasheet over the curated survivors: min-id-per-
    // text keepers above the token floor, counted per (source, lang)
    "q116_release_lifecycle" ->
      """WITH lake AS (
        |  SELECT doc_id, text, source, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, source, lang FROM documents
        |  WHERE doc_id % 5 = 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM lake GROUP BY text),
        |surv AS (
        |  SELECT l.source, l.lang,
        |    CAST(len(string_split(l.text, ' ')) AS BIGINT) AS nt
        |  FROM lake l JOIN keep k ON l.doc_id = k.doc_id
        |  WHERE len(string_split(l.text, ' ')) >= 30)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM surv GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    // the keepers: min doc_id per text over base ∪ planted duplicates
    "q112_dedup_in_place" ->
      """WITH lake AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents
        |  WHERE doc_id % 5 = 0)
        |SELECT min(doc_id) AS doc_id, text FROM lake
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    // both views = the survivors of the two orderkey bands, once each
    "q111_mor_delete" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM orders),
        |x AS (SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders, b
        |  WHERE NOT (o_orderkey BETWEEN lo AND lo + e)
        |    AND NOT (o_orderkey BETWEEN lo + 3*e AND lo + 4*e))
        |SELECT 'applied' AS side, * FROM x
        |UNION ALL
        |SELECT 'mor', * FROM x
        |ORDER BY side, o_orderkey""".stripMargin,

    // same delta union as q108, minus the hidden column
    "q109_column_drop" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey < 300 OR o_custkey >= 1400
        |ORDER BY o_orderkey""".stripMargin,

    // base rows + the delta batch's novel keys, the price column under
    // its logical name; replayed base keys dropped by the delta gate
    "q108_column_rename" ->
      """SELECT o_orderkey, o_custkey, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey < 300 OR o_custkey >= 1400
        |ORDER BY o_orderkey""".stripMargin,

    // per-status row counts from the data; n_files = ceil(rows/500)
    // under the single-task capped write
    "q106_partitions_table" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
        | CAST(ceil(count(*) / 500.0) AS BIGINT) AS n_files,
        | CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY partition""".stripMargin,

    // the union of the four disjoint slices — whatever order the race
    // resolved, the committed state is this relation
    "q120_commit_race" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey < 100 OR o_custkey BETWEEN 400 AND 450
        |   OR o_custkey BETWEEN 800 AND 850 OR o_custkey >= 1400
        |ORDER BY o_orderkey""".stripMargin,

    // the three streamed appends tile [lo, hi]: version = which band
    // the key fell in, rows = all of orders exactly once
    "q122_commitlog_stream" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM orders)
        |SELECT CAST(CASE WHEN o_orderkey <= lo + 2*e THEN 1
        |                 WHEN o_orderkey <= lo + 5*e THEN 2
        |                 ELSE 3 END AS BIGINT) AS commit_version,
        |  o_orderkey, o_custkey, o_totalprice
        |FROM orders, b
        |ORDER BY commit_version, o_orderkey""".stripMargin,

    // the three appended bands tile [lo, hi] exactly, so live = all
    // keys minus the tombstoned band; range = the predicate band minus
    // its tombstoned half; v3 = the pre-delete state, price under its
    // logical name everywhere
    "q121_commitlog_reader_surface" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e,
        |  ((max(o_orderkey) - min(o_orderkey)) // 8) // 2 AS e2
        |  FROM orders),
        |src AS (SELECT o_orderkey, o_custkey, o_totalprice AS price
        |  FROM orders),
        |liv AS (SELECT src.* FROM src, b
        |  WHERE NOT (o_orderkey BETWEEN lo + 3*e AND lo + 3*e + e2))
        |SELECT 'live' AS side, * FROM liv
        |UNION ALL
        |SELECT 'range', liv.* FROM liv, b
        |  WHERE o_orderkey BETWEEN lo + 3*e AND lo + 4*e
        |UNION ALL
        |SELECT 'v3', * FROM src
        |ORDER BY side, o_orderkey""".stripMargin,

    // live state = base minus the deleted band plus the shifted
    // inserts, read back from both sides
    // two coalesced inserts = two data files; rows = band A twice
    "q157_sql_table_files" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders)
        |SELECT CAST(2 AS BIGINT) AS n_files,
        |  2 * (SELECT count(*) FROM orders, b
        |   WHERE o_orderkey <= lo + e) AS n_rows""".stripMargin,

    // the DuckDB twin replays the identical fold arithmetic; the
    // window count is relational
    "q156_sql_functions" ->
      s"""SELECT doc_id,
         | ${sqlCharFold("text", 131)} AS fp131,
         | ${sqlCharFold("text", 137)} AS fp137,
         | CAST(greatest(len(string_split(text, ' ')) - 2, 0)
         |   AS INTEGER) AS n_windows
         |FROM documents ORDER BY doc_id""".stripMargin,

    // band A as-is plus band A's keys shifted beyond INT range;
    // custkey stays INT on both sides
    "q155_sql_type_widening" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders)
        |SELECT o_orderkey,
        |  CAST(o_custkey AS INTEGER) AS o_custkey, o_totalprice
        |FROM orders, b WHERE o_orderkey <= lo + e
        |UNION ALL
        |SELECT o_orderkey + 5000000000,
        |  CAST(o_custkey AS INTEGER), o_totalprice
        |FROM orders, b WHERE o_orderkey <= lo + e
        |ORDER BY o_orderkey""".stripMargin,

    // base = bands A+B minus the %3 band; clone = bands A+B plus C
    "q154_sql_shallow_clone" ->
      """WITH bnd AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders),
        |ab AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders, bnd WHERE o_orderkey <= lo + 2 * e),
        |c AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders, bnd
        |  WHERE o_orderkey > lo + 2 * e AND o_orderkey <= lo + 3 * e)
        |SELECT 'b' AS side, * FROM ab WHERE o_orderkey % 3 <> 0
        |UNION ALL SELECT 'c' AS side, * FROM ab
        |UNION ALL SELECT 'c' AS side, * FROM c
        |ORDER BY side, o_orderkey""".stripMargin,

    // the replica: every row of bands A+B+C exactly once
    // final source state: all three mod-3 bands (= every order),
    // minus the %5 delete, with the %7-custkey price bump applied
    "e35_stream_mv_maintenance" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT o_custkey, count(*) AS n, max(p) AS mx
        |FROM f GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "e34_stream_replication" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey <= lo + 3 * e
        |ORDER BY o_orderkey""".stripMargin,

    // the streamed feed == the batch feed: bands A+B+C tagged insert,
    // the %3 rows of A+B tagged delete (C lands after the delete)
    "e33_stream_source" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders),
        |ab AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |  WHERE o_orderkey <= lo + 2 * e),
        |c AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |  WHERE o_orderkey > lo + 2 * e AND o_orderkey <= lo + 3 * e)
        |SELECT 'delete' AS _op, * FROM ab WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'insert' AS _op, * FROM ab
        |UNION ALL
        |SELECT 'insert' AS _op, * FROM c
        |ORDER BY _op, o_orderkey""".stripMargin,

    // the feed: every band row tagged insert, plus the %3 band rows
    // tagged delete as full pre-images
    "q153_sql_cdc_lifecycle" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders),
        |band AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |  WHERE o_orderkey <= lo + 2 * e)
        |SELECT 'delete' AS _op, * FROM band WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'insert' AS _op, * FROM band
        |ORDER BY _op, o_orderkey""".stripMargin,

    "q152_dv_change_feed" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders),
        |live AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |  WHERE o_orderkey <= lo + 2 * e AND o_orderkey % 7 <> 3
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, o_custkey, o_totalprice
        |  FROM orders, b
        |  WHERE o_orderkey BETWEEN lo AND lo + e // 2)
        |SELECT 'source' AS side, * FROM live
        |UNION ALL
        |SELECT 'replica', * FROM live
        |ORDER BY side, o_orderkey""".stripMargin,

    "q134_commit_replication" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM orders),
        |live AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |  WHERE NOT (o_orderkey BETWEEN lo AND lo + e)
        |  UNION ALL
        |  SELECT o_orderkey + hi + 1, o_custkey, o_totalprice
        |  FROM orders, b
        |  WHERE o_orderkey BETWEEN lo AND lo + e // 2)
        |SELECT 'source' AS side, * FROM live
        |UNION ALL
        |SELECT 'replica', * FROM live
        |ORDER BY side, o_orderkey""".stripMargin,

    // live = the whole key range with the merge applied (+1000 on the
    // first eighth); pre = the two appended bands before the merge;
    // inc = the post-merge tail append only
    "q135_commitlog_upsert" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM src),
        |live AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey <= lo + e
        |      THEN o_totalprice + 1000.0 ELSE o_totalprice END
        |      AS o_totalprice
        |  FROM src, b),
        |pre AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey <= lo + 6 * e),
        |inc AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey > lo + 7 * e)
        |SELECT 'live' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM live
        |UNION ALL
        |SELECT 'pre', o_orderkey, o_custkey, o_totalprice FROM pre
        |UNION ALL
        |SELECT 'inc', o_orderkey, o_custkey, o_totalprice FROM inc
        |ORDER BY side, o_orderkey""".stripMargin,

    // live = the restored first half plus the post-restore tail; tip =
    // the abandoned pre-restore state (delete applied, bad append in);
    // inc = the post-restore tail only
    "q136_commitlog_restore" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM src),
        |del AS (SELECT o_orderkey FROM src, b
        |  WHERE o_orderkey BETWEEN lo AND lo + e // 4),
        |live AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b
        |  WHERE s.o_orderkey <= lo + 2 * e OR s.o_orderkey > lo + 3 * e),
        |tip AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey <= lo + 3 * e
        |    AND s.o_orderkey NOT IN (SELECT o_orderkey FROM del)),
        |inc AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey > lo + 3 * e)
        |SELECT 'live' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM live
        |UNION ALL
        |SELECT 'tip', o_orderkey, o_custkey, o_totalprice FROM tip
        |UNION ALL
        |SELECT 'inc', o_orderkey, o_custkey, o_totalprice FROM inc
        |ORDER BY side, o_orderkey""".stripMargin,

    // source = the three appended quarters minus the delete, plus the
    // post-clone tail; clone = the same base with the clone-side merge
    // (+500 on the second quarter) and WITHOUT the source's tail
    "q137_commitlog_clone" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM src),
        |del AS (SELECT o_orderkey FROM src, b
        |  WHERE o_orderkey BETWEEN lo AND lo + e // 4),
        |base AS (SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey <= lo + 3 * e
        |    AND s.o_orderkey NOT IN (SELECT o_orderkey FROM del)),
        |source_side AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM base
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey > lo + 3 * e),
        |clone_side AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey > (SELECT lo + e FROM b)
        |        AND o_orderkey <= (SELECT lo + 2 * e FROM b)
        |      THEN o_totalprice + 500.0 ELSE o_totalprice END
        |      AS o_totalprice
        |  FROM base)
        |SELECT 'source' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM source_side
        |UNION ALL
        |SELECT 'clone', o_orderkey, o_custkey, o_totalprice
        |FROM clone_side
        |ORDER BY side, o_orderkey""".stripMargin,

    // keyed last-write-wins in arrival order: the first quarter ends
    // on b2's +7 over the ORIGINAL price, everything else the streamed
    // +100 (b1) or the founding snapshot
    "q138_commitlog_stream_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 4 AS e FROM src)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey <= lo + e THEN o_totalprice + 7.0
        |    WHEN o_orderkey > lo + e AND o_orderkey <= lo + 3 * e
        |      THEN o_totalprice + 100.0
        |    ELSE o_totalprice END AS o_totalprice
        |FROM src, b WHERE o_orderkey <= lo + 3 * e
        |ORDER BY o_orderkey""".stripMargin,

    // identical contract to q123, replayed against the commit log:
    // accepted rows merge (updates in place, inserts added),
    // violators (key % 7 == 0, both flanks) quarantine with the rule
    // name, rejected updates keep their keys' original rows
    "q139_commitlog_merge_screened" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM src),
        |upd AS (SELECT o_orderkey, o_custkey,
        |    CAST(-1.0 AS DOUBLE) AS o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND hi),
        |ins AS (SELECT o_orderkey + hi0 + 1 AS o_orderkey, o_custkey,
        |    CAST(0.5 AS DOUBLE) AS o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND hi),
        |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |acc AS (SELECT * FROM batch WHERE o_orderkey % 7 <> 0),
        |quar AS (SELECT * FROM batch WHERE o_orderkey % 7 = 0),
        |fin AS (
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice FROM src s
        |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM acc)
        |  UNION ALL SELECT * FROM acc)
        |SELECT 'lake' AS side, o_orderkey, o_custkey, o_totalprice,
        |  '' AS violated FROM fin
        |UNION ALL
        |SELECT 'quarantine', o_orderkey, o_custkey, o_totalprice,
        |  'key_mod' FROM quar
        |ORDER BY side, o_orderkey""".stripMargin,

    // row-preserving whatever the band: the full table reads back
    "q132_commitlog_optimize_where" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // the four commits' metrics replayed from the same slices
    "q133_commit_history" ->
      """WITH b AS (SELECT min(o_orderkey)
        |    + (max(o_orderkey) - min(o_orderkey)) // 2 AS mid
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, 'append' AS kind,
        |  CAST(1 AS BIGINT) AS n_files,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
        |   WHERE o_orderkey <= mid) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_removed
        |UNION ALL SELECT 2, 'append', 1,
        |  (SELECT count(*) FROM orders, b WHERE o_orderkey > mid), 0
        |UNION ALL SELECT 3, 'delete', 1, 1, 0
        |UNION ALL SELECT 4, 'rewrite', 1,
        |  (SELECT count(*) FROM orders), 2
        |ORDER BY version""".stripMargin,

    // the probe band, unchanged by truncation and the layout rewrite
    "q131_commit_stats_in_log" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey BETWEEN lo + 3*e AND lo + 4*e
        |ORDER BY o_orderkey""".stripMargin,

    // the adopted base plus the post-adoption append
    "q119_commit_adopt" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey < 300 OR o_custkey >= 1400
        |ORDER BY o_orderkey""".stripMargin,

    // v3 = the replace's rows; live adds the post-boundary append
    "q115_commit_retention" ->
      """SELECT 'v3' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey >= 1400
        |UNION ALL
        |SELECT 'live', o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey >= 1400 OR o_custkey BETWEEN 300 AND 320
        |ORDER BY side, o_orderkey""".stripMargin,

    // inc = what landed after v1; full = everything at v3
    "q114_commit_read_since" ->
      """SELECT 'inc' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 700 AND 720 OR o_custkey >= 1400
        |UNION ALL
        |SELECT 'full', o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey < 100 OR o_custkey BETWEEN 700 AND 720
        |   OR o_custkey >= 1400
        |ORDER BY side, o_orderkey""".stripMargin,

    // the committed ledger (orphan excluded) joined to the dimension
    "q113_catalog_commitlog" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_custkey < 100 OR o_custkey BETWEEN 700 AND 720
        |ORDER BY o_orderkey""".stripMargin,

    // v2 = the checkpointed prefix; live = the post-checkpoint
    // replace's rows plus the append stacked on it
    "q104_commit_checkpoint" ->
      """SELECT 'v2' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey < 100 OR o_custkey BETWEEN 700 AND 720
        |UNION ALL
        |SELECT 'live', o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey >= 1400 OR o_custkey BETWEEN 200 AND 220
        |ORDER BY side, o_orderkey""".stripMargin,

    // v2 = the two appends; live = the replace's rows plus the append
    // that landed after it — the conflicted stale replace left no trace
    "q103_commit_log" ->
      """SELECT 'v2' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey < 100 OR o_custkey BETWEEN 700 AND 720
        |UNION ALL
        |SELECT 'live', o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey >= 1400 OR o_custkey BETWEEN 300 AND 320
        |ORDER BY side, o_orderkey""".stripMargin,

    "q40_lake_catalog" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,

    "q41_dir_partition" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q42_unify_rewrite" ->
      """SELECT c_custkey,
        | CASE WHEN c_custkey % 2 = 0
        |   THEN CAST(CAST(c_acctbal AS REAL) AS DOUBLE)
        |   ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q43_count_distinct" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q44_sessionize_batch" ->
      """WITH g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (
        | SELECT user_id, ts, value,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS session_id
        | FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        | min(ts) AS first_ts, max(ts) AS last_ts
        |FROM t GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q45_quantiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS q25,
        | quantile_cont(l_quantity, 0.5) AS median,
        | quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q47_math_funcs" ->
      """SELECT c_custkey, abs(c_acctbal) AS abs_bal,
        | CAST(floor(c_acctbal) AS DOUBLE) AS floor_bal,
        | CAST(ceil(c_acctbal) AS DOUBLE) AS ceil_bal,
        | sqrt(abs(c_acctbal)) AS sqrt_bal,
        | CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q48_array_funcs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        | FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        | list_contains(tk, 'the') AS has_the,
        | tk[1] AS first_tok,
        | list_sort(tk)[1] AS min_tok,
        | array_to_string(tk[1:3], ' ') AS head3
        |FROM t ORDER BY doc_id""".stripMargin,

    "q49_string_agg" ->
      """SELECT o_orderpriority,
        | array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
        |   AS statuses,
        | COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q50_sql_passthrough" ->
      """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,

    "q51_region_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |  AS DOUBLE) AS revenue,
        | COUNT(*) AS n
        |FROM region
        | JOIN nation ON r_regionkey = n_regionkey
        | JOIN customer ON n_nationkey = c_nationkey
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q52_json_roundtrip" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,

    "d10_text_normalize" ->
      """WITH n AS (
        | SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        | FROM documents),
        |t AS (SELECT doc_id, norm, string_split(norm, ' ') AS tk FROM n)
        |SELECT doc_id, norm,
        | CAST(len(tk) AS BIGINT) AS n_tokens_norm,
        | array_to_string(list_filter(tk, x -> x NOT IN
        |   ('the','a','an','of','and','to','in','is','it','that')), ' ')
        |  AS no_stop
        |FROM t ORDER BY doc_id""".stripMargin,

    "q105_window_funcs" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        | CAST(ntile(8) OVER w AS BIGINT) AS bucket,
        | CAST(dense_rank() OVER w AS BIGINT) AS drank,
        | percent_rank() OVER w AS prank,
        | cume_dist() OVER w AS cdist,
        | nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q53_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS rolling_1h
        |FROM events WHERE user_id <= 100
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "d11_hash_sample" ->
      s"""WITH h AS (SELECT doc_id, text,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ${sqlCharFold("text", 131)} AS content_hash
         | FROM documents)
         |SELECT doc_id, n_tokens, content_hash FROM h
         |WHERE content_hash % 20 = 0 AND n_tokens >= 30
         |ORDER BY doc_id""".stripMargin,

    "d26_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
        |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
        |    FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_both
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT ida AS doc_id, idb AS container_id,
        | CAST(n_both AS DOUBLE) / CAST(ca.n AS DOUBLE) AS containment
        |FROM inter JOIN cnt ca ON ca.doc_id = ida
        |WHERE CAST(n_both AS DOUBLE) / CAST(ca.n AS DOUBLE) >= 0.7
        |ORDER BY doc_id, container_id""".stripMargin,

    "d20_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |          tk[i+3] || ' ' || tk[i+4])) AS shingle
        |  FROM toks),
        |ev AS (SELECT doc_id AS eval_id, shingle FROM sh
        |       WHERE doc_id % 20 = 7),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 7)
        |SELECT tr.doc_id,
        | count(DISTINCT tr.shingle) AS n_shared,
        | count(DISTINCT ev.eval_id) AS n_eval
        |FROM tr JOIN ev ON tr.shingle = ev.shingle
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // the same 5-gram universe, suites tagged; names fold sorted
    "d47_contam_matrix" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |          tk[i+3] || ' ' || tk[i+4])) AS shingle
        |  FROM toks),
        |ev AS (
        |  SELECT 'mmlu' AS bench, shingle FROM sh WHERE doc_id % 20 = 7
        |  UNION
        |  SELECT 'gsm8k', shingle FROM sh WHERE doc_id % 20 = 13),
        |tr AS (SELECT doc_id, shingle FROM sh
        |       WHERE doc_id % 20 NOT IN (7, 13))
        |SELECT tr.doc_id,
        | array_to_string(list_sort(list(DISTINCT ev.bench)), ',')
        |   AS benchmarks,
        | count(DISTINCT tr.shingle) AS n_shared
        |FROM tr JOIN ev ON tr.shingle = ev.shingle
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    "d24_corpus_datasheet" ->
      """WITH b AS (
        |  SELECT source, lang,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(nt) AS BIGINT) AS n_tokens
        |  FROM b GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        | CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
        | CAST(n_docs AS DOUBLE) /
        |   CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share
        |FROM g ORDER BY source, lang""".stripMargin,

    "d23_substring_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |         u.pos AS pos, u.sh AS sh
        |  FROM (SELECT doc_id, tk,
        |          unnest(list_transform(range(1, greatest(len(tk) - 6, 1)),
        |            i -> {'pos': i - 1,
        |                  'sh': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                    || ' ' || tk[i+3] || ' ' || tk[i+4] || ' '
        |                    || tk[i+5] || ' ' || tk[i+6] || ' '
        |                    || tk[i+7]})) AS u
        |        FROM toks)),
        |hot AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
        |d AS (SELECT w.doc_id, w.n_tokens, w.pos,
        |        lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos)
        |          AS nxt
        |      FROM win w JOIN hot USING (sh))
        |SELECT doc_id, max(n_tokens) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_dup_windows,
        | CAST(sum(CASE WHEN nxt IS NULL THEN 8
        |          ELSE least(nxt - pos, 8) END) AS BIGINT) AS dup_tokens,
        | CAST(sum(CASE WHEN nxt IS NULL THEN 8
        |          ELSE least(nxt - pos, 8) END) AS DOUBLE) /
        |   CAST(max(n_tokens) AS DOUBLE) AS dup_ratio
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d59_phrase_search" -> d59Oracle,
    // index-served phrase search (d61) = d59 served from the persisted
    // positional index; same oracle, so identity is the gate
    "d61_phrase_indexed" -> d59Oracle,

    "d22_rarity_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY doc_id, tok),
        |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY tok)
        |SELECT doc_id,
        | CAST(sum(tf) AS BIGINT) AS n_tokens,
        | CAST(sum(tf * df) AS BIGINT) AS sum_df,
        | CAST(sum(tf * df) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)
        |   AS mean_df
        |FROM tf JOIN dft USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q75_pack_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |   ${sqlCharFold("text", 131)} AS h
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n_tokens, h,
         |   CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |     AS BIGINT) - n_tokens AS start_off
         |  FROM t)
         |SELECT doc_id, n_tokens, h, start_off,
         | start_off // 256 AS first_chunk,
         | (start_off + n_tokens - 1) // 256 AS last_chunk,
         | (start_off + n_tokens - 1) // 256 - start_off // 256 + 1
         |   AS n_chunks,
         | (start_off // 256) // 32 AS shard
         |FROM o ORDER BY doc_id""".stripMargin,

    // the incremental merge must land on the batch-global closure
    "d28_incremental_clusters" -> d09Oracle,

    "d27_pack_by_lang" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |   ${sqlCharFold("text", 131)} AS h
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, lang, n_tokens, h,
         |   CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |     AS BIGINT) - n_tokens AS start_off
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, h, start_off,
         | start_off // 256 AS first_chunk,
         | (start_off + n_tokens - 1) // 256 AS last_chunk,
         | (start_off + n_tokens - 1) // 256 - start_off // 256 + 1
         |   AS n_chunks
         |FROM o ORDER BY doc_id""".stripMargin,

    "d21_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |   ${sqlCharFold("text", 131)} AS h
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n_tokens, h,
         |   CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |     AS BIGINT) - n_tokens AS start_off
         |  FROM t)
         |SELECT doc_id, n_tokens, h, start_off,
         | start_off // 256 AS first_chunk,
         | (start_off + n_tokens - 1) // 256 AS last_chunk,
         | (start_off + n_tokens - 1) // 256 - start_off // 256 + 1
         |   AS n_chunks
         |FROM o ORDER BY doc_id""".stripMargin,

    "d19_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  ${sqlCharFold("text", 131)} AS content_hash
         | FROM documents),
         |r AS (SELECT doc_id, lang, content_hash,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY content_hash, doc_id) AS BIGINT) AS rk
         | FROM h)
         |SELECT doc_id, lang, content_hash, rk FROM r
         |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,

    // sqrt and double division are IEEE-correctly-rounded on both
    // engines; the LCG stays in exact BIGINT range under the pmod
    "d30_mixture_sample" ->
      """WITH c AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY lang),
        |r AS (
        | SELECT lang,
        |  sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE))
        |   AS rate
        | FROM c)
        |SELECT d.doc_id, d.lang, r.rate
        |FROM documents d JOIN r USING (lang)
        |WHERE (((d.doc_id % 2147483647) * 1103515245 + 12345)
        |       % 2147483647) % 1000000
        |      < CAST(floor(r.rate * 1000000) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,

    // alpha = 0.75: rate = ratio^(1/4) written as sqrt(sqrt(...)) on
    // BOTH sides — each sqrt correctly rounded, so the composition is
    // bit-identical cross-engine (pow would not be)
    "d31_mixture_temp" ->
      """WITH c AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY lang),
        |r AS (
        | SELECT lang,
        |  sqrt(sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) /
        |            CAST(n AS DOUBLE)))
        |   AS rate
        | FROM c)
        |SELECT d.doc_id, d.lang, r.rate
        |FROM documents d JOIN r USING (lang)
        |WHERE (((d.doc_id % 2147483647) * 1103515245 + 12345)
        |       % 2147483647) % 1000000
        |      < CAST(floor(r.rate * 1000000) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,

    // bit-quantized cross-entropy: floor-log2 = length(bin(x))-1 on both
    // engines — exact integer arithmetic, no libm log anywhere
    "d32_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |rbg AS (
        |  SELECT u AS bg FROM (
        |    SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
        |      i -> t[i] || ' ' || t[i+1])) AS u
        |    FROM tk WHERE doc_id % 10 = 3)),
        |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
        |       FROM rbg GROUP BY bg),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1,
        |        CAST(sum(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |      FROM (SELECT unnest(t) AS tok FROM tk
        |            WHERE doc_id % 10 = 3)),
        |occ AS (
        |  SELECT doc_id, u AS bg, CAST(count(*) AS BIGINT) AS occ
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, greatest(len(t), 1)),
        |            i -> t[i] || ' ' || t[i+1])) AS u
        |        FROM tk)
        |  GROUP BY doc_id, u),
        |j AS (
        |  SELECT o.doc_id, o.occ,
        |   (length(bin(coalesce(c1.c1, 0) + (SELECT v FROM v))) - 1)
        |   - (length(bin(coalesce(c2.c2, 0) + 1)) - 1) AS bits
        |  FROM occ o
        |  LEFT JOIN c2 ON o.bg = c2.bg
        |  LEFT JOIN c1 ON string_split(o.bg, ' ')[1] = c1.w1)
        |SELECT doc_id,
        | CAST(sum(occ) AS BIGINT) AS n_bigrams,
        | CAST(sum(occ * bits) AS BIGINT) AS total_bits,
        | CAST(sum(occ * bits) AS DOUBLE) / CAST(sum(occ) AS DOUBLE)
        |   AS bits_per_token
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the d32 model wrapped in the per-language tercile window; ties
    // break on doc_id in both engines
    "d56_ccnet_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |rbg AS (
        |  SELECT u AS bg FROM (
        |    SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
        |      i -> t[i] || ' ' || t[i+1])) AS u
        |    FROM tk WHERE doc_id % 10 = 3)),
        |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
        |       FROM rbg GROUP BY bg),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1,
        |        CAST(sum(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |      FROM (SELECT unnest(t) AS tok FROM tk
        |            WHERE doc_id % 10 = 3)),
        |occ AS (
        |  SELECT doc_id, u AS bg, CAST(count(*) AS BIGINT) AS occ
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, greatest(len(t), 1)),
        |            i -> t[i] || ' ' || t[i+1])) AS u
        |        FROM tk)
        |  GROUP BY doc_id, u),
        |j AS (
        |  SELECT o.doc_id, o.occ,
        |   (length(bin(coalesce(c1.c1, 0) + (SELECT v FROM v))) - 1)
        |   - (length(bin(coalesce(c2.c2, 0) + 1)) - 1) AS bits
        |  FROM occ o
        |  LEFT JOIN c2 ON o.bg = c2.bg
        |  LEFT JOIN c1 ON string_split(o.bg, ' ')[1] = c1.w1),
        |s AS (SELECT doc_id,
        |   CAST(sum(occ) AS BIGINT) AS n_bigrams,
        |   CAST(sum(occ * bits) AS BIGINT) AS total_bits,
        |   CAST(sum(occ * bits) AS DOUBLE) / CAST(sum(occ) AS DOUBLE)
        |     AS bpt
        |  FROM j GROUP BY doc_id)
        |SELECT s.doc_id, d.lang, s.n_bigrams, s.total_bits,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang
        |    ORDER BY s.bpt, s.doc_id) AS BIGINT) AS tercile,
        |  CASE ntile(3) OVER (PARTITION BY d.lang
        |    ORDER BY s.bpt, s.doc_id)
        |   WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |   ELSE 'tail' END AS bucket
        |FROM s JOIN documents d ON s.doc_id = d.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "d57_bm25_retrieval" -> d57Oracle,
    // index-served BM25 (d60) answers the SAME question as the direct
    // operator — the oracle is d57's, so "hash-identical to d57" is
    // literally the gate
    "d60_bm25_indexed" -> d57Oracle,
    // stream-maintained == built-once == direct: same oracle again
    "d62_text_index_stream" -> d57Oracle,

    // d57's BM25 at poolK=20 + e01's double-cast cosine arm, fused
    // with the same integer RRF arithmetic (2^40 div (60 + rank))
    "d58_hybrid_rrf" -> {
      def fine(e: String): String =
        s"(256 * (length(bin($e)) - 1) + " +
          s"CAST(floor(CAST(($e) * 256 AS DOUBLE) / " +
          s"power(2, length(bin($e)) - 1)) AS BIGINT) - 256)"
      s"""WITH t AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS term
         | FROM documents),
         |tf AS (
         | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         | FROM t GROUP BY 1, 2),
         |dl AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         | FROM t GROUP BY 1),
         |dfq AS (
         | SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
         | GROUP BY 1),
         |tot AS (
         | SELECT CAST(sum(dl) AS BIGINT) AS l,
         |   CAST(count(*) AS BIGINT) AS n FROM dl),
         |qt AS (
         | SELECT DISTINCT doc_id AS qid, u AS term FROM (
         |  SELECT doc_id,
         |    unnest(array_slice(string_split(text, ' '), 1, 5)) AS u
         |  FROM documents WHERE doc_id % 250 = 7)),
         |sc AS (
         | SELECT qt.qid, tf.doc_id,
         |  (${fine("tot.n")} - ${fine("dfq.df")}) *
         |   ((tf.tf * 22 * 1048576 * tot.l) //
         |    (tf.tf * 10 * tot.l + 3 * tot.l + 9 * dl.dl * tot.n)) AS c
         | FROM qt
         | JOIN tf USING (term)
         | JOIN dl ON tf.doc_id = dl.doc_id
         | JOIN dfq ON tf.term = dfq.term, tot),
         |s AS (
         | SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_q
         | FROM sc GROUP BY 1, 2),
         |bm AS (
         | SELECT qid, doc_id AS did,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS r_bm25
         | FROM s
         | QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY score_q DESC, doc_id ASC) <= 20),
         |v AS (
         | SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         | FROM embeddings),
         |nn AS (
         | SELECT vec_id, emb,
         |  sqrt(list_reduce(list_transform(emb, x -> x * x),
         |       (acc, x) -> acc + x)) AS nrm
         | FROM v),
         |dn AS (
         | SELECT id1 AS qid, id2 AS did,
         |  CAST(row_number() OVER (PARTITION BY id1
         |    ORDER BY sim DESC, id2 ASC) AS BIGINT) AS r_dense
         | FROM (
         |  SELECT q.vec_id AS id1, cc.vec_id AS id2,
         |   list_reduce(list_transform(range(1, 65),
         |     i -> q.emb[i] * cc.emb[i]), (acc, x) -> acc + x) /
         |   (q.nrm * cc.nrm) AS sim
         |  FROM nn q JOIN nn cc
         |   ON q.vec_id % 250 = 7 AND q.vec_id <> cc.vec_id)
         | QUALIFY row_number() OVER (PARTITION BY id1
         |    ORDER BY sim DESC, id2 ASC) <= 20),
         |f AS (
         | SELECT coalesce(bm.qid, dn.qid) AS qid,
         |  coalesce(bm.did, dn.did) AS did, bm.r_bm25, dn.r_dense,
         |  coalesce(1099511627776 // (60 + bm.r_bm25), 0) +
         |  coalesce(1099511627776 // (60 + dn.r_dense), 0) AS rrf_q
         | FROM bm FULL OUTER JOIN dn
         |  ON bm.qid = dn.qid AND bm.did = dn.did)
         |SELECT qid, did AS doc_id, r_bm25, r_dense, rrf_q,
         | CAST(row_number() OVER (PARTITION BY qid
         |   ORDER BY rrf_q DESC, did ASC) AS BIGINT) AS rank
         |FROM f
         |QUALIFY row_number() OVER (PARTITION BY qid
         |   ORDER BY rrf_q DESC, did ASC) <= 10
         |ORDER BY qid, rank""".stripMargin
    },

    // first occurrence per repeated window = row_number = 1 over
    // (doc, pos) — the same ordering min(struct) picks on the Spark side
    "d33_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, greatest(len(tk) - 6, 1)),
        |            i -> {'pos': i - 1,
        |                  'sh': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                    || ' ' || tk[i+3] || ' ' || tk[i+4] || ' '
        |                    || tk[i+5] || ' ' || tk[i+6] || ' '
        |                    || tk[i+7]})) AS u
        |        FROM toks)),
        |hot AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
        |occ AS (SELECT w.doc_id, w.pos, w.sh
        |        FROM win w JOIN hot USING (sh)),
        |r AS (SELECT doc_id, pos FROM (
        |        SELECT doc_id, pos, row_number() OVER (PARTITION BY sh
        |          ORDER BY doc_id, pos) AS rn FROM occ) z
        |      WHERE rn > 1),
        |rp AS (SELECT DISTINCT doc_id, u AS p
        |       FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS u
        |             FROM r) y),
        |tok AS (
        |  SELECT doc_id, u.p AS p, u.tok AS tok
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(tk) + 1),
        |            i -> {'p': i - 1, 'tok': tk[i]})) AS u
        |        FROM toks) x),
        |g AS (SELECT t.doc_id, t.p, t.tok, r2.p IS NOT NULL AS rm
        |      FROM tok t LEFT JOIN rp r2
        |        ON t.doc_id = r2.doc_id AND t.p = r2.p)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | coalesce(string_agg(CASE WHEN NOT rm THEN tok END,
        |   ' ' ORDER BY p), '') AS clean_text
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d34_domain_cap" ->
      s"""WITH h AS (SELECT doc_id, source,
         |  ${sqlCharFold("text", 131)} AS content_hash
         | FROM documents),
         |r AS (SELECT doc_id, source, content_hash,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY content_hash, doc_id) AS BIGINT) AS rk
         | FROM h)
         |SELECT doc_id, source, content_hash, rk FROM r
         |WHERE rk <= 15 ORDER BY source, rk""".stripMargin,

    // d33's window/removal/reassembly plan against the HELD-OUT window
    // set; no first-keeper — every occurrence of a leaked span dies
    "d39_decontam_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |ho AS (SELECT DISTINCT u AS sh FROM (
        |  SELECT unnest(list_transform(range(1, greatest(len(tk) - 6, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |      || ' ' || tk[i+3] || ' ' || tk[i+4] || ' '
        |      || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS u
        |  FROM toks WHERE doc_id % 20 = 7)),
        |corp AS (SELECT doc_id, tk FROM toks WHERE doc_id % 20 <> 7),
        |win AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, greatest(len(tk) - 6, 1)),
        |            i -> {'pos': i - 1,
        |                  'sh': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                    || ' ' || tk[i+3] || ' ' || tk[i+4] || ' '
        |                    || tk[i+5] || ' ' || tk[i+6] || ' '
        |                    || tk[i+7]})) AS u
        |        FROM corp)),
        |r AS (SELECT w.doc_id, w.pos FROM win w JOIN ho USING (sh)),
        |rp AS (SELECT DISTINCT doc_id, u AS p
        |       FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS u
        |             FROM r) y),
        |tok AS (
        |  SELECT doc_id, u.p AS p, u.tok AS tok
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(tk) + 1),
        |            i -> {'p': i - 1, 'tok': tk[i]})) AS u
        |        FROM corp) x),
        |g AS (SELECT t.doc_id, t.p, t.tok, r2.p IS NOT NULL AS rm
        |      FROM tok t LEFT JOIN rp r2
        |        ON t.doc_id = r2.doc_id AND t.p = r2.p)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | coalesce(string_agg(CASE WHEN NOT rm THEN tok END,
        |   ' ' ORDER BY p), '') AS clean_text
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d29's segmentation + d04's pair machinery ON SEGMENTS + the
    // arrival-order drop rule (EXISTS an earlier near-dup) — no
    // recursion needed, unlike the cluster-canonical d09 closure
    "d38_segment_neardup" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |x AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, ((len(tk) - 1) // 12) + 1)) AS gi
        | FROM t),
        |s AS (
        | SELECT doc_id, CAST(gi AS BIGINT) AS seg_idx,
        |  doc_id * 1024 + gi AS sid,
        |  array_to_string(tk[gi*12 + 1 : gi*12 + 12], ' ') AS seg
        | FROM x),
        |sk AS (SELECT sid, string_split(seg, ' ') AS stk FROM s),
        |sh0 AS (
        | SELECT DISTINCT sid,
        |  unnest(list_transform(range(1, greatest(len(stk) - 1, 1)),
        |    i -> stk[i] || ' ' || stk[i+1] || ' ' || stk[i+2])) AS shingle
        | FROM sk),
        |sh AS (
        | SELECT sid, shingle FROM sh0
        | QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
        |  (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
        |   FROM s)),
        |cnt AS (SELECT sid, COUNT(*) AS n FROM sh GROUP BY sid),
        |inter AS (
        | SELECT a.sid AS id1, b.sid AS id2, COUNT(*) AS n_both
        | FROM sh a JOIN sh b
        |   ON a.shingle = b.shingle AND a.sid < b.sid
        | GROUP BY a.sid, b.sid),
        |dropped AS (
        | SELECT DISTINCT id2 FROM inter
        |  JOIN cnt ca ON ca.sid = id1
        |  JOIN cnt cb ON cb.sid = id2
        | WHERE CAST(n_both AS DOUBLE) /
        |   CAST(ca.n + cb.n - n_both AS DOUBLE) >= 0.6),
        |w AS (SELECT * FROM s
        |      WHERE sid NOT IN (SELECT id2 FROM dropped)),
        |r AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        | FROM w GROUP BY doc_id),
        |n AS (
        | SELECT doc_id,
        |  CAST(((len(tk) - 1) // 12) + 1 AS BIGINT) AS n_segments
        | FROM t)
        |SELECT n.doc_id, n.n_segments,
        | coalesce(r.n_kept, 0) AS n_kept,
        | coalesce(r.clean_text, '') AS clean_text
        |FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // same recursive closure as d09, then pick the best-quality member
    // per component (row_number = the window formulation of the Spark
    // side's min(struct) argmax — same (quality desc, id asc) order)
    "d35_cluster_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
        |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
        |    FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_both
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT id1, id2 FROM inter
        |   JOIN cnt ca ON ca.doc_id = id1
        |   JOIN cnt cb ON cb.doc_id = id2
        |  WHERE CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
        |    >= 0.2),
        |sym AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs
        |  UNION SELECT id1, id1 FROM pairs
        |  UNION SELECT id2, id2 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach
        |       GROUP BY a),
        |q AS (SELECT doc_id,
        |  (CAST(len(list_filter(string_split(text, ' '),
        |     x -> x IN ('the','a','an','of','and','to','in','is','it',
        |                'that'))) AS DOUBLE) /
        |   CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5 +
        |  (1.0 / (CAST(n_chars - (len(string_split(text, ' ')) - 1)
        |            AS DOUBLE) /
        |          CAST(len(string_split(text, ' ')) AS DOUBLE))) * 0.5
        |    AS quality_score
        | FROM documents),
        |j AS (SELECT cl.cluster_id, cl.doc_id, q.quality_score,
        |  row_number() OVER (PARTITION BY cl.cluster_id
        |    ORDER BY q.quality_score DESC, cl.doc_id) AS rn
        | FROM cl JOIN q USING (doc_id))
        |SELECT cluster_id,
        | max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
        | max(CASE WHEN rn = 1 THEN quality_score END) AS kept_score,
        | CAST(count(*) AS BIGINT) AS n_members
        |FROM j GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // fixed-point DSIR: every log2 is fineLog2 (256*floor-log2 + exact
    // mantissa interpolation, pure integer/pow-of-2 arithmetic on both
    // engines), so the hashed-unigram importance weight is an integer —
    // order-independent summation, hash-equal
    "d36_dsir_weights" -> {
      val th = s"(${sqlCharFold("tkn", 131)} + " +
        s"(${sqlCharFold("tkn", 137)} << 31)) % 2039"
      def fine(e: String): String =
        s"(256 * (length(bin($e)) - 1) + " +
          s"CAST(floor(CAST(($e) * 256 AS DOUBLE) / " +
          s"power(2, length(bin($e)) - 1)) AS BIGINT) - 256)"
      s"""WITH toks AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS tk
         |  FROM documents),
         |bkt AS (
         |  SELECT doc_id, lang = 'en' AS t, len(tk) AS ntok,
         |    $th AS b
         |  FROM (SELECT doc_id, lang, tk, unnest(tk) AS tkn FROM toks)),
         |bc AS (SELECT b, CAST(count(*) AS BIGINT) AS bc
         |       FROM bkt GROUP BY b),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc
         |       FROM bkt WHERE t GROUP BY b),
         |tot AS (SELECT
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS tt,
         |  CAST(count(*) AS BIGINT) AS tb FROM bkt),
         |occ AS (SELECT doc_id, ntok, b, CAST(count(*) AS BIGINT) AS occ
         |        FROM bkt GROUP BY 1, 2, 3),
         |j AS (SELECT o.doc_id, o.ntok, o.occ,
         |  ${fine("coalesce(tc.tc, 0) + 1")} -
         |  ${fine("coalesce(bc.bc, 0) + 1")} AS q
         | FROM occ o LEFT JOIN tc ON o.b = tc.b
         |   LEFT JOIN bc ON o.b = bc.b)
         |SELECT doc_id, CAST(max(ntok) AS BIGINT) AS n_tokens,
         | CAST(sum(occ * q) + max(ntok) *
         |  ((SELECT ${fine("tb + 2039")} FROM tot) -
         |   (SELECT ${fine("tt + 2039")} FROM tot)) AS BIGINT)
         |   AS weight_q8
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "d37_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(n_chars - (len(tk) - 1) AS DOUBLE) /
        |    CAST(len(tk) AS DOUBLE) AS avg_token_len,
        |  CAST(len(list_filter(list_distinct(tk),
        |    x -> x IN ('the','a','an','of','and','to','in','is','it',
        |               'that'))) AS BIGINT) AS n_stop_distinct,
        |  CAST(list_max(list_transform(list_distinct(tk),
        |    u -> len(list_filter(tk, x -> x = u)))) AS DOUBLE) /
        |    CAST(len(tk) AS DOUBLE) AS top_token_frac,
        |  CAST(len(list_filter(tk,
        |    x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) /
        |    CAST(len(tk) AS DOUBLE) AS alpha_frac
        | FROM t)
        |SELECT doc_id, n_tokens, avg_token_len, n_stop_distinct,
        | top_token_frac, alpha_frac,
        | n_tokens BETWEEN 20 AND 80 AS tokens_ok,
        | avg_token_len >= 3.5 AND avg_token_len <= 4.8 AS word_len_ok,
        | n_stop_distinct >= 2 AS stop_ok,
        | top_token_frac <= 0.15 AS rep_ok,
        | alpha_frac >= 0.9 AS alpha_ok,
        | (n_tokens BETWEEN 20 AND 80) AND
        |  (avg_token_len >= 3.5 AND avg_token_len <= 4.8) AND
        |  n_stop_distinct >= 2 AND top_token_frac <= 0.15 AND
        |  alpha_frac >= 0.9 AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "d12_hash_split" ->
      s"""WITH b AS (SELECT doc_id,
         |  (${sqlCharFold("text", 137)}) % 100 AS bucket
         | FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         | COUNT(*) AS n
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q54_null_semantics" ->
      """SELECT nullif(o_orderstatus, 'P') AS status_or_null,
        | COUNT(*) AS n_rows,
        | count(nullif(o_orderstatus, 'P')) AS n_nonnull_keys,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    "q55_cross_join_small" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q56_sliding_windows" ->
      """WITH w AS (SELECT date_trunc('hour', ts) AS h, value FROM events),
        |x AS (SELECT h - INTERVAL 1 HOUR AS win_start, value FROM w
        |      UNION ALL SELECT h, value FROM w)
        |SELECT win_start, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    "d01_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "d02_token_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |   AS n_distinct_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d03_quality_score" ->
      """WITH t AS (
        | SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','a','an','of','and','to','in','is','it','that')))
        |   AS BIGINT) AS n_stop
        | FROM documents)
        |SELECT doc_id, n_tokens,
        | CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |   AS avg_token_len,
        | CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        | (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5 +
        |  (1.0 / (CAST(n_chars - (n_tokens - 1) AS DOUBLE) /
        |          CAST(n_tokens AS DOUBLE))) * 0.5 AS quality_score
        |FROM t ORDER BY doc_id""".stripMargin,

    "d04_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
        |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
        |    FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_both
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id1, id2,
        | CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
        |   AS jaccard
        |FROM inter
        | JOIN cnt ca ON ca.doc_id = id1
        | JOIN cnt cb ON cb.doc_id = id2
        |WHERE CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
        |  >= 0.2
        |ORDER BY id1, id2""".stripMargin,

    "d05_lang_id" ->
      """WITH h AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS en_hits,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS de_hits,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> x IN ('el','la','de','y','es'))) AS BIGINT) AS es_hits,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS fr_hits
        | FROM documents)
        |SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
        | CASE
        |  WHEN fr_hits > greatest(en_hits, de_hits, es_hits) THEN 'fr'
        |  WHEN es_hits > greatest(en_hits, de_hits) THEN 'es'
        |  WHEN de_hits > en_hits THEN 'de'
        |  ELSE 'en' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,

    "d06_minhash_lsh" -> d06Oracle,
    "d09_dup_clusters" -> d09Oracle,

    // same candidate CTEs as d09, then the exact DP: the oracle's plain
    // levenshtein() <= 6 must equal the banded builtin's kept rows
    "d46_editdist_pairs" ->
      s"""WITH $shinglePairsCtes
        |SELECT p.id1, p.id2,
        |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.id1
        |JOIN documents db ON db.doc_id = p.id2
        |WHERE levenshtein(da.text, db.text) <= 6
        |ORDER BY p.id1, p.id2""".stripMargin,
    "d13_corpus_pipeline" -> d13Oracle,
    "d25_pipeline_decontam" -> corpusPipelineOracle(
      Some("doc_id % 20 <> 7"), Some("doc_id % 20 = 7")),

    "d15_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
        |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
        |    FROM documents)),
        |nw AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
        |ex AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT nw.doc_id AS id_new, ex.doc_id AS id_existing,
        |   COUNT(*) AS n_both
        |  FROM nw JOIN ex ON nw.shingle = ex.shingle
        |  GROUP BY nw.doc_id, ex.doc_id)
        |SELECT id_new, id_existing,
        | CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
        |   AS jaccard
        |FROM inter
        | JOIN cnt ca ON ca.doc_id = id_new
        | JOIN cnt cb ON cb.doc_id = id_existing
        |WHERE CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
        |  >= 0.2
        |ORDER BY id_new, id_existing""".stripMargin,

    "d14_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |t AS (SELECT doc_id,
        |  CAST(len(tk) - 2 AS BIGINT) AS ngrams_total,
        |  CAST(len(list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS BIGINT)
        |    AS ngrams_distinct
        |  FROM toks WHERE len(tk) >= 3)
        |SELECT doc_id, ngrams_total, ngrams_distinct,
        | 1.0 - CAST(ngrams_distinct AS DOUBLE) /
        |   CAST(ngrams_total AS DOUBLE) AS rep_ratio,
        | (1.0 - CAST(ngrams_distinct AS DOUBLE) /
        |   CAST(ngrams_total AS DOUBLE)) <= 0.2 AS keep
        |FROM t ORDER BY doc_id""".stripMargin,
    // same planted-PII construction as the Spark side; the corpus text
    // itself carries no digits or '@', so both engines' regex engines see
    // exactly one email + one phone span per row (leftmost-longest and
    // greedy agree on these alternation-free patterns)
    "d16_pii_redact" ->
      """WITH r AS (
        | SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or call +1-555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok' AS raw
        | FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |   'g'), '\+?[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g')
        |  AS redacted,
        | CAST(len(regexp_extract_all(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |  len(regexp_extract_all(regexp_replace(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |   'g'), '\+?[0-9][0-9() .-]{6,}[0-9]')) AS BIGINT) AS n_pii
        |FROM r ORDER BY doc_id""".stripMargin,

    "d17_vocab" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token
        | FROM documents),
        |a AS (
        | SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        | FROM t GROUP BY token)
        |SELECT token, tf, df,
        | CAST(row_number() OVER (ORDER BY tf DESC, token ASC) AS BIGINT)
        |  AS rank
        |FROM a ORDER BY rank LIMIT 100""".stripMargin,

    // keep-first = row_number over (segment, ordered by (doc, idx)) —
    // the declarative twin of the min(struct) agg; reassembly order via
    // string_agg ORDER BY seg_idx mirrors the array_sort on structs
    "d29_segment_dedup" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |x AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, ((len(tk) - 1) // 8) + 1)) AS gi
        | FROM t),
        |s AS (
        | SELECT doc_id, CAST(gi AS BIGINT) AS seg_idx,
        |  array_to_string(tk[gi*8 + 1 : gi*8 + 8], ' ') AS seg
        | FROM x),
        |w AS (
        | SELECT *, row_number()
        |   OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        | FROM s),
        |r AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        | FROM w WHERE rn = 1 GROUP BY doc_id),
        |n AS (
        | SELECT doc_id,
        |  CAST(((len(tk) - 1) // 8) + 1 AS BIGINT) AS n_segments
        | FROM t)
        |SELECT n.doc_id, n.n_segments,
        | coalesce(r.n_kept, 0) AS n_kept,
        | coalesce(r.clean_text, '') AS clean_text
        |FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the frequency rule replayed: DF = distinct docs per segment,
    // boilerplate = df >= 3, removed from all docs (no survivor)
    "d40_boilerplate" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |x AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, ((len(tk) - 1) // 8) + 1)) AS gi
        | FROM t),
        |s AS (
        | SELECT doc_id, CAST(gi AS BIGINT) AS seg_idx,
        |  array_to_string(tk[gi*8 + 1 : gi*8 + 8], ' ') AS seg
        | FROM x),
        |b AS (
        | SELECT seg FROM s GROUP BY seg
        | HAVING count(DISTINCT doc_id) >= 3),
        |r AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        | FROM s WHERE seg NOT IN (SELECT seg FROM b)
        | GROUP BY doc_id),
        |n AS (
        | SELECT doc_id,
        |  CAST(((len(tk) - 1) // 8) + 1 AS BIGINT) AS n_segments
        | FROM t)
        |SELECT n.doc_id, n.n_segments,
        | n.n_segments - coalesce(r.n_kept, 0) AS n_boiler,
        | coalesce(r.clean_text, '') AS clean_text
        |FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // idf in the same fineLog2 fixed point as the Spark side — integer
    // scores, bit-identical ranking
    // the epoch-salted LCG replayed relationally; position = rank
    // within (epoch, shard) by (hash, id) — the exact window Spark runs
    "d53_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id, e.epoch,
        |  ((doc_id % 2147483647) * 1103515245
        |   + e.epoch * 1000003 + 12345) % 2147483647 AS hv
        | FROM documents, (VALUES (1), (2)) e(epoch))
        |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
        | CAST(hv % 8 AS BIGINT) AS shard,
        | CAST(row_number() OVER (PARTITION BY epoch, hv % 8
        |   ORDER BY hv, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY epoch, doc_id""".stripMargin,

    // the same 3 damped iterations unrolled — base term, per-source
    // floor-divided contributions, and the dangling-mass scalar all
    // in the identical integer arithmetic (2^40 = 1099511627776)
    "d54_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""d$cur AS (SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dm
           |  FROM r$prev WHERE node NOT IN (SELECT src FROM od)),
           |c$cur AS (SELECT e.dst AS node,
           |    CAST(sum(r$prev.rank // od.out) AS BIGINT) AS contrib
           |  FROM r$prev JOIN e ON r$prev.node = e.src
           |  JOIN od ON e.src = od.src
           |  GROUP BY e.dst),
           |r$cur AS (SELECT nodes.node,
           |    CAST((1099511627776 - (85 * 1099511627776) // 100) // n.n
           |      + (85 * (coalesce(c$cur.contrib, 0) + d$cur.dm // n.n))
           |        // 100 AS BIGINT) AS rank
           |  FROM nodes CROSS JOIN n CROSS JOIN d$cur
           |  LEFT JOIN c$cur ON nodes.node = c$cur.node)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT 2*o_custkey AS src,
         |    2*l_suppkey + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM e
         |          UNION SELECT dst FROM e),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS out
         |       FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST(1099511627776 // n AS BIGINT) AS rank
         |       FROM nodes, n),
         |${iter("0", "1")},
         |${iter("1", "2")},
         |${iter("2", "3")}
         |SELECT node, rank,
         |  CAST(rank AS DOUBLE) / 1099511627776.0 AS share
         |FROM r3 ORDER BY node""".stripMargin
    },

    // the same hash-derived weights and argmax/margin arithmetic —
    // charFold buckets, ((b*1103515245 + k*12345 + 7) % (2^31-1))
    // % 255 - 127 per class, exact integers throughout
    "d55_classifier_score" -> {
      def w(k: Int): String =
        s"((b * 1103515245 + ${k * 12345 + 7}) % 2147483647) % 255 - 127"
      s"""WITH t AS (SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS tok FROM documents),
         |f AS (SELECT doc_id,
         |    ${sqlCharFold("tok", 131)} % 4096 AS b
         |  FROM t WHERE length(tok) > 0),
         |s AS (SELECT doc_id,
         |    CAST(sum(${w(0)}) AS BIGINT) AS s0,
         |    CAST(sum(${w(1)}) AS BIGINT) AS s1,
         |    CAST(sum(${w(2)}) AS BIGINT) AS s2
         |  FROM f GROUP BY doc_id)
         |SELECT doc_id, s0, s1, s2,
         |  CAST(CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
         |       WHEN s1 >= s2 THEN 1 ELSE 2 END AS BIGINT) AS label,
         |  CAST(greatest(s0, s1, s2) -
         |    (s0 + s1 + s2 - greatest(s0, s1, s2)
         |      - least(s0, s1, s2)) AS BIGINT) AS margin
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // the same ceil arithmetic per candidate context length
    "d52_pack_efficiency" ->
      """WITH nt AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (SELECT unnest([32, 64, 128]) AS context),
        |x AS (SELECT c.context, nt.nt,
        |        ((nt.nt + c.context - 1) // c.context) * c.context
        |          AS padded
        |      FROM nt, c)
        |SELECT CAST(context AS BIGINT) AS context,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(padded - nt) AS BIGINT) AS pad_tokens,
        |  CAST(sum(padded // context) AS BIGINT) AS n_chunks,
        |  CAST(sum(padded - nt) AS DOUBLE) /
        |    CAST(sum(padded) AS DOUBLE) AS pad_frac
        |FROM x GROUP BY context ORDER BY context""".stripMargin,

    // same grouping over base ∪ mirror, DuckDB's sorted distinct fold
    "d51_cross_source" ->
      """WITH lake AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 'mirror_' || source
        |  FROM documents WHERE doc_id % 6 = 0),
        |g AS (
        |  SELECT text, list_sort(list(DISTINCT source)) AS srcs,
        |    CAST(count(*) AS BIGINT) AS n_copies,
        |    min(doc_id) AS first_doc
        |  FROM lake GROUP BY text)
        |SELECT first_doc, array_to_string(srcs, ',') AS sources,
        |  CAST(len(srcs) AS BIGINT) AS n_sources, n_copies
        |FROM g WHERE len(srcs) > 1
        |ORDER BY first_doc""".stripMargin,

    // the entropy identity in the same fixed point, every term integer
    "d50_token_entropy" -> {
      def fine(e: String): String =
        s"(256 * (length(bin($e)) - 1) + " +
          s"CAST(floor(CAST(($e) * 256 AS DOUBLE) / " +
          s"power(2, length(bin($e)) - 1)) AS BIGINT) - 256)"
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |c AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
         |      FROM t WHERE length(token) > 0 GROUP BY doc_id, token),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(sum(c * ${fine("c")}) AS BIGINT) AS clog
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(n_tokens * ${fine("n_tokens")} - clog AS BIGINT)
         |    AS ent_q8n,
         |  CAST(n_tokens * ${fine("n_tokens")} - clog AS DOUBLE) /
         |    CAST(n_tokens * 256 AS DOUBLE) AS bits_per_token
         |FROM a ORDER BY doc_id""".stripMargin
    },

    // the same histogram identity: repeats = occurrences - distinct
    "d49_intradoc_rep" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents) t),
        |h AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |      FROM g GROUP BY doc_id, g)
        |SELECT doc_id, CAST(sum(c - 1) AS BIGINT) AS dup_grams,
        |  CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |    AS dup_frac
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // first ownership replayed relationally; the curve is the plain
    // running sum the distributed prefix must equal
    "d45_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |        range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |      FROM t),
        |f AS (SELECT gram, min(doc_id) AS doc_id FROM g GROUP BY gram),
        |nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS novel
        |       FROM f GROUP BY doc_id),
        |b AS (SELECT d.doc_id, coalesce(nv.novel, 0) AS novel
        |      FROM documents d LEFT JOIN nv USING (doc_id))
        |SELECT doc_id, novel,
        |  CAST(sum(novel) OVER (ORDER BY doc_id) AS BIGINT) AS cum_novel
        |FROM b ORDER BY doc_id""".stripMargin,

    // the exact heavy set: the sketch only PRUNES candidates (with a
    // no-false-negative guarantee), so the relational replay needs no
    // sketch at all
    "d44_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, '')) AS token
        |           FROM documents),
        |f AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t
        |      WHERE token <> ' ' AND length(token) > 0 GROUP BY token),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f)
        |SELECT token, n FROM f, tot
        |WHERE n * 12 > total ORDER BY n DESC, token""".stripMargin,

    // pooled centroids on the e19 lattice replayed exactly: same
    // floor-quantization, same floor(sum/count), integer dots, one
    // sqrt per norm
    "e23_pooled_centroids" ->
      """WITH l AS (
        |  SELECT CAST(label AS BIGINT) AS g, i,
        |    CAST(floor(CAST(u AS DOUBLE) * 64.0) AS BIGINT) AS q
        |  FROM (SELECT label, unnest(range(len(embedding))) AS i,
        |          unnest(embedding) AS u FROM embeddings)),
        |p AS (SELECT g, i,
        |    CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT)
        |      AS v
        |  FROM l GROUP BY 1, 2),
        |n AS (SELECT g, CAST(sum(v*v) AS BIGINT) AS nn
        |      FROM p GROUP BY g),
        |d AS (SELECT a.g AS g1, b.g AS g2,
        |    CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |  FROM p a JOIN p b ON a.i = b.i AND a.g <> b.g GROUP BY 1, 2),
        |s AS (SELECT g1, g2, CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(n1.nn AS DOUBLE)) * sqrt(CAST(n2.nn AS DOUBLE)))
        |      AS sim
        |  FROM d JOIN n n1 ON n1.g = d.g1 JOIN n n2 ON n2.g = d.g2)
        |SELECT g1 AS label1, g2 AS label2, sim, rank FROM (
        |  SELECT g1, g2, sim,
        |    CAST(row_number() OVER (PARTITION BY g1
        |      ORDER BY sim DESC, g2 ASC) AS BIGINT) AS rank
        |  FROM s) t
        |WHERE rank <= 3 ORDER BY label1, rank""".stripMargin,

    // the trainer's three rounds unrolled: vocab -> weighted pair
    // counts -> deterministic argmax (w desc, pair asc) -> the same
    // boundary-exact replace, three times; the final SELECT re-emits
    // the merge table and the re-segmented vocabulary
    "d43_bpe_merges" -> (bpeCtes +
      """
        |SELECT 'merge' AS kind, CAST(1 AS BIGINT) AS ord, s1, s2,
        |  w AS n, s1||s2 AS seg FROM t1
        |UNION ALL SELECT 'merge', 2, s1, s2, w, s1||s2 FROM t2
        |UNION ALL SELECT 'merge', 3, s1, s2, w, s1||s2 FROM t3
        |UNION ALL SELECT 'vocab', 0, word, '', n, seg FROM v3
        |ORDER BY kind, ord, s1""".stripMargin),

    // the same three trained rounds, then the encode: every doc's
    // subword count = its words joined to the final segmentation
    "d48_bpe_encode" -> (bpeCtes +
      """,
        |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents),
        |sl AS (SELECT word,
        |  CAST(len(string_split(trim(seg, '|'), '||')) AS BIGINT)
        |    AS ns FROM v3)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(ns) AS BIGINT) AS n_subwords
        |FROM w JOIN sl USING (word)
        |WHERE length(word) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),



    "d41_tfidf_keywords" -> {
      def fine(e: String): String =
        s"(256 * (length(bin($e)) - 1) + " +
          s"CAST(floor(CAST(($e) * 256 AS DOUBLE) / " +
          s"power(2, length(bin($e)) - 1)) AS BIGINT) - 256)"
      s"""WITH t AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS token
         | FROM documents),
         |tf AS (
         | SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         | FROM t GROUP BY doc_id, token),
         |dfq AS (
         | SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         | FROM t GROUP BY token),
         |nn AS (
         | SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
         | FROM documents),
         |sc AS (
         | SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         |  tf.tf * (${fine("nn.n")} - ${fine("dfq.df")}) AS score_q8
         | FROM tf JOIN dfq USING (token), nn)
         |SELECT doc_id, token, tf, df, score_q8,
         | CAST(row_number() OVER (PARTITION BY doc_id
         |   ORDER BY score_q8 DESC, token ASC) AS BIGINT) AS rank
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |   ORDER BY score_q8 DESC, token ASC) <= 3
         |ORDER BY doc_id, rank""".stripMargin
    },

    // same LCG over the cluster label on both engines; positive
    // operands make % and pmod agree
    "d42_cluster_split" -> (d09Labels +
      """SELECT doc_id, cluster_id,
        | CASE WHEN ((cluster_id % 2147483647) * 1103515245 + 12345)
        |   % 2147483647 % 10 < 8
        |  THEN 'train' ELSE 'test' END AS split
        |FROM labels ORDER BY doc_id""".stripMargin),

    // 1-based inclusive list slices on both sides; DuckDB clamps the
    // slice end exactly like Spark's `slice(arr, start, len)` clamps len
    "d18_chunking" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |x AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, ((len(tk) - 1) // 32) + 1)) AS chunk_idx
        | FROM t)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | array_to_string(tk[chunk_idx*32 + 1 : chunk_idx*32 + 32], ' ')
        |  AS chunk,
        | CAST(least(len(tk) - chunk_idx*32, 32) AS BIGINT) AS n_tokens
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    // identical IEEE op order: x (float->double) * 127 / scale + 0.5,
    // floor — round-half-up, no banker's rounding divergence; summaries
    // (sum/min/max) instead of array outputs so the driver hashes scalars
    "e07_scalar_quant" ->
      """WITH v AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        | FROM embeddings),
        |s AS (
        | SELECT vec_id, emb,
        |  list_reduce(list_transform(emb, x -> abs(x)),
        |    (a, x) -> greatest(a, x)) AS scale
        | FROM v),
        |q AS (
        | SELECT vec_id, scale,
        |  list_transform(emb, x -> CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(floor(x * 127 / scale + 0.5) AS BIGINT) END) AS qv
        | FROM s)
        |SELECT vec_id, scale,
        | list_reduce(qv, (a, x) -> a + x) AS q_sum,
        | list_aggregate(qv, 'min') AS q_min,
        | list_aggregate(qv, 'max') AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,

    "e08_centroid_outliers" ->
      """WITH q AS (
        | SELECT vec_id, label,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
        |    AS qv
        | FROM embeddings),
        |ex AS (
        | SELECT label, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
        | FROM q),
        |c AS (SELECT label, pos, CAST(sum(v) AS BIGINT) AS s FROM ex
        |      GROUP BY label, pos),
        |cl AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS cv
        |       FROM c GROUP BY label),
        |sc AS (
        | SELECT vec_id, q.label AS label,
        |  list_reduce(list_transform(range(1, 65),
        |      i -> CAST(qv[i] AS DOUBLE) * cv[i]), (a, b) -> a + b) /
        |  (sqrt(list_reduce(list_transform(qv,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |      (a, b) -> a + b)) *
        |   sqrt(list_reduce(list_transform(cv, x -> x * x),
        |      (a, b) -> a + b))) AS cos_centroid
        | FROM q JOIN cl ON q.label = cl.label)
        |SELECT vec_id, label, cos_centroid, CAST(rk AS BIGINT) AS rank
        |FROM (
        | SELECT *, row_number() OVER (PARTITION BY label
        |   ORDER BY cos_centroid, vec_id) AS rk
        | FROM sc) t
        |WHERE rk <= 5 ORDER BY label, rank""".stripMargin,

    "d07_simhash" -> d07Oracle,
    "d08_fingerprint" -> d08Oracle,
    "e03_ann_srp" -> e03Oracle,
    "e09_ann_quantized" -> e09Oracle,
    "e12_ann_rerank" -> e12Oracle,
    "q81_continuous_neardup" -> q81Oracle,
    "q84_stream_neardup_gate" -> q84GateOracle,
    "q84b_neardup_cc_fold" -> q84LabelsOracle,
    // identity with the in-memory SRP path IS the persistence contract
    "e10_persisted_index" -> e03Oracle,
    // maintained-index == built-once contract: two delta appends, same
    // full-corpus answers
    "e13_srp_maintain" -> e03Oracle,

    // e04's coarse assignment CTEs + e16's recon CTEs, joined on the
    // cell — a pair meets once (each corpus vector lives in one cell)
    "e18_ivf_pq" ->
      """WITH v AS (
        |  SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |  sqrt(list_reduce(list_transform(emb, x -> x * x),
        |       (acc, x) -> acc + x)) AS nrm FROM v),
        |cpiv AS (SELECT vec_id AS cell, emb AS pemb, nrm AS pnrm FROM n
        |  WHERE vec_id IN (SELECT vec_id FROM n
        |   ORDER BY (((vec_id % 2147483647 + 1000003) * 48271)
        |             % 2147483647 * 48271) % 2147483647 ASC,
        |            vec_id ASC LIMIT 16)),
        |ca AS (SELECT vec_id, cell FROM (
        |  SELECT n.vec_id, p.cell,
        |   row_number() OVER (PARTITION BY n.vec_id
        |     ORDER BY list_reduce(list_transform(range(1, 65),
        |         i -> n.emb[i] * p.pemb[i]), (acc, x) -> acc + x)
        |       / (n.nrm * p.pnrm) DESC,
        |              p.cell ASC) AS pr
        |  FROM n, cpiv p) t WHERE pr = 1),
        |qa AS (SELECT vec_id, cell FROM (
        |  SELECT n.vec_id, p.cell,
        |   row_number() OVER (PARTITION BY n.vec_id
        |     ORDER BY list_reduce(list_transform(range(1, 65),
        |         i -> n.emb[i] * p.pemb[i]), (acc, x) -> acc + x)
        |       / (n.nrm * p.pnrm) DESC,
        |              p.cell ASC) AS pr
        |  FROM n, cpiv p WHERE n.vec_id < 10) t WHERE pr <= 4),
        |ppiv AS (SELECT vec_id AS cell, emb AS pemb FROM v
        |  WHERE vec_id IN (SELECT vec_id FROM v
        |   ORDER BY (((vec_id % 2147483647 + 1000003) * 48271)
        |             % 2147483647 * 48271) % 2147483647 ASC,
        |            vec_id ASC LIMIT 32)),
        |cs AS (SELECT vec_id, j,
        |    list_slice(emb, j * 2 + 1, j * 2 + 2) AS sv
        |  FROM v, range(32) r(j)),
        |ps AS (SELECT cell, j,
        |    list_slice(pemb, j * 2 + 1, j * 2 + 2) AS pv
        |  FROM ppiv, range(32) r(j)),
        |dj AS (SELECT cs.vec_id, cs.j, ps.cell, ps.pv,
        |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |     list_transform(range(1, 3),
        |       i -> (cs.sv[i] - ps.pv[i]) * (cs.sv[i] - ps.pv[i]))),
        |     (a, x) -> a + x) AS d
        |  FROM cs JOIN ps ON cs.j = ps.j),
        |best AS (SELECT vec_id, j, pv FROM (
        |   SELECT vec_id, j, pv, row_number() OVER (
        |     PARTITION BY vec_id, j ORDER BY d ASC, cell ASC) AS rn
        |   FROM dj) t WHERE rn = 1),
        |recon AS (SELECT vec_id, flatten(list(pv ORDER BY j)) AS rv
        |  FROM best GROUP BY vec_id),
        |pp AS (SELECT qa.vec_id AS id1, ca.vec_id AS id2,
        |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |     list_transform(range(1, 65),
        |       i -> (q.emb[i] - c.rv[i]) * (q.emb[i] - c.rv[i]))),
        |     (a, x) -> a + x) AS adist
        |  FROM qa JOIN ca ON qa.cell = ca.cell
        |    AND qa.vec_id <> ca.vec_id
        |   JOIN v q ON q.vec_id = qa.vec_id
        |   JOIN recon c ON c.vec_id = ca.vec_id)
        |SELECT id1, id2, adist, rank FROM (
        |  SELECT id1, id2, adist,
        |   CAST(row_number() OVER (PARTITION BY id1
        |     ORDER BY adist ASC, id2 ASC) AS BIGINT) AS rank
        |  FROM pp) t
        |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin,

    // true IVFADC replayed relationally: e18's coarse CTEs, then the
    // pq pivots' OWN cell assignment + residuals form the codebook,
    // corpus residuals encode against it, and the reconstruction is
    // centroid + chosen residual subvectors — every fold the same
    // left-to-right IEEE order as the kernels. e29 serves the same
    // answer from the persisted codes-only index (the codebook
    // re-derivation is exact), so one oracle gates both
    "e29_pq_residual_serve" -> e28Oracle,
    // streamed-and-replayed maintenance == the direct SRP operator
    "e30_commitlog_ann_stream" -> e03Oracle,
    "e31_commitlog_pq_stream" -> e16Oracle,
    "e28_ivf_pq_residual" -> e28Oracle,

    // the sign pack replayed relationally: same OR fold (bit 64 needs
    // the MinValue literal spelled without a bare unary-minus overflow)
    "e17_hamming_topk" -> e17Oracle,
    "e27_hamming_serve" -> e17Oracle,

    // PQ encode + ADC replayed relationally: same hash-stratified pivot
    // CTE as e04, per-(vector, subspace) argmin via row_number, squared
    // L2 as the identical left fold. e26 serves the same answer from
    // the persisted codes-only index (decode(encode(v)) IS the
    // reconstruction), so one oracle gates both.
    "e16_pq_adc" -> e16Oracle,
    "e26_pq_serve" -> e16Oracle,

    // recall@5 of the SRP index vs brute force — both stages' oracle
    // bodies reused verbatim as CTEs, the comparison itself keyed
    "e15_ann_recall" -> {
      val e02Sql =
        """WITH v AS (
          |  SELECT vec_id,
          |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          |  FROM embeddings),
          |n AS (
          |  SELECT vec_id, emb,
          |   sqrt(list_reduce(list_transform(emb, x -> x * x),
          |        (acc, x) -> acc + x)) AS nrm
          |  FROM v),
          |p AS (
          |  SELECT q.vec_id AS id1, c.vec_id AS id2,
          |   list_reduce(list_transform(range(1, 65),
          |     i -> q.emb[i] * c.emb[i]), (acc, x) -> acc + x) /
          |   (q.nrm * c.nrm) AS sim
          |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
          |  WHERE q.vec_id < 10)
          |SELECT id1, id2, sim, rank FROM (
          |  SELECT id1, id2, sim,
          |   CAST(row_number() OVER (PARTITION BY id1
          |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
          |  FROM p) t
          |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin
      s"""WITH bf0 AS ($e02Sql),
         |ann0 AS ($e03Oracle),
         |bf AS (SELECT id1, id2 FROM bf0),
         |ann AS (SELECT id1, id2 FROM ann0),
         |q AS (SELECT DISTINCT id1 FROM bf),
         |na AS (SELECT id1, CAST(count(*) AS BIGINT) AS n_ann
         |       FROM ann GROUP BY id1),
         |nh AS (SELECT bf.id1, CAST(count(*) AS BIGINT) AS n_hit
         |       FROM bf JOIN ann ON bf.id1 = ann.id1 AND bf.id2 = ann.id2
         |       GROUP BY bf.id1)
         |SELECT q.id1,
         | CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
         | CAST(coalesce(nh.n_hit, 0) AS BIGINT) AS n_hit,
         | CAST(coalesce(nh.n_hit, 0) AS DOUBLE) / 5.0 AS recall_at_5
         |FROM q LEFT JOIN na ON q.id1 = na.id1
         |LEFT JOIN nh ON q.id1 = nh.id1
         |ORDER BY q.id1""".stripMargin
    },
    "e04_ann_ivf" -> e04Oracle,
    "e11_persisted_ivf" -> e04Oracle,
    "e14_ivf_maintain" -> e04Oracle,
    "e21_filtered_ann" -> e04OracleWhere(Some("label % 3 = 0")),
    "e22_maxsim" -> {
      def psim(embA: String, nrmA: String, embB: String, nrmB: String) =
        s"list_reduce(list_transform(range(1, 65), " +
          s"i -> $embA[i] * $embB[i]), " +
          s"(acc, x) -> acc + x) / ($nrmA * $nrmB)"
      s"""WITH v AS (SELECT vec_id, label,
         |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, emb,
         |  sqrt(list_reduce(list_transform(emb, x -> x * x),
         |       (acc, x) -> acc + x)) AS nrm FROM v),
         |q AS (SELECT vec_id AS id1, vec_id // 4 AS qgroup,
         |  emb AS emb1, nrm AS n1 FROM n WHERE vec_id < 8),
         |p AS (SELECT q.qgroup, q.id1, c.label,
         |  ${psim("q.emb1", "q.n1", "c.emb", "c.nrm")} AS sim
         | FROM q JOIN n c ON c.vec_id <> q.id1),
         |m AS (SELECT qgroup, id1, label, max(sim) AS m
         | FROM p GROUP BY qgroup, id1, label),
         |sc AS (SELECT qgroup, label AS docgroup,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(m ORDER BY id1)), (acc, x) -> acc + x) AS score
         | FROM m GROUP BY qgroup, label)
         |SELECT qgroup, docgroup, score,
         | CAST(row_number() OVER (PARTITION BY qgroup
         |   ORDER BY score DESC, docgroup ASC) AS BIGINT) AS rank
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY qgroup
         |   ORDER BY score DESC, docgroup ASC) <= 2
         |ORDER BY qgroup, rank""".stripMargin
    },
    "e05_embed_dedup" -> e05Oracle,
    "e06_incremental_embed" -> e06Oracle,
    "q71_delta_semantic" -> q71Oracle,

    "q46_except_all" ->
      """SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey <= 400
        |EXCEPT ALL
        |SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey <= 200
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "e01_cosine_pairs" ->
      """WITH v AS (
        |  SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, emb,
        |   sqrt(list_reduce(list_transform(emb, x -> x * x),
        |        (acc, x) -> acc + x)) AS nrm
        |  FROM v)
        |SELECT id1, id2, sim FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |   list_reduce(list_transform(range(1, 65),
        |     i -> a.emb[i] * b.emb[i]), (acc, x) -> acc + x) /
        |   (a.nrm * b.nrm) AS sim
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 100) t
        |WHERE sim >= 0.4 ORDER BY id1, id2""".stripMargin,

    // e02 over the survivors: the MOR view is the corpus
    "e25_ann_mor" ->
      """WITH v AS (
        |  SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings WHERE vec_id % 4 <> 1),
        |n AS (
        |  SELECT vec_id, emb,
        |   sqrt(list_reduce(list_transform(emb, x -> x * x),
        |        (acc, x) -> acc + x)) AS nrm
        |  FROM v),
        |p AS (
        |  SELECT q.vec_id AS id1, c.vec_id AS id2,
        |   list_reduce(list_transform(range(1, 65),
        |     i -> q.emb[i] * c.emb[i]), (acc, x) -> acc + x) /
        |   (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT id1, id2, sim, rank FROM (
        |  SELECT id1, id2, sim,
        |   CAST(row_number() OVER (PARTITION BY id1
        |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin,

    // e25's sibling over the commit-log DV-survivor view: the
    // retirement is pure metadata, so the oracle is simply e02 over
    // the rows the deletion vectors did not mark
    "e32_ann_dv_survivors" ->
      """WITH v AS (
        |  SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings WHERE vec_id % 5 <> 2),
        |n AS (
        |  SELECT vec_id, emb,
        |   sqrt(list_reduce(list_transform(emb, x -> x * x),
        |        (acc, x) -> acc + x)) AS nrm
        |  FROM v),
        |p AS (
        |  SELECT q.vec_id AS id1, c.vec_id AS id2,
        |   list_reduce(list_transform(range(1, 65),
        |     i -> q.emb[i] * c.emb[i]), (acc, x) -> acc + x) /
        |   (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT id1, id2, sim, rank FROM (
        |  SELECT id1, id2, sim,
        |   CAST(row_number() OVER (PARTITION BY id1
        |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin,

    "e02_knn_topk" ->
      """WITH v AS (
        |  SELECT vec_id,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, emb,
        |   sqrt(list_reduce(list_transform(emb, x -> x * x),
        |        (acc, x) -> acc + x)) AS nrm
        |  FROM v),
        |p AS (
        |  SELECT q.vec_id AS id1, c.vec_id AS id2,
        |   list_reduce(list_transform(range(1, 65),
        |     i -> q.emb[i] * c.emb[i]), (acc, x) -> acc + x) /
        |   (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT id1, id2, sim, rank FROM (
        |  SELECT id1, id2, sim,
        |   CAST(row_number() OVER (PARTITION BY id1
        |     ORDER BY sim DESC, id2 ASC) AS BIGINT) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY id1, rank""".stripMargin,

    "m02_media_features" ->
      s"""WITH h AS (SELECT doc_id, ${sqlCharFold("text", 131)} AS f1,
         |  ${sqlCharFold("text", 137)} AS f2 FROM documents),
         |x AS (SELECT doc_id, f1, f2, unnest(range(0, 8)) AS feat_idx
         |  FROM h)
         |SELECT doc_id AS media_id, feat_idx,
         | (CAST((f1 + feat_idx * f2) % 2000001 AS DOUBLE) - 1000000.0) /
         |  1000000.0 AS feat
         |FROM x ORDER BY media_id, feat_idx""".stripMargin,

    "m01_media_meta" -> m01Oracle,

    // expected values derive from the SAME id arithmetic the plant uses;
    // the Spark side must recover them through the actual byte walk
    "m03_audio_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 4 = 3 AS is_text,
        |  CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |   WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
        |  doc_id % 2 + 1 AS ch,
        |  (doc_id % 400 + 100) AS n_frames
        | FROM documents)
        |SELECT media_id,
        | CAST(CASE WHEN is_text THEN NULL ELSE sr END AS BIGINT)
        |   AS sample_rate,
        | CAST(CASE WHEN is_text THEN NULL ELSE ch END AS BIGINT)
        |   AS channels,
        | CAST(CASE WHEN is_text THEN NULL ELSE 16 END AS BIGINT)
        |   AS bits_per_sample,
        | CAST(CASE WHEN is_text THEN NULL ELSE n_frames * ch * 2 END
        |   AS BIGINT) AS data_bytes,
        | CAST(CASE WHEN is_text THEN NULL
        |   ELSE n_frames * 1000 // sr END AS BIGINT) AS duration_ms
        |FROM p ORDER BY media_id""".stripMargin,

    // expected values derive from the SAME id arithmetic the plant
    // uses; the Spark side must recover them through the actual
    // fixed-offset byte parse (and the sniff must agree with the parse)
    "m04_gif_flac_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  doc_id % 640 + 1 AS w, doc_id % 480 + 1 AS h,
        |  CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |   WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
        |  doc_id % 2 + 1 AS ch,
        |  CASE (doc_id // 3) % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
        |   ELSE 24 END AS bits,
        |  doc_id % 100000 + 4096 AS total
        | FROM documents)
        |SELECT media_id,
        | CASE kind WHEN 0 THEN 'image/gif' WHEN 1 THEN 'audio/flac'
        |  ELSE 'application/octet-stream' END AS mime,
        | CAST(CASE WHEN kind = 0 THEN w END AS BIGINT) AS gif_width,
        | CAST(CASE WHEN kind = 0 THEN h END AS BIGINT) AS gif_height,
        | CAST(CASE WHEN kind = 1 THEN sr END AS BIGINT) AS sample_rate,
        | CAST(CASE WHEN kind = 1 THEN ch END AS BIGINT) AS channels,
        | CAST(CASE WHEN kind = 1 THEN bits END AS BIGINT)
        |  AS bits_per_sample,
        | CAST(CASE WHEN kind = 1 THEN total END AS BIGINT)
        |  AS total_samples,
        | CAST(CASE WHEN kind = 1 THEN total * 1000 // sr END AS BIGINT)
        |  AS duration_ms
        |FROM p ORDER BY media_id""".stripMargin,

    // expectations derived from the plant parameters, like m03-m05;
    // orientation only for even ids (entry-count discipline)
    // expectations re-derived from the fixture's id arithmetic; raw
    // text rows (sel=2) have no EOCD -> null metadata
    "m08_zip_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS sel,
        |  (doc_id // 3) % 3 + 1 AS n FROM documents),
        |e AS (SELECT media_id, sel, n,
        |  CASE n WHEN 1 THEN 51 WHEN 2 THEN 103 ELSE 156 END AS cds,
        |  ((media_id * 7) % 100000)
        |   + CASE WHEN n >= 2 THEN (media_id * 7 + 13) % 100000
        |     ELSE 0 END
        |   + CASE WHEN n >= 3 THEN (media_id * 7 + 26) % 100000
        |     ELSE 0 END AS tot,
        |  CASE n WHEN 1 THEN 'f.txt' WHEN 2 THEN 'f.txt,ff.txt'
        |   ELSE 'f.txt,ff.txt,fff.txt' END AS nm
        | FROM p)
        |SELECT media_id,
        | CASE WHEN sel < 2 THEN 'application/zip'
        |  ELSE 'application/octet-stream' END AS mime,
        | CAST(CASE WHEN sel < 2 THEN n END AS BIGINT) AS n_entries,
        | CAST(CASE WHEN sel < 2 THEN cds END AS BIGINT) AS cd_size,
        | CAST(CASE WHEN sel < 2 THEN tot END AS BIGINT) AS total_usize,
        | CASE WHEN sel < 2 THEN nm END AS names
        |FROM e ORDER BY media_id""".stripMargin,

    // member fields re-derived from the plant's id arithmetic: the
    // 3-member shard holds 2 samples (key grouping), the 1-member row
    // carries the lying checksum (well_formed false), raw rows null
    // the descriptor-governed layout replayed from the id arithmetic;
    // malformed (reserved-bit) frames keep the mime, null the fields
    "m18_zstd_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS k,
        |  doc_id // 3 AS g, doc_id % 5 = 0 AS mal,
        |  (doc_id // 3) % 2 AS sing, doc_id % 2 AS chk
        | FROM documents),
        |q AS (SELECT *,
        |  CASE WHEN sing = 1 THEN 0 ELSE g % 3 END AS dflag,
        |  CASE WHEN sing = 1 THEN 0 ELSE 1 + g % 2 END AS fflag,
        |  media_id % 64 AS wd
        | FROM p)
        |SELECT media_id,
        | CASE WHEN k IN (0, 1) THEN 'application/zstd'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE k WHEN 0 THEN 'frame' WHEN 1 THEN 'skippable'
        |  END AS kind,
        | CASE WHEN k = 0 AND NOT mal THEN sing = 1
        |  END AS single_segment,
        | CASE WHEN k = 0 AND NOT mal THEN chk = 1
        |  END AS has_checksum,
        | CAST(CASE
        |   WHEN k = 0 AND NOT mal AND dflag = 1 THEN media_id % 200 + 1
        |   WHEN k = 0 AND NOT mal AND dflag = 2
        |    THEN media_id % 60000 + 300
        |  END AS BIGINT) AS dict_id,
        | CAST(CASE WHEN k = 0 AND NOT mal AND sing = 0 THEN
        |   (1 << (wd // 8 + 10))
        |    + ((1 << (wd // 8 + 10)) // 8) * (wd % 8)
        |  END AS BIGINT) AS window_size,
        | CAST(CASE WHEN k = 0 AND NOT mal THEN
        |   CASE WHEN sing = 1 THEN media_id % 200
        |    WHEN fflag = 1 THEN media_id % 60000 + 256
        |    ELSE media_id % 100000 + 5000 END
        |  END AS BIGINT) AS content_size,
        | CAST(CASE WHEN k = 1 THEN media_id % 100000
        |  END AS BIGINT) AS skip_size,
        | CASE WHEN k = 0 THEN NOT mal WHEN k = 1 THEN true
        |  END AS well_formed
        |FROM q ORDER BY media_id""".stripMargin,

    "m17_tar_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  doc_id % 800 + 10 AS s1, doc_id % 4 + 1 AS s2,
        |  (doc_id + 1) % 800 + 10 AS s3 FROM documents)
        |SELECT media_id,
        | CASE WHEN kind <= 1 THEN 'application/x-tar'
        |  ELSE 'application/octet-stream' END AS mime,
        | CAST(CASE WHEN kind = 0 THEN 3 WHEN kind = 1 THEN 1 END
        |  AS BIGINT) AS n_members,
        | CAST(CASE WHEN kind = 0 THEN 2 WHEN kind = 1 THEN 1 END
        |  AS BIGINT) AS n_samples,
        | CAST(CASE WHEN kind = 0 THEN s1 + s2 + s3
        |  WHEN kind = 1 THEN s1 END AS BIGINT) AS total_size,
        | CAST(CASE WHEN kind <= 1 THEN 1600000000 + media_id END
        |  AS BIGINT) AS max_mtime,
        | CASE WHEN kind = 0 THEN media_id || '.txt,' || media_id ||
        |   '.cls,' || (media_id + 1) || '.txt'
        |  WHEN kind = 1 THEN media_id || '.txt' END AS names,
        | CASE WHEN kind <= 1 THEN kind = 0 END AS well_formed
        |FROM p ORDER BY media_id""".stripMargin,

    // header and tail fields re-derived from the plant's id arithmetic
    // response rows well-formed; request rows carry the lying length
    // (declared = body + 7, well_formed false); raw rows all-null
    "m16_warc_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  doc_id % 50 + 10 AS blen FROM documents)
        |SELECT media_id,
        | CASE WHEN kind <= 1 THEN 'application/warc'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE WHEN kind = 0 THEN 'response'
        |  WHEN kind = 1 THEN 'request' END AS warc_type,
        | CASE WHEN kind <= 1
        |  THEN 'http://ex.com/p/' || media_id END AS target_uri,
        | CAST(CASE WHEN kind = 0 THEN blen
        |  WHEN kind = 1 THEN blen + 7 END AS BIGINT) AS content_length,
        | CASE WHEN kind <= 1 THEN kind = 0 END AS well_formed
        |FROM p ORDER BY media_id""".stripMargin,

    "m15_gzip_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 2 AS kind,
        |  doc_id * 7 + 1600000000 AS mt, doc_id % 14 AS os,
        |  doc_id % 1000000 + 1 AS isz
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind = 0 THEN 'application/gzip'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE WHEN kind = 0 THEN 'deflate' END AS method,
        | CAST(CASE WHEN kind = 0 THEN mt END AS BIGINT) AS mtime,
        | CAST(CASE WHEN kind = 0 THEN os END AS BIGINT) AS os,
        | CAST(CASE WHEN kind = 0 THEN isz END AS BIGINT) AS isize
        |FROM p ORDER BY media_id""".stripMargin,

    // ELF fields from the id arithmetic (endian-swapped machine ids
    // decode back to the same number); PE machine/bits by residue
    "m14_exe_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  (doc_id % 2 + 1) * 32 AS ebits, doc_id % 300 + 2 AS emach,
        |  CASE WHEN doc_id % 4 = 0 THEN 34404 ELSE 332 END AS pmach,
        |  CASE WHEN doc_id % 4 = 0 THEN 64 ELSE 32 END AS pbits
        | FROM documents)
        |SELECT media_id,
        | CASE kind WHEN 0 THEN 'application/x-elf'
        |  WHEN 1 THEN 'application/x-msdownload'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE kind WHEN 0 THEN 'elf' WHEN 1 THEN 'pe' END AS exe_format,
        | CAST(CASE kind WHEN 0 THEN ebits WHEN 1 THEN pbits
        |  END AS BIGINT) AS bits,
        | CAST(CASE kind WHEN 0 THEN emach WHEN 1 THEN pmach
        |  END AS BIGINT) AS machine
        |FROM p ORDER BY media_id""".stripMargin,

    // well-formed rows carry the id-derived fields; the malformed
    // (reserved != 0) rows keep the woff mime but null fields
    "m13_woff_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  CASE WHEN (doc_id // 3) % 2 = 0 THEN 'truetype'
        |   ELSE 'cff' END AS fl,
        |  doc_id % 20 + 4 AS nt, doc_id % 100000 + 1000 AS sf,
        |  CAST(doc_id % 3 AS VARCHAR) || '.' ||
        |    CAST(doc_id % 10 AS VARCHAR) AS ver
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind < 2 THEN 'font/woff'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE WHEN kind = 0 THEN fl END AS flavor,
        | CAST(CASE WHEN kind = 0 THEN nt END AS BIGINT) AS n_tables,
        | CAST(CASE WHEN kind = 0 THEN sf END AS BIGINT) AS sfnt_size,
        | CASE WHEN kind = 0 THEN ver END AS version
        |FROM p ORDER BY media_id""".stripMargin,

    // AVI rows from the id arithmetic; WAVE rows are audio/wav with
    // null video fields — the RIFF form dispatch, relationally
    "m12_avi_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  doc_id % 1920 + 2 AS w, doc_id % 1080 + 2 AS h,
        |  doc_id % 9000 + 24 AS fr,
        |  CASE WHEN doc_id % 3 = 0 THEN 33333 ELSE 41666 END AS uspf
        | FROM documents)
        |SELECT media_id,
        | CASE kind WHEN 0 THEN 'video/x-msvideo' WHEN 1 THEN 'audio/wav'
        |  ELSE 'application/octet-stream' END AS mime,
        | CAST(CASE WHEN kind = 0 THEN w END AS BIGINT) AS width,
        | CAST(CASE WHEN kind = 0 THEN h END AS BIGINT) AS height,
        | CAST(CASE WHEN kind = 0 THEN fr END AS BIGINT)
        |   AS total_frames,
        | CAST(CASE WHEN kind = 0
        |   THEN floor(fr * uspf / 1000.0) END AS BIGINT) AS duration_ms
        |FROM p ORDER BY media_id""".stripMargin,

    // expectations from the plant's id arithmetic: tagged rows carry
    // version/tag_size + frame fields on one residue family, bare rows
    // frame fields only on another, raw rows null
    "m11_mp3_meta" ->
      """WITH br(i, kbps) AS (VALUES (1,32),(2,40),(3,48),(4,56),(5,64),
        |  (6,80),(7,96),(8,112),(9,128),(10,160),(11,192),(12,224),
        |  (13,256),(14,320)),
        |sr(i, hz) AS (VALUES (0,44100),(1,48000),(2,32000)),
        |p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  '2.' || CAST(3 + doc_id % 2 AS VARCHAR) AS ver,
        |  doc_id % 200 + 100 AS ts,
        |  doc_id % 14 + 1 AS tb, doc_id % 3 AS tsr,
        |  (doc_id * 5) % 14 + 1 AS bb, (doc_id * 7) % 3 AS bsr
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind < 2 THEN 'audio/mpeg'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE WHEN kind = 0 THEN ver END AS id3_version,
        | CAST(CASE WHEN kind = 0 THEN ts END AS BIGINT) AS tag_size,
        | CAST(CASE WHEN kind < 2 THEN 3 END AS BIGINT) AS mpeg_layer,
        | CAST(CASE WHEN kind = 0 THEN (SELECT kbps FROM br
        |     WHERE i = tb)
        |   WHEN kind = 1 THEN (SELECT kbps FROM br WHERE i = bb)
        |  END AS BIGINT) AS bitrate_kbps,
        | CAST(CASE WHEN kind = 0 THEN (SELECT hz FROM sr
        |     WHERE i = tsr)
        |   WHEN kind = 1 THEN (SELECT hz FROM sr WHERE i = bsr)
        |  END AS BIGINT) AS sample_rate
        |FROM p ORDER BY media_id""".stripMargin,

    // startxref re-derived from the plant's construction: 9 header
    // bytes + the id%37 filler + its newline; xref_ok must be TRUE
    // everywhere a PDF was planted (the probe hits the real xref)
    "m10_pdf_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  CASE WHEN doc_id % 3 = 0 THEN '1.4' ELSE '1.7' END AS ver,
        |  doc_id % 40 + 2 AS sz, 9 + doc_id % 37 + 1 AS sx
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind < 2 THEN 'application/pdf'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE WHEN kind < 2 THEN ver END AS version,
        | CAST(CASE WHEN kind < 2 THEN sz END AS BIGINT) AS size,
        | CAST(CASE WHEN kind < 2 THEN sx END AS BIGINT) AS startxref,
        | CASE WHEN kind < 2 THEN true END AS xref_ok
        |FROM p ORDER BY media_id""".stripMargin,

    // expectations re-derived from the plant's id arithmetic: odd BMP
    // ids planted a negative (top-down) height, ICO dims obey the
    // 0-byte-means-256 rule, type 2 is a cursor
    "m09_bmp_ico_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  doc_id % 2000 + 1 AS w, doc_id % 1200 + 1 AS h,
        |  doc_id % 2 = 1 AS td,
        |  CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 8
        |   WHEN 3 THEN 24 ELSE 32 END AS bpp,
        |  CASE WHEN (doc_id // 3) % 2 = 0 THEN 'icon'
        |   ELSE 'cursor' END AS ik,
        |  (doc_id // 6) % 3 + 1 AS n,
        |  CASE WHEN doc_id % 256 = 0 THEN 256
        |   ELSE doc_id % 256 END AS iw,
        |  CASE WHEN (doc_id * 3) % 256 = 0 THEN 256
        |   ELSE (doc_id * 3) % 256 END AS ih,
        |  CASE (doc_id // 2) % 3 WHEN 0 THEN 4 WHEN 1 THEN 8
        |   ELSE 32 END AS ibpp
        | FROM documents)
        |SELECT media_id,
        | CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/x-icon'
        |  ELSE 'application/octet-stream' END AS mime,
        | CAST(CASE WHEN kind = 0 THEN w END AS BIGINT) AS bmp_width,
        | CAST(CASE WHEN kind = 0 THEN h END AS BIGINT) AS bmp_height,
        | CASE WHEN kind = 0 THEN td END AS top_down,
        | CAST(CASE WHEN kind = 0 THEN bpp END AS BIGINT) AS bmp_bpp,
        | CASE WHEN kind = 1 THEN ik END AS ico_kind,
        | CAST(CASE WHEN kind = 1 THEN n END AS BIGINT) AS n_images,
        | CAST(CASE WHEN kind = 1 THEN iw END AS BIGINT) AS ico_width,
        | CAST(CASE WHEN kind = 1 THEN ih END AS BIGINT) AS ico_height,
        | CAST(CASE WHEN kind = 1 THEN ibpp END AS BIGINT) AS ico_bpp
        |FROM p ORDER BY media_id""".stripMargin,

    "m06_tiff_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  doc_id % 4000 + 16 AS w, doc_id % 3000 + 16 AS h,
        |  doc_id % 8 + 1 AS ori, doc_id % 2 AS noori
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind = 0 THEN 'II' WHEN kind = 1 THEN 'MM' END
        |  AS byte_order,
        | CAST(CASE WHEN kind <= 1 THEN w END AS BIGINT) AS width,
        | CAST(CASE WHEN kind <= 1 THEN h END AS BIGINT) AS height,
        | CAST(CASE WHEN kind <= 1 AND noori = 0 THEN ori END AS BIGINT)
        |  AS orientation
        |FROM p ORDER BY media_id""".stripMargin,

    // expectations derived from the plant parameters, like m03-m06;
    // the scaling-hint bits planted on id%8=0 rows must NOT leak into
    // the dims (the oracle never adds them back)
    "m07_webp_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 4 AS kind,
        |  doc_id % 3000 + 16 AS w0, doc_id % 2000 + 16 AS h0,
        |  doc_id % 4000 + 16 AS w1, doc_id % 3000 + 16 AS h1,
        |  doc_id % 50000 + 16 AS w2, doc_id % 40000 + 16 AS h2
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind <= 2 THEN 'image/webp'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE kind WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
        |  WHEN 2 THEN 'extended' END AS webp_kind,
        | CAST(CASE kind WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2
        |  END AS BIGINT) AS width,
        | CAST(CASE kind WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2
        |  END AS BIGINT) AS height
        |FROM p ORDER BY media_id""".stripMargin,

    // expectations derived from the plant parameters, like m03/m04
    "m05_mp4_meta" ->
      """WITH p AS (SELECT doc_id AS media_id, doc_id % 3 AS kind,
        |  CASE doc_id % 4 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
        |   WHEN 2 THEN 'avc1' ELSE 'M4A ' END AS brand,
        |  CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |   WHEN 2 THEN 90000 WHEN 3 THEN 44100 ELSE 48000 END AS ts,
        |  (doc_id % 100000 + 500) * 100 AS dur
        | FROM documents)
        |SELECT media_id,
        | CASE WHEN kind <= 1 THEN 'video/mp4'
        |  ELSE 'application/octet-stream' END AS mime,
        | CASE WHEN kind <= 1 THEN brand END AS major_brand,
        | CAST(CASE WHEN kind <= 1 THEN ts END AS BIGINT) AS timescale,
        | CAST(CASE WHEN kind <= 1 THEN dur END AS BIGINT) AS duration,
        | CAST(CASE WHEN kind <= 1 THEN dur * 1000 // ts END AS BIGINT)
        |  AS duration_ms
        |FROM p ORDER BY media_id""".stripMargin,

    // the Spark side routed the same rows through an Arrow IPC file;
    // the oracle reads the parquet source directly
    "q57_ipc_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
        | n_name AS nation, r_name AS region
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nation_key""".stripMargin,

    "q58_salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q59_batched_write" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q60_timefly_delete" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey <= 1000 ORDER BY c_custkey""".stripMargin,

    "q61_transform_hook" ->
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_totalprice < 100000.0 THEN 'low' ELSE 'high' END
        |   AS price_band
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q62_compression_infer" ->
      """SELECT *, 'zstd' AS codec FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "q63_catalog_remove" ->
      """SELECT n_nationkey, n_name, r_name,
        | CAST(2 AS BIGINT) AS n_registered, CAST(2 AS BIGINT) AS n_discovered,
        | TRUE AS views_ok
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q64_bucketed_join" ->
      """SELECT o_orderstatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q65_stream_attribution" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        | p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts,
        | p.value
        |FROM events p JOIN events c
        | ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,

    // the served view equals the complete aggregation — no per-batch
    // term appears, because the last upsert of every key carried the
    // full running aggregate
    "q110_stream_mv" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        |   AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,

    // matched rows = the batch LEFT JOIN's matches (they stream out on
    // match); null-padded rows only for clicks whose 30-minute window
    // the final watermark (max event ts) closed unmatched
    "q107_stream_outer_join" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |c AS (SELECT user_id AS c_user, ts AS click_ts,
        |        event_id AS click_id FROM events
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS purchase_ts,
        |        event_id AS purchase_id, value FROM events
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT c.click_id, c.c_user, c.click_ts,
        |        p.purchase_id, p.purchase_ts, p.value
        |      FROM c LEFT JOIN p
        |        ON p.p_user = c.c_user
        |        AND p.purchase_ts >= c.click_ts
        |        AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
        |SELECT click_id, c_user AS user_id, click_ts,
        |  purchase_id, purchase_ts, value
        |FROM j, m
        |WHERE purchase_id IS NOT NULL
        |   OR click_ts + INTERVAL 30 MINUTE < mx
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q68_toml_adopt" ->
      """SELECT *, TRUE AS toml_ok FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "q69_limit_offset" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
        |FROM customer ORDER BY c_custkey
        |LIMIT 50 OFFSET 100""".stripMargin,

    "q66_ipc_dir_read" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        | COUNT(*) AS n_supp,
        | CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin,

    "q67_bucketed_delta" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // delta under schema drift: the unified union-diff — batch-1 rows
    // with o_orderdate null-filled and o_custkey promoted to bigint,
    // plus batch-2 rows whose keys the anti-join let through
    "q77_delta_schema_drift" ->
      """WITH b1 AS (
        |  SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey,
        |         o_totalprice
        |  FROM orders WHERE o_orderkey % 4 < 2),
        |b2 AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 IN (1, 2)),
        |app AS (
        |  SELECT * FROM b2
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b1))
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |       CAST(NULL AS TIMESTAMP) AS o_orderdate,
        |       o_orderkey, o_totalprice
        |FROM b1
        |UNION ALL
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, o_orderdate,
        |       o_orderkey, o_totalprice
        |FROM app
        |ORDER BY o_orderkey""".stripMargin,

    // compaction is content-preserving: the oracle is the plain table
    "q78_compact" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // layout rewrites are content no-ops: the z-order clustering claim
    // itself is asserted in-query (span narrowing) and in ZOrderSpec
    "q79_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // MERGE semantics replayed relationally: batch keys replace, new
    // keys append; the file-granular copy-on-write claim is asserted
    // in-query (strict-subset touch) and in RowOpsSpec (byte-identity).
    // q88 drives the SAME merge through streaming foreachBatch with a
    // replayed batch — upsert idempotence means one oracle serves both
    "q85_upsert" -> mergeOracle,
    "q88_stream_upsert" -> mergeOracle,

    // live = everything minus the MOR-deleted low band; pre (the
    // pre-rewrite version) = the first five eighths minus the same
    // deletes; inc = the post-rewrite append band only
    "q125_commitlog_optimize" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 8 AS e FROM src),
        |del AS (SELECT o_orderkey FROM src, b
        |  WHERE o_orderkey BETWEEN lo AND lo + e // 2),
        |live AS (SELECT s.* FROM src s
        |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM del)),
        |pre AS (SELECT s.* FROM src s, b
        |  WHERE s.o_orderkey <= lo + 5 * e
        |    AND s.o_orderkey NOT IN (SELECT o_orderkey FROM del)),
        |inc AS (SELECT s.* FROM src s, b
        |  WHERE s.o_orderkey > lo + 5 * e)
        |SELECT 'live' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM live
        |UNION ALL
        |SELECT 'pre', o_orderkey, o_custkey, o_totalprice FROM pre
        |UNION ALL
        |SELECT 'inc', o_orderkey, o_custkey, o_totalprice FROM inc
        |ORDER BY side, o_orderkey""".stripMargin,

    // the three streamed thirds land once each despite the total
    // replay; the independent 'backfill' app re-lands the first third
    "q126_commitlog_txn" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 3 AS e FROM src)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM src
        |UNION ALL
        |SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |FROM src s, b WHERE s.o_orderkey BETWEEN lo AND lo + e
        |ORDER BY o_orderkey, o_totalprice""".stripMargin,

    // schema evolution replayed relationally: three drifted appends
    // union under the promoted wide schema (bonus int→double, missing
    // o_custkey null-filled); v1 = the narrow founding batch; inc =
    // the post-v1 increment under the same conform
    "q127_commitlog_evolve" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
        |  (max(o_orderkey) - min(o_orderkey)) // 3 AS e FROM src),
        |v1 AS (SELECT o_orderkey,
        |    CAST(o_orderkey % 100 AS DOUBLE) AS bonus,
        |    CAST(NULL AS BIGINT) AS o_custkey, o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND lo + e),
        |v2 AS (SELECT o_orderkey,
        |    CAST(o_orderkey % 100 AS DOUBLE) AS bonus,
        |    o_custkey, o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo + e + 1 AND lo + 2*e),
        |v3 AS (SELECT o_orderkey,
        |    CAST(o_orderkey % 100 AS DOUBLE) + 0.5 AS bonus,
        |    o_custkey, o_totalprice
        |  FROM src, b WHERE o_orderkey > lo + 2*e)
        |SELECT 'live' AS side, o_orderkey, o_custkey, o_totalprice,
        |  bonus FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |  UNION ALL SELECT * FROM v3)
        |UNION ALL
        |SELECT 'v1', o_orderkey, o_custkey, o_totalprice, bonus FROM v1
        |UNION ALL
        |SELECT 'inc', o_orderkey, o_custkey, o_totalprice, bonus
        |FROM (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
        |ORDER BY side, o_orderkey""".stripMargin,

    // layout rewrites are content no-ops (the q79 rule): the both-axis
    // pruning claims are asserted in-query
    "q128_commitlog_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the screened multi-writer ingest: every source row lands exactly
    // once — accepted (key % 7 <> 0) in the lake via two commits,
    // violators in quarantine with the rule name; the all-violations
    // third batch is excluded by the key band
    "q129_commitlog_screened" ->
      """SELECT 'lake' AS side, o_orderkey, o_custkey, o_totalprice,
        | '' AS violated
        |FROM orders WHERE o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT 'quarantine', o_orderkey, o_custkey, o_totalprice,
        | 'key_mod'
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY side, o_orderkey""".stripMargin,

    // the screened merge: batch rows with key % 7 == 0 quarantine
    // (rule 'key_mod'); the lake is mergeOracle's final state
    // restricted to ACCEPTED batch rows — a quarantined update's key
    // keeps its ORIGINAL row, a quarantined insert's key never lands
    "q123_upsert_screened" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM src),
        |upd AS (SELECT o_orderkey, o_custkey,
        |    CAST(-1.0 AS DOUBLE) AS o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND hi),
        |ins AS (SELECT o_orderkey + hi0 + 1 AS o_orderkey, o_custkey,
        |    CAST(0.5 AS DOUBLE) AS o_totalprice
        |  FROM src, b WHERE o_orderkey BETWEEN lo AND hi),
        |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |acc AS (SELECT * FROM batch WHERE o_orderkey % 7 <> 0),
        |quar AS (SELECT * FROM batch WHERE o_orderkey % 7 = 0),
        |fin AS (
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice FROM src s
        |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM acc)
        |  UNION ALL SELECT * FROM acc)
        |SELECT 'lake' AS side, o_orderkey, o_custkey, o_totalprice,
        |  '' AS violated FROM fin
        |UNION ALL
        |SELECT 'quarantine', o_orderkey, o_custkey, o_totalprice,
        |  'key_mod' FROM quar
        |ORDER BY side, o_orderkey""".stripMargin,



    "q86_row_delete" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey < b.lo OR o_orderkey > b.hi
        |ORDER BY o_orderkey""".stripMargin,

    // the hive merge relationally: batch = the 'O'-status band updated
    // + shifted inserts; keep = every key outside the batch
    "q90_upsert_hive" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |  FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM src),
        |upd AS (SELECT o_orderkey, o_custkey,
        |    CAST(-1.0 AS DOUBLE) AS o_totalprice, o_orderstatus
        |  FROM src, b
        |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus = 'O'),
        |ins AS (SELECT o_orderkey + hi0 + 1 AS o_orderkey, o_custkey,
        |    CAST(0.5 AS DOUBLE) AS o_totalprice, 'O' AS o_orderstatus
        |  FROM src, b
        |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus = 'O'),
        |keep AS (SELECT s.* FROM src s, b
        |  WHERE NOT (s.o_orderkey BETWEEN b.lo AND b.hi
        |             AND s.o_orderstatus = 'O'))
        |SELECT * FROM keep
        |UNION ALL SELECT * FROM upd
        |UNION ALL SELECT * FROM ins
        |ORDER BY o_orderkey""".stripMargin,

    // the SCD2 history replayed relationally: the changed band owns a
    // three-deep chain (v0 closed@1, v1 closed@2, v2 open), everything
    // else keeps its v0 open row, the no-op redelivery leaves no trace,
    // and the shifted inserts open at version 1
    "q91_scd2_merge" ->
      """WITH src AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |    c_acctbal AS bal FROM customer),
        |b AS (SELECT min(k) AS lo, max(k) AS hi,
        |  min(k) + (max(k) - min(k)) // 8 AS q1 FROM src),
        |band AS (SELECT s.* FROM src s, b WHERE k BETWEEN lo AND q1)
        |SELECT k AS c_custkey, seg, bal,
        |  CAST(0 AS BIGINT) AS valid_from,
        |  CAST(NULL AS BIGINT) AS valid_to, true AS is_current
        |FROM src, b WHERE k NOT BETWEEN lo AND q1
        |UNION ALL
        |SELECT k, seg, bal, 0, 1, false FROM band
        |UNION ALL
        |SELECT k, seg, bal + 100.0, 1, 2, false FROM band
        |UNION ALL
        |SELECT k, 'SCD2', bal + 100.0, 2, NULL, true FROM band
        |UNION ALL
        |SELECT k + hi + 1, seg, bal, 1, NULL, true FROM band, b
        |ORDER BY c_custkey, valid_from""".stripMargin,

    // the change feed replayed relationally: v1 = the band's pre/post
    // images + the shifted inserts, v2 = the delete of v1's update
    // victims (price < 0); the 0.5-priced inserts survive
    "q92_change_feed" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM orders),
        |band AS (SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders, b WHERE o_orderkey BETWEEN lo AND hi)
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  'update_preimage' AS _change_type,
        |  CAST(1 AS BIGINT) AS _commit_version FROM band
        |UNION ALL
        |SELECT o_orderkey, o_custkey, CAST(-1.0 AS DOUBLE),
        |  'update_postimage', 1 FROM band
        |UNION ALL
        |SELECT o_orderkey + hi0 + 1, o_custkey, CAST(0.5 AS DOUBLE),
        |  'insert', 1 FROM band, b
        |UNION ALL
        |SELECT o_orderkey, o_custkey, CAST(-1.0 AS DOUBLE),
        |  'delete', 2 FROM band
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,

    // asof = the untouched pre-merge table; current = the merged state
    // (the mergeOracle relation)
    "q94_mutation_timetravel" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM src),
        |band AS (SELECT s.* FROM src s, b
        |  WHERE o_orderkey BETWEEN lo AND hi),
        |merged AS (
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
        |  FROM src s, b WHERE s.o_orderkey < b.lo OR s.o_orderkey > b.hi
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, CAST(-1.0 AS DOUBLE) FROM band
        |  UNION ALL
        |  SELECT o_orderkey + hi0 + 1, o_custkey, CAST(0.5 AS DOUBLE)
        |  FROM band, b)
        |SELECT 'asof' AS side, * FROM src
        |UNION ALL
        |SELECT 'current' AS side, * FROM merged
        |ORDER BY side, o_orderkey""".stripMargin,

    // hidden partitioning must be invisible in the result: the pruned
    // read equals the plain filtered relation
    "q95_hidden_partitioning" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,

    // spec evolution must be invisible too: both layouts' rows for the
    // predicate, exactly once each
    "q96_partition_evolution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin,

    // the tag serves the v1 release verbatim; current serves v2 —
    // retention ran in between and must not have touched either
    "q97_snapshot_tags" ->
      """SELECT 'tag' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey < 100
        |UNION ALL
        |SELECT 'current', o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey >= 1400
        |ORDER BY side, o_orderkey""".stripMargin,

    // tag = s1 (o_custkey < 100); kept boundary s3 and current are the
    // same state (o_custkey >= 1400); the expired s2 never appears
    "q124_vacuum_keep_last" ->
      """SELECT 'tag' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey < 100
        |UNION ALL
        |SELECT 'kept', o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey >= 1400
        |UNION ALL
        |SELECT 'current', o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey >= 1400
        |ORDER BY side, o_orderkey""".stripMargin,

    // main = the fast-forwarded state (base ∪ branch appends); the
    // post-publish branch additionally carries its own appends
    "q98_branch" ->
      """WITH main AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_custkey < 300 OR o_custkey >= 1400)
        |SELECT 'main' AS side, * FROM main
        |UNION ALL
        |SELECT 'branch', * FROM main
        |UNION ALL
        |SELECT 'branch', o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey BETWEEN 700 AND 720
        |ORDER BY side, o_orderkey""".stripMargin,

    // branch wins on the re-priced band, main's divergent append
    // survives, branch-new keys land
    "q117_branch_merge" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_custkey < 100 THEN -1.0
        |  ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_custkey < 300 OR o_custkey BETWEEN 700 AND 720
        |   OR o_custkey >= 1400
        |ORDER BY o_orderkey""".stripMargin,

    // source = base ∪ its own post-clone appends; clone = the frozen
    // base ∪ the clone's appends — neither side sees the other's writes
    "q99_clone" ->
      """SELECT 'source' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey < 300 OR o_custkey BETWEEN 700 AND 720
        |UNION ALL
        |SELECT 'clone', o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey < 300 OR o_custkey >= 1400
        |ORDER BY side, o_orderkey""".stripMargin,

    // the timeline replayed relationally: snapshot 1 froze the v1
    // rows, snapshot 2 (manifest-only) froze v2, the live row serves
    // v2 plus the post-snapshot append
    "q100_history" ->
      """SELECT CAST(1 AS BIGINT) AS ord, false AS is_current,
        |  false AS manifest_only,
        |  (SELECT count(*) FROM orders WHERE o_custkey < 100) AS n_rows
        |UNION ALL
        |SELECT 2, false, true,
        |  (SELECT count(*) FROM orders WHERE o_custkey >= 1400)
        |UNION ALL
        |SELECT 3, true, false,
        |  (SELECT count(*) FROM orders WHERE o_custkey >= 1400)
        |  + (SELECT count(*) FROM orders
        |     WHERE o_custkey BETWEEN 700 AND 720)
        |ORDER BY ord""".stripMargin,

    // the q44 islands, re-emitted as session windows: start = first
    // event, end = last event + the 30-minute gap; sessions the final
    // watermark (max event ts) leaves open are withheld — the
    // append-mode emission rule, encoded exactly like q35's final
    // tumbling window. The split predicate is `>=`, NOT q44's strict
    // `>`: session_window windows are [t, t + gap) and merge only on
    // OVERLAP, so an event landing exactly `gap` after its
    // predecessor starts a NEW session — the boundary must match or
    // an exact-30:00 gap in the fixture would hash-mismatch
    "q101_stream_sessions" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (
        | SELECT user_id, ts, value,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS session_id
        | FROM g),
        |sess AS (
        | SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        | FROM t GROUP BY user_id, session_id)
        |SELECT user_id, first_ts AS session_start,
        | last_ts + INTERVAL 30 MINUTE AS session_end,
        | n_events, total_value, first_ts, last_ts
        |FROM sess, m
        |WHERE last_ts + INTERVAL 30 MINUTE <= mx
        |ORDER BY user_id, session_start""".stripMargin,

    // both sides must equal the post-mutation state: non-band keys
    // keep their rows, band post-images were deleted at v2, the
    // shifted 0.5-priced inserts survive
    "q93_cdc_replica" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi0,
        |  min(o_orderkey) +
        |    (max(o_orderkey) - min(o_orderkey)) // 8 AS hi FROM orders),
        |band AS (SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders, b WHERE o_orderkey BETWEEN lo AND hi),
        |final AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders, b WHERE o_orderkey < lo OR o_orderkey > hi
        |  UNION ALL
        |  SELECT o_orderkey + hi0 + 1, o_custkey, CAST(0.5 AS DOUBLE)
        |  FROM band, b)
        |SELECT 'replica' AS side, * FROM final
        |UNION ALL
        |SELECT 'source' AS side, * FROM final
        |ORDER BY side, o_orderkey""".stripMargin,

    // every Lloyd iteration replayed exactly: same floor-quantization,
    // same lowest-id seeding, same min-distance-then-min-cid
    // assignment, same floor(sum/count) centroid update — all integer
    // or dyadic-exact arithmetic, so three unrolled iterations
    // hash-match bit for bit
    "e19_kmeans" -> e19Oracle,

    // trained-quantizer IVF: e19's cells + e04's exact-cosine rerank
    "e20_kmeans_ivf" -> e20Oracle,

    // the same unrolled Lloyd chain; a = nearest (the assignment), b =
    // second-nearest — per-vector silhouette from exact integer
    // distances
    "e24_silhouette" ->
      s"""WITH ${kmeansCtes()},
        |r AS (SELECT vec_id, cid, d,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY d, cid) AS rn
        |      FROM D3)
        |SELECT r1.vec_id, CAST(r1.cid AS BIGINT) AS cluster,
        |  CAST(r1.d AS BIGINT) AS a_sq, CAST(r2.d AS BIGINT) AS b_sq,
        |  CASE WHEN greatest(r1.d, r2.d) = 0 THEN 0.0
        |   ELSE CAST(r2.d - r1.d AS DOUBLE) /
        |        CAST(greatest(r1.d, r2.d) AS DOUBLE) END AS silhouette
        |FROM r r1 JOIN r r2
        |  ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2
        |ORDER BY r1.vec_id""".stripMargin,

    // the same split replayed relationally: violated = the non-null
    // rule flags in rule order, comma-joined; NULL predicates would
    // count as violations on both sides (coalesce-to-false)
    "q89_expectations" ->
      """WITH f AS (
        | SELECT o_orderkey, o_totalprice,
        |  list_filter([
        |    CASE WHEN NOT coalesce(o_totalprice <= 250000.0, false)
        |      THEN 'price_cap' END,
        |    CASE WHEN NOT coalesce(o_orderkey % 13 <> 0, false)
        |      THEN 'key_mod' END], x -> x IS NOT NULL) AS v
        | FROM orders)
        |SELECT o_orderkey, o_totalprice, 'lake' AS side, '' AS violated
        |FROM f WHERE len(v) = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'quarantine' AS side,
        | array_to_string(v, ',') AS violated
        |FROM f WHERE len(v) > 0
        |ORDER BY side, o_orderkey""".stripMargin,

    // the increment = everything delta-ingested after the snapshot:
    // the %3=0 baseline batch is excluded, replayed rows are dropped by
    // the delta gate, so exactly the %3 ∈ {1,2} docs remain
    "q87_incremental_read" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 3 IN (1, 2) ORDER BY doc_id""".stripMargin,

    // vacuum never touches current data; the GC claims are asserted
    // in-query and in TimeFlySpec
    "q80_vacuum" ->
      """SELECT * FROM nation ORDER BY n_nationkey""".stripMargin,

    // file skipping must be invisible in the result: the stats prune
    // the listing, the residual filter supplies exactness
    "q82_stats_skipping" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey >= 1 AND o_custkey <=
        |  (SELECT floor(max(o_custkey) / 15.0) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    // reader-integrated skipping on BOTH z columns; the band bounds use
    // exactly-representable arithmetic (min/max exact, /8.0 dyadic) so
    // both engines derive identical literals, and the result must be
    // identical to the plain filter — pruning is invisible
    "q83_reader_skipping" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey >= 1 AND o_custkey <=
        |  (SELECT floor(max(o_custkey) / 15.0) FROM orders)
        |AND o_totalprice <=
        |  (SELECT floor(min(o_totalprice) +
        |     (max(o_totalprice) - min(o_totalprice)) / 8.0) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    // near-dup-aware delta ingest: base (doc_id % 4 <> 0) plus batch
    // survivors — even ids minus exact-key dups (% 4 = 2) minus rows
    // whose Jaccard vs ANY base doc >= 0.2. The shingle universe, DF cap
    // (greatest(64, 5% of new+existing) over the combined corpus) and
    // Jaccard formulation mirror the d15 oracle exactly.
    "q70_delta_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <=
        |   (SELECT greatest(64, CAST(ceil(COUNT(*) * 0.05) AS BIGINT))
        |    FROM documents)),
        |nw AS (SELECT * FROM sh WHERE doc_id % 4 = 0),
        |ex AS (SELECT * FROM sh WHERE doc_id % 4 <> 0),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT nw.doc_id AS id_new, ex.doc_id AS id_ex, COUNT(*) AS n_both
        |  FROM nw JOIN ex ON nw.shingle = ex.shingle
        |  GROUP BY nw.doc_id, ex.doc_id),
        |dup AS (SELECT DISTINCT id_new FROM inter
        |  JOIN cnt ca ON ca.doc_id = id_new
        |  JOIN cnt cb ON cb.doc_id = id_ex
        |  WHERE CAST(n_both AS DOUBLE) /
        |        CAST(ca.n + cb.n - n_both AS DOUBLE) >= 0.2)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 4 <> 0
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 4 = 0 AND doc_id NOT IN (SELECT id_new FROM dup)
        |ORDER BY doc_id""".stripMargin,

    "q76_stream_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |          tk[i+3] || ' ' || tk[i+4])) AS shingle
        |  FROM toks),
        |ev AS (SELECT shingle FROM sh WHERE doc_id % 20 = 7),
        |bad AS (SELECT DISTINCT tr.doc_id FROM sh tr
        |        JOIN ev ON tr.shingle = ev.shingle
        |        WHERE tr.doc_id % 20 <> 7)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 20 <> 7
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    "q74_delta_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   unnest(list_transform(range(1, greatest(len(tk) - 3, 1)),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |          tk[i+3] || ' ' || tk[i+4])) AS shingle
        |  FROM toks),
        |ev AS (SELECT shingle FROM sh WHERE doc_id % 20 = 7),
        |bad AS (SELECT DISTINCT tr.doc_id FROM sh tr
        |        JOIN ev ON tr.shingle = ev.shingle
        |        WHERE tr.doc_id % 20 <> 7)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 20 <> 7 AND doc_id < 250
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 20 <> 7 AND doc_id >= 250
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    // the snapshot round-trip restores exactly the d13 pipeline output
    "q72_corpus_snapshot" -> d13Oracle,

    // replayed delivery + delta gate = exactly-once: the lake equals one
    // copy of the source
    "q73_stream_ingest" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin
  )
}

