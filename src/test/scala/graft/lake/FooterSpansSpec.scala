package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** r13 opt: commit-time spans read from parquet FOOTERS
  * ([[FileStats.footerSpans]]) must be span-for-span IDENTICAL to the
  * distributed agg they replace ([[FileStats.typedSpanAggs]] +
  * [[decodeSpan]]) — or refuse (None) so the agg runs. Pruning
  * soundness and the in-query strict-subset assertions ride on this
  * equality. */
class FooterSpansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The agg path, exactly as CommitLog.spansOf runs it. */
  private def aggSpans(paths: Seq[String], schema: StructType)
      : Map[String, (Long, Map[String, (Option[FileStats.SpanV],
        Option[FileStats.SpanV])])] = {
    val df = spark.read.schema(schema).parquet(paths: _*)
    val fields = FileStats.indexableFields(df.schema)
    val aggs = FileStats.typedSpanAggs(fields) :+
      count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val cols = fields
          .map(f => f.name -> FileStats.decodeSpan(r, f)).toMap
        r.getString(r.fieldIndex("file")) ->
          ((r.getLong(r.fieldIndex("n_rows")), cols))
      }.toMap
  }

  private def dataFiles(dir: String): Seq[String] =
    SchemaTools.listDataFiles(spark, dir).filter(_.endsWith(".parquet"))

  test("footer spans == agg spans across the whole indexable type set " +
      "(incl. >64-cp strings, unicode, negatives, all-null columns)") {
    val dir = TestSpark.tempDir("fspans") + "/ds"
    val long64 = "z" + ("ab" * 40) // 81 chars: exercises StrPrefix
    val uni = "é世界 " + ("x" * 70)
    val df = spark.range(200).select(
      col("id"),
      (col("id") - 100).cast("long").as("neg"),
      (col("id").cast("double") * -1.5 + 3.25).as("d"),
      col("id").cast("float").as("f"),
      when(col("id") % 3 === 0, concat(lit(long64), col("id")))
        .when(col("id") % 3 === 1, lit(uni))
        .otherwise(concat(lit("s-"), col("id"))).as("s"),
      lit(null).cast("string").as("allnull"),
      // NTZ: Spark writes INT64 micros with footer stats (LTZ would
      // write INT96 — stat-less, covered by the fallback test below)
      timestamp_micros(lit(1704067200000000L) + col("id") * 987654321L)
        .cast(TimestampNTZType).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2024-02-29")),
        col("id").cast("int")).as("dt"))
    df.repartition(4).write.mode("overwrite").parquet(dir)
    val files = dataFiles(dir)
    assert(files.size >= 2)
    val schema = spark.read.parquet(dir).schema
    val viaFooter = FileStats.footerSpans(spark, files, schema)
    assert(viaFooter.isDefined, "clean parquet must take the footer path")
    val viaAgg = aggSpans(files, schema)
    val f2a = viaFooter.get.map { case (p, v) =>
      // agg keys are input_file_name() URIs; normalize both to the path
      new org.apache.hadoop.fs.Path(p).toUri.getPath -> v
    }
    val a2a = viaAgg.map { case (p, v) =>
      new org.apache.hadoop.fs.Path(p).toUri.getPath -> v
    }
    assert(f2a.keySet == a2a.keySet)
    f2a.foreach { case (p, (n, cols)) =>
      val (an, acols) = a2a(p)
      assert(n == an, s"$p row count")
      assert(cols == acols,
        s"$p spans differ:\n footer=$cols\n agg   =$acols")
    }
  }

  test("ineligible footers refuse (None) instead of approximating: " +
      "decimal columns and NTZ-nanos timestamps fall back") {
    val dir = TestSpark.tempDir("fspans_dec") + "/ds"
    spark.range(10)
      .select(col("id"), col("id").cast("decimal(12,2)").as("dec"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    assert(FileStats.footerSpans(spark, dataFiles(dir), schema).isEmpty,
      "decimal spans are not footer-replicated — must fall back")
    // LTZ timestamps: Spark's default writer encodes INT96, which
    // parquet-mr surfaces stat-less — the footer path must refuse
    val dir2 = TestSpark.tempDir("fspans_ltz") + "/ds"
    spark.range(10)
      .select(col("id"),
        timestamp_micros(lit(1704067200000000L) + col("id")).as("ts"))
      .write.mode("overwrite").parquet(dir2)
    val schema2 = spark.read.parquet(dir2).schema
    assert(schema2("ts").dataType == TimestampType)
    assert(FileStats.footerSpans(spark, dataFiles(dir2), schema2).isEmpty,
      "INT96 (stat-less) timestamps must fall back")
  }

  test("zero-row and all-null-only files span like the agg's absent " +
      "groups (n=0 / None sides)") {
    val dir = TestSpark.tempDir("fspans_zero") + "/ds"
    spark.range(5).filter(col("id") < 0)
      .select(col("id"), col("id").cast("string").as("s"))
      .write.mode("overwrite").parquet(dir)
    val files = dataFiles(dir)
    assert(files.nonEmpty)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    val got = FileStats.footerSpans(spark, files, schema)
    assert(got.isDefined)
    got.get.values.foreach { case (n, cols) =>
      assert(n == 0L && cols.isEmpty)
    }
  }

  test("NaN in a double column refuses the footer path (Spark's agg " +
      "ranks NaN greatest; parquet footers drop it)") {
    val dir = TestSpark.tempDir("fspans_nan") + "/ds"
    spark.range(10)
      .select(col("id"),
        when(col("id") === 5, lit(Double.NaN))
          .otherwise(col("id").cast("double")).as("d"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val got = FileStats.footerSpans(spark, dataFiles(dir), schema)
    // either the writer dropped NaN from stats (we must refuse) or it
    // recorded it (we must refuse on the NaN span) — both are None
    assert(got.isEmpty, s"NaN spans must fall back to the agg: $got")
  }

  test("a commit-log append carries footer-derived spans that prune " +
      "exactly like agg-derived ones (candidateDataFiles + history)") {
    val root = TestSpark.tempDir("fspans_log") + "/t"
    val log = CommitLog(spark, root).init()
    log.append(spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 97).cast("double").as("v"),
        concat(lit("k-"), format_string("%04d", col("id"))).as("k")))
    val cand = log.candidateDataFiles("id >= 900")
    assert(cand.isDefined && cand.get.size == 1,
      s"band should span-prune to the one holding file: $cand")
    val candS = log.candidateDataFiles("k = 'k-0007'")
    assert(candS.isDefined && candS.get.size == 1,
      s"string point probe should span-prune: $candS")
    // row counts in history ride the same spans
    val total = log.read(None).count()
    assert(total == 1000L)
  }
}
