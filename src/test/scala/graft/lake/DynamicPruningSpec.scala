package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DynamicPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def factDir(prefix: String): String = {
    val dir = TestSpark.tempDir(prefix) + "/fact"
    // 16 files, each a contiguous id band of 625: key-clustered, the
    // layout dynamic pruning pays off on. Range slices make the bands
    // exact; a range repartition samples its bounds with a seed taken
    // from the RDD id, so its bands moved with the jobs earlier tests ran
    spark.range(0, 10000, 1, 16)
      .select(col("id").as("k"), (col("id") % 97).as("v"),
        concat(lit("key-"), format_string("%05d", col("id"))).as("s"))
      .write.parquet(dir)
    FileStats.build(spark, dir, bloomCols = Seq("k", "s"))
    dir
  }

  test("a selective dim prunes the fact listing; join == unpruned") {
    val dir = factDir("dfp")
    val nFiles = SchemaTools.listDataFiles(spark, dir).size
    val dim = Seq((1200L, "a"), (1201L, "b"), (8100L, "c"))
      .toDF("dk", "tag")
    val pruned = DynamicPruning.prunedFactScan(
      spark, dir, dim, Seq("k" -> "dk"))
    assert(pruned.inputFiles.length <= 2 &&
      pruned.inputFiles.length < nFiles,
      s"3 keys in 2 bands must isolate <=2 of $nFiles files: " +
        s"${pruned.inputFiles.length}")
    val got = DynamicPruning.joinPruned(
      spark, dir, dim, Seq("k" -> "dk"))
      .select("k", "v", "tag").orderBy("k")
      .collect().map(_.toSeq).toSeq
    val want = spark.read.parquet(dir)
      .join(dim, col("k") === col("dk"))
      .select("k", "v", "tag").orderBy("k")
      .collect().map(_.toSeq).toSeq
    assert(got == want, "pruning must never change the join answer")
  }

  test("string keys prune through spans + blooms; semi join works") {
    val dir = factDir("dfp_str")
    val nFiles = SchemaTools.listDataFiles(spark, dir).size
    val dim = Seq("key-00042", "key-00043").toDF("ds")
    val semi = DynamicPruning.joinPruned(
      spark, dir, dim, Seq("s" -> "ds"), joinType = "left_semi")
    assert(semi.inputFiles.length <= 1 && nFiles > 1,
      "two adjacent string keys live in one file")
    assert(semi.select("k").as[Long].collect().sorted.toSeq ==
      Seq(42L, 43L))
  }

  test("above maxKeys the domain degrades to a span band, still sound") {
    val dir = factDir("dfp_band")
    val nFiles = SchemaTools.listDataFiles(spark, dir).size
    // 500 distinct keys in one contiguous band, cap forces span mode
    val dim = spark.range(2000, 2500).select(col("id").as("dk"))
    val pruned = DynamicPruning.prunedFactScan(
      spark, dir, dim, Seq("k" -> "dk"), maxKeys = 100)
    assert(pruned.inputFiles.length <= 2 &&
      pruned.inputFiles.length < nFiles,
      s"a 500-wide band spans <=2 of $nFiles files: " +
        s"${pruned.inputFiles.length}")
    val n = DynamicPruning.joinPruned(
      spark, dir, dim, Seq("k" -> "dk"), maxKeys = 100).count()
    assert(n == 500L)
  }

  test("empty and all-null dim domains read zero files, keep schema") {
    val dir = factDir("dfp_empty")
    val empty = DynamicPruning.prunedFactScan(
      spark, dir, Seq.empty[Long].toDF("dk"), Seq("k" -> "dk"))
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("k", "v", "s"))
    val nulls = Seq[Option[Long]](None, None).toDF("dk")
    assert(DynamicPruning.joinPruned(
      spark, dir, nulls, Seq("k" -> "dk")).count() == 0)
  }

  test("no manifest degrades to a residual-filtered full scan; outer " +
      "join types refuse") {
    val dir = TestSpark.tempDir("dfp_nostats") + "/fact"
    spark.range(100).select(col("id").as("k")).write.parquet(dir)
    val dim = Seq(5L, 7L).toDF("dk")
    val got = DynamicPruning.joinPruned(spark, dir, dim, Seq("k" -> "dk"))
    assert(got.count() == 2)
    intercept[IllegalArgumentException] {
      DynamicPruning.joinPruned(spark, dir, dim, Seq("k" -> "dk"),
        joinType = "left_outer")
    }
  }
}
