package graft.lake

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SchemaToolsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("promotion ladder: numeric ranks") {
    assert(SchemaTools.promote(IntegerType, LongType) == LongType)
    assert(SchemaTools.promote(ByteType, ShortType) == ShortType)
    assert(SchemaTools.promote(LongType, FloatType) == FloatType)
    assert(SchemaTools.promote(FloatType, DoubleType) == DoubleType)
    assert(SchemaTools.promote(DoubleType, DoubleType) == DoubleType)
  }

  test("promotion ladder: string is top") {
    assert(SchemaTools.promote(LongType, StringType) == StringType)
    assert(SchemaTools.promote(StringType, DoubleType) == StringType)
    assert(SchemaTools.promote(TimestampType, StringType) == StringType)
  }

  test("promotion: date widens to timestamp") {
    assert(SchemaTools.promote(DateType, TimestampType) == TimestampType)
  }

  test("promote is commutative") {
    val types = Seq(ByteType, ShortType, IntegerType, LongType, FloatType,
      DoubleType, StringType, BooleanType)
    for (a <- types; b <- types)
      assert(SchemaTools.promote(a, b) == SchemaTools.promote(b, a),
        s"promote($a,$b)")
  }

  test("unifySchemas: name union, sorted, promoted") {
    val a = StructType(Seq(
      StructField("id", IntegerType), StructField("v", LongType)))
    val b = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("extra", DoubleType)))
    val u = SchemaTools.unifySchemas(Seq(a, b))
    assert(u.fieldNames.toSeq == Seq("extra", "id", "v"))
    assert(u("id").dataType == LongType)
    assert(u("v").dataType == StringType)
    assert(u("extra").dataType == DoubleType)
  }

  test("readUnified over heterogeneous fragments") {
    val dir = TestSpark.tempDir("unify")
    Seq((1, 10L)).toDF("id", "v")
      .write.parquet(s"$dir/f1")
    Seq((2L, "x", 1.5)).toDF("id", "v", "extra")
      .write.parquet(s"$dir/f2")
    // move the files into one flat dir
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val flat = new org.apache.hadoop.fs.Path(s"$dir/flat")
    fs.mkdirs(flat)
    var i = 0
    for (sub <- Seq("f1", "f2")) {
      SchemaTools.listDataFiles(spark, s"$dir/$sub").foreach { f =>
        fs.rename(new org.apache.hadoop.fs.Path(f),
          new org.apache.hadoop.fs.Path(flat, s"part-$i.parquet"))
        i += 1
      }
    }
    val df = SchemaTools.readUnified(spark, s"$dir/flat")
    assert(df.columns.toSeq == Seq("extra", "id", "v"))
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("v").dataType == StringType)
    assert(df.count() == 2)
    val ids = df.select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("rewriteUnified makes heterogeneous files physically conform") {
    val dir = graft.TestSpark.tempDir("unifyrw")
    Seq((1, "a")).toDF("id", "v")
      .selectExpr("CAST(id AS INT) AS id", "v")
      .write.mode("append").parquet(dir)
    Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(dir)
    val n = SchemaTools.rewriteUnified(spark, dir)
    assert(n == 1) // only the int file needed rewriting
    // a PLAIN read (no mergeSchema, no unify) now sees one schema
    val df = spark.read.parquet(dir)
    assert(df.schema("id").dataType == LongType)
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // second call is a no-op
    assert(SchemaTools.rewriteUnified(spark, dir) == 0)
  }

  test("directory-flavor partitioning: write, infer, read back") {
    val dir = graft.TestSpark.tempDir("dirpart")
    val df = Seq((1, "x", "p1"), (2, "y", "p2"), (3, "z", "p1"))
      .toDF("id", "v", "p")
    LakeWriter(spark, dir, WriteMode.Overwrite)
      .writeDirectoryPartitioned(df, Seq("p"))
    assert(SchemaTools.inferPartitioning(spark, dir) == "directory")
    val back = SchemaTools.readDirectoryPartitioned(spark, dir, Seq("p"))
    assert(back.count() == 3)
    assert(back.filter($"p" === "p1").count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "p", "v"))
    // hive flavor is inferred as hive
    val hdir = graft.TestSpark.tempDir("hivepart")
    df.write.mode("overwrite").partitionBy("p").parquet(hdir)
    assert(SchemaTools.inferPartitioning(spark, hdir) == "hive")
  }

  test("directory-flavor partitioning nests multiple levels") {
    val dir = graft.TestSpark.tempDir("dirpart2")
    val df = Seq((1, "a", "x"), (2, "a", "y"), (3, "b", "x"))
      .toDF("id", "p1", "p2")
    LakeWriter(spark, dir, WriteMode.Overwrite)
      .writeDirectoryPartitioned(df, Seq("p1", "p2"))
    val back = SchemaTools
      .readDirectoryPartitioned(spark, dir, Seq("p1", "p2"))
    assert(back.count() == 3)
    assert(back.filter($"p1" === "a" && $"p2" === "y")
      .select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("compression inference reads the footer codec") {
    val dir = graft.TestSpark.tempDir("codec")
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$dir/z")
    assert(SchemaTools.inferCompression(spark, s"$dir/z") == "zstd")
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite")
      .option("compression", "snappy").parquet(s"$dir/s")
    assert(SchemaTools.inferCompression(spark, s"$dir/s") == "snappy")
  }

  test("directory-level format inference picks the majority extension") {
    val dir = TestSpark.tempDir("fmtinf")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.write.mode("overwrite").option("header", "true")
      .csv(s"$dir/a.csv")
    df.write.mode("overwrite").option("header", "true")
      .csv(s"$dir/b.csv")
    df.write.mode("overwrite").parquet(s"$dir/c.parquet")
    // 2 csv dirs + 1 parquet dir of files: csv wins per-file majority
    // (each csv dir holds the same number of part files as the parquet
    // one here, so assert on a flat dir below for the strict case)
    val flat = TestSpark.tempDir("fmtflat")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    var i = 0
    for (sub <- Seq("a.csv", "b.csv")) {
      SchemaTools.listDataFiles(spark, s"$dir/$sub").foreach { f =>
        fs.rename(new org.apache.hadoop.fs.Path(f),
          new org.apache.hadoop.fs.Path(s"$flat/part-$i.csv")); i += 1
      }
    }
    SchemaTools.listDataFiles(spark, s"$dir/c.parquet").take(1).foreach { f =>
      fs.rename(new org.apache.hadoop.fs.Path(f),
        new org.apache.hadoop.fs.Path(s"$flat/part-$i.parquet"))
    }
    assert(SchemaTools.inferFormat(spark, flat) == "csv")
    // empty/unknown dir defaults to parquet
    val empty = TestSpark.tempDir("fmtempty")
    assert(SchemaTools.inferFormat(spark, empty) == "parquet")
  }

  test("fileSchemas reads many footers concurrently and correctly") {
    val dir = TestSpark.tempDir("manyfoot")
    spark.range(200).selectExpr("id", "CAST(id AS STRING) AS v")
      .repartition(40).write.mode("overwrite").parquet(dir)
    val files = SchemaTools.listDataFiles(spark, dir)
      .filter(_.endsWith(".parquet"))
    assert(files.size >= 30, s"fixture should have many files: ${files.size}")
    val schemas = SchemaTools.fileSchemas(spark, files)
    assert(schemas.size == files.size)
    assert(schemas.map(_._1).toSet == files.toSet)
    assert(schemas.map(_._2).distinct.size == 1)
    assert(schemas.head._2.fieldNames.sorted.toSeq == Seq("id", "v"))
  }

  test("servedFooterSchema on hive layouts equals Spark's inferred " +
      "schema, one key and two keys") {
    val df = Seq((1L, "a", 10, "x"), (2L, "b", 20, "y"), (3L, "c", 10, "y"))
      .toDF("id", "v", "p", "q")
    Seq(Seq("p"), Seq("p", "q")).foreach { keys =>
      val dir = TestSpark.tempDir("hiveserve") + "/ds"
      df.write.partitionBy(keys: _*).parquet(dir)
      assert(SchemaTools.servedFooterSchema(spark, Seq(dir)).isDefined, keys)
      val served = SchemaTools.parquetReader(spark, Seq(dir)).parquet(dir)
      val inferred = spark.read.parquet(dir)
      assert(served.schema == inferred.schema, keys)
      assert(served.collect().toSet == inferred.collect().toSet, keys)
    }
  }

  test("servedFooterSchema refuses hive layouts inference could read " +
      "differently") {
    val rows = Seq((1L, 5), (2L, 6)).toDF("id", "p")
    def refused(build: String => Unit): Unit = {
      val dir = TestSpark.tempDir("hiverefuse") + "/ds"
      build(dir)
      assert(SchemaTools.servedFooterSchema(spark, Seq(dir)).isEmpty, dir)
    }
    // a footer column named like the partition key
    refused(d => rows.write.parquet(s"$d/p=1"))
    // mixed key sequences
    refused { d =>
      rows.select("id").write.parquet(s"$d/a=1")
      rows.select("id").write.parquet(s"$d/a=2/b=3")
    }
    // a subdirectory that is not name=value
    refused(d => rows.select("id").write.parquet(s"$d/sub"))
    // a non-Spark footer (no recorded Spark schema)
    refused { d =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.hadoop.util.HadoopOutputFile
      val conf = spark.sparkContext.hadoopConfiguration
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message m { required int64 id; }")
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$d/a=1/part-0.parquet"), conf))
        .withType(schema).withConf(conf).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L))
      finally w.close()
    }
  }

  test("schema map codec round-trips") {
    val st = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", TimestampType)))
    val back = SchemaTools.schemaFromMap(SchemaTools.schemaToMap(st))
    assert(back.fields.map(f => (f.name, f.dataType)).toSet ==
      st.fields.map(f => (f.name, f.dataType)).toSet)
  }

  test("column mapping: re-rename replaces the entry, rename-back " +
      "drops it, collisions refuse, the map survives marker refreshes") {
    val dir = TestSpark.tempDir("rename")
    LakeWriter(spark, dir, WriteMode.Overwrite)
      .write(Seq((1L, "a", 2.0)).toDF("id", "v", "x"))
    def renames = SchemaTools.readSchemaMarkerInfo(spark, dir)
      .map(_.renames).getOrElse(Map.empty)
    SchemaTools.renameColumn(spark, dir, "x", "score")
    assert(renames == Map("x" -> "score"))
    // a SECOND rename of the same column keys off the current logical
    // name and keeps pointing at the frozen physical one
    SchemaTools.renameColumn(spark, dir, "score", "quality")
    assert(renames == Map("x" -> "quality"))
    intercept[IllegalArgumentException] {
      SchemaTools.renameColumn(spark, dir, "quality", "id") // collision
    }
    intercept[IllegalArgumentException] {
      SchemaTools.renameColumn(spark, dir, "nope", "y") // unknown
    }
    // a writer refresh of the marker (any completed write rewrites the
    // schema cache) must not lose the durable mapping — batches arrive
    // under the logical name and land physically as x
    LakeWriter(spark, dir, WriteMode.Append)
      .write(Seq((2L, "b", 3.0)).toDF("id", "v", "quality"))
    assert(renames == Map("x" -> "quality"))
    val out = LakeReader(spark, dir).load()
    assert(out.columns.sorted.toSeq == Seq("id", "quality", "v"))
    assert(out.select("quality").as[Double].collect().sorted.toSeq
      == Seq(2.0, 3.0))
    // rename BACK to the physical name: the entry disappears
    SchemaTools.renameColumn(spark, dir, "quality", "x")
    assert(renames.isEmpty)
  }

  test("column mapping: a rename may reuse a physical name another " +
      "rename freed — application is one simultaneous projection") {
    val dir = TestSpark.tempDir("renchain")
    LakeWriter(spark, dir, WriteMode.Overwrite)
      .write(Seq((1L, 10.0)).toDF("a", "b"))
    // phys {a, b}: b -> c frees the logical name b, then a -> b takes
    // it. A sequential fold applying a->b before b->c would transiently
    // hold two `b` columns and rename BOTH to c; the simultaneous
    // projection resolves every reference against the input frame.
    SchemaTools.renameColumn(spark, dir, "b", "c")
    SchemaTools.renameColumn(spark, dir, "a", "b")
    val info = SchemaTools.readSchemaMarkerInfo(spark, dir).get
    assert(info.renames == Map("b" -> "c", "a" -> "b"))
    val out = LakeReader(spark, dir).load()
    assert(out.columns.toSeq.sorted == Seq("b", "c"))
    assert(out.select("b").as[Long].head() == 1L)
    assert(out.select("c").as[Double].head() == 10.0)
    // and order independence directly, both directions, both map orders
    val df = Seq((2L, 20.0)).toDF("a", "b")
    for (m <- Seq(Map("b" -> "c", "a" -> "b"),
                  scala.collection.immutable.ListMap("a" -> "b", "b" -> "c"))) {
      val ap = SchemaTools.applyRenames(df, m)
      assert(ap.columns.toSeq == Seq("b", "c"),
        s"applyRenames broke under map order $m: ${ap.columns.toSeq}")
      val lg = Seq((2L, 20.0)).toDF("b", "c")
      assert(SchemaTools.unapplyRenames(lg, m).columns.toSeq ==
        Seq("a", "b"))
    }
    // a write addressed by the NEW logical names lands physically
    LakeWriter(spark, dir, WriteMode.Append)
      .write(Seq((3L, 30.0)).toDF("b", "c"))
    val back = LakeReader(spark, dir).load()
    assert(back.select("b").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    assert(back.select("c").as[Double].collect().sorted.toSeq ==
      Seq(10.0, 30.0))
  }
}
