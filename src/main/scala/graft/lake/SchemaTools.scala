package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.functions.{array_join, col, count, filter, lit, split, sum}
import org.apache.spark.sql.types._

/** Schema unification with rank-based type promotion.
  *
  * Re-expresses the reference's promotion ladder
  * (`/root/reference/src/pydala/utils/dataset.py:8-50`): per-file physical
  * schemas are unified by column-name union with numeric rank promotion
  * (int8 < int16 < int32 < int64 < float < double) and string as the top
  * element; unified column order is sorted by name
  * (`utils/dataset.py:23`).
  *
  * Scale note: Spark's `mergeSchema` gives the name-union but not the rank
  * promotion, and erroring on int32-vs-int64 fragments is exactly the
  * failure the reference works around. We group fragments by physical
  * schema (rarely more than a handful of distinct schemas in a real lake),
  * scan each group once, cast to the unified schema, and `unionByName` —
  * the plan stays O(#distinct-schemas), not O(#files).
  */
object SchemaTools {

  /** Run `body` with a session conf temporarily set, restoring the prior
    * value (or unsetting) afterwards — the scoped alternative to mutating
    * shared-session state from a per-reader flag. Safe for lazy plans:
    * Spark captures the hadoopConf into the file relation when the scan
    * is resolved (inside `body`), so later actions on the returned
    * DataFrame don't need the conf to still be set. */
  def withSessionConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val numericRank: Map[DataType, Int] = Map(
    BooleanType -> 0,
    ByteType -> 1,
    ShortType -> 2,
    IntegerType -> 3,
    LongType -> 4,
    FloatType -> 5,
    DoubleType -> 6
  )

  /** Strip nullability flags for type comparison: parquet round-trips
    * and local Datasets disagree on `containsNull`/field nullability for
    * identical logical types, and a drift check must not fire on that. */
  def normalizeType(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(normalizeType(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(normalizeType(k), normalizeType(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      StructField(f.name, normalizeType(f.dataType), nullable = true)))
    case other => other
  }

  /** name → normalized type, the comparison form for drift detection. */
  def typeMap(st: StructType): Map[String, DataType] =
    st.fields.map(f => f.name -> normalizeType(f.dataType)).toMap

  /** Promote two types to their common supertype per the reference ladder.
    * Unmatchable combinations promote to string (the reference's top type,
    * `utils/dataset.py:13-22`). Arrays promote elementwise — embedding
    * columns (array<float> vs array<double>) must widen, not degrade to
    * string. */
  def promote(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (x, y) if normalizeType(x) == normalizeType(y) => normalizeType(x)
    case (ArrayType(x, _), ArrayType(y, _)) =>
      ArrayType(promote(x, y), containsNull = true)
    case (x, y) if numericRank.contains(x) && numericRank.contains(y) =>
      if (numericRank(x) >= numericRank(y)) x else y
    case (DateType, TimestampType) | (TimestampType, DateType) =>
      TimestampType
    case (d: DecimalType, y) if numericRank.contains(y) => d
    case (x, d: DecimalType) if numericRank.contains(x) => d
    case _ => StringType
  }

  /** Name-union + promotion over many schemas; columns sorted by name. */
  def unifySchemas(schemas: Seq[StructType]): StructType = {
    val merged = scala.collection.mutable.LinkedHashMap[String, DataType]()
    schemas.foreach { st =>
      st.fields.foreach { f =>
        merged(f.name) =
          merged.get(f.name).map(promote(_, f.dataType)).getOrElse(f.dataType)
      }
    }
    StructType(
      merged.toSeq.sortBy(_._1).map { case (n, t) =>
        StructField(n, t, nullable = true)
      }
    )
  }

  /** The session's broadcast-join byte threshold (Spark's own
    * byte-string parser handles every legal suffix); <= 0 when
    * broadcast is disabled or the value is unparsable — callers fall
    * back to letting AQE decide rather than crashing. */
  def broadcastThreshold(spark: SparkSession): Long =
    scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    ).getOrElse(-1L)

  /** Total on-disk bytes of `files` — a driver-side status listing,
    * bounded by the file count (the same scale class as planning the
    * scan that reads them). */
  def bytesOf(spark: SparkSession, files: Seq[String]): Long =
    sizesOf(spark, files).sum

  /** On-disk bytes of each of `files`, in order — one status each. */
  def sizesOf(spark: SparkSession, files: Seq[String]): Seq[Long] = {
    if (files.isEmpty) return Nil
    val fs = new Path(files.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map(f => fs.getFileStatus(new Path(f)).getLen)
  }

  /** Broadcast `df` only when its source footprint (`bytes`,
    * compressed on-disk — an UNDER-estimate, acceptable because the
    * guarded frames are key projections of those files) fits the
    * session threshold; above it, leave the join strategy to AQE —
    * the guard that keeps an unbounded key set (a user who never
    * folds MOR tombstone debt) from OOMing the driver with a forced
    * broadcast. */
  def broadcastIfUnder(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      bytes: Long): org.apache.spark.sql.DataFrame = {
    val threshold = broadcastThreshold(spark)
    if (threshold > 0 && bytes <= threshold)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** The distinct values of string column `c` (a file-name column,
    * never null), sorted. Each task dedupes its own rows and the driver
    * merges the sets: one job and no exchange, where `distinct()` plans
    * a partial aggregate, an exchange and a final aggregate. Every
    * "which files hold matching rows" probe goes through here. */
  def distinctStrings(df: DataFrame, c: String): Seq[String] =
    df.select(col(c)).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct.sorted.toSeq

  /** Recursively list data files under a path (parquet/csv/...). */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    if (fs.getFileStatus(p).isFile) return Seq(path)
    // Skip hidden FILES and everything under hidden DIRECTORIES (`_keys`
    // key-manifest sidecars, `_delta_log`-style metadata): Spark's own
    // file index ignores both, so a recursive listFiles that only
    // checked file names would disagree with what a read actually scans.
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { s =>
        if (!hidden(s.getPath.getName)) {
          if (s.isDirectory) walk(s.getPath)
          else buf += s.getPath.toString
        }
      }
    walk(p)
    buf.toSeq
  }

  /** The Spark schema a parquet FOOTER records (the key-value metadata
    * every Spark writer stamps — the exact JSON Spark's own inference
    * deserializes first, before falling back to the parquet-type
    * converter), read DRIVER-side with zero Spark jobs. Nullability is
    * forced nullable to match what `spark.read.parquet(...)` returns
    * for any file source. None — a non-Spark parquet file or an
    * unreadable footer — means "run the inference job instead". */
  def footerSchema(
      conf: org.apache.hadoop.conf.Configuration,
      file: String): Option[StructType] =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(file), conf))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => scala.util.Try(
          org.apache.spark.sql.GraftSqlBridge.asNullable(
            DataType.fromJson(j).asInstanceOf[StructType]))
          .toOption)
      finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** ONE schema for a parquet file set, but only when it is PROVABLY
    * the schema Spark inference would return: every footer records the
    * same Spark schema (field order included). Footers are read on the
    * driver (bounded pool, zero Spark jobs); None — an empty/oversized
    * set, a non-Spark footer, or any disagreement — means "let the
    * inference job decide" (the caller keeps the plain
    * `spark.read.parquet`). The cap keeps the driver pass bounded at
    * real scale, where one 1-task inference job is the cheaper probe. */
  def uniformFooterSchema(
      spark: SparkSession,
      files: Seq[String],
      cap: Int = 256): Option[StructType] = {
    if (files.isEmpty || files.size > cap) return None
    val conf = spark.sessionState.newHadoopConf()
    try onFooterPool(files)(footerSchema(conf, _)).distinct match {
      case Seq(s @ Some(_)) => s
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `f` over `xs` on a driver pool of at most 16 threads, in `xs`
    * order, rethrowing the first failure — every footer sweep's bound. */
  private[lake] def onFooterPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, math.min(16, xs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** `spark.read` pre-loaded with the PROVEN-uniform footer schema of
    * the given paths (files, flat or hive-partitioned directories —
    * listed driver-side, the same listing the scan itself performs), so
    * the read plans with ZERO schema-inference jobs; plain `spark.read`
    * when serving could differ from inference ([[servedFooterSchema]]). */
  def parquetReader(
      spark: SparkSession,
      paths: Seq[String]): org.apache.spark.sql.DataFrameReader =
    servedFooterSchema(spark, paths)
      .fold(spark.read)(s => spark.read.schema(s))

  /** The PROVEN-uniform footer schema of the given files/dirs, when
    * declaring it yields inference's own schema: flat directories, or
    * hive layouts (every file under `name=value` dirs, one key sequence)
    * — partition discovery still appends the path-valued columns after
    * the declared ones, where inference puts them. None — any other
    * subdirectory, mixed key sequences, a footer column named like a
    * key (inference would place it differently), a non-Spark footer, or
    * any disagreement — means "run the inference job". */
  def servedFooterSchema(
      spark: SparkSession,
      paths: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // each listed file's partition key names under its directory path:
    // Nil for a direct child or a file path, None off the hive layout
    val layout = paths.flatMap { p =>
      val hp = new Path(p)
      val q = hp.getFileSystem(conf).makeQualified(hp).toString + "/"
      listDataFiles(spark, p).map { f =>
        val par = new Path(f).getParent.toString + "/"
        val dirs = par.stripPrefix(q).split('/').filter(_.nonEmpty).toSeq
        f -> (if (f == p) Some(Nil)
          else if (!par.startsWith(q) || dirs.exists(_.indexOf('=') < 1)) None
          else Some(dirs.map(d => unescapePathName(d.take(d.indexOf('='))))))
      }
    }
    val files = layout.map(_._1).filter(_.endsWith(".parquet"))
    layout.map(_._2).distinct match {
      case Seq(Some(keys)) => uniformFooterSchema(spark, files).filterNot(
        _.fieldNames.exists(n => keys.exists(_.equalsIgnoreCase(n))))
      case _ => None
    }
  }

  /** Per-file physical schemas via concurrent footer-only reads. The
    * footers are read on the driver (no data scan) but CONCURRENTLY on a
    * bounded pool — the r2 sequential loop was O(#files) driver stalls;
    * at millions of files prefer the one-time `rewriteUnified` conform,
    * but this keeps the lazy path ~16× faster meanwhile (measured in
    * DESIGN_SCALE.md). SparkSession is thread-safe for reads. Each file
    * serves from its footer-recorded Spark schema when present
    * ([[footerSchema]] — zero Spark jobs); non-Spark parquet falls back
    * to the per-file inference job, so the result is unchanged. */
  def fileSchemas(
      spark: SparkSession,
      files: Seq[String]
  ): Seq[(String, StructType)] = {
    val conf = spark.sessionState.newHadoopConf()
    onFooterPool(files)(f =>
      f -> footerSchema(conf, f).getOrElse(spark.read.parquet(f).schema))
  }

  /** Project `df` onto the unified schema: common columns cast to the
    * promoted type, missing columns null-filled, output order = the
    * unified (name-sorted) order. The single conform step shared by the
    * heterogeneous read, the physical rewrite, and the drift-tolerant
    * Delta write path. */
  def conformTo(df: DataFrame, unified: StructType): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(unified.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else org.apache.spark.sql.functions.lit(null)
        .cast(f.dataType)
        .as(f.name)
    }: _*)
  }

  /** Read a (possibly schema-heterogeneous) parquet dataset, unified.
    *
    * Files are grouped by their physical schema; each group is scanned once
    * with its native schema (so filter/column pushdown still applies per
    * group), cast to the unified schema, and unioned by name.
    */
  def readUnified(spark: SparkSession, path: String): DataFrame = {
    val files = listDataFiles(spark, path).filter(_.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under $path")
    val bySchema: Seq[(StructType, Seq[String])] = fileSchemas(spark, files)
      .map { case (f, s) => (s, f) }
      .groupBy(_._1)
      .map { case (s, fs) => (s, fs.map(_._2)) }
      .toSeq
    if (bySchema.size == 1) {
      // Homogeneous: plain multi-file scan, nothing to unify.
      return spark.read.parquet(path)
    }
    val unified = unifySchemas(bySchema.map(_._1))
    bySchema
      .map { case (schema, groupFiles) =>
        conformTo(spark.read.schema(schema).parquet(groupFiles: _*), unified)
      }
      .reduce(_.unionByName(_))
  }

  /** Flat name->type-string codec for metadata files (the reference keeps
    * schemas as flat dicts in TOML, `utils/dataset.py:142-170`). */
  def schemaToMap(st: StructType): Map[String, String] =
    st.fields.map(f => f.name -> f.dataType.simpleString).toMap

  def schemaFromMap(m: Map[String, String]): StructType =
    StructType(m.toSeq.sortBy(_._1).map { case (n, t) =>
      StructField(n, parseType(t), nullable = true)
    })

  /** What the `_schema.json` marker records: the dataset's unified
    * schema, whether every data file physically carries it
    * (`homogeneous = false` after a drift append — readers must unify),
    * and the COLUMN-MAPPING renames (physical name -> logical name —
    * Iceberg-style: a rename never rewrites a data file; the physical
    * names are frozen at first write and the logical view is a marker
    * entry). */
  final case class SchemaMarkerInfo(
      schema: StructType,
      homogeneous: Boolean,
      renames: Map[String, String] = Map.empty,
      dropped: Set[String] = Set.empty
  )

  /** The `_schema.json` marker: a one-line cache of the dataset's
    * unified schema at its root, maintained by [[LakeWriter]] on every
    * completed write. Purpose: O(1) drift detection for the
    * drift-tolerant Delta path — without it every Delta write against a
    * possibly-heterogeneous target would pay a per-file footer sweep.
    * Trust model mirrors the `_keys` sidecar: the marker is written
    * AFTER the data lands, so a crash leaves it absent/stale and readers
    * fall back to the authoritative per-file footer unification
    * ([[fileSchemas]] + [[unifySchemas]]) — degraded cost, never wrong
    * results. Codec is the flat name→type map the TOML metadata already
    * uses (`utils/dataset.py:142-170`). */
  def readSchemaMarkerInfo(
      spark: SparkSession,
      path: String
  ): Option[SchemaMarkerInfo] = {
    val p = new Path(path, "_schema.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val root = TimeFly.mapper.readTree(in)
      val node = root.get("schema")
      if (node == null || !node.isObject) None
      else {
        val it = node.properties().iterator()
        val m = scala.collection.mutable.Map[String, String]()
        while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText() }
        val homo = root.get("homogeneous") == null ||
          root.get("homogeneous").asBoolean(true)
        val ren = scala.collection.mutable.Map[String, String]()
        val rn = root.get("renames")
        if (rn != null && rn.isObject) {
          val rit = rn.properties().iterator()
          while (rit.hasNext) {
            val e = rit.next(); ren(e.getKey) = e.getValue.asText()
          }
        }
        val drp = scala.collection.mutable.Set[String]()
        val dn = root.get("dropped")
        if (dn != null && dn.isArray) dn.forEach(x => drp += x.asText())
        Some(SchemaMarkerInfo(schemaFromMap(m.toMap), homo, ren.toMap,
          drp.toSet))
      }
    } catch { case _: Exception => None }
    finally in.close()
  }

  def readSchemaMarker(
      spark: SparkSession,
      path: String
  ): Option[StructType] = readSchemaMarkerInfo(spark, path).map(_.schema)

  def writeSchemaMarker(
      spark: SparkSession,
      path: String,
      schema: StructType,
      homogeneous: Boolean = true
  ): Unit = {
    // rename map survives marker refreshes: every completed write
    // rewrites the schema cache, but the column mapping is durable
    // metadata, not a cache
    val keep = readSchemaMarkerInfo(spark, path)
    writeSchemaMarkerFull(spark, path, schema, homogeneous,
      keep.map(_.renames).getOrElse(Map.empty),
      keep.map(_.dropped).getOrElse(Set.empty))
  }

  private def writeSchemaMarkerFull(
      spark: SparkSession,
      path: String,
      schema: StructType,
      homogeneous: Boolean,
      renames: Map[String, String],
      dropped: Set[String] = Set.empty
  ): Unit = {
    val p = new Path(path, "_schema.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val node = TimeFly.mapper.createObjectNode()
    val obj = node.putObject("schema")
    schemaToMap(schema).toSeq.sortBy(_._1).foreach { case (n, t) =>
      obj.put(n, t)
    }
    node.put("homogeneous", homogeneous)
    if (renames.nonEmpty) {
      val rn = node.putObject("renames")
      renames.toSeq.sortBy(_._1).foreach { case (ph, lg) =>
        rn.put(ph, lg)
      }
    }
    if (dropped.nonEmpty) {
      val dn = node.putArray("dropped")
      dropped.toSeq.sorted.foreach(dn.add)
    }
    val out = fs.create(p, true)
    try out.write(TimeFly.mapper.writeValueAsBytes(node))
    finally out.close()
  }

  /** Rename a column WITHOUT rewriting data (Iceberg column mapping):
    * record `physical -> logical` in the marker. `from` is the CURRENT
    * logical name (a second rename of the same column replaces its
    * entry — physical names are frozen at first write). Renaming back
    * to the physical name drops the entry. Readers surface logical
    * names ([[applyRenames]] in LakeReader); writers accept logical
    * batches and land them under the frozen physical names, so the
    * files stay uniform and byte-untouched across any number of
    * renames. */
  def renameColumn(
      spark: SparkSession,
      path: String,
      from: String,
      to: String
  ): Unit = {
    val info = datasetSchemaInfo(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no dataset at $path"))
    val logical = info.schema.fieldNames.map(f =>
      info.renames.getOrElse(f, f))
    require(logical.contains(from), s"no column $from (have " +
      s"${logical.mkString(", ")})")
    require(!logical.contains(to) || from == to,
      s"column $to already exists")
    val phys = info.renames.find(_._2 == from).map(_._1).getOrElse(from)
    val renames =
      if (to == phys) info.renames - phys
      else info.renames + (phys -> to)
    writeSchemaMarkerFull(spark, path, info.schema, info.homogeneous,
      renames, info.dropped)
  }

  /** Drop a column WITHOUT rewriting data (the column-mapping sibling
    * of [[renameColumn]]): the physical column joins the marker's
    * `dropped` set. Readers hide it; writers strip it from incoming
    * batches — old files keep their bytes, new files land it as nulls
    * through the ordinary drift conform, so the physical schema stays
    * uniform and nothing is ever rewritten. */
  def dropColumn(
      spark: SparkSession,
      path: String,
      name: String
  ): Unit = {
    val info = datasetSchemaInfo(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no dataset at $path"))
    val phys = info.renames.find(_._2 == name).map(_._1).getOrElse(name)
    require(info.schema.fieldNames.contains(phys) &&
      !info.dropped.contains(phys),
      s"no column $name to drop")
    writeSchemaMarkerFull(spark, path, info.schema, info.homogeneous,
      info.renames - phys, info.dropped + phys)
  }

  /** physical -> logical for reads. ONE simultaneous projection, never
    * a sequential fold: with renames like `{b -> c, a -> b}` (legal —
    * a rename may reuse a physical name another rename freed), folding
    * `a -> b` first would transiently give two `b` columns and the
    * later `withColumnRenamed(b, c)` renames both. A single select
    * resolves every reference against the INPUT frame, so order cannot
    * matter. */
  def applyRenames(df: DataFrame, renames: Map[String, String])
      : DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      renames.get(c).map(lg => col(c).as(lg)).getOrElse(col(c))): _*)

  /** logical -> physical for writes — the same simultaneous projection
    * with the map inverted. */
  def unapplyRenames(df: DataFrame, renames: Map[String, String])
      : DataFrame =
    if (renames.isEmpty) df
    else {
      val inv = renames.map(_.swap) // logical -> physical
      df.select(df.columns.toSeq.map(c =>
        inv.get(c).map(ph => col(c).as(ph)).getOrElse(col(c))): _*)
    }

  /** The target's unified schema + homogeneity: the marker when present,
    * else the per-file footer unification (authoritative fallback). None
    * when the dataset holds no parquet files. */
  def datasetSchemaInfo(
      spark: SparkSession,
      path: String
  ): Option[SchemaMarkerInfo] =
    readSchemaMarkerInfo(spark, path).orElse {
      val files = listDataFiles(spark, path).filter(_.endsWith(".parquet"))
      if (files.isEmpty) None
      else {
        val distinct = fileSchemas(spark, files).map(_._2).distinct
        Some(SchemaMarkerInfo(unifySchemas(distinct), distinct.size <= 1))
      }
    }

  /** Read a dataset tolerating post-drift heterogeneity: datasets the
    * marker flags heterogeneous go through [[readUnified]] (conformed to
    * the marker schema so downstream key types are stable); everything
    * else takes the plain multi-file scan, its schema footer-served
    * when provable ([[parquetReader]]). The safe default for every
    * internal full-dataset read on a Delta-family target — a plain
    * `spark.read.parquet` on mixed-schema files resolves against ONE
    * sampled footer and can miss columns or throw on widened types. */
  def safeRead(spark: SparkSession, path: String): DataFrame =
    readSchemaMarkerInfo(spark, path) match {
      case Some(info) if !info.homogeneous =>
        conformTo(readUnified(spark, path), info.schema)
      case _ => parquetReader(spark, Seq(path)).parquet(path)
    }

  /** Physically rewrite schema-nonconforming parquet files to the unified
    * (column-sorted, promotion-laddered) schema in place — the reference's
    * `unify_schema` (`dataset/writer.py:529-571`). File-granular: each
    * divergent file is re-read with its native schema, cast, written to a
    * temp sibling, and swapped via rename. Returns the rewrite count. */
  def rewriteUnified(spark: SparkSession, path: String): Int = {
    val files = listDataFiles(spark, path).filter(_.endsWith(".parquet"))
    if (files.isEmpty) return 0
    val schemas = fileSchemas(spark, files)
    val unified = unifySchemas(schemas.map(_._2).distinct)
    val bad = schemas.filter(_._2 != unified)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    bad.foreach { case (f, sch) =>
      val df = conformTo(spark.read.schema(sch).parquet(f), unified)
      val tmp = s"$f.__unify_tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val newFile = listDataFiles(spark, tmp)
        .filter(_.endsWith(".parquet")).head
      fs.delete(new Path(f), false)
      fs.rename(new Path(newFile), new Path(f))
      fs.delete(new Path(tmp), true)
    }
    bad.size
  }

  /** Directory-level format inference (`timefly.py:91-103`): look at the
    * extensions of the data files *inside* the directory and pick the
    * majority format (ties broken alphabetically for determinism). Files
    * with unknown extensions are ignored; an empty or extension-less
    * directory defaults to parquet. */
  def inferFormat(spark: SparkSession, path: String): String = {
    val known = Map(
      "parquet" -> "parquet", "pq" -> "parquet",
      "csv" -> "csv", "tsv" -> "csv",
      "json" -> "json", "ndjson" -> "json", "jsonl" -> "json",
      "orc" -> "orc",
      "arrow" -> "ipc", "feather" -> "ipc", "ipc" -> "ipc")
    val exts = listDataFiles(spark, path).flatMap { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      val i = name.lastIndexOf('.')
      if (i > 0) known.get(name.substring(i + 1).toLowerCase) else None
    }
    if (exts.isEmpty) "parquet"
    else exts.groupBy(identity).toSeq
      .minBy { case (e, g) => (-g.size, e) }._1
  }

  /** Compression-codec inference from the first non-empty data file's
    * first column chunk (`timefly.py:121-128`): footer-only reads, no
    * data scan. Files with zero row groups (empty task partitions) carry
    * no codec and are skipped. */
  def inferCompression(spark: SparkSession, path: String): String = {
    val files = listDataFiles(spark, path).filter(_.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    files.iterator
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks
          if (blocks.isEmpty) None
          else Some(
            blocks.get(0).getColumns.get(0).getCodec.name().toLowerCase)
        } finally r.close()
      }
      .collectFirst { case Some(codec) => codec }
      .getOrElse("none")
  }

  /** Partitioning-flavor inference (`timefly.py:105-112`): any `=` in a
    * first-level subdirectory name means hive, bare subdirectories mean
    * directory flavor, none means unpartitioned. */
  def inferPartitioning(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.getFileStatus(p).isFile) return "none"
    val dirs = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    if (dirs.isEmpty) "none"
    else if (dirs.exists(_.contains("="))) "hive"
    else "directory"
  }

  /** Footer opens performed by the [[partitionsTable]] FALLBACK sweep —
    * test-observable so specs can assert the manifest-served path does
    * ZERO of them (the Iceberg contract: `partitions` is answered from
    * manifest metadata, never by re-opening a million data files
    * through one driver JVM). */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** PARTITIONS metadata table for a hive-layout dataset (Iceberg's
    * `partitions` table): one row per partition leaf with its file and
    * row counts.
    *
    * Served from the `_stats` manifest when one is TRUSTED and carries
    * `n_rows` ([[FileStats.rowCounts]]): the partition spec is derived
    * from each indexed file's own path (`k=v` segments), so the whole
    * answer is one scan of the sidecar — no data-file footer is ever
    * opened, and the cost is O(manifest), flat in data volume. That is
    * how Iceberg serves its `partitions` table, and the only shape
    * that survives a million-file lake.
    *
    * Without a trusted manifest it falls back to the footer sweep:
    * leaf enumeration is the same driver-side listing any scan plans
    * with; row counts are parquet FOOTER metadata only
    * (ParquetFileReader record counts, no data pages read) — correct
    * at any cardinality, but a million remote opens through one JVM at
    * lake scale, which is exactly why the manifest path exists. */
  def partitionsTable(spark: SparkSession, path: String): DataFrame =
    statsPartitionsTable(spark, path)
      .getOrElse(footerPartitionsTable(spark, path))

  /** The manifest-served flavor: None without a trusted `n_rows`-bearing
    * sidecar. Zero-row files carry no stats row (they carry no rows to
    * group), so `n_files` counts data-BEARING files — the quantity a
    * planner actually budgets by. */
  private def statsPartitionsTable(
      spark: SparkSession, path: String): Option[DataFrame] =
    FileStats.rowCounts(spark, path).flatMap { rc =>
      val parted = rc.withColumn("partition",
        array_join(
          filter(split(col("file"), "/"), s => s.contains(lit("="))),
          "/"))
      if (parted.filter(col("partition") === "").limit(1).count() > 0)
        None // not a hive layout — the sweep's leaf walk decides
      else Some(
        parted.groupBy("partition")
          .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows")))
    }

  private def footerPartitionsTable(
      spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    def leaves(dir: Path, rel: String): Seq[(String, Path)] = {
      val subs = fs.listStatus(dir).filter(_.isDirectory)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
      val here = subs.filter(_.getPath.getName.contains("="))
      if (here.isEmpty) Seq(rel -> dir)
      else here.toSeq.flatMap { s =>
        val seg = s.getPath.getName
        leaves(s.getPath,
          if (rel.isEmpty) seg else s"$rel/$seg")
      }
    }
    // footer opens are independent metadata reads — run them on a
    // bounded pool instead of one driver thread (300 sequential opens
    // measured ~4 s; the same listing parallelism any scan planner uses)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rows = Await.result(
      Future.sequence(leaves(p, "").filter(_._1.nonEmpty).map {
        case (part, dir) => Future {
          val files = listDataFiles(spark, dir.toString)
            .filter(_.endsWith(".parquet"))
          val nRows = Await.result(
            Future.sequence(files.map(f => Future {
              footerOpens.incrementAndGet()
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new Path(f), conf)
              val r =
                org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            })), 10.minutes).sum
          (part, files.size.toLong, nRows)
        }
      }), 10.minutes)
    rows.toDF("partition", "n_files", "n_rows")
  }

  /** Directory-flavor partitioned read: one path level per column, bare
    * `<value>/` segments (the reference's non-hive flavor). Partition
    * values surface as string columns, like the reference's inferred
    * directory partitioning; cast at the call site if needed. The leaf
    * enumeration is driver-side and bounded by partition cardinality. */
  def readDirectoryPartitioned(
      spark: SparkSession,
      path: String,
      cols: Seq[String]
  ): org.apache.spark.sql.DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path, depth: Int): Seq[(Path, Seq[String])] =
      if (depth == 0) Seq((p, Nil))
      else
        fs.listStatus(p).toSeq
          .filter(_.isDirectory)
          .flatMap(st =>
            leaves(st.getPath, depth - 1).map { case (lp, vs) =>
              (lp, st.getPath.getName +: vs)
            })
    leaves(root, cols.length)
      .map { case (leaf, values) =>
        cols.zip(values).foldLeft(spark.read.parquet(leaf.toString)) {
          case (df, (c, v)) => df.withColumn(c,
            org.apache.spark.sql.functions.lit(v))
        }
      }
      .reduce(_.unionByName(_))
  }

  private def parseType(s: String): DataType = s match {
    case "string" => StringType
    case "boolean" => BooleanType
    case "tinyint" => ByteType
    case "smallint" => ShortType
    case "int" => IntegerType
    case "bigint" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "date" => DateType
    case "timestamp" => TimestampType
    case "binary" => BinaryType
    case other => CatalystSqlParser.parse(other)
  }

  private object CatalystSqlParser {
    def parse(s: String): DataType = DataType.fromDDL(s)
  }
}
