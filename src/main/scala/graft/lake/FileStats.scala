package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, Metadata, MetadataBuilder, NumericType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** File-level min/max statistics manifest — the reader-side payoff of
  * clustered layouts: a `_stats/` sidecar mapping every data file to
  * the [min, max] span of each indexable column, so a range predicate
  * reads ONLY the files whose span intersects it. Parquet row-group
  * stats already prune inside a file Spark has opened; this prunes at
  * the layer above — the FILE LISTING — which is what Delta/Iceberg
  * keep in their transaction logs and what makes a Z-ordered layout
  * (Compact `zorderBy`, q79) pay off: after clustering, every listed
  * column's per-file spans are narrow, so most files drop out of the
  * listing for selective predicates on ANY of them.
  *
  * Indexable types and their span representations (the Delta/Iceberg
  * per-AddFile stats type set, reduced to two comparison domains):
  *  - NUMERIC columns span as doubles (comparability, not exactness —
  *    the residual filter always re-applies);
  *  - TIMESTAMP and DATE columns span as epoch-SECONDS doubles (a
  *    date's midnight in the session zone), so a time band — the
  *    canonical probe on a time-series lake — prunes the listing
  *    exactly like a numeric band;
  *  - STRING columns span as bounded PREFIXES ([[StrPrefix]] code
  *    points, the Delta string-truncation discipline). Conservatism
  *    needs no pad/increment trick: a file is skipped on a lower
  *    bound `lo` only when `truncate(lo) > max_prefix` (the probe
  *    truncated to the same length — strictly above every string
  *    sharing the stored prefix) and on an upper bound `hi` only when
  *    `min_prefix > hi` (a prefix is <= its full string). String
  *    order is Spark's binary UTF-8 order ([[utf8Cmp]]).
  *
  * The index is built EXPLICITLY ([[build]]) like the persisted ANN
  * indexes (e10/e11) — one distributed pass over the dataset, grouped
  * by file. Any write through [[LakeWriter]] invalidates it (the same
  * staleness discipline as `_keys`/`_shingles`: a missing/untrusted
  * manifest degrades to reading every file, never to a wrong answer);
  * rebuild after ingest, typically right after compaction/z-ordering.
  *
  * Pruning is CONSERVATIVE by construction: a file is skipped only
  * when its span provably cannot intersect the probe. Files with an
  * all-null column (null span) are never skipped, and the residual
  * filter is always re-applied — the stats only shrink the listing.
  */
object FileStats {

  /** String spans store at most this many code points (Delta truncates
    * at 32; 64 keeps selectivity on URL-ish prefixes). */
  val StrPrefix = 64

  /** Bloom hash count (Kirsch-Mitzenmacher double hashing — k derived
    * positions from two base hashes). With bits ≈ 10× the file's
    * distinct count, k=5 lands ~1% false-keep — Delta's bloom-index
    * operating point. */
  val BloomK = 5

  /** Default bloom width per file per column: 2^17 bits = 16 KiB.
    * Size for the layout: ~10 bits per DISTINCT value in a file keeps
    * false-keeps ~1%; a 128 MiB file of ~1M unique keys wants
    * `1 << 23`+ (1 MiB — the Delta bloom-index scale). Oversizing only
    * costs sidecar bytes, undersizing only costs pruning (saturated
    * blooms keep everything): never correctness. */
  val DefaultBloomBits = 1 << 17

  /** A span side carried by a commit manifest: one of the two
    * comparison domains. JSON codec: [[NumV]] serializes as a number,
    * [[StrV]] as a string — so pre-typed logs (numbers only) parse
    * unchanged. */
  sealed trait SpanV extends Serializable
  final case class NumV(v: Double) extends SpanV
  final case class StrV(v: String) extends SpanV

  /** Per-column probe bounds in both domains. A conjunct contributes
    * to the domain(s) its literal can conservatively reach: numeric /
    * timestamp / date literals to the numeric side, string literals to
    * the string side AND (when datetime-parsable) to the numeric side
    * — day-floored for lower bounds, exact-instant for upper, so the
    * interpretation is a superset whether the column is a timestamp
    * (string casts to the instant) or a date (string casts to the
    * day). Missing sides are unbounded. */
  final case class ColBound(
      loNum: Option[Double] = None, hiNum: Option[Double] = None,
      loStr: Option[String] = None, hiStr: Option[String] = None) {
    def isEmpty: Boolean =
      loNum.isEmpty && hiNum.isEmpty && loStr.isEmpty && hiStr.isEmpty
    def and(o: ColBound): ColBound = ColBound(
      Seq(loNum, o.loNum).flatten.reduceOption(_ max _),
      Seq(hiNum, o.hiNum).flatten.reduceOption(_ min _),
      Seq(loStr, o.loStr).flatten.reduceOption((a, b) =>
        if (utf8Cmp(a, b) >= 0) a else b),
      Seq(hiStr, o.hiStr).flatten.reduceOption((a, b) =>
        if (utf8Cmp(a, b) <= 0) a else b))
  }

  /** Spark's string comparison is binary over UTF-8 bytes — driver-side
    * span logic must rank identically or pruning diverges from the
    * residual filter. */
  def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Probe-side truncation to the stored prefix length (code points —
    * the same unit Spark's `substring` counts). */
  def truncProbe(s: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
      .substring(0, StrPrefix).toString

  /** Whether a file span [mn, mx] can intersect `b` — the ONE keep/skip
    * rule every pruning surface (sidecar, log-carried, merge
    * disjointness) shares. Null/absent span sides keep; a bound side in
    * the other domain than the span contributes nothing (conservative).
    * The negation is a PROOF of disjointness ([[CommitLog]] uses it for
    * the ConcurrentAppend commute check). */
  def spanIntersects(mn: Option[SpanV], mx: Option[SpanV],
      b: ColBound): Boolean = {
    val loOk = mx match {
      case Some(NumV(v)) => b.loNum.forall(v >= _)
      case Some(StrV(v)) => b.loStr.forall(lo => utf8Cmp(truncProbe(lo), v) <= 0)
      case None => true
    }
    val hiOk = mn match {
      case Some(NumV(v)) => b.hiNum.forall(v <= _)
      case Some(StrV(v)) => b.hiStr.forall(hi => utf8Cmp(v, hi) <= 0)
      case None => true
    }
    loOk && hiOk
  }

  // ---- per-file bloom filters: point-lookup skipping ----------------------
  //
  // min/max spans serve RANGE probes, but the most selective probe on a
  // 100 TB lake — `key = <one value>` on a high-cardinality key whose
  // values INTERLEAVE across files (UUIDs, content hashes, any
  // hash-distributed id) — gets nothing from them: every file's span
  // covers nearly the whole domain. Delta solves this with bloom filter
  // indexes; same design here: an opt-in `<col>_bloom` binary column in
  // the sidecar, one fixed-width bloom per file, probed by equality/IN
  // conjuncts. Conservative both ways: a bloom can only FALSELY KEEP
  // (never falsely skip), absent/null blooms keep, and the residual
  // filter always re-applies.
  //
  // Canonicalization discipline (what makes probe == build): values
  // hash as `CAST(col AS STRING)`; blob byte 0 tags the column's
  // comparison domain (0 = string, 1 = integral), and a probe literal
  // contributes only when it maps canonically into that domain —
  // a string literal probes a string column verbatim and an integral
  // column through an exact-integer parse; an integral literal probes
  // only integral columns (string columns compare NUMERICALLY against
  // numeric literals in SQL, where '042' = 42 — a verbatim hash would
  // falsely skip it). Fractional/other literals never probe. Bloom
  // columns are restricted to string/integral types at build for the
  // same reason (float formatting is not canonical).

  /** Seed-mixed FNV-1a 64 over UTF-8 bytes with a murmur3 finalizer —
    * self-contained (no engine hash dependency), deterministic across
    * JVMs; build and probe share it by construction. */
  private def bloomHash(bytes: Array[Byte], seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ (seed * 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  private def bloomPositions(value: String, bits: Int): Array[Int] = {
    val b = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h1 = bloomHash(b, 1L)
    val h2 = bloomHash(b, 2L)
    Array.tabulate(BloomK)(i =>
      java.lang.Math.floorMod(h1 + i.toLong * h2, bits.toLong).toInt)
  }

  /** Domain tag in blob byte 0. */
  private val DomStr: Byte = 0
  private val DomInt: Byte = 1

  /** Membership against a domain-tagged blob for one canonical value
    * (already in the blob's domain). */
  private def bloomMightContain(blob: Array[Byte], value: String)
      : Boolean = {
    val bits = (blob.length - 1) * 8
    if (bits <= 0) return true
    bloomPositions(value, bits).forall { p =>
      (blob(1 + (p >>> 3)) & (1 << (p & 7))) != 0
    }
  }

  /** A probe literal's canonical value per domain: `str` for string
    * columns (only string literals — numeric literals compare
    * numerically against strings), `int` for integral columns (integral
    * literals, or string literals that are exact integers). */
  final case class EqProbe(str: Option[String], int: Option[String]) {
    def forDomain(dom: Byte): Option[String] =
      if (dom == DomStr) str else if (dom == DomInt) int else None
  }

  private val IntRe = "^-?\\d{1,19}$".r

  private[lake] def canonInt(s: String): Option[String] =
    IntRe.findFirstIn(s.trim)
      .flatMap(t => scala.util.Try(t.toLong).toOption).map(_.toString)

  /** The bloom-buildable types: canonical string casts. */
  private def bloomDomainOf(dt: DataType): Option[Byte] = dt match {
    case StringType => Some(DomStr)
    case ByteType | ShortType | IntegerType | LongType => Some(DomInt)
    case _ => None
  }

  /** The columns of `schema` a bloom filter can index (string /
    * integral) — what `ANALYZE TABLE ... FOR ALL COLUMNS` resolves
    * to. */
  def bloomableFields(schema: StructType): Seq[String] =
    schema.fields.toSeq
      .filter(f => bloomDomainOf(f.dataType).isDefined).map(_.name)

  /** Distributed per-file bloom aggregation: OR fixed-width bit arrays.
    * Build-pass-only cost (one UDAF per bloom column in the same
    * per-file agg the spans ride). */
  private final class BloomAgg(bits: Int, dom: Byte)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = {
      val a = new Array[Byte](1 + bits / 8); a(0) = dom; a
    }
    def reduce(buf: Array[Byte], v: String): Array[Byte] = {
      if (v != null) {
        val ps = bloomPositions(v, bits)
        var i = 0
        while (i < ps.length) {
          val p = ps(i)
          buf(1 + (p >>> 3)) =
            (buf(1 + (p >>> 3)) | (1 << (p & 7))).toByte
          i += 1
        }
      }
      buf
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 1
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** `<col>_bloom` agg columns for the bloomable subset of `cols`;
    * refuses non-string/integral columns loudly (a silently-skipped
    * column would read as indexed-but-never-pruning). */
  private def bloomAggCols(schema: StructType, cols: Seq[String],
      bits: Int): Seq[Column] = {
    // BloomAgg.zero allocates 1 + bits/8 bytes while bloomPositions
    // hashes modulo the REQUESTED bits, and probe-side widths re-derive
    // as (blob.length - 1) * 8 — a non-multiple-of-8 width would build
    // out-of-bounds and probe against diverged positions (false skips)
    if (cols.nonEmpty) require(bits >= 8 && bits % 8 == 0,
      s"bloomBits must be a positive multiple of 8, got $bits")
    cols.map { c =>
      val f = schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such bloom column: $c"))
      val dom = bloomDomainOf(f.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"bloom columns must be string or integral; $c is " +
            f.dataType.simpleString))
      udaf(new BloomAgg(bits, dom), org.apache.spark.sql.Encoders.STRING)
        .apply(col(c).cast("string")).as(s"${c}_bloom", bloomMeta(bits, dom))
    }
  }

  /** A bloom column's width and domain, recorded as field metadata on
    * `<c>_bloom`: the sidecar's footer schema carries them, so
    * [[appendFiles]] recovers them without reading a blob. */
  private def bloomMeta(bits: Int, dom: Byte): Metadata =
    new MetadataBuilder().putLong("bloomBits", bits.toLong)
      .putLong("bloomDomain", dom.toLong).build()

  /** (bits, domain) recorded on a `<c>_bloom` field, if any. */
  private def bloomParamsOf(f: StructField): Option[(Int, Byte)] =
    if (f.metadata.contains("bloomBits") && f.metadata.contains("bloomDomain"))
      Some((f.metadata.getLong("bloomBits").toInt,
        f.metadata.getLong("bloomDomain").toByte))
    else None

  /** Equality probes extractable from the predicate's top-level AND
    * conjuncts: `col = lit` and `col IN (lits)` — each conjunct one
    * any-of group (a file survives a group when ANY of its values
    * might be present; it must survive EVERY group). Only literals
    * with a canonical mapping into some bloom domain contribute. */
  def eqProbes(spark: SparkSession, predicate: String)
      : Map[String, Seq[Seq[EqProbe]]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, In, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicate)
      catch { case scala.util.control.NonFatal(_) => return Map.empty }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.name)
      case _ => None
    }
    def probeOf(e: Expression): Option[EqProbe] = e match {
      case Literal(u: UTF8String, StringType) =>
        val s = u.toString
        Some(EqProbe(Some(s), canonInt(s)))
      case Literal(v, ByteType | ShortType | IntegerType | LongType) =>
        Some(EqProbe(None, Some(v.toString)))
      case _ => None
    }
    val acc =
      scala.collection.mutable.Map[String, List[Seq[EqProbe]]]()
    def add(n: String, g: Seq[EqProbe]): Unit =
      acc(n) = g :: acc.getOrElse(n, Nil)
    conjuncts(parsed).foreach {
      case EqualTo(a, b) =>
        (nameOf(a), probeOf(b)) match {
          case (Some(n), Some(p)) => add(n, Seq(p))
          case _ => (nameOf(b), probeOf(a)) match {
            case (Some(n), Some(p)) => add(n, Seq(p))
            case _ => ()
          }
        }
      case In(c, vs) if vs.nonEmpty =>
        nameOf(c).foreach { n =>
          val ps = vs.map(probeOf)
          // every IN member must probe, or the group is not a proof
          if (ps.forall(_.isDefined)) add(n, ps.flatten)
        }
      case _ => ()
    }
    acc.view.mapValues(_.reverse.toSeq).toMap
  }

  /** One read of a trusted sidecar for a probe. Its conditions are
    * planned from the sidecar's footer schema on the driver (no job);
    * its rows — per indexed file, whether the range spans and whether
    * the blooms keep it — are collected once, on first use. Null spans
    * and null blobs keep; a probe value with no canonical form in the
    * blob's domain keeps (no proof possible). */
  final class SidecarProbe private[FileStats] (stats: DataFrame,
      spanCond: Option[Column], bloomCond: Option[Column]) {
    /** Some bounded column carries a span in the sidecar. */
    def prunesSpans: Boolean = spanCond.isDefined
    /** Some probed column carries a bloom in the sidecar. */
    def prunesBlooms: Boolean = bloomCond.isDefined
    private lazy val rows: Seq[(String, Boolean, Boolean)] = {
      // a missing condition keeps; a null verdict drops, as in a filter
      def verdict(c: Option[Column]) =
        coalesce(c.getOrElse(lit(true)), lit(false))
      stats.select(col("file"), verdict(spanCond), verdict(bloomCond))
        .collect().toSeq
        .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    }
    /** Every file the sidecar has a row for. */
    def indexed: Seq[String] = rows.map(_._1)
    /** The files both the spans and the blooms keep. */
    def kept: Seq[String] = rows.collect { case (f, true, true) => f }
    /** The files the blooms keep, whatever their spans say. */
    def bloomKept: Seq[String] = rows.collect { case (f, _, true) => f }
  }

  /** The sidecar at `path` planned for range `bounds` and equality
    * probes `eqs` — None without a trusted manifest. Names resolve
    * against the sidecar case-insensitively, matching Spark's default
    * resolution. Each bounded column probes in the domain its span was
    * stored in (doubles for numeric/timestamp/date, prefix strings for
    * strings); bounds with no side in that domain, and columns the
    * sidecar doesn't cover, contribute nothing (their conjuncts stay
    * residual-only). */
  private def open(spark: SparkSession, path: String,
      bounds: Map[String, ColBound],
      eqs: Map[String, Seq[Seq[EqProbe]]]): Option[SidecarProbe] = {
    if (!trusted(spark, path)) return None
    val stats = SchemaTools.parquetReader(spark, Seq(dir(path).toString))
      .parquet(dir(path).toString)
    def covered(suffix: String): Map[String, String] =
      stats.columns.filter(_.endsWith(suffix)).map(_.stripSuffix(suffix))
        .map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    def lookup(m: Map[String, String], c: String) =
      m.get(c.toLowerCase(java.util.Locale.ROOT))
    val spanned = covered("_min")
    val spanConds = bounds.toSeq.flatMap { case (c0, b) =>
      lookup(spanned, c0).flatMap { c =>
        val mnC = col(s"${c}_min")
        val mxC = col(s"${c}_max")
        val sides: Seq[Column] =
          stats.schema(s"${c}_min").dataType match {
            case StringType =>
              b.loStr.map(lo => mxC >= lit(truncProbe(lo))).toSeq ++
                b.hiStr.map(hi => mnC <= lit(hi)).toSeq
            case _ =>
              b.loNum.map(lo => mxC >= lit(lo)).toSeq ++
                b.hiNum.map(hi => mnC <= lit(hi)).toSeq
          }
        if (sides.isEmpty) None
        else Some(mnC.isNull || mxC.isNull || sides.reduce(_ && _))
      }
    }
    val bloomed = covered("_bloom")
    val bloomConds = eqs.toSeq.flatMap { case (c0, groups) =>
      lookup(bloomed, c0).map { c =>
        udf((blob: Array[Byte]) =>
          blob == null || blob.length < 2 || groups.forall(g =>
            g.exists(p => p.forDomain(blob(0)) match {
              case Some(v) => bloomMightContain(blob, v)
              case None => true
            }))).apply(col(s"${c}_bloom"))
      }
    }
    Some(new SidecarProbe(stats, spanConds.reduceOption(_ && _),
      bloomConds.reduceOption(_ && _)))
  }

  /** The ONE sidecar pass every pruning surface below projects: range
    * spans and bloom point lookups, judged in a single read. None when
    * no trusted sidecar covers a bounded or probed column — decided
    * from its footer schema, without reading it. */
  def probe(spark: SparkSession, path: String,
      bounds: Map[String, ColBound],
      eqs: Map[String, Seq[Seq[EqProbe]]]): Option[SidecarProbe] =
    open(spark, path, bounds, eqs)
      .filter(p => p.prunesSpans || p.prunesBlooms)

  /** Files surviving the bloom probes, among the sidecar's rows (and
    * among `within`, when given) — the equality analog of
    * [[candidatesForColBounds]]. None when no trusted manifest exists
    * or no probed column carries a bloom. */
  def bloomCandidates(
      spark: SparkSession,
      path: String,
      probes: Map[String, Seq[Seq[EqProbe]]],
      within: Option[Seq[String]] = None
  ): Option[Seq[String]] =
    if (probes.isEmpty || !trusted(spark, path)) None
    else if (within.exists(_.isEmpty)) Some(Nil)
    else probe(spark, path, Map.empty, probes)
      .map(p => within.fold(p.kept)(w => p.kept.filter(w.toSet)))

  /** The full pruning surface for a SQL predicate in ONE sidecar read:
    * range spans ([[typedBounds]]) intersected with bloom point-lookup
    * probes ([[eqProbes]]). None when neither surface can prune. */
  def candidatesForPredicate(
      spark: SparkSession,
      path: String,
      predicate: String
  ): Option[Seq[String]] =
    probe(spark, path, typedBounds(spark, predicate),
      eqProbes(spark, predicate)).map(_.kept)

  private def dir(datasetPath: String) = new Path(datasetPath, "_stats")
  private def manifest(datasetPath: String) =
    new Path(dir(datasetPath), "_manifest.json")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The fields a stats pass can index, in schema order. */
  /** Caller-assembled frames may carry the per-row FILE IDENTITY in
    * this column instead of relying on `input_file_name()` (which
    * only evaluates inside a scan stage): [[buildForDataFrame]] and
    * [[appendFiles]] group by it when present. The hook that lets a
    * caller PRE-AGGREGATE the frame (e.g. the text index dedups to
    * one row per (file, term) so the bloom hashes each term once per
    * file, not once per posting). */
  val PreGroupedFileCol = "__graft_file"

  def indexableFields(schema: StructType): Seq[StructField] =
    schema.fields.filter(f => f.name != PreGroupedFileCol)
      .filter(f => f.dataType match {
        case _: NumericType | TimestampType | TimestampNTZType |
             DateType | StringType => true
        case _ => false
      }).toSeq

  /** The grouping key mapping each row to its file: the pre-grouped
    * column when the caller carries one, `input_file_name()` (scan
    * stage) otherwise. */
  private def fileKeyOf(df: DataFrame): Column =
    if (df.columns.contains(PreGroupedFileCol))
      col(PreGroupedFileCol).as("file")
    else input_file_name().as("file")

  /** The double-domain projection of a numeric/timestamp/date column
    * (timestamps cast to fractional epoch seconds; dates through
    * timestamp, i.e. session-zone midnight — the same instant a
    * string literal's day-floor interpretation lands on). */
  private def numProj(f: StructField): Column = f.dataType match {
    // NTZ carries no zone: the cast to TimestampType pins its wall
    // clock in the session zone (UTC everywhere in this engine), the
    // same zone probe literals resolve in — build and probe agree by
    // construction
    case DateType | TimestampNTZType =>
      col(f.name).cast("timestamp").cast("double")
    case _ => col(f.name).cast("double")
  }

  /** min/max agg columns for `fields`, one `<c>_min`/`<c>_max` pair
    * each in the field's span domain. */
  def typedSpanAggs(fields: Seq[StructField]): Seq[Column] =
    fields.flatMap { f =>
      f.dataType match {
        case StringType => Seq(
          substring(min(col(f.name)), 1, StrPrefix).as(s"${f.name}_min"),
          substring(max(col(f.name)), 1, StrPrefix).as(s"${f.name}_max"))
        case _ =>
          val c = numProj(f)
          Seq(min(c).as(s"${f.name}_min"), max(c).as(s"${f.name}_max"))
      }
    }

  /** Decode one field's span sides from an agg output row. */
  def decodeSpan(r: Row, f: StructField)
      : (Option[SpanV], Option[SpanV]) = {
    def side(n: String): Option[SpanV] = {
      val i = r.fieldIndex(n)
      if (r.isNullAt(i)) None
      else f.dataType match {
        case StringType => Some(StrV(r.getString(i)))
        case _ => Some(NumV(r.getDouble(i)))
      }
    }
    (side(s"${f.name}_min"), side(s"${f.name}_max"))
  }

  /** Per-file (row count, typed spans) read from PARQUET FOOTERS —
    * zero Spark jobs (a bounded driver threadpool over the staged
    * files, the [[SchemaTools.fileSchemas]] discipline). This is how
    * Delta/Iceberg writers get per-AddFile stats without a second data
    * pass; here it replaces the per-commit `spansOf` aggregation job
    * (r13 opt: one fixed Spark job + its planning gap on EVERY commit).
    *
    * EXACT-EQUIVALENCE contract with [[typedSpanAggs]] + [[decodeSpan]]
    * — returns None (callers fall back to the distributed agg) unless
    * every conversion is provably identical:
    *  - integral/float/double columns: footer min/max are exact; the
    *    Long/Float→Double casts are monotone, so min(cast) = cast(min);
    *  - timestamps: INT64 MICROS footers only (Spark's writer);
    *    micros / 1e6 is Spark's own timestampToDouble. INT96 or
    *    non-micro units → None;
    *  - dates: INT32 days → days·86400 s (UTC session — the same
    *    instant `cast(date as timestamp as double)` lands on);
    *  - strings: Spark 4's parquet-mr stores UNtruncated binary
    *    min/max under unsigned-lexicographic order — the same order
    *    Spark's min/max use — so prefix-truncating the footer value
    *    ([[StrPrefix]] code points) equals `substring(min(col),1,64)`;
    *  - NaN anywhere in a float/double span, a decimal column, a
    *    missing/unreadable statistics object, or a physical/logical
    *    type surprise → None (never a silently different span);
    *  - all-null chunks (hasNonNullValue=false, numNulls=valueCount)
    *    contribute nothing; a column absent from a file or all-null
    *    overall spans (None, None) — exactly the agg's null sides.
    *
    * Map is keyed by the input path string; values are (nRows, spans
    * per indexable column of `schema`). */
  def footerSpans(
      spark: SparkSession,
      paths: Seq[String],
      schema: StructType
  ): Option[Map[String, (Long, Map[String, (Option[SpanV], Option[SpanV])])]] = {
    val fields = indexableFields(schema)
    val eligible = fields.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           DateType | TimestampType | TimestampNTZType | StringType =>
        true
      case _ => false // DecimalType etc: span semantics not replicated
    })
    if (!eligible || paths.isEmpty) return None
    val conf = spark.sessionState.newHadoopConf()
    try Some(SchemaTools.onFooterPool(paths)(p =>
      p -> footerSpansOf(p, fields, conf)).toMap)
    catch {
      case scala.util.control.NonFatal(e) =>
        if (sys.env.contains("GRAFT_FOOTER_DEBUG"))
          System.err.println(s"[footer-spans] fallback: $e")
        None
    }
  }

  /** Footer ineligibility — triggers the whole-batch fallback. */
  private final class FooterIneligible(msg: String)
      extends RuntimeException(msg)

  private def footerSpansOf(
      path: String,
      fields: Seq[StructField],
      conf: org.apache.hadoop.conf.Configuration
  ): (Long, Map[String, (Option[SpanV], Option[SpanV])]) = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(path), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      if (nRows == 0L) return (0L, Map.empty)
      val spans = fields.map { f =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == f.name))
        // column absent from the file (schema drift): reads null-fill,
        // so the span is the agg's (None, None)
        var numLo, numHi = Option.empty[Double]
        var strLo, strHi =
          Option.empty[org.apache.spark.unsafe.types.UTF8String]
        chunks.foreach { ch =>
          val st = ch.getStatistics
          if (st == null)
            throw new FooterIneligible(s"$path ${f.name}: no stats")
          if (!st.hasNonNullValue) {
            // provably all-null only when the null count says so
            if (!st.isNumNullsSet || st.getNumNulls != ch.getValueCount)
              throw new FooterIneligible(
                s"$path ${f.name}: stats unusable")
          } else {
            val lt = ch.getPrimitiveType.getLogicalTypeAnnotation
            def num(lo: Double, hi: Double): Unit = {
              if (lo.isNaN || hi.isNaN)
                throw new FooterIneligible(s"$path ${f.name}: NaN span")
              numLo = Some(numLo.fold(lo)(math.min(_, lo)))
              numHi = Some(numHi.fold(hi)(math.max(_, hi)))
            }
            (f.dataType, st) match {
              case (ByteType | ShortType | IntegerType, s: IntStatistics)
                  if lt == null || lt.isInstanceOf[
                    LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                num(s.getMin.toDouble, s.getMax.toDouble)
              case (LongType, s: LongStatistics)
                  if lt == null || lt.isInstanceOf[
                    LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                num(s.getMin.toDouble, s.getMax.toDouble)
              case (org.apache.spark.sql.types.FloatType,
                  s: FloatStatistics) =>
                num(s.getMin.toDouble, s.getMax.toDouble)
              case (org.apache.spark.sql.types.DoubleType,
                  s: DoubleStatistics) =>
                num(s.getMin, s.getMax)
              case (DateType, s: IntStatistics)
                  if lt.isInstanceOf[
                    LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
                num(s.getMin.toLong * 86400.0, s.getMax.toLong * 86400.0)
              case (TimestampType | TimestampNTZType, s: LongStatistics)
                  if lt.isInstanceOf[LogicalTypeAnnotation
                    .TimestampLogicalTypeAnnotation] &&
                    lt.asInstanceOf[LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation].getUnit ==
                      LogicalTypeAnnotation.TimeUnit.MICROS =>
                num(s.getMin / 1000000.0, s.getMax / 1000000.0)
              case (StringType, s: BinaryStatistics)
                  if lt.isInstanceOf[LogicalTypeAnnotation
                    .StringLogicalTypeAnnotation] =>
                val mn = org.apache.spark.unsafe.types.UTF8String
                  .fromBytes(s.genericGetMin.getBytes)
                val mx = org.apache.spark.unsafe.types.UTF8String
                  .fromBytes(s.genericGetMax.getBytes)
                strLo = Some(strLo.fold(mn)(a =>
                  if (a.compareTo(mn) <= 0) a else mn))
                strHi = Some(strHi.fold(mx)(a =>
                  if (a.compareTo(mx) >= 0) a else mx))
              case _ =>
                throw new FooterIneligible(
                  s"$path ${f.name}: ${ch.getPrimitiveType} vs " +
                    s"${f.dataType.simpleString}")
            }
          }
        }
        val span: (Option[SpanV], Option[SpanV]) = f.dataType match {
          case StringType =>
            // substring(…, 1, StrPrefix) in code points — Spark's own
            // truncation unit (typedSpanAggs)
            (strLo.map(s => StrV(s.substring(0, StrPrefix).toString)),
              strHi.map(s => StrV(s.substring(0, StrPrefix).toString)))
          case _ => (numLo.map(NumV), numHi.map(NumV))
        }
        f.name -> span
      }.toMap
      (nRows, spans)
    } finally reader.close()
  }

  /** One distributed pass: (file, <col>_min, <col>_max ..., n_rows)
    * for every indexable column. `n_rows` rides along for free (the
    * group is already per-file) and lets metadata tables
    * ([[SchemaTools.partitionsTable]]) serve row counts from the
    * manifest instead of driver-side footer opens. */
  def collect(spark: SparkSession, path: String): DataFrame =
    collectFrom(spark, SchemaTools.safeRead(spark, path), path)

  private def collectFrom(
      spark: SparkSession, df: DataFrame, path: String,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): DataFrame = {
    val fields = indexableFields(df.schema)
    require(fields.nonEmpty, s"no indexable columns at $path")
    val aggs = typedSpanAggs(fields) ++
      bloomAggCols(df.schema, bloomCols, bloomBits) :+
      count(lit(1)).as("n_rows")
    df.groupBy(fileKeyOf(df))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Materialize the stats sidecar (overwrites any previous one).
    * `bloomCols` opt selected string/integral columns into per-file
    * bloom filters for equality-probe skipping (see the bloom section
    * above); [[appendFiles]] maintains them incrementally like spans. */
  def build(spark: SparkSession, path: String,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): Unit =
    buildFrom(spark, SchemaTools.safeRead(spark, path), path,
      bloomCols, bloomBits)

  /** Build the sidecar for `path` over an EXPLICIT file list — the
    * commit-log flavor, where the live set is manifest-resolved rather
    * than a directory listing ([[CommitLog]] data files live under
    * `data/` next to non-data debris the listing must not see). */
  def buildForFiles(
      spark: SparkSession, path: String, files: Seq[String],
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): Unit = {
    require(files.nonEmpty, s"no files to index at $path")
    buildFrom(spark,
      SchemaTools.parquetReader(spark, files).parquet(files: _*), path,
      bloomCols, bloomBits)
  }

  /** Build over a caller-assembled frame — the schema-evolved
    * commit-log flavor, where a plain multi-file read would resolve
    * against one sampled footer (missing drifted columns, or throwing
    * outright on a type-widened one). The frame must preserve
    * `input_file_name()` per row (grouped per-schema scans do); files
    * missing a column land null spans for it — kept conservatively by
    * the isNull arm of every probe. */
  def buildForDataFrame(
      spark: SparkSession, path: String, df: DataFrame,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): Unit =
    buildFrom(spark, df, path, bloomCols, bloomBits)

  private def buildFrom(
      spark: SparkSession, df: DataFrame, path: String,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): Unit = {
    val d = dir(path)
    val fs = fsOf(spark, d)
    val tmp = new Path(path, "_stats_tmp")
    val stats = collectFrom(spark, df, path, bloomCols, bloomBits)
    sharded(stats, bloomCols.size.toLong * (1L + bloomBits / 8),
        math.max(1, scala.util.Try(df.inputFiles.length).getOrElse(0)))
      .write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(d)) fs.delete(d, true)
    fs.rename(tmp, d)
    seal(spark, path)
  }

  /** Bloom-carrying manifest shards target this size — big enough to
    * amortize footers, small enough that no single task carries an
    * unbounded blob payload. */
  private val TargetShardBytes: Long = 64L << 20

  /** Sidecar rows laid out for the write, by [[buildFrom]] and
    * [[appendFiles]] alike: `nFiles` rows (evaluated only when blooms
    * exist) of `blobBytes` bloom blobs each. Span-only rows are tiny and
    * one part file reads fastest, but bloom blobs add up: at the
    * 1M-file design point a single-task write would push gigabytes
    * through one executor, so past [[TargetShardBytes]] the rows shard
    * by file-name hash (each task writes its own shard; readers scan
    * the directory either way). One shard is a `coalesce`, never a
    * second exchange after the per-file aggregate. */
  private def sharded(rows: DataFrame, blobBytes: Long, nFiles: => Int)
      : DataFrame = {
    val shards = if (blobBytes == 0L) 1 else math.max(1L, math.min(1024L,
      nFiles.toLong * blobBytes / TargetShardBytes + 1L)).toInt
    if (shards == 1) rows.coalesce(1)
    else rows.repartition(shards, col("file"))
  }

  /** Every file the sidecar has a row for (by full path as recorded at
    * build time) — None without a trusted manifest. Data files are
    * immutable (UUID/task-unique names, never overwritten in place),
    * so a file's stats row stays valid for as long as the file exists;
    * membership here is what lets a manifest-resolved reader prune
    * "indexed files by span, unindexed files kept" conservatively. */
  def indexedFiles(spark: SparkSession, path: String)
      : Option[Seq[String]] =
    open(spark, path, Map.empty, Map.empty).map(_.indexed)

  /** Per-file row counts from the manifest: (file, n_rows), None when
    * no trusted sidecar exists or it predates the `n_rows` column. */
  def rowCounts(spark: SparkSession, path: String): Option[DataFrame] = {
    if (!trusted(spark, path)) return None
    val stats = SchemaTools.parquetReader(spark, Seq(dir(path).toString))
      .parquet(dir(path).toString)
    if (!stats.columns.contains("n_rows")) None
    else Some(stats.select(col("file"), col("n_rows")))
  }

  def trusted(spark: SparkSession, path: String): Boolean =
    fsOf(spark, dir(path)).exists(manifest(path))

  /** Remove the sidecar (writes make it stale). */
  def invalidate(spark: SparkSession, path: String): Unit = {
    val d = dir(path)
    val fs = fsOf(spark, d)
    if (fs.exists(d)) fs.delete(d, true)
  }

  /** Drop ONLY the trust marker, keeping the stats rows — the dirty
    * state an additive write enters before its data lands: a crash
    * leaves the manifest untrusted (full-scan fallback), never
    * trusted-but-incomplete. [[appendFiles]] or [[build]] restores. */
  def distrust(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, dir(path))
    if (fs.exists(manifest(path))) fs.delete(manifest(path), false)
  }

  /** Restore the trust marker. */
  private def seal(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, dir(path))
    val out = fs.create(manifest(path), true)
    try out.write("{\"ok\":true}".getBytes("UTF-8"))
    finally out.close()
  }

  /** Incremental maintenance for additive writes (delta/append only
    * ADD files, so every existing span stays valid): compute spans for
    * just the new files and re-seal — the same update discipline as
    * the `_keys`/`_shingles` sidecars, so a standing manifest survives
    * continuous ingest without rebuild-per-batch. Gives up (full
    * invalidate) when the new files don't carry every indexed column
    * in the standing sidecar's span domain — e.g. a hive-partitioned
    * target, where the partition columns live in the directory names,
    * not the files. Files with zero rows produce no stats row;
    * skipping them loses nothing. */
  def appendFiles(
      spark: SparkSession,
      path: String,
      files: Seq[String],
      // caller-provided scan of exactly `files` (schema declared, with
      // basePath when partitioned — no footer job, and partition
      // columns stay resolvable); must preserve input_file_name()
      batchScan: Option[DataFrame] = None
  ): Unit = {
    val d = dir(path)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return // nothing standing to maintain
    if (files.isEmpty) { seal(spark, path); return }
    val standing = SchemaTools.parquetReader(spark, Seq(d.toString))
      .parquet(d.toString)
    val statsSchema = standing.schema
    val indexed = statsSchema.fieldNames
      .filter(_.endsWith("_min")).map(_.stripSuffix("_min")).toSeq
    val bloomed = statsSchema.fieldNames
      .filter(_.endsWith("_bloom")).map(_.stripSuffix("_bloom")).toSeq
    val df = batchScan.getOrElse(
      SchemaTools.parquetReader(spark, files).parquet(files: _*))
    // domain compatibility: a standing double span accepts any
    // numeric/timestamp/date column; a standing string span accepts
    // strings. A mismatch (or a missing column) invalidates — a
    // wrong-domain span would mis-prune, and conservative means
    // degrade to full scans, never guess.
    def domainOk(c: String): Boolean =
      df.schema.fieldNames.contains(c) &&
        ((statsSchema(s"${c}_min").dataType, df.schema(c).dataType) match {
          case (StringType, StringType) => true
          case (StringType, _) => false
          case (_, dt) => dt match {
            case _: NumericType | TimestampType | TimestampNTZType |
                DateType => true
            case _ => false
          }
        })
    if (!indexed.forall(domainOk)) { invalidate(spark, path); return }
    // standing blooms maintain with the SAME width and domain the
    // sidecar's footer schema records on each `<c>_bloom` field. A
    // column without that record, or whose type no longer maps to the
    // recorded domain, invalidates: degrade, never mis-prune.
    val bloomParams: Option[Seq[(String, Int, Byte)]] = {
      val ps = bloomed.map { c =>
        bloomParamsOf(statsSchema(s"${c}_bloom")).collect {
          case (bits, dom) if df.schema.fieldNames.contains(c) &&
              bloomDomainOf(df.schema(c).dataType).contains(dom) =>
            (c, bits, dom)
        }
      }
      if (ps.forall(_.isDefined)) Some(ps.flatten) else None
    }
    if (bloomParams.isEmpty && bloomed.nonEmpty) {
      invalidate(spark, path); return
    }
    // n_rows computed unconditionally; the schema-conforming select
    // drops it for sidecars built before it existed
    val fields = indexed.map(c => df.schema(c))
    val aggs = typedSpanAggs(fields) ++
      bloomParams.getOrElse(Nil).map { case (c, bits, _) =>
        bloomAggCols(df.schema, Seq(c), bits).head
      } :+ count(lit(1)).as("n_rows")
    val delta = df.groupBy(fileKeyOf(df))
      .agg(aggs.head, aggs.tail: _*)
      .select(statsSchema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata)).toSeq: _*)
    sharded(delta, bloomParams.getOrElse(Nil)
        .map { case (_, bits, _) => 1L + bits / 8 }.sum, files.length)
      .write.mode("append").parquet(d.toString)
    seal(spark, path)
  }

  /** The data files whose `[min, max]` span of `colName` intersects
    * `[lo, hi]` (numeric domain), per the stats sidecar — None when no
    * trusted sidecar exists or it doesn't cover the column. Null-span
    * files survive. */
  def candidateFiles(
      spark: SparkSession,
      path: String,
      colName: String,
      lo: Double,
      hi: Double
  ): Option[Seq[String]] =
    candidatesForBounds(spark, path, Map(colName -> ((lo, hi))))

  /** Numeric-domain candidate resolution (kept for the pre-typed
    * callers): files whose span intersects every `[lo, hi]`. */
  def candidatesForBounds(
      spark: SparkSession,
      path: String,
      bounds: Map[String, (Double, Double)]
  ): Option[Seq[String]] =
    candidatesForColBounds(spark, path, bounds.map { case (c, (lo, hi)) =>
      c -> ColBound(
        loNum = Some(lo).filter(_ != Double.NegativeInfinity),
        hiNum = Some(hi).filter(_ != Double.PositiveInfinity))
    })

  /** Multi-column candidate resolution: files whose span intersects
    * EVERY given bound — the conjunction prunes on each covered column
    * independently, which is exactly what a z-ordered layout (narrow
    * per-file spans on every clustered column) is built to serve. The
    * range projection of [[probe]]: None when no trusted manifest
    * exists or no covered column has a usable bound. */
  def candidatesForColBounds(
      spark: SparkSession,
      path: String,
      bounds: Map[String, ColBound]
  ): Option[Seq[String]] =
    probe(spark, path, bounds, Map.empty).map(_.kept)

  /** Typed per-column bounds for a frame's OWN values: the probe shape
    * key-range pruning wants — a merge batch's key spread, a delta
    * batch's time window. Columns whose type has no span domain (or
    * that are all-null) get no entry. One job with no exchange: each
    * task folds its rows' min/max and `reduce` folds the tasks'
    * ([[SchemaTools.distinctStrings]]' shape), where a global agg plans
    * a partial agg, an exchange and a final agg — two jobs under
    * adaptive execution on a multi-partition frame. The fold orders
    * like Spark's min/max (binary UTF-8 strings; doubles with NaN above
    * every value), and strings truncate like a span build: as a PROBE
    * the truncated min stays a valid lower bound (prefix <= full) and
    * the truncated max is re-truncated on comparison anyway. */
  def frameBounds(frame: DataFrame, cols: Seq[String])
      : Map[String, ColBound] = {
    val fields = cols.flatMap(c =>
      indexableFields(frame.schema).find(_.name == c))
    if (fields.isEmpty) return Map.empty
    val ext = new Extremes(fields.map(_.dataType == StringType).toArray)
    val perTask = frame
      .select(fields.map(f =>
        if (f.dataType == StringType) col(f.name) else numProj(f)): _*)
      .mapPartitions(rows => Iterator.single(ext.of(rows)))(
        org.apache.spark.sql.Encoders.kryo[Array[Any]])
    val merge: (Array[Any], Array[Any]) => Array[Any] = ext.merge
    val r =
      try perTask.reduce(merge)
      catch { case _: UnsupportedOperationException => return Map.empty }
    fields.zipWithIndex.flatMap { case (f, i) =>
      (r(2 * i), r(2 * i + 1)) match {
        case (lo: Double, hi: Double) =>
          Some(f.name -> ColBound(loNum = Some(lo), hiNum = Some(hi)))
        case (lo: String, hi: String) =>
          Some(f.name -> ColBound(loStr = Some(truncProbe(lo)),
            hiStr = Some(truncProbe(hi))))
        case _ => None
      }
    }.toMap
  }

  /** Running (min, max) of [[frameBounds]]' columns, ordered like
    * Spark's min/max: binary UTF-8 for strings, doubles with NaN above
    * every value. Column i's sides sit at slots 2i and 2i + 1; nulls
    * skip. */
  private final class Extremes(isStr: Array[Boolean]) extends Serializable {
    private def cmp(i: Int, a: Any, b: Any): Int =
      if (isStr(i)) utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String])
      else org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])

    private def widen(acc: Array[Any], i: Int, lo: Any, hi: Any): Unit = {
      if (lo != null && (acc(2 * i) == null || cmp(i, lo, acc(2 * i)) < 0))
        acc(2 * i) = lo
      if (hi != null && (acc(2 * i + 1) == null ||
          cmp(i, hi, acc(2 * i + 1)) > 0))
        acc(2 * i + 1) = hi
    }

    def of(rows: Iterator[Row]): Array[Any] = {
      val acc = new Array[Any](2 * isStr.length)
      rows.foreach(r =>
        isStr.indices.foreach(i => widen(acc, i, r.get(i), r.get(i))))
      acc
    }

    def merge(a: Array[Any], b: Array[Any]): Array[Any] = {
      val acc = a.clone()
      isStr.indices.foreach(i => widen(acc, i, b(2 * i), b(2 * i + 1)))
      acc
    }
  }

  /** Numeric-domain projection of [[typedBounds]] (kept for the
    * pre-typed callers; infinities mark unbounded sides). */
  def rangeBounds(
      spark: SparkSession,
      predicate: String
  ): Map[String, (Double, Double)] =
    typedBounds(spark, predicate).flatMap { case (c, b) =>
      if (b.loNum.isEmpty && b.hiNum.isEmpty) None
      else Some(c -> ((b.loNum.getOrElse(Double.NegativeInfinity),
        b.hiNum.getOrElse(Double.PositiveInfinity))))
    }

  /** Per-column typed bounds extractable from the TOP-LEVEL `AND`
    * conjuncts of a SQL predicate string. Only necessary conditions are
    * taken — every conjunct of a conjunction must hold, so pruning the
    * file listing with ANY subset of them is conservative; `OR`s,
    * function calls, and unextractable comparisons simply contribute
    * nothing and stay residual-only. Strict inequalities widen to their
    * closed forms (again conservative: candidate supersets only).
    *
    * Literal domains: numeric literals bound the numeric side;
    * `TIMESTAMP '...'`/`DATE '...'` literals (and string literals cast
    * to those types) land as epoch seconds; bare string literals bound
    * the string side AND — when they parse as a date/timestamp — the
    * numeric side, day-FLOORED for lower bounds and exact-instant for
    * upper bounds, so the bound is conservative whether the column
    * resolves to a timestamp (string casts to the instant) or a date
    * (string casts to the day, whose span is the day's midnight). */
  def typedBounds(
      spark: SparkSession,
      predicate: String
  ): Map[String, ColBound] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, Between, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.unsafe.types.UTF8String
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicate)
      catch { case scala.util.control.NonFatal(_) => return Map.empty }
    val zone = DateTimeUtils.getZoneId(
      spark.sessionState.conf.sessionLocalTimeZone)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.name)
      case _ => None
    }
    // a literal's conservative interpretations: (numeric-lower,
    // numeric-upper, string) — lower/upper differ only for
    // datetime-parsable strings (day floor vs exact instant)
    final case class LitV(numLo: Option[Double], numHi: Option[Double],
        str: Option[String])
    def secondsOfDays(days: Int): Double =
      DateTimeUtils.daysToMicros(days, zone) / 1e6
    def strLit(s: String): LitV = {
      val u = UTF8String.fromString(s)
      val ts = DateTimeUtils.stringToTimestamp(u, zone)
      val day = DateTimeUtils.stringToDate(u)
      val exact = ts.map(_ / 1e6).orElse(day.map(secondsOfDays))
      val floor = day.map(secondsOfDays).orElse(ts.map(m =>
        secondsOfDays(DateTimeUtils.microsToDays(m, zone))))
      LitV(floor, exact, Some(s))
    }
    def litV(e: Expression): Option[LitV] = e match {
      case Literal(v, _: NumericType) =>
        scala.util.Try(v.toString.toDouble).toOption
          .map(d => LitV(Some(d), Some(d), None))
      case Literal(micros: Long, TimestampType) =>
        val s = micros / 1e6
        Some(LitV(Some(s), Some(s), None))
      // an NTZ literal's micros are wall-clock; pin in the session
      // zone — the same mapping [[numProj]] uses for NTZ spans
      case Literal(micros: Long, TimestampNTZType) =>
        val s = DateTimeUtils.instantToMicros(
          DateTimeUtils.microsToLocalDateTime(micros).atZone(zone)
            .toInstant) / 1e6
        Some(LitV(Some(s), Some(s), None))
      case Literal(days: Int, DateType) =>
        val s = secondsOfDays(days)
        Some(LitV(Some(s), Some(s), None))
      case Literal(u: UTF8String, StringType) => Some(strLit(u.toString))
      // explicit CAST('...' AS TIMESTAMP/DATE): the string rule is
      // already conservative for both target types (day floor <= cast
      // value <= exact instant). Other casts change the value
      // (CAST(3.7 AS INT) = 3) and are NOT safe to see through.
      case c: Cast => c.child match {
        case l @ Literal(_, StringType)
            if c.dataType == TimestampType ||
              c.dataType == TimestampNTZType || c.dataType == DateType =>
          litV(l).map(_.copy(str = None))
        case _ => None
      }
      case _ => None
    }
    val acc = scala.collection.mutable.Map[String, ColBound]()
    def addLo(n: String, v: LitV): Unit =
      acc(n) = acc.getOrElse(n, ColBound())
        .and(ColBound(loNum = v.numLo, loStr = v.str))
    def addHi(n: String, v: LitV): Unit =
      acc(n) = acc.getOrElse(n, ColBound())
        .and(ColBound(hiNum = v.numHi, hiStr = v.str))
    def addEq(n: String, v: LitV): Unit = { addLo(n, v); addHi(n, v) }
    // (name, value, colOnLeft) for `col OP lit` / `lit OP col`
    def sides(a: Expression, b: Expression)
        : Option[(String, LitV, Boolean)] =
      (nameOf(a), litV(b)) match {
        case (Some(n), Some(v)) => Some((n, v, true))
        case _ => (nameOf(b), litV(a)) match {
          case (Some(n), Some(v)) => Some((n, v, false))
          case _ => None
        }
      }
    conjuncts(parsed).foreach {
      case GreaterThanOrEqual(a, b) => sides(a, b).foreach {
        case (n, v, true) => addLo(n, v)
        case (n, v, false) => addHi(n, v)
      }
      case GreaterThan(a, b) => sides(a, b).foreach {
        case (n, v, true) => addLo(n, v)
        case (n, v, false) => addHi(n, v)
      }
      case LessThanOrEqual(a, b) => sides(a, b).foreach {
        case (n, v, true) => addHi(n, v)
        case (n, v, false) => addLo(n, v)
      }
      case LessThan(a, b) => sides(a, b).foreach {
        case (n, v, true) => addHi(n, v)
        case (n, v, false) => addLo(n, v)
      }
      case EqualTo(a, b) => sides(a, b).foreach {
        case (n, v, _) => addEq(n, v)
      }
      case Between(c, lo, hi, _) =>
        for (n <- nameOf(c); l <- litV(lo); h <- litV(hi)) {
          addLo(n, l); addHi(n, h)
        }
      // the parser leaves `x BETWEEN a AND b` as an unresolved
      // "between" call; resolution would rewrite it to the conjunction
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("between") && f.arguments.size == 3 =>
        for (n <- nameOf(f.arguments(0)); l <- litV(f.arguments(1));
             h <- litV(f.arguments(2))) {
          addLo(n, l); addHi(n, h)
        }
      case In(c, vs) if vs.nonEmpty =>
        nameOf(c).foreach { n =>
          val ls = vs.flatMap(litV)
          if (ls.size == vs.size) {
            // the list's envelope: min of lower interps, max of upper
            val numLo = ls.flatMap(_.numLo)
            val numHi = ls.flatMap(_.numHi)
            val strs = ls.flatMap(_.str)
            val v = LitV(
              if (numLo.size == ls.size) Some(numLo.min) else None,
              if (numHi.size == ls.size) Some(numHi.max) else None,
              None)
            addLo(n, v); addHi(n, v)
            if (strs.size == ls.size && strs.nonEmpty) {
              val lo = strs.reduce((a, b) => if (utf8Cmp(a, b) <= 0) a else b)
              val hi = strs.reduce((a, b) => if (utf8Cmp(a, b) >= 0) a else b)
              addLo(n, LitV(None, None, Some(lo)))
              addHi(n, LitV(None, None, Some(hi)))
            }
          }
        }
      case _ => ()
    }
    acc.filterNot(_._2.isEmpty).toMap
  }

  /** Range read with file skipping: scan only the candidate files and
    * re-apply the exact predicate (the stats only shrink the listing).
    * Falls back to the full dataset when no trusted sidecar serves the
    * column. The driver-side file list is bounded by the dataset's
    * file count — the same scale class as any file listing Spark does
    * to plan the scan it replaces. */
  def readRange(
      spark: SparkSession,
      path: String,
      colName: String,
      lo: Double,
      hi: Double
  ): DataFrame = {
    // keep the residual predicate in the column's own type: a double
    // literal against an integral column inserts a cast that blocks
    // parquet pushdown. For integral columns [lo, hi] ∩ ℤ =
    // [ceil(lo), floor(hi)] exactly, so tightening the literals
    // preserves semantics and the filter reaches the scan.
    val dt = SchemaTools.safeRead(spark, path).schema(colName).dataType
    val pred = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(colName) >= math.ceil(lo).toLong &&
          col(colName) <= math.floor(hi).toLong
      case _ => col(colName) >= lo && col(colName) <= hi
    }
    scanCandidates(spark, path, pred,
      candidateFiles(spark, path, colName, lo, hi))
  }

  /** Typed band read — [[readRange]] for a probe in the column's OWN
    * type (a timestamp window, a string range): prune the listing
    * through [[frameBounds]]-style typed bounds and re-apply the exact
    * typed predicate. `lo`/`hi` are literal values of (or comparable
    * to) the column's type. */
  def readBand(
      spark: SparkSession,
      path: String,
      colName: String,
      lo: Any,
      hi: Any
  ): DataFrame = {
    val pred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    val b = boundOfTyped(spark, path, colName, lo, hi)
    scanCandidates(spark, path, pred,
      b.flatMap(bb =>
        candidatesForColBounds(spark, path, Map(colName -> bb))))
  }

  /** A [[ColBound]] for typed endpoint values against `colName`'s span
    * domain; None when the values can't be conservatively mapped. */
  private def boundOfTyped(spark: SparkSession, path: String,
      colName: String, lo: Any, hi: Any): Option[ColBound] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val zone = DateTimeUtils.getZoneId(
      spark.sessionState.conf.sessionLocalTimeZone)
    def numOf(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case t: java.sql.Timestamp => Some(t.getTime / 1e3)
      case i: java.time.Instant =>
        Some(DateTimeUtils.instantToMicros(i) / 1e6)
      case l: java.time.LocalDateTime =>
        Some(DateTimeUtils.instantToMicros(
          l.atZone(zone).toInstant) / 1e6)
      case d: java.sql.Date =>
        Some(DateTimeUtils.daysToMicros(
          DateTimeUtils.fromJavaDate(d), zone) / 1e6)
      case d: java.time.LocalDate =>
        Some(DateTimeUtils.daysToMicros(d.toEpochDay.toInt, zone) / 1e6)
      case _ => None
    }
    (lo, hi) match {
      case (a: String, b: String) =>
        Some(ColBound(loStr = Some(a), hiStr = Some(b)))
      case _ =>
        for (l <- numOf(lo); h <- numOf(hi))
          yield ColBound(loNum = Some(l), hiNum = Some(h))
    }
  }

  private def scanCandidates(spark: SparkSession, path: String,
      pred: Column, cands: Option[Seq[String]]): DataFrame =
    cands match {
      case Some(files) if files.isEmpty =>
        SchemaTools.safeRead(spark, path).filter(pred).limit(0)
      case Some(files) =>
        // basePath keeps hive partition-column resolution alive when
        // scanning an explicit file list: without it the partition
        // columns in the explicit schema would read back all-null
        spark.read
          .schema(SchemaTools.safeRead(spark, path).schema)
          .option("basePath", path)
          .parquet(files: _*)
          .filter(pred)
      case None =>
        SchemaTools.safeRead(spark, path).filter(pred)
    }
}
