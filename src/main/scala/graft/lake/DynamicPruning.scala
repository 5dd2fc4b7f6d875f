package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dynamic file pruning for equi-joins — the RUN-TIME analog of the
  * `_stats` predicate skipping: before a fact⋈dim join plans, realize
  * the (filtered) dim side's join-key domain — per-key min/max always,
  * the exact distinct value set when it is provably small — and prune
  * the fact's FILE LISTING through the same span + bloom surface
  * ad-hoc predicates use (one [[FileStats.probe]] judging spans and
  * blooms in a single sidecar read). Static skipping serves predicates
  * whose literals exist at plan time; this serves the predicate that
  * only exists at RUN time — the dim rows that survived their own
  * filter — which is where star-schema scans win or lose at 100 TB: a
  * dim filter that selects 0.1% of join keys should read ~0.1% of a
  * key-clustered fact's files, not all of them. (The same idea as
  * Spark's partition-level DPP and Databricks/Delta dynamic file
  * pruning, re-expressed over the sidecar so it works on unpartitioned
  * key-clustered layouts too.)
  *
  * Soundness: a fact file is dropped only when its key span/bloom
  * PROVES no dim key can match, so only never-matching rows are
  * skipped — exactly the rows an inner or semi join discards anyway.
  * [[joinPruned]] therefore refuses outer join types, where an
  * unmatched fact row must still surface. The realized domain also
  * re-applies as an ordinary row-level residual (`IN` under the
  * collected-values cap, min/max band above it), so parquet row-group
  * stats prune INSIDE surviving files and an untrusted/absent manifest
  * degrades to a filtered full scan — never a wrong answer.
  *
  * Scale shape: realizing the domain is one map-side-combined
  * aggregate over the dim (tiny output: per key two bounds + one
  * approx count), plus one bounded `collect_set` pass only when the
  * approx distinct count clears the `maxKeys` cap — the collected set
  * is ≤ maxKeys values per key, a driver-side cost the caller chose.
  * The dim evaluates once for the domain and once in the join; cache
  * an expensive dim upstream (Spark's own DPP reuses the exchange for
  * the same reason).
  */
object DynamicPruning {

  /** Join types for which dropping provably-unmatchable fact rows is
    * sound (the fact side is the LEFT input of [[joinPruned]]). */
  private val SoundJoins = Set("inner", "semi", "leftsemi")

  /** One join key's realized dim-side domain. */
  private final case class Domain(
      factCol: String,
      bound: FileStats.ColBound,
      probes: Option[Seq[FileStats.EqProbe]],
      residual: Option[Column],
      hasKeys: Boolean)

  /** The span-domain projection of a dim key column, mirroring the
    * manifest build side ([[FileStats]] numProj): timestamps/dates as
    * fractional epoch seconds, numerics as doubles, strings span in
    * their own domain (no projection). */
  private def numProj(f: StructField): Option[Column] = f.dataType match {
    case DateType | TimestampNTZType =>
      Some(col(f.name).cast("timestamp").cast("double"))
    case TimestampType | _: NumericType => Some(col(f.name).cast("double"))
    case _ => None
  }

  private def bloomProbe(dt: DataType, v: Any): Option[FileStats.EqProbe] =
    dt match {
      case StringType =>
        val s = v.toString
        Some(FileStats.EqProbe(Some(s), FileStats.canonInt(s)))
      case ByteType | ShortType | IntegerType | LongType =>
        Some(FileStats.EqProbe(None, Some(v.toString)))
      case _ => None
    }

  /** Realize every key's dim-side domain in (at most) two distributed
    * passes: one agg for typed + span-domain bounds and approx distinct
    * counts, one `collect_set` agg for only the keys whose distinct
    * count clears `maxKeys` (with a 25% slack on the approximation,
    * enforced exactly after collection). */
  private def domainsOf(
      dim: DataFrame,
      keys: Seq[(String, String)],
      maxKeys: Int): Seq[Domain] = {
    val specs = keys.map { case (f, dcol) =>
      val field = dim.schema.fields
        .find(_.name.equalsIgnoreCase(dcol))
        .getOrElse(throw new IllegalArgumentException(
          s"no such dim join column: $dcol"))
      (f, field)
    }
    val aggs = specs.zipWithIndex.flatMap { case ((_, fld), i) =>
      val c = col(fld.name)
      Seq(min(c).as(s"lo$i"), max(c).as(s"hi$i"),
        approx_count_distinct(c).as(s"n$i"),
        count(c).as(s"k$i")) ++
        numProj(fld).map(p =>
          Seq(min(p).as(s"dlo$i"), max(p).as(s"dhi$i"))).getOrElse(Nil)
    }
    val row = dim.agg(aggs.head, aggs.tail: _*).head()
    // second pass: exact value sets for the provably-small keys
    val collectIdx = specs.zipWithIndex.collect {
      case ((_, fld), i)
          if maxKeys > 0 && row.getLong(row.fieldIndex(s"k$i")) > 0 &&
            row.getLong(row.fieldIndex(s"n$i")) <= maxKeys * 1.25 =>
        i -> fld
    }
    val valueSets: Map[Int, Seq[Any]] =
      if (collectIdx.isEmpty) Map.empty
      else {
        val cAggs = collectIdx.map { case (i, fld) =>
          collect_set(col(fld.name)).as(s"vs$i")
        }
        val vr = dim.agg(cAggs.head, cAggs.tail: _*).head()
        collectIdx.flatMap { case (i, _) =>
          val vs = vr.getSeq[Any](vr.fieldIndex(s"vs$i"))
          // the approximation under-counted: too big to serve exactly
          if (vs.size <= maxKeys) Some(i -> vs) else None
        }.toMap
      }
    specs.zipWithIndex.map { case ((factCol, fld), i) =>
      val hasKeys = row.getLong(row.fieldIndex(s"k$i")) > 0
      val bound =
        if (!hasKeys) FileStats.ColBound()
        else fld.dataType match {
          case StringType => FileStats.ColBound(
            loStr = Some(row.getString(row.fieldIndex(s"lo$i"))),
            hiStr = Some(row.getString(row.fieldIndex(s"hi$i"))))
          case _ if numProj(fld).isDefined => FileStats.ColBound(
            loNum = Some(row.getDouble(row.fieldIndex(s"dlo$i"))),
            hiNum = Some(row.getDouble(row.fieldIndex(s"dhi$i"))))
          case _ => FileStats.ColBound()
        }
      val values = valueSets.get(i)
      val probes = values.flatMap { vs =>
        val ps = vs.flatMap(v => bloomProbe(fld.dataType, v))
        // every member must probe, or the group is not a proof
        if (ps.size == vs.size && ps.nonEmpty) Some(ps) else None
      }
      val residual: Option[Column] =
        if (!hasKeys) None
        else values match {
          case Some(vs) => Some(col(factCol).isin(vs: _*))
          case None if !bound.isEmpty =>
            val lo = row.get(row.fieldIndex(s"lo$i"))
            val hi = row.get(row.fieldIndex(s"hi$i"))
            Some(col(factCol) >= lit(lo) && col(factCol) <= lit(hi))
          case None => None
        }
      Domain(factCol, bound, probes, residual, hasKeys)
    }
  }

  /** The fact scan with its file listing pruned to the files whose
    * key spans/blooms can match `dim`'s realized join-key domain, the
    * domain re-applied as a residual row filter. `keys` maps fact
    * column -> dim column. Sound to substitute for the fact side of an
    * inner/semi join on those keys ONLY — rows outside the domain
    * cannot match. An all-null or empty dim domain returns the
    * zero-file scan (schema intact); an untrusted manifest or
    * non-prunable dataset (drifted/mapped/tombstoned) degrades to the
    * full logical read + residual. */
  def prunedFactScan(
      spark: SparkSession,
      factPath: String,
      dim: DataFrame,
      keys: Seq[(String, String)],
      maxKeys: Int = 1024): DataFrame = {
    require(keys.nonEmpty, "at least one join key")
    val doms = domainsOf(dim, keys, maxKeys)
    val reader = LakeReader(spark, factPath)
    // a key column with zero non-null dim values can match nothing
    if (doms.exists(!_.hasKeys)) return reader.scanFiles(Nil)
    val base =
      if (!reader.listingPrunable) reader.load()
      else {
        val bounds = doms.filter(!_.bound.isEmpty)
          .map(d => d.factCol -> d.bound).toMap
        val probeMap = doms.flatMap(d =>
          d.probes.map(ps => d.factCol -> Seq(ps))).toMap
        FileStats.probe(spark, factPath, bounds, probeMap)
          .map(p => reader.scanFiles(p.kept)).getOrElse(reader.load())
      }
    doms.flatMap(_.residual).foldLeft(base)(_ filter _)
  }

  /** `fact ⋈ dim` with the fact's file listing dynamically pruned from
    * the dim's realized key domain. Restricted to inner/semi join
    * types (see soundness above); the join itself is UNHINTED — AQE
    * broadcasts a small dim on real runtime sizes, and an oversized
    * dim plans shuffled. */
  def joinPruned(
      spark: SparkSession,
      factPath: String,
      dim: DataFrame,
      keys: Seq[(String, String)],
      joinType: String = "inner",
      maxKeys: Int = 1024): DataFrame = {
    val jt = joinType.toLowerCase(java.util.Locale.ROOT)
      .replace("_", "")
    require(SoundJoins.contains(jt),
      s"dynamic file pruning is sound for inner/semi joins only, " +
        s"got: $joinType")
    val fact = prunedFactScan(spark, factPath, dim, keys, maxKeys)
    val cond = keys.map { case (f, dc) => fact(f) === dim(dc) }
      .reduce(_ && _)
    fact.join(dim, cond, joinType)
  }
}
