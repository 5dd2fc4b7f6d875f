package lakebench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded lineitem-shaped rows. A row is a pure function of its id, the
  * run seed and a `variant` (the batch that last wrote it), so the
  * benchmark can rebuild any expected table state from a model of
  * (id range -> variant) without reading the lake. Keys are
  * (l_orderkey, l_linenumber) = (id / 4, id % 4 + 1). */
object Gen {
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val RowsPerOrder: Long = 4L

  val Columns: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag", "l_comment")

  private def h(id: Column, seed: Long, variant: Int, salt: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(variant), lit(salt)), lit(Long.MaxValue))

  def rows(spark: SparkSession, lo: Long, hi: Long, seed: Long,
      variant: Int, partitions: Int = 1): DataFrame = {
    val id = col("id")
    spark.range(lo, hi, 1, partitions).select(
      (id / RowsPerOrder).cast("long").as("l_orderkey"),
      (pmod(id, lit(RowsPerOrder)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(id, seed, variant, 1), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      (pmod(h(id, seed, variant, 2), lit(10000000L)) / 100.0)
        .as("l_extendedprice"),
      (pmod(h(id, seed, variant, 3), lit(11L)) / 100.0).as("l_discount"),
      date_add(lit("1992-01-01").cast("date"),
        pmod(h(id, seed, variant, 4), lit(2500L)).cast("int"))
        .as("l_shipdate"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(h(id, seed, variant, 5), lit(3L)) + 1).cast("int"))
        .as("l_returnflag"),
      concat(lit("comment "),
        pmod(h(id, seed, variant, 6), lit(1000000000L)).cast("string"))
        .as("l_comment"))
  }

  /** Order-independent content summary of a frame: row count and the sum
    * of per-row hashes reduced mod a prime (sums stay far below 2^63, so
    * ANSI overflow checks never fire). Columns are taken in name order so
    * frames that differ only in column order agree. */
  final case class Checksum(rows: Long, hash: Long)

  private val Prime = 1000000007L

  /** Executes `df` in full through the `noop` sink — every operator of the
    * plan runs, rows are discarded executor-side — and returns its
    * checksum, observed on the way through. */
  def checksum(df: DataFrame): Checksum = {
    val cols = df.columns.sorted.map(col).toSeq
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(Prime))), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Checksum(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }
}

/** Keyed row model of a table: disjoint id ranges [lo, hi), each holding
  * the variant that last wrote it. Writes overwrite a range, deletes
  * punch one out; the expected table is regenerated from the ranges. */
final class RangeModel {
  private var ranges = Vector.empty[(Long, Long, Int)]

  def put(lo: Long, hi: Long, variant: Int): Unit = {
    remove(lo, hi)
    ranges = (ranges :+ ((lo, hi, variant))).sortBy(_._1)
  }

  def remove(lo: Long, hi: Long): Unit =
    ranges = ranges.flatMap { case r @ (a, b, v) =>
      if (b <= lo || a >= hi) Seq(r)
      else Seq((a, lo, v), (hi, b, v)).filter { case (x, y, _) => y > x }
    }

  def rowCount: Long = ranges.map { case (a, b, _) => b - a }.sum

  def segments: Seq[(Long, Long, Int)] = ranges

  def expected(spark: SparkSession, seed: Long): DataFrame =
    ranges.map { case (a, b, v) => Gen.rows(spark, a, b, seed, v) }
      .reduceOption(_ unionByName _)
      .getOrElse(Gen.rows(spark, 0, 0, seed, 0))
}
