package lakebench

/** Pure arithmetic the metrics rest on; the self-tests pin each rule. */
object Stats {

  /** Samples ranked above the nearest-rank p-th percentile of n samples. */
  def samplesBeyond(p: Double, n: Int): Int =
    n - math.ceil(p / 100.0 * n).toInt.max(1)

  /** Highest whole percentile with at least `beyond` samples above it, for
    * n samples; None when even the median lacks them. A run's op count is
    * fixed by its workload and length, so this fixes the tail a workload
    * reports as `op_tail_ms`. */
  def highestSupportedPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => samplesBeyond(p, n) >= beyond)

  /** Nearest-rank percentile (the value at rank ceil(p/100 * n)). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.ceil(p / 100.0 * s.size).toInt.max(1) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Length of the union of half-open intervals [start, end), each first
    * clipped to the window [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (s.max(lo), e.min(hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Driver gap of a call: its wall time minus the part of it covered by
    * at least one Spark job — the time the call spent on the driver
    * (metadata, planning, listing) rather than waiting for executors. */
  def driverGap(callStart: Long, callEnd: Long, jobs: Seq[(Long, Long)])
      : Long =
    (callEnd - callStart) - unionLength(jobs, callStart, callEnd)

  /** Modules a job can be attributed to by the source file of its call
    * site; anything else is "other". */
  val Sites: Seq[String] = Seq("CommitLog", "FileStats", "SchemaTools",
    "RowOps", "LakeWriter", "TimeFly", "LakeReader", "LakeManager")

  private val CallSite = """.* at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+.*""".r

  /** The module a job's short call site ("collect at CommitLog.scala:612")
    * names, or "other". */
  def siteOf(shortCallSite: String): String = shortCallSite match {
    case CallSite(file) if Sites.contains(file) => file
    case _ => "other"
  }
}
