package lakebench

import scala.collection.mutable

/** Turns a run's records into the metrics BENCHMARK.json names. */
object Report {

  /** What one run measured, before it is split into metrics. */
  final case class Run(setupS: Double, warmupS: Double, ops: Seq[OpRec],
      jobs: Long, inputBytes: Long, spaceAmp: Double, writeAmp: Double,
      streamBytes: Long, filesCreated: Long, liveFiles: Long, gcMs: Long,
      heapPeakMb: Double, drainMs: Double) {
    def n: Int = ops.size
    /** Latency figures are taken over the ops that succeeded (a failing op
      * may return at once; failures are counted in `ops_ok_frac`), or over
      * all ops when none did. */
    def timed: Seq[OpRec] = {
      val ok = ops.filter(_.ok)
      if (ok.nonEmpty) ok else ops
    }
    def latenciesMs: Seq[Double] = timed.map(_.nanos / 1e6)
    def timedS: Double = timed.map(_.nanos).sum / 1e9
    def streamS: Double = ops.map(_.nanos).sum / 1e9
    def tailPercentile: Int =
      Stats.highestSupportedPercentile(timed.size).getOrElse(50)
  }

  type Metrics = Seq[(String, Double, String)]

  def endToEnd(r: Run): Metrics = Seq(
    ("setup_s", r.setupS, "s"),
    ("op_p50_ms", Stats.percentile(r.latenciesMs, 50), "ms"),
    ("ops_per_s", r.timed.size / r.timedS, "1/s"),
    ("ops_ok_frac", r.ops.count(_.ok).toDouble / r.n, "frac"),
    ("jobs_per_op", r.jobs.toDouble / r.n, "count"),
    ("scan_bytes_per_op", r.inputBytes.toDouble / r.n, "bytes"),
    ("space_amp", r.spaceAmp, "ratio"),
    ("write_amp", r.writeAmp, "ratio"))

  val WriteVerbs: Seq[String] =
    Seq("append", "upsert", "merge", "deleteWhere", "optimize", "buildStats")
  val Layers: Seq[String] =
    Seq("CommitLog", "LakeManager", "LakeWriter", "LakeReader", "TimeFly")

  def perLayer(w: Workload, t: Tracer, r: Run): Metrics = {
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    def put(name: String, v: Double, unit: String): Unit =
      out += ((name, if (v.isNaN || v.isInfinite) 0.0 else v, unit))
    val calls = t.calls.toSeq
    val opKind = r.ops.map(o => o.id -> o.kind).toMap
    def named(layer: String, name: String) =
      calls.filter(c => c.layer == layer && c.name == name)
    def p50(cs: Seq[CallRec]) =
      if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.ms))
    def avg(cs: Seq[CallRec])(f: CallRec => Double) =
      if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
    def jobsOf(cs: Seq[CallRec]) = cs.map(_.jobs.size.toDouble).sum
    def shuffle(c: CallRec) = c.stages.map(_.shuffleWriteBytes).sum.toDouble
    def input(c: CallRec) = c.stages.map(_.inputBytes).sum.toDouble
    def filesRead(c: CallRec) = c.qes.map(_.filesRead).sum.toDouble
    def phase(c: CallRec, p: String) =
      c.qes.map(_.phasesMs.getOrElse(p, 0L)).sum.toDouble

    WriteVerbs.foreach { v =>
      val cs = named("CommitLog", v)
      put(s"CommitLog.$v.p50_ms", p50(cs), "ms")
      put(s"CommitLog.$v.jobs_per_call", avg(cs)(_.jobs.size), "count")
      put(s"CommitLog.$v.driver_gap_ms", avg(cs)(_.driverGapMs), "ms")
      put(s"CommitLog.$v.exec_run_ms", avg(cs)(_.stages.map(_.runMs).sum),
        "ms")
      put(s"CommitLog.$v.bytes_written", avg(cs)(_.fsBytesWritten), "bytes")
    }

    // reads: the front-door call that returns the lazy frame (plan), then
    // its noop-sink execution (exec)
    def reads(layer: String, name: String, keep: CallRec => Boolean = _ => true)
        : (Seq[CallRec], Seq[CallRec]) =
      (named(layer, s"$name/plan").filter(keep),
        named(layer, s"$name/exec").filter(keep))
    Seq("read_tip", "read_asof", "readFiltered").foreach { n =>
      val (plan, exec) = reads("CommitLog", n)
      put(s"CommitLog.$n.plan_ms", p50(plan), "ms")
      put(s"CommitLog.$n.exec_ms", p50(exec), "ms")
      put(s"CommitLog.$n.jobs_per_call",
        if (plan.isEmpty) 0.0 else (jobsOf(plan) + jobsOf(exec)) / plan.size,
        "count")
    }
    val (farPlan, _) = reads("CommitLog", "read_asof",
      c => opKind.get(c.op).contains("asof_far"))
    put("CommitLog.read_asof_far.plan_ms", p50(farPlan), "ms")

    // pruning per front door, against the live set of the version read
    val scan = w match { case s: CommitScan => Some(s); case _ => None }
    val doorCall = Map("readFiltered" -> Seq("readFiltered/exec"),
      "filter" -> Seq("read_tip/exec", "read_asof/exec"),
      "sql" -> Seq("sql/exec"))
    val matching = mutable.Map[(String, Long), Long]()
    CommitScan.Doors.foreach { door =>
      val rows = for {
        s <- scan.toSeq
        c <- calls if doorCall(door).contains(c.name)
        (d, v, pred) <- s.queries.get(c.op) if d == door
      } yield {
        val read = filesRead(c)
        val hit = matching.getOrElseUpdate((pred, v), s.matchingFiles(pred, v))
        (read / s.liveFilesAt(v), if (read == 0) 1.0 else hit / read,
          input(c))
      }
      def mean(f: ((Double, Double, Double)) => Double) =
        if (rows.isEmpty) 0.0 else rows.map(f).sum / rows.size
      put(s"FileStats.$door.files_read_per_live_file", mean(_._1), "ratio")
      put(s"FileStats.$door.pruning_precision", mean(_._2), "ratio")
      put(s"FileStats.$door.bytes_read", mean(_._3), "bytes")
    }

    val (sqlPlan, sqlExec) = reads("LakeManager", "sql")
    put("LakeManager.sql.plan_ms", p50(sqlPlan), "ms")
    put("LakeManager.sql.analysis_ms", avg(sqlPlan)(_.analysisMs), "ms")
    put("LakeManager.sql.optimization_ms",
      avg(sqlExec)(phase(_, "optimization")), "ms")
    put("LakeManager.sql.planning_ms", avg(sqlExec)(phase(_, "planning")),
      "ms")
    put("LakeManager.sql.exec_ms", p50(sqlExec), "ms")

    val wd = named("LakeWriter", "write_delta")
    put("LakeWriter.write_delta.p50_ms", p50(wd), "ms")
    put("LakeWriter.write_delta.jobs_per_call", avg(wd)(_.jobs.size), "count")
    put("LakeWriter.write_delta.driver_gap_ms", avg(wd)(_.driverGapMs), "ms")
    put("LakeWriter.write_delta.shuffle_write_bytes", avg(wd)(shuffle),
      "bytes")
    val kept = w match {
      case d: DatasetDelta if d.keptFrac.nonEmpty =>
        d.keptFrac.sum / d.keptFrac.size
      case _ => 0.0
    }
    put("LakeWriter.write_delta.rows_kept_per_row_in", kept, "ratio")

    val copy = named("TimeFly", "addSnapshot_copy")
    put("TimeFly.addSnapshot_copy.p50_ms", p50(copy), "ms")
    put("TimeFly.addSnapshot_copy.bytes_copied", avg(copy)(_.fsBytesWritten),
      "bytes")
    put("TimeFly.addSnapshot_manifest.p50_ms",
      p50(named("TimeFly", "addSnapshot_manifest")), "ms")
    // a TimeFly read's latency is its plan and exec calls together
    def perOp(plan: Seq[CallRec], exec: Seq[CallRec]): Seq[Double] = {
      val e = exec.groupBy(_.op)
      plan.map(p => p.ms + e.getOrElse(p.op, Nil).map(_.ms).sum)
    }
    val (asofPlan, asofExec) = reads("TimeFly", "read_asof")
    val asofMs = perOp(asofPlan, asofExec)
    put("TimeFly.read_asof.p50_ms",
      if (asofMs.isEmpty) 0.0 else Stats.median(asofMs), "ms")
    put("TimeFly.read_asof.jobs_per_call",
      if (asofPlan.isEmpty) 0.0
      else (jobsOf(asofPlan) + jobsOf(asofExec)) / asofPlan.size, "count")
    val (sincePlan, sinceExec) = reads("TimeFly", "readSince")
    val sinceMs = perOp(sincePlan, sinceExec)
    put("TimeFly.readSince.p50_ms",
      if (sinceMs.isEmpty) 0.0 else Stats.median(sinceMs), "ms")
    put("TimeFly.readSince.files_read", avg(sinceExec)(filesRead), "count")

    val (loadPlan, loadExec) = reads("LakeReader", "load")
    put("LakeReader.load.plan_ms", p50(loadPlan), "ms")
    put("LakeReader.load.exec_ms", p50(loadExec), "ms")
    put("LakeReader.load.jobs_per_call",
      if (loadPlan.isEmpty) 0.0
      else (jobsOf(loadPlan) + jobsOf(loadExec)) / loadPlan.size, "count")
    put("LakeReader.load.shuffle_write_bytes",
      if (loadPlan.isEmpty) 0.0
      else (loadPlan ++ loadExec).map(shuffle).sum / loadPlan.size, "bytes")

    // every job of a timed call, attributed to the module its call site
    // names
    val jobs = calls.flatMap(_.jobs)
    (Stats.Sites :+ "other").foreach { s =>
      put(s"jobs_by_site.$s", jobs.count(_.site == s).toDouble / r.n,
        "count")
    }

    val stages = calls.flatMap(_.stages)
    put("spark.jobs_per_op", jobs.size.toDouble / r.n, "count")
    put("spark.stages_per_op", stages.size.toDouble / r.n, "count")
    put("spark.tasks_per_op", stages.map(_.tasks).sum.toDouble / r.n, "count")
    put("spark.exec_run_ms_per_op", stages.map(_.runMs).sum.toDouble / r.n,
      "ms")
    put("spark.driver_gap_ms_per_op",
      calls.map(_.driverGapMs).sum.toDouble / r.n, "ms")
    put("spark.shuffle_write_bytes_per_op",
      stages.map(_.shuffleWriteBytes).sum.toDouble / r.n, "bytes")

    put("jvm.gc_ms", r.gcMs.toDouble, "ms")
    put("jvm.heap_peak_mb", r.heapPeakMb, "MB")
    put("fs.bytes_written", r.streamBytes.toDouble, "bytes")
    put("fs.files_created", r.filesCreated.toDouble, "count")
    put("fs.files_live", r.liveFiles.toDouble, "count")

    // self time: a layer call's wall minus its jobs is the layer's own
    // (driver) time; the jobs are Spark's; what an op spends outside its
    // calls is the benchmark's
    Layers.foreach { l =>
      put(s"self_ms_per_op.$l",
        calls.filter(_.layer == l).map(_.driverGapMs).sum.toDouble / r.n,
        "ms")
    }
    put("self_ms_per_op.spark_jobs", calls.map(c =>
      Stats.unionLength(c.jobIntervals, c.start, c.end)).sum.toDouble / r.n,
      "ms")
    val callMs = calls.groupBy(_.op).map { case (o, cs) => o -> cs.map(_.ms).sum }
    put("self_ms_per_op.bench", r.ops.map(o =>
      (o.nanos / 1e6 - callMs.getOrElse(o.id, 0.0)).max(0.0)).sum / r.n, "ms")

    // the highest percentile with ten samples beyond it among the run's
    // successful ops, with that percentile and the op count
    put("stream.op_tail_ms",
      Stats.percentile(r.latenciesMs, r.tailPercentile), "ms")
    put("stream.tail_percentile", r.tailPercentile.toDouble, "pct")
    put("stream.ops", r.n.toDouble, "count")
    put("stream.rows_per_s",
      if (w.writeAmpOverBuild) 0.0 else w.rowsWritten / r.streamS, "1/s")
    put("setup.warmup_s", r.warmupS, "s")
    put("trace.ops_per_s", r.timed.size / r.timedS, "1/s")
    put("trace.drain_ms_per_op", r.drainMs / r.n, "ms")
    out.toSeq
  }

  /** One span per op, per layer call and per Spark job; a call's parent
    * is its op, a job's is its call, and all carry the op's id. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    try {
      t.ops.foreach { o =>
        w.println(s"""{"span":"op","id":${o.id},"op":${o.id},"name":${q(o.kind)},""" +
          s""""start":${o.start},"end":${o.end},"ok":${o.ok}}""")
      }
      t.calls.foreach { c =>
        w.println(s"""{"span":"call","id":${c.id},"op":${c.op},"parent":${c.op},""" +
          s""""name":${q(c.layer + "." + c.name)},"start":${c.start},"end":${c.end}}""")
        c.jobs.foreach { j =>
          w.println(s"""{"span":"job","id":"job-${j.id}","op":${c.op},""" +
            s""""parent":${c.id},"name":${q(j.callSite)},"site":${q(j.site)},""" +
            s""""start":${j.start},"end":${j.end}}""")
        }
      }
    } finally w.close()
  }

  def json(correct: Boolean, attempted: Int, failed: Int, m: Metrics)
      : String = {
    val body = m.map { case (k, v, u) =>
      s""""$k":{"value":${java.lang.Double.toString(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$body}}"""
  }
}
