package perfbench

import java.io.File

/** Per-layer metrics of the traced passes, each the mean over those
  * passes; span-based times are self times. Spans, notes and listener
  * records carry the index of the job they belong to. */
object Layers {

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    c.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }

  def compute(n: Int, passIds: Set[Int], times: Seq[BenchMain.JobTime], spans: Seq[Span],
              notes: Seq[(Int, String, Double)], l: Listeners,
              tablePath: String): Map[String, Double] = {
    val k = math.max(1, passIds.size).toDouble
    val jobIdx = times.indices.filter(i => passIds.contains(times(i).pass))
    val inJobs = jobIdx.toSet
    val jobIv = jobIdx.map(i => (times(i).startMs, times(i).endMs))
    val jobWall = jobIv.map { case (s, e) => (e - s) / 1e3 }.sum
    val sp = spans.filter(s => inJobs(s.job))
    val children = sp.groupBy(_.parent)
    // self time: the span's duration minus the part its child spans cover
    def spanSum(name: String): Double = sp.filter(_.name == name).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      (s.endMs - s.startMs - covered(kids, s.startMs, s.endMs)) / 1e3
    }.sum
    val construct = sp.filter(_.name == "entry.construct")
    def inConstruct(t: Double): Boolean = construct.exists(s => t >= s.startMs && t <= s.endMs)

    val tasks = l.tasks.toSeq.filter(t => inJobs(t.job))
    val sparkJobs = l.jobs.values.toSeq.filter(j => inJobs(j.job))
    val plans = l.plans.toSeq.filter(p => inJobs(p.job))
    val streams = l.streams.values.toSeq.filter(s => inJobs(s.job))
    def noteSum(name: String): Double =
      notes.collect { case (j, `name`, v) if inJobs(j) => v }.sum
    val taskIv = tasks.map(t => (t.launchMs.toDouble, t.finishMs.toDouble))
    val taskS = tasks.map(_.runMs).sum / 1e3
    val gap = sparkJobs.filter(_.endMs >= 0).map { j =>
      val (s, e) = (j.startMs.toDouble, j.endMs.toDouble)
      ((e - s) - covered(taskIv, s, e)) / 1e3
    }.sum
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val m = median(ts.map(_.runMs.toDouble))
      if (m > 0) ts.map(_.runMs).max / m else 1.0
    }.foldLeft(1.0)(math.max)
    val execCovered = jobIv.map { case (s, e) => covered(taskIv, s, e) }.sum / 1e3

    // streaming staging: builder entry (the construct span's start) to
    // the job's first onQueryStarted
    val staging = jobIdx.flatMap { i =>
      val first = streams.filter(_.job == i).map(_.startedMs.toDouble)
      construct.find(_.job == i).filter(_ => first.nonEmpty).map(s => (first.min - s.startMs) / 1e3)
    }.sum
    val streamRun = streams.filter(_.terminatedMs >= 0)
      .map(s => (s.terminatedMs - s.startedMs) / 1e3).sum
    val maefTop = sp.filter(s => s.name.startsWith("maef.") &&
      sp.find(_.id == s.parent).exists(_.name == "job")).map(_.durS).sum
    val mb = 1024.0 * 1024.0
    val maefCounts = jobIdx.flatMap(i => MaefJob.counts.get(times(i).name))

    val perPass = Map(
      "entry.construct_s" -> spanSum("entry.construct"),
      "entry.construct_jobs" -> sparkJobs.count(j => inConstruct(j.startMs.toDouble)).toDouble,
      // the Dataset a builder returns is analysed when it is built, inside
      // entry.construct, so its analysis is noted there; executed queries
      // add their own (a write command over an analysed plan)
      "catalyst.analysis_s" -> (noteSum("catalyst.analysis_ms") + plans.map(_.analysisMs).sum) / 1e3,
      "catalyst.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "catalyst.plan_nodes" -> plans.map(_.nodes).sum.toDouble,
      "sched.jobs" -> sparkJobs.size.toDouble,
      "sched.stages" -> sparkJobs.map(_.stages).sum.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.delay_s" -> tasks.map(_.delayMs).sum / 1e3,
      "sched.driver_gap_s" -> gap,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "shuffle.write_mb" -> tasks.map(_.shufWrite).sum / mb,
      "shuffle.read_mb" -> tasks.map(_.shufRead).sum / mb,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tasks.map(_.spill).sum / mb,
      "io.read_mb" -> tasks.map(_.inBytes).sum / mb,
      "io.write_mb" -> tasks.map(_.outBytes).sum / mb,
      "maef.copy_verify_s" -> spanSum("maef.copy_verify"),
      "maef.transform_s" -> spanSum("maef.transform"),
      "maef.chunk_s" -> spanSum("maef.chunk"),
      "maef.attribute_s" -> spanSum("maef.attribute"),
      "maef.load_s" -> spanSum("maef.load"),
      "maef.report_s" -> spanSum("maef.report"),
      "maef.sink_s" -> spanSum("maef.sink"),
      "sources.upsert_s" -> spanSum("sources.upsert"),
      "sources.upsert_calls" -> sp.count(_.name == "sources.upsert").toDouble,
      "streaming.staging_s" -> staging,
      "streaming.batches" -> streams.map(_.batches).sum.toDouble,
      "streaming.add_batch_s" -> streams.map(_.addBatchMs).sum / 1e3,
      "streaming.wal_commit_s" -> streams.map(_.walCommitMs).sum / 1e3,
      "streaming.commit_offsets_s" -> streams.map(_.commitOffsetsMs).sum / 1e3,
      "streaming.state_commit_s" -> streams.map(_.stateCommitMs).sum / 1e3,
      "streaming.state_rows" -> streams.map(_.stateRows).sum.toDouble,
      "maef.journey_rows" -> maefCounts.map(_._1).sum.toDouble,
      "maef.chunks" -> maefCounts.map(_._2).sum.toDouble,
    ).map { case (key, v) => key -> v / k }

    val table = new File(tablePath)
    perPass ++ Map(
      "exec.busy_frac" -> (if (jobWall > 0) taskS / (jobWall * n) else 0.0),
      "exec.skew" -> skew,
      "exec.peak_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb),
      "sources.table_files" -> Disk.files(table).toDouble,
      "sources.table_mb" -> Disk.bytes(table) / mb,
      "share.task_exec" -> (if (jobWall > 0) execCovered / jobWall else 0.0),
      "share.driver_only" -> (if (jobWall > 0) 1.0 - execCovered / jobWall else 0.0),
      "share.streaming" -> (if (jobWall > 0) (staging + streamRun) / jobWall else 0.0),
      "share.maef_spans" -> (if (jobWall > 0) maefTop / jobWall else 0.0),
    )
  }
}
