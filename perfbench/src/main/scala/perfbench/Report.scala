package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced pass, from the runner's spans and
  * the listeners' records. Every value is a sum over the pass's
  * operations unless its name says otherwise. */
object Report {

  /** Streaming `durationMs` phases reported as `streaming.<phase>_ms`. */
  val StreamPhases = Seq("addBatch", "getBatch", "queryPlanning", "walCommit",
    "commitOffsets", "latestOffset")

  val Sinks = Seq("jdbc_replace", "jdbc_keyed", "jdbc_copy", "parquet_keyed")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
    }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((tot, reach), (a, b)) =>
        if (b <= reach) (tot, reach)
        else (tot + b - math.max(a, reach), b)
      }._1

  /** Structural counts of one operation: jobs, stages, tasks and
    * planned exchanges, for the per-operation breakdown in the trace. */
  def opCounts(opId: Int, t: Trace): Seq[(String, Int)] = {
    val jobs = t.jobs.asScala.filter(_.opId == opId).toSeq
    val jobIds = jobs.map(_.jobId).toSet
    val stageIds = t.stages.asScala.filter(s => jobIds(s.jobId)).map(_.stageId).toSet
    Seq("jobs" -> jobs.size, "build_jobs" -> jobs.count(_.phase == "build"),
      "stages" -> stageIds.size, "tasks" -> t.tasks.asScala.count(x => stageIds(x.stageId)),
      "exchanges" -> t.plans.asScala.filter(_.opId == opId).map(_.exchanges).sum)
  }

  def pass(p: Int, wallS: Double, cores: Int, runner: Runner, t: Trace,
      kinds: Map[String, String], sinkOf: Map[String, String],
      rowsOf: Map[String, Long]): Map[String, Double] = {
    val spans = runner.spans.filter(_.pass == p).toSeq
    val opSpans = spans.filter(_.name == "op")
    val opIds = opSpans.map(_.opId).toSet
    def phaseS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val failedOps = runner.failures.filter(_._1 == p).map(_._2).toSet
    val windowStart = opSpans.map(_.startMs).min
    val windowEnd = opSpans.map(_.endMs).max

    val jobs = t.jobs.asScala.filter(j => opIds(j.opId)).toSeq
    val jobIds = jobs.map(_.jobId).toSet
    val stages = t.stages.asScala.filter(s => jobIds(s.jobId)).toSeq
    val stageIds = stages.map(_.stageId).toSet
    val tasks = t.tasks.asScala.filter(x => stageIds(x.stageId)).toSeq
    val busyS = tasks.map(_.durMs).sum / 1000.0
    val stageUnion = unionLength(stages.map(s =>
      (math.max(s.submitMs, windowStart), math.min(s.endMs, windowEnd)))) / 1000.0
    val skew = tasks.groupBy(_.stageId).values.map(_.map(_.durMs.toDouble))
      .filter(_.size >= 2).flatMap { ms =>
        val med = median(ms)
        if (med > 0) Some(ms.max / med) else None
      }

    val plans = t.plans.asScala.filter(x => opIds(x.opId)).toSeq

    val batches = t.batches.asScala.filter { b =>
      opSpans.exists(s => b.tsMs >= s.startMs && b.tsMs <= s.endMs)
    }.toSeq
    val triggers = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val lastState = batches.groupBy(_.queryRunId).values.map(_.maxBy(_.tsMs).stateRows).sum

    val pinned = runner.pinned.filter(x => opIds(x.opId))
    val sinkS = Sinks.map { k =>
      k -> spans.filter(s => s.name == "sink" && sinkOf.get(s.op).contains(k))
        .map(_.seconds).sum
    }.toMap
    val rows = opSpans.filter(s => sinkOf.contains(s.op) && !failedOps(s.op))
      .map(s => rowsOf.getOrElse(s.op, 0L)).sum.toDouble
    val totalSinkS = sinkS.values.sum

    Map(
      "sources.csv_read_s" -> opSpans.filter(s => kinds.get(s.op).contains(Op.Extract))
        .map(_.seconds).sum,
      "scan.input_mb" -> tasks.map(_.inBytes).sum / 1e6,
      "scan.input_rows" -> tasks.map(_.inRows).sum.toDouble,
      "build.s" -> phaseS("build"),
      "build.jobs" -> jobs.count(_.phase == "build").toDouble,
      "exec.s" -> phaseS("exec"),
      "exec.jobs" -> jobs.count(_.phase == "exec").toDouble,
      "plan.analysis_ms" -> plans.map(_.analysisMs).sum,
      "plan.optimizer_ms" -> plans.map(_.optimizerMs).sum,
      "plan.planning_ms" -> plans.map(_.planningMs).sum,
      "plan.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "plan.broadcast_exchanges" -> plans.map(_.broadcasts).sum.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_busy_s" -> busyS,
      "spark.core_util" -> busyS / (wallS * cores),
      "spark.driver_only_s" -> (wallS - stageUnion),
      "shuffle.write_mb" -> tasks.map(_.shWrite).sum / 1e6,
      "shuffle.read_mb" -> tasks.map(_.shRead).sum / 1e6,
      "shuffle.spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "shuffle.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "materialize.pinned_rdds" -> pinned.map(_.rdds).sum.toDouble,
      "materialize.pinned_mb" -> pinned.map(_.bytes).sum / 1e6,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_ms_p50" -> median(triggers),
      "streaming.trigger_ms_p99" -> percentile(triggers, 0.99),
      "streaming.state_rows" -> lastState.toDouble,
      "streaming.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
      "sinks.rows_written" -> rows,
      "sinks.rows_per_s" -> (if (totalSinkS > 0) rows / totalSinkS else 0.0),
    ) ++ StreamPhases.map { ph =>
      s"streaming.${ph}_ms" -> batches.map(_.durations.getOrElse(ph, 0L)).sum.toDouble
    } ++ sinkS.map { case (k, v) => s"sinks.${k}_s" -> v }
  }
}
