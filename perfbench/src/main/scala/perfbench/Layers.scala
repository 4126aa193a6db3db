package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, computed from its spans.
  *
  * Batch layers, state and ledger figures are totals per pass: each
  * operation's figures averaged over its traced runs, summed over the
  * operations of a pass. Micro-batch phases are medians per micro-batch.
  * A layer a workload does not exercise reports 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "build_s" -> "s", "build_jobs" -> "count", "build_driver_s" -> "s",
    "plan_s" -> "s",
    "action_s" -> "s", "action_jobs" -> "count", "tasks" -> "count", "task_run_s" -> "s",
    "task_busy_ratio" -> "ratio", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "input_mb" -> "MB", "input_rows" -> "rows",
    "source_ms" -> "ms",
    "state_commit_ms" -> "ms", "state_rows_total" -> "rows", "state_memory_mb" -> "MB",
    "state_partitions" -> "count",
    "engine_self_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
    "query_planning_ms" -> "ms",
    "add_batch_ms" -> "ms", "add_batch_share_pct" -> "%", "jobs_per_batch" -> "count",
    "index_files_written" -> "count", "index_mb_written" -> "MB", "ledger_rows" -> "rows",
    "session_start_s" -> "s", "warm_s" -> "s", "artifact_build_s" -> "s",
    "trace_overhead_pct" -> "%",
  )

  private val MB = 1048576.0
  private def ms(epochMs: Long): Long = epochMs * 1000000L

  /** Adds the level-1 run span over the traced operations, and turns
    * listener records into level-3 micro-batch and level-4 job spans
    * under the benchmark's own spans.
    */
  def attach(tracer: Tracer, collector: Collector, streamSpans: collection.Map[String, Int]): Unit = {
    val ops = tracer.spans.filter(_.level == 2)
    if (ops.nonEmpty) {
      val run = tracer.add(0, 1, "run", "run", ops.map(_.start).min, ops.map(_.end).max)
      tracer.spans.mapInPlace(s => if (s.level == 2) s.copy(parent = run.id) else s)
    }
    val batchSpan = mutable.HashMap[(String, Long), Int]()
    collector.batches.foreach { b =>
      streamSpans.get(b.queryId).filter(_ > 0).foreach { parent =>
        val d = b.durations
        val s = tracer.add(parent, 3, "microbatch", s"${b.queryId}#${b.batchId}",
          ms(b.startMs), ms(b.startMs + d.getOrElse("triggerExecution", 0L)),
          d.map { case (k, v) => s"${k}_ms" -> v.toDouble } ++ Map(
            "state_commit_ms" -> b.stateCommitMs.toDouble, "state_rows" -> b.stateRows.toDouble,
            "state_memory_mb" -> b.stateMemoryBytes / MB, "state_partitions" -> b.statePartitions.toDouble))
        batchSpan((b.queryId, b.batchId)) = s.id
      }
    }
    val prefix = "perfbench-"
    collector.jobs.values.filter(_.endMs >= 0).foreach { j =>
      val parent = (j.queryId, j.batchId) match {
        case (Some(q), Some(b)) if batchSpan.contains((q, b)) => Some(batchSpan((q, b)))
        case _ => j.group.filter(_.startsWith(prefix)).map(_.drop(prefix.length).toInt)
      }
      parent.foreach { p =>
        tracer.add(p, 4, "job", s"job-${j.jobId}", ms(j.startMs), ms(j.endMs), Map(
          "tasks" -> j.tasks.toDouble, "task_run_ms" -> j.taskRunMs.toDouble,
          "shuffle_write_mb" -> j.shuffleWriteBytes / MB, "spill_mb" -> j.spillBytes / MB,
          "input_mb" -> j.inputBytes / MB, "input_rows" -> j.inputRecords.toDouble))
      }
    }
  }

  /** Mean over the runs of each operation, summed over operations. */
  private def perPass(byOp: Seq[(String, Double)]): Double =
    byOp.groupBy(_._1).values.map(xs => xs.map(_._2).sum / xs.size).sum

  def apply(
      w: Workload,
      results: Seq[OpResult],
      tracer: Tracer,
      collector: Collector,
      env: Env,
      cores: Int,
      sessionS: Double,
      setup: Map[String, Double],
  ): Map[String, (Double, String)] = {
    attach(tracer, collector, env.streamSpans)
    val spans = tracer.spans.toSeq
    val kids = spans.groupBy(_.parent)
    def children(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil)
    def sec(ns: Long): Double = ns / 1e9
    def sumAttr(ss: Seq[Span], k: String): Double = ss.map(_.attrs.getOrElse(k, 0.0)).sum

    // Figures of each traced operation, from its subtree.
    val perOp = spans.filter(_.level == 2).map { op =>
      val phases = children(op)
      def phase(k: String) = phases.filter(_.kind == k)
      val micro = phase("microbatch")
      val build = phase("build")
      val actionJobs = if (w.streaming) micro.flatMap(children) else phase("action").flatMap(children)
      val actionS =
        if (w.streaming) sumAttr(micro, "addBatch_ms") / 1000 else sec(phase("action").map(_.dur).sum)
      // State figures: the pipeline's last micro-batch.
      val last = micro.sortBy(_.start).lastOption.toSeq
      op.name -> Map(
        "build_s" -> sec(build.map(_.dur).sum),
        "build_jobs" -> build.flatMap(children).size.toDouble,
        "build_driver_s" -> sec(build.map(b => Spans.selfTime(b, children(b))).sum),
        "plan_s" -> sec(phase("plan").map(_.dur).sum),
        "action_s" -> actionS,
        "action_jobs" -> actionJobs.size.toDouble,
        "tasks" -> sumAttr(actionJobs, "tasks"),
        "task_run_s" -> sumAttr(actionJobs, "task_run_ms") / 1000,
        "shuffle_write_mb" -> sumAttr(actionJobs, "shuffle_write_mb"),
        "spill_mb" -> sumAttr(actionJobs, "spill_mb"),
        "input_mb" -> sumAttr(phases.flatMap(children), "input_mb"),
        "input_rows" -> sumAttr(phases.flatMap(children), "input_rows"),
        "state_rows_total" -> sumAttr(last, "state_rows"),
        "state_memory_mb" -> sumAttr(last, "state_memory_mb"),
        "state_partitions" -> sumAttr(last, "state_partitions"),
      )
    }
    val keys = perOp.headOption.map(_._2.keys.toSeq).getOrElse(Nil)
    val opTotals = keys.map(k => k -> perPass(perOp.map { case (n, m) => n -> m(k) })).toMap
    val traced = results.filter(_.traced)
    val ledger = Seq("index_files_written", "index_mb_written", "ledger_rows")
      .map(k => k -> perPass(traced.map(r => r.name -> r.attrs.getOrElse(k, 0.0)))).toMap
    val actionS = opTotals.getOrElse("action_s", 0.0)
    val taskRunS = opTotals.getOrElse("task_run_s", 0.0)

    // Micro-batch phases: medians over every traced micro-batch.
    val micro = spans.filter(_.kind == "microbatch")
    def perBatch(f: Span => Double): Double = if (micro.isEmpty) 0.0 else Stats.median(micro.map(f))
    def a(s: Span, k: String): Double = s.attrs.getOrElse(s"${k}_ms", 0.0)
    def source(s: Span): Double = a(s, "latestOffset") + a(s, "getBatch")

    // The share of the stream pipelines' wall time spent in addBatch,
    // the sink's write (for the index writers: the ledgered appends).
    val pipelines = spans.filter(s => s.level == 2 && s.kind == "pipeline")
    val pipelineMs = pipelines.map(_.dur).sum / 1e6
    val addBatchMs = pipelines.flatMap(children).filter(_.kind == "microbatch").map(a(_, "addBatch")).sum

    // Each operation's mean traced wall against its mean untraced wall.
    val both = traced.map(_.name).toSet.intersect(results.filterNot(_.traced).map(_.name).toSet)
    def wall(rs: Seq[OpResult]) = perPass(rs.filter(r => both(r.name)).map(r => r.name -> r.wallS))
    val untracedWall = wall(results.filterNot(_.traced))
    val overhead = if (untracedWall > 0) (wall(traced) / untracedWall - 1) * 100 else 0.0

    val values = opTotals ++ ledger ++ Map(
      "task_busy_ratio" -> (if (actionS > 0) taskRunS / (actionS * cores) else 0.0),
      "source_ms" -> perBatch(source),
      "engine_self_ms" -> perBatch(s => a(s, "triggerExecution") - a(s, "addBatch") - source(s)),
      "wal_commit_ms" -> perBatch(a(_, "walCommit")),
      "commit_offsets_ms" -> perBatch(a(_, "commitOffsets")),
      "query_planning_ms" -> perBatch(a(_, "queryPlanning")),
      "add_batch_ms" -> perBatch(a(_, "addBatch")),
      "add_batch_share_pct" -> (if (pipelineMs > 0) 100 * addBatchMs / pipelineMs else 0.0),
      "state_commit_ms" -> perBatch(_.attrs.getOrElse("state_commit_ms", 0.0)),
      "jobs_per_batch" -> perBatch(s => children(s).size.toDouble),
      "session_start_s" -> sessionS,
      "warm_s" -> setup.getOrElse("warm_s", 0.0),
      "artifact_build_s" -> setup.getOrElse("artifact_build_s", 0.0),
      "trace_overhead_pct" -> overhead,
    )
    units.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }.toMap
  }

  /** For each traced query rep: the share of its wall time, as the
    * client loop measured it, that the layer figures account for: the
    * self times of build (`build_driver_s`), plan and action, plus the
    * time Spark jobs ran inside them. Call after [[apply]], which
    * attaches the job spans.
    */
  def accounting(tracer: Tracer, results: Seq[OpResult]): Seq[(String, Double)] = {
    val byId = tracer.spans.map(s => s.id -> s).toMap
    val kids = tracer.spans.groupBy(_.parent)
    results.filter(r => r.traced && r.wallS > 0).flatMap { r =>
      byId.get(r.spanId).filter(_.kind == "query").map { q =>
        val layersNs = kids.getOrElse(q.id, Nil).filter(p => Set("build", "plan", "action")(p.kind)).map { p =>
          val jobs = kids.getOrElse(p.id, Nil).toSeq
          Spans.selfTime(p, jobs) + Spans.covered(p.start, p.end, jobs.map(j => (j.start, j.end)))
        }.sum
        r.name -> layersNs / 1e9 / r.wallS
      }
    }
  }
}
