package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from what [[Trace]]
  * recorded. Every run reports every metric in [[Names]]; a layer a
  * workload does not exercise reads 0. Counts and times are means per
  * operation (query, `processBatch` call or trigger) unless the name says
  * otherwise. */
object Layers {
  val Layers: Seq[String] = Seq("queries", "catalyst", "exec", "pipeline", "ingest", "stream")

  val Names: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs", "queries.build_job_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "catalyst.plan_nodes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.slot_idle_share", "exec.failed_tasks",
    "pipeline.batch_s", "pipeline.records_in", "pipeline.record_path_s", "pipeline.records_per_s_1core",
    "sink.write_records_per_s.json", "sink.write_records_per_s.csv", "sink.write_records_per_s.avro",
    "sink.files_rolled", "sink.records_per_file", "sink.raw_bytes", "sink.gzip_ratio",
    "ingest.calls", "ingest.busy_s", "ingest.bytes", "ingest.injected_failures", "ingest.fallbacks",
    "ingest.dispatch_wait_ms", "ingest.success_ratio",
    "stream.batches", "stream.rows_per_batch", "stream.trigger_ms", "stream.add_batch_ms",
    "stream.query_planning_ms", "stream.latest_offset_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.backlog_records_max", "stream.backlog_records_end",
    "gen.lag_p99_ms", "gen.records_offered") ++
    (Layers :+ "unattributed").map(l => s"self.${l}_share")

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Fills the layer metrics derived from jobs, query executions and ingest
    * calls, and the self-time shares. `processBatchMs` gives, per operation,
    * the duration of its `processBatch` call; `streamSelfMs`, per trigger,
    * the micro-batch engine's own time (trigger minus addBatch minus query
    * planning). Ingest calls made off a task thread (the flush timer) are
    * attributed to the operation whose window holds their start; calls
    * outside every operation (warm-up) are left out. */
  def fill(res: Result, ops: Seq[Op], cores: Int, processBatchMs: Map[String, Double] = Map.empty,
           streamSelfMs: Map[String, Double] = Map.empty): Unit = {
    Names.foreach(n => res.perLayer.getOrElseUpdate(n, 0.0))
    if (ops.isEmpty) return
    val jobs = Trace.jobs.values.asScala.toSeq.filter(_.endMs >= 0).groupBy(_.op)
    val qes = Trace.qes.asScala.toSeq
    val opIds = ops.map(_.id).toSet
    def opOf(c: IngestCall): String =
      if (c.op.nonEmpty) c.op
      else ops.find(o => c.startMs >= o.startMs && c.startMs <= o.endMs).map(_.id).getOrElse("")
    val callsByOp = Trace.ingests.asScala.toSeq.groupBy(opOf).filter { case (id, _) => opIds(id) }
    val calls = callsByOp.values.flatten.toSeq

    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wallTotal = 0.0
    var jobWallTotal = 0.0
    ops.foreach { op =>
      val js = jobs.getOrElse(op.id, Nil)
      val wall = op.endMs - op.startMs
      wallTotal += wall
      val jobWall = unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      jobWallTotal += jobWall
      val buildJs = js.filter(_.startMs < op.buildEndMs)
      val buildJobWall = unionMs(buildJs.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      val opQes = qes.filter(q => q.startMs >= op.startMs - 1 && q.startMs <= op.endMs)
      def cat(q: QeRec) = (q.analysisMs + q.optimizationMs + q.planningMs).toDouble
      val catMs = opQes.map(cat).sum
      val buildCatMs = opQes.filter(_.startMs < op.buildEndMs).map(cat).sum
      val runMs = js.map(_.runMs).sum.toDouble
      val cs = callsByOp.getOrElse(op.id, Nil)
      val busyMs = cs.map(c => c.endMs - c.startMs).sum

      sum("queries.build_s") += (op.buildEndMs - op.startMs) / 1e3
      sum("queries.build_jobs") += buildJs.size
      sum("queries.build_job_s") += buildJobWall / 1e3
      sum("catalyst.analysis_s") += opQes.map(_.analysisMs).sum / 1e3
      sum("catalyst.optimization_s") += opQes.map(_.optimizationMs).sum / 1e3
      sum("catalyst.planning_s") += opQes.map(_.planningMs).sum / 1e3
      sum("catalyst.plan_nodes") += opQes.map(_.planNodes).sum
      sum("exec.jobs") += js.size
      sum("exec.stages") += js.map(_.stages).sum
      sum("exec.tasks") += js.map(_.tasks).sum
      sum("exec.task_run_s") += runMs / 1e3
      sum("exec.task_cpu_s") += js.map(_.cpuNs).sum / 1e9
      sum("exec.gc_s") += js.map(_.gcMs).sum / 1e3
      sum("exec.shuffle_read_bytes") += js.map(_.shuffleRead).sum
      sum("exec.shuffle_write_bytes") += js.map(_.shuffleWrite).sum
      sum("exec.spill_bytes") += js.map(_.spill).sum
      sum("exec.failed_tasks") += js.map(_.failedTasks).sum
      sum("exec.task_run_total") += runMs

      // Self time: queries = the query's construction minus the jobs and
      // Catalyst phases it triggered; pipeline = the processBatch call minus
      // its jobs and Catalyst phases, plus the record path's share of the
      // sink job's task time laid over the job wall; ingest = its share
      // likewise; exec = the wall of every other job.
      val queriesSelf = math.max(0.0, (op.buildEndMs - op.startMs) - buildJobWall - buildCatMs)
      // a sink job's wall splits between the record path and ingest
      val sinkJob = runMs > 0 && cs.nonEmpty
      val ingestShare = if (sinkJob) math.min(busyMs, runMs) / runMs else 0.0
      val streamSelf = streamSelfMs.getOrElse(op.id, 0.0)
      self("queries") += queriesSelf
      self("catalyst") += catMs
      val batchSelf = processBatchMs.get(op.id).map(ms => math.max(0.0, ms - jobWall - catMs))
        .getOrElse(0.0)
      self("pipeline") += batchSelf + (if (sinkJob) jobWall * (1 - ingestShare) else 0.0)
      self("ingest") += jobWall * ingestShare
      self("exec") += (if (sinkJob) 0.0 else jobWall)
      self("stream") += streamSelf
      self("unattributed") += math.max(0.0,
        wall - queriesSelf - catMs - jobWall - batchSelf - streamSelf)
    }
    val n = ops.size.toDouble
    sum.foreach { case (k, v) => if (res.perLayer.contains(k)) res.perLayer(k) = v / n }
    res.perLayer("exec.slot_idle_share") =
      if (jobWallTotal > 0) math.max(0.0, 1 - sum("exec.task_run_total") / (jobWallTotal * cores)) else 0.0

    // ingest and staged files, from the calls seen at the ingest boundary
    val accepted = calls.filter(_.accepted)
    res.perLayer("ingest.calls") = calls.size / n
    res.perLayer("ingest.busy_s") = calls.map(c => c.endMs - c.startMs).sum / 1e3 / n
    res.perLayer("ingest.bytes") = accepted.map(_.gzBytes).sum / n
    res.perLayer("ingest.injected_failures") = calls.count(_.injected) / n
    res.perLayer("ingest.fallbacks") = calls.count(_.queued) / n
    if (calls.nonEmpty)
      res.perLayer("ingest.dispatch_wait_ms") = Stats.median(calls.map(c => c.startMs - c.stagedMtimeMs))
    res.perLayer("sink.files_rolled") = accepted.size / n
    if (accepted.nonEmpty) {
      res.perLayer("sink.records_per_file") = accepted.map(_.records).sum.toDouble / accepted.size
      res.perLayer("sink.raw_bytes") = accepted.map(_.rawBytes).sum / n
      res.perLayer("sink.gzip_ratio") = accepted.map(_.rawBytes).sum.toDouble / accepted.map(_.gzBytes).sum
    }
    res.perLayer("pipeline.record_path_s") = callsByOp.map { case (id, cs) =>
      math.max(0.0, jobs.getOrElse(id, Nil).map(_.runMs).sum - cs.map(c => c.endMs - c.startMs).sum)
    }.sum / 1e3 / n

    val shares = (Layers :+ "unattributed").map(l => l -> self(l) / wallTotal)
    shares.foreach { case (l, v) => res.perLayer(s"self.${l}_share") = v }
    res.notes("self_time_s") = (Layers :+ "unattributed")
      .map(l => f"$l=${self(l) / 1e3}%.3f").mkString(" ") + f" wall=${wallTotal / 1e3}%.3f"
  }
}
