package perfbench

/** Per-layer metrics of the traced passes, per pass unless the name says
  * otherwise (`_per_`, shares and ratios). Span names are the layer
  * functions the workloads wrap; Spark numbers come from the [[Tracer]]. */
object Layers {
  def apply(h: Harness, tracer: Tracer, traced: Seq[Seq[OpRecord]],
            untraced: Seq[Seq[OpRecord]],
            filesBefore: Seq[(String, Long, Long)],
            filesAfter: Seq[(String, Long, Long)],
            catalogRoot: String, traceStartMs: Long): Map[String, Double] = {
    val n = traced.size.max(1).toDouble
    val ops = traced.flatten
    val opMs = ops.map(_.latNs / 1e6).sum
    val stats = ops.flatMap(o => tracer.byOp.get(o.id).map(o -> _))
    def total(f: OpStats => Double): Double = stats.map(s => f(s._2)).sum
    val spans = h.spans.done.toSeq
    def spanMs(name: String): Double =
      spans.filter(_.name == name).map(_.ms).sum / n

    // op wall time covered by no Spark job of that op
    val outside = stats.map { case (o, s) =>
      val iv = s.jobSpans.map { case (a, b) =>
        (math.max(a, o.startMs), math.min(b, o.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val s0 = math.max(a, end)
        if (b > s0) covered += b - s0
        end = math.max(end, b)
      }
      (o.endMs - o.startMs - covered).max(0L).toDouble
    }.sum
    // commit = the write call's driver-side tail after its last job
    val commitTails = spans.filter(_.name == "sources.commit").map { sp =>
      val ends = tracer.byOp.get(sp.opId).toSeq.flatMap(_.jobSpans)
        .map(_._2).filter(e => e >= sp.startMs && e <= sp.endMs)
      (sp.endMs - (if (ends.isEmpty) sp.startMs else ends.max)).toDouble
    }
    val before = filesBefore.map(_._1).toSet
    val fresh = filesAfter.filter(f => f._3 >= traceStartMs ||
      !before.contains(f._1))
    def sysFile(p: String) = p.stripPrefix(catalogRoot).split('/').exists(s =>
      s.startsWith("_") || s.startsWith("."))
    val written = fresh.map(_._2).sum.toDouble
    val dataWritten = fresh.filterNot(f => sysFile(f._1)).map(_._2).sum
    def named(dir: String, prefix: String) = fresh.count { f =>
      val parts = f._1.split('/')
      parts.length >= 2 && parts(parts.length - 2) == dir &&
        parts.last.startsWith(prefix)
    }
    val stageSkews = stats.flatMap(_._2.stageTaskMs.values)
      .filter(_.size >= 2).map { ts =>
        val med = Harness.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }
    val emitted = total(_.rowsEmitted.toDouble)
    val filtered = total(_.rowsFiltered.toDouble)
    val splits = total(_.splitsRead.toDouble)
    val analysis = total(_.analysisMs.toDouble)
    val optimization = total(_.optimizationMs.toDouble)
    val planning = total(_.planningMs.toDouble)
    val runMs = total(_.runMs.toDouble)
    val cpuMs = total(_.cpuNs / 1e6)
    def rate(recs: Seq[OpRecord]) =
      recs.size / recs.map(_.latNs / 1e9).sum.max(1e-9)
    val c = h.counters
    Map(
      "driver.analysis_ms" -> analysis / n,
      "driver.optimization_ms" -> optimization / n,
      "driver.planning_ms" -> planning / n,
      "driver.outside_jobs_ms" -> outside / n,
      "driver.jobs_per_op" -> total(_.jobs.toDouble) / ops.size.max(1),
      "driver.share" -> outside / opMs.max(1e-9),
      "sources.scan_ops" -> stats.count(_._2.scans > 0) / n,
      "sources.rows_emitted" -> emitted / n,
      "sources.rows_filtered" -> filtered / n,
      "sources.rows_read_per_row_returned" -> (emitted + filtered) / emitted.max(1),
      "sources.files_read" -> splits / n,
      "sources.files_pruned" ->
        (total(_.filesListed.toDouble) - splits).max(0) / n,
      "sources.input_bytes" -> total(_.inputBytes.toDouble) / n,
      "sources.commits" -> spans.count(_.name == "sources.commit") / n,
      "sources.commit_ms" -> commitTails.sum / n,
      "sources.bytes_written" -> written / n,
      "sources.write_amp" -> written / dataWritten.max(1L),
      "sources.resolve_ms" -> spanMs("sources.resolve"),
      "sources.log_entries" -> named("_graft_versions", "v-") / n,
      "sources.checkpoints" -> named("_graft_versions", "ckpt-") / n,
      "superstore.ingest_ms" -> spanMs("superstore.ingest"),
      "superstore.staging_ms" -> spanMs("superstore.staging"),
      "superstore.dims_ms" -> spanMs("superstore.dims"),
      "superstore.scd2_ms" -> spanMs("superstore.scd2"),
      "superstore.fact_ms" -> spanMs("superstore.fact"),
      "superstore.marts_ms" -> spanMs("superstore.marts"),
      "superstore.incremental_ms" -> spanMs("superstore.incremental"),
      "superstore.rows_in" -> c("superstore.rows_in") / n,
      "superstore.rows_out" -> c("superstore.rows_out") / n,
      "operators.dedup_ms" -> spanMs("operators.dedup"),
      "operators.neardup_ms" -> spanMs("operators.neardup"),
      "operators.similarity_ms" -> spanMs("operators.similarity"),
      "operators.clusters_ms" -> spanMs("operators.clusters"),
      "operators.corpus_pipeline_ms" -> spanMs("operators.corpus_pipeline"),
      "operators.lsh_candidates" -> c("operators.lsh_candidates") / n,
      "operators.verified_pairs" -> c("operators.verified_pairs") / n,
      "operators.candidates_per_verified_pair" ->
        c("operators.lsh_candidates") / c("operators.verified_pairs").max(1),
      "index.build_ms" -> spanMs("index.build"),
      "index.batch_ms" -> spanMs("index.batch"),
      "index.serve_ms" -> spanMs("index.serve"),
      "index.candidates_per_probe" ->
        c("index.candidates") / c("index.probes").max(1),
      "exec.stages" -> total(_.stages.toDouble) / n,
      "exec.tasks" -> total(_.tasks.toDouble) / n,
      "exec.failed_tasks" -> total(_.failedTasks.toDouble) / n,
      "exec.task_run_ms" -> runMs / n,
      "exec.task_cpu_ms" -> cpuMs / n,
      "exec.run_minus_cpu_ms" -> (runMs - cpuMs) / n,
      "exec.gc_ms" -> total(_.gcMs.toDouble) / n,
      "exec.peak_exec_mem_bytes" ->
        (if (stats.isEmpty) 0.0 else stats.map(_._2.peakExecMem).max.toDouble),
      "exec.task_skew" ->
        (if (stageSkews.isEmpty) 1.0 else stageSkews.sum / stageSkews.size),
      "exec.run_share" -> runMs / opMs.max(1e-9),
      "shuffle.write_bytes" -> total(_.shWriteBytes.toDouble) / n,
      "shuffle.write_records" -> total(_.shWriteRecords.toDouble) / n,
      "shuffle.write_ms" -> total(_.shWriteNs / 1e6) / n,
      "shuffle.read_bytes" -> total(_.shReadBytes.toDouble) / n,
      "shuffle.fetch_wait_ms" -> total(_.fetchWaitMs.toDouble) / n,
      "spill.memory_bytes" -> total(_.spillMem.toDouble) / n,
      "spill.disk_bytes" -> total(_.spillDisk.toDouble) / n,
      "trace.pass_ms" -> opMs / n,
      "trace.ops_per_pass" -> ops.size / n,
      "trace.overhead_frac" -> (1.0 - rate(ops) / rate(untraced.flatten)))
  }
}
