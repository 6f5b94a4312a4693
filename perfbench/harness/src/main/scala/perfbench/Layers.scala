package perfbench

/** Per-layer metrics of a traced run, from the Spark counters of each
  * traced operation, the spans, and the samples taken at layer
  * boundaries. A layer the workload does not reach is left out; the
  * benchmark's runner reports it as 0. */
object Layers {
  private def med(xs: Iterable[Double]): Double = Run.median(xs.toSeq)

  def fromTrace(run: Run): Map[String, Double] = {
    val m = collection.mutable.LinkedHashMap.empty[String, Double]
    // gate replays have metrics of their own, below
    val (gateOps, ops) = run.tracedOps.toSeq.partition(o => MutateDump.Gates.contains(o._1))
    def perOp(f: OpCounters => Double) = med(ops.map { case (_, c) => f(c) })
    val spans = run.tracer.spans.toSeq
    def spanMs(name: String) = med(spans.filter(_.name == name).map(_.ms))

    if (ops.nonEmpty) {
      m("scheduling.jobs_per_op") = ops.map(_._2.jobs.toDouble).sum / ops.size
      m("scheduling.stages_per_op") = ops.map(_._2.stages.toDouble).sum / ops.size
      m("scheduling.tasks_per_op") = ops.map(_._2.tasks.toDouble).sum / ops.size
      m("scheduling.wait_ms") = perOp(_.waitMs.toDouble)
      m("execution.task_ms") = perOp(_.taskMs.toDouble)
      m("execution.cpu_ms") = perOp(_.cpuNs / 1e6)
      m("execution.gc_ms") = perOp(_.gcMs.toDouble)
      m("execution.input_bytes_per_op") = perOp(_.inputBytes.toDouble)
      m("execution.shuffle_read_bytes") = perOp(_.shuffleRead.toDouble)
      m("execution.shuffle_write_bytes") = perOp(_.shuffleWrite.toDouble)
      m("execution.spill_bytes") = perOp(_.spill.toDouble)
      m("planning.analysis_ms") = perOp(_.analysisMs.toDouble)
      m("planning.optimization_ms") = perOp(_.optimizationMs.toDouble)
      m("planning.physical_ms") = perOp(_.physicalMs.toDouble)
      m("planning.plan_nodes") = perOp(_.planNodes.toDouble)
    }

    Seq("session.sql" -> "session.sql_call_ms", "session.action" -> "session.action_ms",
        "mutate.apply" -> "mutate.apply_ms", "mutate.readback" -> "mutate.readback_ms",
        "scan" -> "sources.scan_ms",
        "sinks.write.csv_gz" -> "sinks.write_ms.csv_gz",
        "sinks.write.parquet" -> "sinks.write_ms.parquet",
        "sinks.write.xlsx" -> "sinks.write_ms.xlsx").foreach { case (span, metric) =>
      if (spans.exists(_.name == span)) m(metric) = spanMs(span)
    }
    // source steps replayed once per traced run: total over the files
    Seq("collect", "header", "newline_scan", "ltsv_keys", "codec_shim", "xlsx_parse", "infer")
      .foreach { step =>
        val ss = spans.filter(_.name == s"sources.$step")
        if (ss.nonEmpty) m(s"sources.${step}_ms") = ss.map(_.ms).sum
      }

    run.samples.foreach { case (name, xs) => m(name) = med(xs) }
    if (run.samples.contains("mutate.checkpoint_jobs"))
      m("mutate.checkpoint_jobs") = run.samples("mutate.checkpoint_jobs").sum

    val dumpOps = ops.filter(_._1 == "dump")
    if (dumpOps.nonEmpty) {
      // each dump writes every table as CSV+gzip and as parquet, plus one XLSX
      val tablesPerDump = 2 * run.manifest.get("tables").size + 1
      m("sinks.jobs_per_table") = dumpOps.map(_._2.jobs.toDouble).sum / dumpOps.size / tablesPerDump
      val dumpS = spans.filter(_.name.startsWith("sinks.write.")).groupBy(_.op).values
        .map(_.map(_.ms).sum / 1000)
      if (run.samples.contains("sinks.bytes_written")) {
        val bytes = m("sinks.bytes_written")
        m("sinks.mb_per_s") = bytes / 1e6 / med(dumpS)
        m("sinks.bytes_per_input_byte") = bytes / run.manifest.get("bytes").asDouble
      }
    }

    if (gateOps.nonEmpty) {
      val perGate = gateOps.groupBy(_._1)
      perGate.foreach { case (g, gops) =>
        m(s"gate.$g.s") = spanMs(s"gate.$g") / 1000
        m(s"gate.$g.jobs") = med(gops.map(_._2.jobs.toDouble))
        m(s"gate.$g.tasks") = med(gops.map(_._2.tasks.toDouble))
        m(s"gate.$g.task_ms") = med(gops.map(_._2.taskMs.toDouble))
      }
      m("gates.total_s") = perGate.keys.map(g => m(s"gate.$g.s")).sum
      val batches = gateOps.map(_._2.batches).sum
      if (batches > 0) {
        val streamOps = gateOps.filter(_._2.batches > 0)
        m("streaming.batches") = batches.toDouble / streamOps.size
        m("streaming.batch_ms") = streamOps.map(_._2.batchMs.toDouble).sum / batches
        m("streaming.jobs_per_batch") = streamOps.map(_._2.streamingJobs.toDouble).sum / batches
      }
    }

    // tracing overhead: traced minus untraced operations of the same loop
    val timed = run.ops.toSeq
    val (tr, untr) = timed.partition(_._3)
    if (tr.nonEmpty && untr.nonEmpty) {
      val a = med(tr.map(_._2))
      val b = med(untr.map(_._2))
      m("trace.overhead_ms") = a - b
      m("trace.overhead_ratio") = (a - b) / b
    }
    m("trace.spans") = spans.size.toDouble
    m.toMap
  }
}
