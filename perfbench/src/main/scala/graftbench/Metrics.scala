package graftbench

import Main.Pass

/** Turns the recorded passes into named metrics with units. */
object Metrics {
  private val MB = 1024.0 * 1024.0

  /** Sorted latencies → (value with at least 10 samples above it, its
    * percentile). Falls back to the maximum below 11 samples. */
  def tail(ops: Seq[Double]): (Double, Double) = {
    val s = ops.sorted
    if (s.isEmpty) (0.0, 0.0)
    else if (s.length < 11) (s.last, 100.0)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  def unit(name: String): String = {
    val leaf = name.substring(name.lastIndexOf('.') + 1)
    if (leaf.endsWith("_ms")) "ms"
    else if (leaf.endsWith("_mb")) "MB"
    else if (leaf.endsWith("_pct")) "%"
    else if (leaf.endsWith("_s")) "s"
    else if (leaf == "rows_out" || leaf == "state_rows") "rows"
    else if (leaf.endsWith("_ratio") || leaf == "write_amp" || leaf == "parallel_eff") "ratio"
    else "count"
  }

  def endToEnd(passes: Seq[Pass], setupS: Double): Seq[(String, (Double, String))] = {
    val ops = passes.flatMap(_.res.opMs)
    Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (Run.median(passes.map(_.wall)), "s"),
      "trigger_p50_ms" -> (Run.median(ops), "ms"),
      "trigger_tail_ms" -> (tail(ops)._1, "ms"),
      "rows_per_s" -> (Run.median(passes.map(p => p.res.rows / p.wall)), "rows/s"))
  }

  /** Per-layer values of one traced pass. Self time is a span's time
    * minus its child spans; jobs, shuffle and rows include the work of
    * child spans (a lazily built layer's output is computed by the write
    * that consumes it, inside its `sinks` child). */
  def layerValues(p: Pass): Map[String, Double] = {
    val kids = p.spans.groupBy(_.parent)
    def dur(s: Span) = (s.end - s.start) / 1e9
    def incl(s: Span): Work = {
      val w = new Work
      p.groups.get(s.id.toString).foreach(w.add)
      kids.getOrElse(s.id, Nil).foreach(c => w.add(incl(c)))
      w
    }
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    p.spans.foreach { s =>
      val self = dur(s) - kids.getOrElse(s.id, Nil).map(dur).sum
      if (s.name == "pass") out("trace.unaccounted_s") += self
      else {
        val w = incl(s)
        out(s"${s.name}.self_s") += self
        out(s"${s.name}.jobs") += w.jobs.toDouble
        out(s"${s.name}.shuffle_mb") += w.shuffleWriteBytes / MB
        out(s"${s.name}.rows_out") += w.recordsWritten.toDouble
        if (s.name == "cluster") out("cluster.checkpoints") += w.checkpoints.toDouble
      }
    }
    // jobs of a streaming query run on its own thread, outside any job
    // group: they are the streams layer's work
    if (p.spans.exists(_.name == "streams")) p.groups.get(Listener.StreamGroup).foreach { g =>
      out("streams.jobs") += g.jobs.toDouble
      out("streams.shuffle_mb") += g.shuffleWriteBytes / MB
      out("streams.rows_out") += g.recordsWritten.toDouble
    }
    val all = new Work
    p.groups.values.foreach(all.add)
    out("spark.jobs") = all.jobs.toDouble
    out("spark.stages") = all.stages.toDouble
    out("spark.tasks") = all.tasks.toDouble
    out("spark.checkpoints") = all.checkpoints.toDouble
    out("spark.task_wait_s") = all.waitMs / 1000.0
    out("spark.executor_run_s") = all.runMs / 1000.0
    out("spark.gc_s") = all.gcMs / 1000.0
    out("spark.shuffle_read_mb") = all.shuffleReadBytes / MB
    out("spark.spill_mb") = all.spillBytes / MB
    out("spark.peak_exec_mem_mb") = all.peakExecMem / MB
    out("spark.parallel_eff") = all.runMs / 1000.0 / (p.wall * 4)
    p.extras.foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  def perLayer(passes: Seq[Pass], steal: Double, other: Double): Seq[(String, (Double, String))] = {
    val traced = passes.filter(_.traced).map(layerValues)
    val names = traced.flatMap(_.keys).distinct.sorted
    val layers = names.map(n => n -> (Run.median(traced.map(_.getOrElse(n, 0.0))), unit(n)))
    val overhead = Run.median(passes.filter(_.traced).map(_.wall)) /
      math.max(1e-9, Run.median(passes.drop(1).filterNot(_.traced).map(_.wall)))
    layers ++ Seq(
      "host.steal_pct" -> (steal, "%"),
      "host.other_cpu_pct" -> (other, "%"),
      "trace.overhead_ratio" -> (overhead, "ratio"),
      "trace.wall_s" -> (Run.median(passes.filter(_.traced).map(_.wall)), "s"))
  }

  /** Run facts printed next to the metrics. The tail latency is printed
    * here only: a run holds too few operations for a percentile with ten
    * samples beyond it to be steady. */
  def notes(passes: Seq[Pass]): Seq[(String, String)] = {
    val ops = passes.flatMap(_.res.opMs)
    val (t, pct) = tail(ops)
    Seq(
      "trigger_tail_ms" -> (if (ops.size >= 11) f"$t%.1f ms at p$pct%.1f of ${ops.size} operations"
        else f"n/a: ${ops.size} operations, fewer than 11 (max $t%.1f ms)"),
      "passes" -> s"${passes.size} (${passes.count(_.traced)} traced)",
      "pass_walls_s" -> passes.map(p => f"${p.wall}%.3f").mkString(" "),
      "first_pass_ops_ms" -> passes.headOption.map(_.res.opMs.map(x => f"$x%.0f").mkString(" ")).getOrElse(""))
  }
}
