package perfbench

/** Per-layer figures shared by the workloads (traced runs only). */
object Layers {

  /** Spark's counters over the traced timed region. */
  def spark(out: Outcome, before: Map[String, Long], after: Map[String, Long]): Unit =
    Seq("jobs", "tasks", "scheduler_delay_ms", "executor_run_ms",
      "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "task_failures").foreach { k =>
      out.layers("spark." + k) = (after(k) - before(k)).toDouble
    }

  /** Traced minus untraced median op time, as a share of the untraced. */
  def overhead(out: Outcome, plain: Seq[Double], traced: Seq[Double]): Unit = {
    val p = Main.median(plain)
    out.layers("trace.overhead_frac") = Main.median(traced) / p - 1
    out.info("untraced_op_ms") = p
    out.info("traced_op_ms") = Main.median(traced)
  }
}
