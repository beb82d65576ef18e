package etlbench

/** One run's result line: `{"correct", "attempted", "failed", "metrics"}`. */
final case class Report(workload: String, setupS: Double, pass: Main.Pass, bad: Set[Int],
    storedRatio: Double, attempted: Int,
    layers: Option[Seq[(String, Double, String)]] = None) {

  def failed: Int = bad.size
  def ops: Seq[Double] = pass.opSeconds.toSeq

  /** The highest of p90/p75/p50 with at least ten samples beyond it. */
  def tailP: Double = Seq(0.9, 0.75, 0.5).find(p => ops.size * (1 - p) >= 10 - 1e-9).getOrElse(0.5)

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("run_s", pass.runS, "s"),
    ("op_p50_s", Util.percentile(ops, 0.5), "s"),
    ("op_tail_s", Util.percentile(ops, tailP), "s"),
    ("live_heap_mb", Util.percentile(pass.heapMb, 0.5), "MB"),
    ("stored_bytes_ratio", storedRatio, "ratio"))

  def summary: String =
    f"[etlbench] $workload ops=${ops.size} failed=$failed fail_ratio=${failed.toDouble / attempted}%.4f " +
      f"op_p50_s over ${ops.size} ops, op_tail_s = p${(tailP * 100).round} over ${ops.size} ops " +
      f"(${(ops.size * (1 - tailP)).round} beyond)"
}

object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(r: Report): String = {
    val ms = r.layers.getOrElse(r.endToEnd)
    val metrics = ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": $metrics}"""
  }
}
