package perfbench

/** Prints a synthetic untraced and a synthetic traced report through the
  * same emitter the workloads use. `selftest.py` runs it under a
  * comma-decimal default locale and parses every line as JSON.
  */
object EmitSelfTest {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val values = Seq(1234.5678, 0.001234, 1e-9, 12345678.9, 0.5)
    val e2e = values.zipWithIndex.map { case (v, i) => Metric(s"m$i", v, "ms", i) } :+
      Metric(Main.Headline, 150.0, "ms", 9)
    val out = Outcome(e2e, Seq(Metric("error_rate", 0.25, "ratio", 4)),
      PerLayer.all.map { case (n, u) => Metric(n, 1.5, u) }, 4, 1,
      Seq("a \"quoted\"\tproblem, with a comma"))
    Main.report("selftest", out, traced = false, None, None)
    Trace.enabled = true
    Trace.span("outer")(Trace.span("inner")(Thread.sleep(2)))
    Trace.enabled = false
    Main.report("selftest", out, traced = true, Some(100.0), None)
  }
}
