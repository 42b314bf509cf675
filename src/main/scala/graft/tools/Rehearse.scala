package graft.tools

/** Per-round scale-rehearsal driver: runs BOTH measured-evidence suites —
  * the kupo-side index rehearsal ([[ScaleRehearsal]]: manifest pruning,
  * spent-stat pruning, broadcast reconcile, vacuum bound) and the
  * LLM-operator rehearsal ([[LlmScaleRehearsal]]: map-only assignments,
  * code-only ADC scans, broadcast decontamination, sub-quadratic LSH
  * growth, recall floors) — so their `require` gates execute every round
  * rather than on demand. Each prints its one-line JSON; both are recorded
  * in SCALE.md Appendix A/B.
  *
  * Run: `sbt "runMain graft.tools.Rehearse [sfDir]"` — the LLM-suite
  * fixture dir resolves from the argument, else `$SPARK_GRAFT_SF_DIR`,
  * else the build host's `/root/testdata/sf0.1` (documented example
  * layout; the kupo suite builds its own 400-block fixture). */
object Rehearse {
  def main(args: Array[String]): Unit = {
    ScaleRehearsal.main(Array.empty)
    LlmScaleRehearsal.main(
      if (args.nonEmpty) args
      else Array(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))
  }
}
