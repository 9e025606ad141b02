package graft.perfbench

/** One timed call of the client loop. `constructNs` is the call that
  * builds the DataFrame (or, for the memo cache, runs its eager
  * append), `executeNs` the action that follows. `opSpan` and
  * `phaseSpans` are the tracer's ids of the operation and of its
  * construct/execute phases (-1 and empty when untraced).
  */
case class OpSample(pass: Int, name: String, constructNs: Long,
                    executeNs: Long, ok: Boolean,
                    opSpan: Int = -1, phaseSpans: Seq[Int] = Nil) {
  def latencyS: Double = (constructNs + executeNs) / 1e9
}

/** A benchmark workload: a fixed list of operations that one client runs
  * in passes, one operation at a time (a closed loop).
  */
trait Workload {
  /** Input generation and everything else the passes need. With the
    * warm-up passes that follow, it counts as set-up time.
    */
  def setup(): Unit

  /** One pass over the operation list, in a seeded order. */
  def pass(p: Int): Seq[OpSample]

  /** Work per second, from each operation's median latency (README.md). */
  def workPerS(medianLatencyS: Map[String, Double]): Double

  /** Per-layer metrics that only this workload produces; the caller fills
    * in the ones every workload shares.
    */
  def layerMetrics(samples: Seq[OpSample]): Map[String, Double]
}

object Workload {
  /** Runs `op`, counting an exception as a failed operation. */
  def attempt(name: String)(op: => Boolean): Boolean =
    try op
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
}
