package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `registry_light`: sub-second registry queries over the sf0.1 corpus,
  * one per operator family (README.md lists them and why). An operation is
  * one query: `SparkEntry.queries(q)(spark, sfDir)` (construction), then
  * the noop-sink write that Bench also times (execution). The seed only
  * shuffles the order of each pass.
  *
  * `expected` holds each query's row count and content hash; a query
  * without an entry fails, and every mismatch prints the digest seen.
  */
final class RegistryWorkload(
    spark: SparkSession,
    tracer: Tracer,
    sfDir: String,
    queries: Seq[String],
    registry: Map[String, (SparkSession, String) => DataFrame],
    expected: Map[String, Check.Digest],
    seed: Long) extends Workload {

  private val rnd = new scala.util.Random(seed)
  private var seq = 0

  private def runQuery(p: Int, name: String): OpSample = {
    // untimed GC between operations, as Bench does: one query's garbage
    // must not surface as GC pauses inside the next one's timing
    System.gc()
    seq += 1
    var constructNs, executeNs = 0L
    var phases = Vector.empty[Int]
    var opSpan = -1
    val ok = tracer.span("operation", name) {
      opSpan = tracer.currentId
      Workload.attempt(name) {
        val t0 = System.nanoTime()
        val df = tracer.span("construct", name) {
          phases :+= tracer.currentId
          registry(name)(spark, sfDir)
        }
        constructNs = System.nanoTime() - t0
        val (checked, obs) = Check.observed(df, s"perfbench_$seq")
        val t1 = System.nanoTime()
        tracer.span("execute", name) {
          phases :+= tracer.currentId
          checked.write.format("noop").mode("overwrite").save()
        }
        executeNs = System.nanoTime() - t1
        val got = Check.digest(obs)
        val good = expected.get(name).contains(got)
        if (!good) System.err.println(
          s"[perfbench] $name: output $got, expected ${expected.get(name)}")
        good
      }
    }
    OpSample(p, name, constructNs, executeNs, ok, opSpan, phases)
  }

  def setup(): Unit = ()

  def pass(p: Int): Seq[OpSample] = rnd.shuffle(queries).map(runQuery(p, _))

  def workPerS(medianLatencyS: Map[String, Double]): Double =
    Stats.ratio(medianLatencyS.size, medianLatencyS.values.sum)

  def layerMetrics(samples: Seq[OpSample]): Map[String, Double] = Map.empty
}
