package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer of the `--trace 1` run.
  *
  * Span levels: workload → operation → construct/execute (opened by the
  * benchmark around its calls into the program) → job → stage (from
  * Spark's own `SparkListener`). A job belongs to the span whose id was in
  * the `perfbench.span` local property of the thread that submitted it;
  * Catalyst phase times come from a `QueryExecutionListener` reading
  * `qe.tracker.phases`, and belong to the operation whose interval holds
  * the phase's start. Nothing is written until [[write]] at the end.
  *
  * A disabled tracer registers no listener and only runs the bodies, so
  * the untraced run measures the program alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  // listener state, written on the listener-bus thread
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val catalyst = mutable.ArrayBuffer.empty[PhaseRec]

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, StageRec(i.stageId))
      st.numTasks = i.numTasks
      st.submitMs = i.submissionTime.getOrElse(0L)
      st.completeMs = i.completionTime.getOrElse(st.submitMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.cpuNs += m.executorCpuTime
        st.runMs += m.executorRunTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          catalyst += PhaseRec(phase, s.startTimeMs, s.durationMs)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` inside a span; jobs it submits are tagged with the span. */
  def span[T](level: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(SpanProperty)
      val gc0 = gcMs
      spans += Span(id, parent, level, name, nowNs, 0L, 0L)
      open = id :: open
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = nowNs, gcMs = gcMs - gc0)
        open = open.tail
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Id of the innermost open span (-1 when untraced). */
  def currentId: Int = open.headOption.getOrElse(-1)

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) PerfbenchBridge.drainListenerBus(sc)

  /** Counters of the jobs started under the given spans. */
  def layer(spanIds: Seq[Int]): Layer = lock.synchronized {
    val ids = spanIds.toSet
    val js = jobs.values.filter(j => ids.contains(j.span)).toSeq
    val jobIds = js.map(_.id).toSet
    val sts = stages.values.filter(s => stageJob.get(s.id).exists(jobIds)).toSeq
    val dur = sts.map(s => math.max(0L, s.completeMs - s.submitMs))
    Layer(
      jobs = js.size,
      stages = sts.size,
      tasks = sts.map(_.tasks).sum,
      cpuNs = sts.map(_.cpuNs).sum,
      runMs = sts.map(_.runMs).sum,
      shuffleWriteBytes = sts.map(_.shuffleWriteBytes).sum,
      spillBytes = sts.map(_.spillBytes).sum,
      stageMs = dur.sum,
      oneTaskStageMs = sts.zip(dur).collect { case (s, d) if s.numTasks == 1 => d }.sum,
      maxStageMs = if (dur.isEmpty) 0L else dur.max,
      gcMs = spanIds.map(spans(_).gcMs).sum)
  }

  /** Catalyst phase milliseconds whose start lies inside span `id`. */
  def catalystMs(id: Int, phase: String): Long = lock.synchronized {
    val s = spans(id)
    catalyst.filter(p => p.phase == phase &&
      p.startMs * 1000000L >= s.startNs - 1000000L && p.startMs * 1000000L <= s.endNs)
      .map(_.durMs).sum
  }

  /** All spans (the benchmark's own, then jobs and stages) as a JSON array. */
  def write(path: java.nio.file.Path): Unit = lock.synchronized {
    val out = mutable.ArrayBuffer.empty[String]
    def obj(id: String, parent: String, level: String, name: String,
            start: Long, end: Long): String =
      s"""{"id":"$id","parent":"$parent","level":"$level","name":${Json.str(name)},"start_ns":$start,"end_ns":$end}"""
    spans.foreach(s => out += obj(s"s${s.id}", if (s.parent < 0) "" else s"s${s.parent}",
      s.level, s.name, s.startNs, s.endNs))
    jobs.values.foreach(j => out += obj(s"j${j.id}", if (j.span < 0) "" else s"s${j.span}",
      "job", s"job ${j.id}", j.startMs * 1000000L, j.endMs * 1000000L))
    stages.values.foreach(s => out += obj(s"t${s.id}",
      stageJob.get(s.id).map(j => s"j$j").getOrElse(""), "stage",
      s"stage ${s.id} (${s.tasks} tasks)", s.submitMs * 1000000L, s.completeMs * 1000000L))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.mkString("[\n", ",\n", "\n]\n"))
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  case class Span(id: Int, parent: Int, level: String, name: String,
                  startNs: Long, endNs: Long, gcMs: Long)
  case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long)
  case class StageRec(id: Int, var numTasks: Int = 0, var submitMs: Long = 0L,
                      var completeMs: Long = 0L, var tasks: Int = 0, var cpuNs: Long = 0L,
                      var runMs: Long = 0L, var shuffleWriteBytes: Long = 0L,
                      var spillBytes: Long = 0L)
  case class PhaseRec(phase: String, startMs: Long, durMs: Long)

  case class Layer(jobs: Int, stages: Int, tasks: Int, cpuNs: Long, runMs: Long,
                   shuffleWriteBytes: Long, spillBytes: Long, stageMs: Long,
                   oneTaskStageMs: Long, maxStageMs: Long, gcMs: Long)
}
