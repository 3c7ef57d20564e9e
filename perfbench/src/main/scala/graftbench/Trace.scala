package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch microseconds, on the monotonic clock after start,
  * so op spans line up with Spark's millisecond event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** A closed interval with a parent; `id` 0 is the root. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Spans {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Span duration minus the part of it that its children cover. */
  def selfUs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(ch, s.startUs, s.endUs))
    }.toMap
  }
}

/** Listener half of the traced run: records Spark jobs, stages, failed
  * tasks and Catalyst planning phases as they happen; [[Attribution]] later
  * assigns each to the op whose job group or interval it falls in.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val plans = ArrayBuffer.empty[Plan]
  val failedTasks = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(j.jobId, group.getOrElse(""), j.time * 1000, j.time * 1000, j.stageIds)
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == j.jobId).foreach(_.endUs = j.time * 1000)
  }
  override def onStageCompleted(st: SparkListenerStageCompleted): Unit = synchronized {
    val i = st.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(i.stageId, i.numTasks,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.inputMetrics.bytesRead / 1e6, m.shuffleReadMetrics.totalBytesRead / 1e6,
      m.shuffleWriteMetrics.bytesWritten / 1e6,
      (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskInfo != null && t.taskInfo.failed) failedTasks(t.stageId) += 1
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values.toSeq
    if (ph.nonEmpty) plans += Plan(ph.map(_.startTimeMs).min * 1000, ph.map(_.endTimeMs).max * 1000,
      ph.map(_.durationMs).sum / 1e3)
  }
}

object Recorder {
  final case class Job(id: Int, group: String, startUs: Long, var endUs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runS: Double, cpuS: Double, gcS: Double,
                         inputMb: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
                         spillMb: Double)
  final case class Plan(startUs: Long, endUs: Long, planS: Double)
}

/** Counters read around each op: the store-protocol counts and the number
  * of classes Spark's code generator compiled, i.e. generated sources that
  * missed its compiled-class cache. The latter is process-wide and counts
  * in untraced runs too.
  */
object Counters {
  def codegen(): Double = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  def snapshot(): Map[String, Double] = FsCounters.snapshot() + ("catalyst.codegen_compiles" -> codegen())
}

/** One traced op call: its interval, the end of the call into the engine
  * (the rest is the digest action), and the counters read around it.
  */
final case class TracedOp(spanId: Long, passSpan: Long, key: String, group: String,
                          startUs: Long, callEndUs: Long, endUs: Long, ok: Boolean,
                          counters: Map[String, Double], cachedMb: Double)

object Attribution {
  /** Per-op rows of every per-layer metric, plus the span tree (op spans
    * with `operators.call`, `spark.exec`, `catalyst.plan` and `spark.job`
    * children). Jobs carry the op's job group; a job started on a pool
    * thread that did not inherit it is matched to the op by its start time.
    */
  def apply(rec: Recorder, ops: Seq[TracedOp], cores: Int, firstSpanId: Long)
      : (Seq[Map[String, Double]], Seq[Span]) = rec.synchronized {
    var nextId = firstSpanId
    def fresh(): Long = { nextId += 1; nextId }
    def owner(group: String, tUs: Long): Option[TracedOp] =
      ops.find(o => group.nonEmpty && o.group == group)
        .orElse(ops.find(o => tUs >= o.startUs && tUs <= o.endUs))
    val jobOwner = rec.jobs.toSeq.flatMap(j => owner(j.group, j.startUs).map(o => j -> o))
    val stageOwner = jobOwner.flatMap { case (j, o) => j.stageIds.map(_ -> o) }.toMap
    val spans = ArrayBuffer.empty[Span]
    val rows = ops.map { o =>
      spans += Span(o.spanId, o.passSpan, s"op:${o.key}", o.startUs, o.endUs)
      spans += Span(fresh(), o.spanId, "operators.call", o.startUs, o.callEndUs)
      spans += Span(fresh(), o.spanId, "spark.exec", o.callEndUs, o.endUs)
      val myJobs = jobOwner.collect { case (j, `o`) => j }
      myJobs.foreach(j => spans += Span(fresh(), o.spanId, s"spark.job:${j.id}", j.startUs, j.endUs))
      val myPlans = rec.plans.toSeq.filter(p => owner("", p.startUs).contains(o))
      myPlans.foreach(p => spans += Span(fresh(), o.spanId, "catalyst.plan", p.startUs, p.endUs))
      val myStages = rec.stages.toSeq.filter(s => stageOwner.get(s.id).contains(o))
      val wallS = (o.endUs - o.startUs) / 1e6
      val jobWallS = Spans.covered(myJobs.map(j => (j.startUs, j.endUs)), o.startUs, o.endUs) / 1e6
      val runS = myStages.map(_.runS).sum
      Map(
        "wall_s" -> wallS,
        "operators.call_s" -> (o.callEndUs - o.startUs) / 1e6,
        "catalyst.plan_s" -> myPlans.map(_.planS).sum,
        "catalyst.executions" -> myPlans.size.toDouble,
        "spark.jobs" -> myJobs.size.toDouble,
        "spark.stages" -> myStages.size.toDouble,
        "spark.tasks" -> myStages.map(_.tasks).sum.toDouble,
        "spark.job_wall_s" -> jobWallS,
        "spark.task_run_s" -> runS,
        "spark.task_cpu_s" -> myStages.map(_.cpuS).sum,
        "spark.gc_s" -> myStages.map(_.gcS).sum,
        "spark.idle_core_s" -> (cores * jobWallS - runS),
        "spark.input_mb" -> myStages.map(_.inputMb).sum,
        "spark.shuffle_read_mb" -> myStages.map(_.shuffleReadMb).sum,
        "spark.shuffle_write_mb" -> myStages.map(_.shuffleWriteMb).sum,
        "spark.spill_mb" -> myStages.map(_.spillMb).sum,
        "spark.failed_tasks" -> myStages.map(s => rec.failedTasks(s.id)).sum.toDouble,
        "driver.gap_s" -> (wallS - jobWallS),
        "caches.cached_mb" -> o.cachedMb,
      ) ++ o.counters
    }
    (rows, spans.toSeq)
  }
}
