package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call (root), a phase of a step, a job or a stage. All spans
  * of one call share `call`; times are epoch milliseconds. */
final case class Span(call: Int, id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double)

/** What the workload loop needs from tracing. [[NoTrace]] keeps only the
  * job group (needed to cancel a call that overruns its budget); the
  * [[Recorder]] adds spans, listener counters and plan metrics. */
trait Tracer {
  /** Run one phase ("ops.build", "plans", "exec") of the current call. */
  def phase[A](name: String)(f: => A): A
  def beginCall(call: Int): Unit
  /** Ends the call; returns its per-layer record (empty when untraced). */
  def endCall(filesWritten: => Long): Map[String, Double]
}

object NoTrace extends Tracer {
  def phase[A](name: String)(f: => A): A = f
  def beginCall(call: Int): Unit = ()
  def endCall(filesWritten: => Long): Map[String, Double] = Map.empty
}

/** The traced run's recorder: a public SparkListener and
  * QueryExecutionListener registered from the benchmark, attributing jobs
  * to calls by job group and to phases by a local property. Events are
  * buffered and read only after the listener bus has been drained, so the
  * counts do not depend on timing. */
final class Recorder(spark: SparkSession, cores: Int) extends Tracer {
  import Recorder._

  private val sc = spark.sparkContext
  private val lock = new Object
  private final class Job(val id: Int, val group: String, val parent: Int,
                          val start: Long, val stages: Seq[Int]) { var end = -1L }
  private final case class Stage(id: Int, submit: Long, complete: Long)
  private final case class Task(stage: Int, durMs: Long, ok: Boolean,
                                runMs: Long, cpuNs: Long, shufW: Long, shufR: Long,
                                shufRec: Long, spill: Long, in: Long, out: Long)

  // written on the listener thread, read on the client after a drain
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      jobs += new Job(e.jobId,
        p.flatMap(x => Option(x.getProperty(GroupKey))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1),
        e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime) stages += Stage(si.stageId, s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
      tasks += Task(e.stageId, e.taskInfo.duration, e.taskInfo.successful,
        g(_.executorRunTime), g(_.executorCpuTime),
        g(_.shuffleWriteMetrics.bytesWritten), g(_.shuffleReadMetrics.totalBytesRead),
        g(_.shuffleWriteMetrics.recordsWritten), g(_.diskBytesSpilled),
        g(_.inputMetrics.bytesRead), g(_.outputMetrics.bytesWritten))
    }
  }
  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lock.synchronized { qes += qe }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = lock.synchronized { qes += qe }
  }

  /** Spans of every traced call so far, in creation order. */
  val spans = mutable.ArrayBuffer[Span]()
  private var call = -1
  private var nextSpan = 0
  private var openSpan = -1
  private var gc0 = 0L
  private var jit0 = 0L

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble
  private def newSpan(): Int = { nextSpan += 1; nextSpan }

  def beginCall(c: Int): Unit = {
    PerfbenchBus.drain(sc) // events of earlier calls must not leak in
    lock.synchronized { jobs.clear(); stages.clear(); tasks.clear(); qes.clear() }
    call = c
    openSpan = newSpan()
    spans += Span(c, openSpan, 0, "call", nowMs, Double.NaN)
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs; jit0 = jitMs
  }

  def phase[A](name: String)(f: => A): A = {
    val root = openSpan
    val id = newSpan()
    val start = nowMs
    sc.setLocalProperty(SpanKey, id.toString)
    try f finally {
      sc.setLocalProperty(SpanKey, null)
      spans += Span(call, id, root, name, start, nowMs)
    }
  }

  def endCall(filesWritten: => Long): Map[String, Double] = {
    val rootIdx = spans.lastIndexWhere(_.id == openSpan)
    spans(rootIdx) = spans(rootIdx).copy(endMs = nowMs)
    PerfbenchBus.drain(sc)
    val group = sc.getLocalProperty(GroupKey)
    val (js, ss, ts, qs) = lock.synchronized {
      val js = jobs.filter(_.group == group).toVector
      val ids = js.flatMap(_.stages).toSet
      val ss = stages.filter(s => ids.contains(s.id)).toVector
      val sIds = ss.map(_.id).toSet
      (js, ss, tasks.filter(t => sIds.contains(t.stage)).toVector, qes.toVector)
    }
    val mySpans = spans.filter(_.call == call)
    val phaseIds = mySpans.map(_.id).toSet
    // job spans hang under the phase that launched them, stage spans
    // under the first job that lists them
    val placed = mutable.Set[Int]()
    js.foreach { j =>
      val jid = newSpan()
      spans += Span(call, jid, if (phaseIds(j.parent)) j.parent else openSpan,
        "job", j.start.toDouble, (if (j.end >= 0) j.end else j.start).toDouble)
      ss.filter(s => j.stages.contains(s.id) && placed.add(s.id)).foreach { s =>
        spans += Span(call, newSpan(), jid, "stage", s.submit.toDouble, s.complete.toDouble)
      }
    }
    val execSpans = mySpans.filter(_.name == "exec")
    val stageIv = ss.map(s => (s.submit.toDouble, s.complete.toDouble))
    val gap = execSpans.map(e => (e.endMs - e.startMs) -
      covered(stageIv, e.startMs, e.endMs)).sum / 1e3
    val longest = if (ss.isEmpty) None else Some(ss.maxBy(s => s.complete - s.submit))
    val skew = longest.map { s =>
      val d = ts.filter(_.stage == s.id).map(_.durMs.toDouble)
      if (d.size < 2) 1.0 else d.max / math.max(1.0, Stats.median(d))
    }.getOrElse(1.0)
    val idle = ss.map { s =>
      val run = ts.filter(_.stage == s.id).map(_.runMs).sum
      math.max(0L, (s.complete - s.submit) * cores - run)
    }.sum / 1e3
    val plans = qs.map(planStats)
    val phases = qs.map(_.tracker.phases)
    def phaseS(n: String) = phases.flatMap(_.get(n)).map(_.durationMs).sum / 1e3
    val buildSpans = mySpans.filter(_.name == "ops.build").map(_.id).toSet
    Map(
      "ops.build_s" -> mySpans.filter(_.name == "ops.build").map(s => s.endMs - s.startMs).sum / 1e3,
      "ops.build_jobs" -> js.count(j => buildSpans.contains(j.parent)).toDouble,
      "plans.analysis_s" -> phaseS("analysis"),
      "plans.optimization_s" -> phaseS("optimization"),
      "plans.planning_s" -> phaseS("planning"),
      "plans.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "exec.s" -> execSpans.map(s => s.endMs - s.startMs).sum / 1e3,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.driver_gap_s" -> gap,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.idle_core_s" -> idle,
      "exec.skew" -> skew,
      "exec.peak_mem_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6,
      "exec.failed_tasks" -> ts.count(!_.ok).toDouble,
      "shuffle.write_mb" -> ts.map(_.shufW).sum / 1e6,
      "shuffle.read_mb" -> ts.map(_.shufR).sum / 1e6,
      "shuffle.records" -> ts.map(_.shufRec).sum.toDouble,
      "spill.disk_mb" -> ts.map(_.spill).sum / 1e6,
      "join.candidates" -> plans.map(_.candidates).sum.toDouble,
      "join.emitted" -> plans.map(_.emitted).sum.toDouble,
      "io.read_mb" -> ts.map(_.in).sum / 1e6,
      "io.write_mb" -> ts.map(_.out).sum / 1e6,
      "io.files_written" -> filesWritten.toDouble,
      "jvm.gc_s" -> (gcMs - gc0) / 1e3,
      "jvm.jit_s" -> (jitMs - jit0) / 1e3)
  }
}

object Recorder {
  val GroupKey = "spark.jobGroup.id"
  val SpanKey = "perfbench.span"

  private lazy val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Length of the part of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span (its duration minus what its children cover),
    * summed per span name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(s => (s.call, s.parent))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse((s.call, s.id), Nil).map(k => (k.startMs, k.endMs))
        (s.endMs - s.startMs) - covered(iv, s.startMs, s.endMs)
      }.sum / 1e3
    }
  }

  final case class PlanStats(exchanges: Int, candidates: Long, emitted: Long)

  /** Every node of an executed plan, through AQE wrappers and subqueries;
    * a reused exchange is not entered, so it is counted once. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children ++ o.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Option[Long] = p.metrics.get(k).map(_.value)

  /** Rows a plan node hands to its parent, read from the nearest node
    * below it that counts them. */
  def rowsOut(p: SparkPlan): Long = p match {
    case s: ShuffleExchangeLike => metric(s, "shuffleRecordsWritten").getOrElse(0L)
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case o => metric(o, "numOutputRows").getOrElse(o.children.headOption.map(rowsOut).getOrElse(0L))
  }

  /** Exchanges, and for the interval joins — equi-joins with a residual
    * range condition, which is how every graft interval join plans — the
    * rows that entered them (candidates) and the pairs they emitted. */
  def planStats(qe: QueryExecution): PlanStats = {
    val ns = nodes(qe.executedPlan).toVector
    val ex = ns.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val joins = ns.filter {
      case j: HashJoin => j.condition.isDefined
      case j: SortMergeJoinExec => j.condition.isDefined
      case _ => false
    }
    PlanStats(ex, joins.map(j => j.children.map(rowsOut).sum).sum,
      joins.flatMap(metric(_, "numOutputRows")).sum)
  }
}
