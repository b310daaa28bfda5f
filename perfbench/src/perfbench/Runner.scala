package perfbench

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession

/** Runs calls one at a time on the client thread: each under its own job
  * group, cancelled past [[Runner.BudgetS]], with the cache cleared and
  * persisted RDDs dropped afterwards so no call feeds the next. */
final class Runner(spark: SparkSession, data: File) {
  import Runner._
  private val sc = spark.sparkContext
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  private var next = 0

  def run(c: Call, round: Int, tracer: Tracer): Done = {
    val idx = next; next += 1
    val group = s"perfbench-$idx"
    sc.setJobGroup(group, c.kind, interruptOnCancel = true)
    tracer.beginCall(idx)
    val timedOut = new AtomicBoolean(false)
    val guard = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(group) }
    }, BudgetS, TimeUnit.SECONDS)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(c.steps.map(s => s.name -> step(s, tracer)).toMap) catch {
      case e: Throwable =>
        val m = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next()
        Left(if (timedOut.get) s"timeout after ${BudgetS}s" else m.take(200))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    guard.cancel(false)
    val layers = tracer.endCall(filesSince(data, startMs))
    sc.clearJobGroup()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Done(idx, round, tracer ne NoTrace, c, wall, res.getOrElse(Map.empty),
      res.left.toOption, layers)
  }

  def close(): Unit = watchdog.shutdownNow()
}

object Runner {
  /** A call running longer than this is cancelled and counted as failed. */
  val BudgetS = 60L

  def step(s: Step, tracer: Tracer): Out = s match {
    case Sink(_, build, extras) =>
      val df = tracer.phase("ops.build")(build())
      val frame = tracer.phase("plans") {
        val f = SinkFrame(df, extras); f.queryExecution.executedPlan; f
      }
      tracer.phase("exec")(SinkFrame.read(frame.collect()(0), extras.size))
    case Effect(_, run) =>
      tracer.phase("exec")(Out(0L, 0L, run().map(BigInt(_))))
  }

  /** Files under `dir` modified at or after `sinceMs`. */
  private def filesSince(dir: File, sinceMs: Long): Long =
    Option(dir.listFiles).map(_.map { f =>
      if (f.isDirectory) filesSince(f, sinceMs)
      else if (f.lastModified >= sinceMs) 1L else 0L
    }.sum).getOrElse(0L)
}
