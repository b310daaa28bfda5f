package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Stage-level profiler for one or more declared queries: runs each query
  * through the bench sink and prints per-stage wall/executor time sorted
  * descending, so optimization targets the measured hot stage instead of
  * a guess (optimization guide §1.1/§7.1 — no UI in this sandbox, so the
  * listener substitutes for the stage page). Dev tool; not part of the
  * driver contract. */
object Probe {
  /** Mirrored A/B arm for 1-based `rep`: AB|BA|AB|BA… per rep pair, so
    * neither arm systematically runs later (warmer) within a pair — the
    * exact late-arm JIT bias that produced the r15 Change-3 false win
    * (VERDICT r15 #3). Pure for ProbeSpec. */
  def armIsA(rep: Int): Boolean = {
    val pair = (rep - 1) / 2
    val firstOfPair = (rep - 1) % 2 == 0
    if (pair % 2 == 0) firstOfPair else !firstOfPair
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val abMode = sys.env.contains("SPARK_GRAFT_PROBE_AB")
    // A/B stats only record reps > 2, so the old default of 2 produced a
    // silently empty A/B summary (ADVICE r15); in A/B mode default to 8
    // (3 warm samples per arm) and refuse fewer than 4; an odd count is
    // rounded up so the mirrored arms get equal cold and warm samples.
    val reps0 = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.toInt)
      .getOrElse(if (abMode) 8 else 2)
    val reps = if (!abMode) reps0 else {
      val even = math.max(4, reps0 + (reps0 & 1))
      if (even != reps0) System.err.println(
        s"[probe] A/B mode needs an even count >=4 of reps (got $reps0); using $even")
      even
    }
    val b0 = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
    // extra confs: SPARK_GRAFT_PROBE_CONF="k=v;k2=v2"
    val b1 = sys.env.get("SPARK_GRAFT_PROBE_CONF").map(_.split(';').toSeq)
      .getOrElse(Nil).filter(_.contains("=")).foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val spark = graft.core.Scratch.tune(b1).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(name: String, wallMs: Long, execMs: Long, cpuMs: Long,
                  tasks: Int, shufReadMB: Double, shufWriteMB: Double,
                  inputMB: Double, outMB: Double, gapMs: Long)
    // appended from the listener-bus thread, read/cleared from main: keep
    // every access inside stages.synchronized (ADVICE r15)
    val stages = mutable.ArrayBuffer[St]()
    @volatile var lastStageEnd = 0L
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        // driver gap: time between the previous stage's completion and
        // this stage's submission — where planning/commit/catalog time
        // hides when sum(stage walls) << query total. A zero lastStageEnd
        // (first stage of a rep) carries no baseline: gap 0, not
        // epoch-millis garbage (ADVICE r15).
        val gap = si.submissionTime
          .map(s => if (lastStageEnd == 0L) 0L else math.max(0L, s - lastStageEnd))
          .getOrElse(0L)
        lastStageEnd = math.max(lastStageEnd,
          si.completionTime.getOrElse(lastStageEnd))
        val m = si.taskMetrics
        stages.synchronized { stages += St(si.name.takeWhile(_ != '\n').take(90), wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6,
          m.outputMetrics.bytesWritten / 1e6,
          gap) }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // A/B mode: SPARK_GRAFT_PROBE_AB="key=valA|valB" alternates a runtime
    // conf per rep in MIRRORED pair order (AB|BA|AB…, see [[armIsA]]) so
    // weather hits both arms equally AND neither arm systematically runs
    // later/warmer within a pair
    val ab = sys.env.get("SPARK_GRAFT_PROBE_AB").map { s =>
      val Array(k, vs) = s.split("=", 2); val Array(va, vb) = vs.split('|')
      (k, va, vb)
    }
    val armTimes = mutable.Map[(String, String), mutable.ArrayBuffer[Double]]()
    for (name <- args; rep <- 1 to reps) {
      val arm = ab.map { case (k, va, vb) =>
        val v = if (armIsA(rep)) va else vb
        spark.conf.set(k, v); v
      }.getOrElse("-")
      stages.synchronized { stages.clear() }
      lastStageEnd = 0L // per-rep baseline: first stage's gap reads 0
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val (n, sig) = graft.core.Sig.sink(df)
      val dt = (System.nanoTime() - t0) / 1e9
      if (rep > 2) // skip cold JIT reps in arm stats
        armTimes.getOrElseUpdate((name, arm), mutable.ArrayBuffer()) += dt
      // let listener events drain
      Thread.sleep(300)
      val snap = stages.synchronized { stages.toVector }
      println(f"%n==== $name rep$rep arm=$arm: total=$dt%.2fs (build=$tBuild%.2fs) rows=$n sig=$sig%016x  stages=${snap.size} sumWall=${snap.map(_.wallMs).sum / 1000.0}%.2fs sumGap=${snap.map(_.gapMs).sum / 1000.0}%.2fs ====")
      if (ab.isEmpty) snap.sortBy(s => -(s.wallMs + s.gapMs)).take(18).foreach { s =>
        println(f"  wall=${s.wallMs / 1000.0}%6.2fs gap=${s.gapMs / 1000.0}%6.2fs exec=${s.execMs / 1000.0}%7.2fs cpu=${s.cpuMs / 1000.0}%7.2fs tasks=${s.tasks}%3d in=${s.inputMB}%7.1fMB sr=${s.shufReadMB}%7.1fMB sw=${s.shufWriteMB}%7.1fMB out=${s.outMB}%7.1fMB  ${s.name}")
      }
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => () }
    }
    if (armTimes.nonEmpty) {
      println("\n==== A/B summary (reps 3+) ====")
      armTimes.toSeq.sortBy(_._1).foreach { case ((name, arm), ts) =>
        val s = ts.sorted
        println(f"$name%-26s arm=$arm%-8s n=${s.size} min=${s.head}%.2f med=${s(s.size / 2)}%.2f  all=${s.map(t => f"$t%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
