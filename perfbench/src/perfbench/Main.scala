package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's metric names and units, in BENCHMARK.json's order. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "call_geomean_s" -> "s",
    "bytes_stored_ratio" -> "ratio")

  /** Call kinds whose median wall the traced run reports as `<kind>_s`. */
  val Kinds: Seq[String] = Seq("overlap_inner", "overlap_left", "count_overlaps",
    "coverage", "closest", "subtract", "parse_validate", "sweep", "write",
    "bucketed_join")

  /** Layer metrics combined over calls by max instead of sum. */
  val Maxed: Set[String] = Set("exec.skew", "exec.peak_mem_mb")

  val Layers: Seq[(String, String)] = Seq(
    "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
    "plans.exchanges" -> "count",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.driver_gap_s" -> "s", "exec.cpu_s" -> "s", "exec.run_s" -> "s",
    "exec.idle_core_s" -> "s", "exec.skew" -> "ratio", "exec.peak_mem_mb" -> "MB",
    "exec.failed_tasks" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.records" -> "count",
    "spill.disk_mb" -> "MB",
    "join.candidates" -> "count", "join.emitted" -> "count", "join.useful_ratio" -> "ratio",
    "io.read_mb" -> "MB", "io.write_mb" -> "MB", "io.files_written" -> "count",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s")

  val PerLayer: Seq[(String, String)] = Layers ++
    Seq("failed_frac" -> "ratio", "trace.overhead_s" -> "s") ++ Kinds.map(k => s"${k}_s" -> "s")

  /** Per-layer totals of a workload: sums, except [[Maxed]] and the
    * join ratio, which is recomputed from the summed counts. */
  def combine(records: Seq[Map[String, Double]]): Map[String, Double] = {
    val m = Layers.map(_._1).filter(_ != "join.useful_ratio").map { k =>
      val vs = records.flatMap(_.get(k))
      k -> (if (Maxed(k)) (0.0 +: vs).max else vs.sum)
    }.toMap
    val cand = m("join.candidates")
    m + ("join.useful_ratio" -> (if (cand > 0) m("join.emitted") / cand else 0.0))
  }
}

final case class Opts(workload: String = "", seed: Long = Main.DefaultSeed, seconds: Int = 10,
                      trace: Boolean = false, work: String = "", out: String = "",
                      pins: String = "", recordPins: Boolean = false,
                      commit: String = "", digest: String = "", train: Boolean = false,
                      dump: String = "")

object Main {
  val DefaultSeed = 1L

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(args: Seq[String], o: Opts = Opts()): Opts = args match {
    case Seq() => o
    case "--workload" +: v +: t => parse(t, o.copy(workload = v))
    case "--seed" +: v +: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" +: v +: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" +: v +: t => parse(t, o.copy(trace = v == "1"))
    case "--work" +: v +: t => parse(t, o.copy(work = v))
    case "--out" +: v +: t => parse(t, o.copy(out = v))
    case "--pins" +: v +: t => parse(t, o.copy(pins = v))
    case "--record-pins" +: t => parse(t, o.copy(recordPins = true))
    case "--commit" +: v +: t => parse(t, o.copy(commit = v))
    case "--digest" +: v +: t => parse(t, o.copy(digest = v))
    case "--train" +: t => parse(t, o.copy(train = true))
    case "--dump" +: v +: t => parse(t, o.copy(dump = v))
    case a +: _ => throw new IllegalArgumentException(s"unknown argument $a")
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def log(m: String): Unit = { println(s"[perfbench] $m"); System.out.flush() }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    if (o.train) { train(new File(o.work)); System.exit(0) }
    if (o.dump.nonEmpty) { dump(new File(o.work), new File(o.dump)); System.exit(0) }
    require(Workload.Names.contains(o.workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    require(o.seconds >= 1 && o.work.nonEmpty && o.out.nonEmpty && o.pins.nonEmpty,
      "--seconds >= 1, --work, --out and --pins are required")
    val code = try run(o) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(o.work)
    val spark = session(cores, work)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val data = new File(work, o.workload)
    val wl = Workload(o.workload, spark, o.seed, data)

    val runner = new Runner(spark, data)

    val loadS = (1 to 3).map { _ => timed(wl.load()) }
    // warm-up: one untimed round on the real inputs, so JIT and codegen
    // caches are filled before timing
    val warmS = timed(wl.round(-1).foreach(c => runner.run(c, -1, NoTrace).error.foreach(e =>
      log(s"warm-up ${c.kind} failed: $e"))))
    val setupS = sessionS + Stats.median(loadS) + warmS
    log(f"setup ${setupS}%.3fs (session $sessionS%.3f, loads ${loadS.map(x => f"$x%.3f").mkString("/")}, warm-up $warmS%.3f)")

    // Timed loop: a fixed number of whole rounds. A traced run alternates
    // untraced and traced rounds, starting and ending untraced, so a
    // warming trend cancels out of its overhead (traced - untraced).
    val recorder = if (o.trace) Some(new Recorder(spark, cores)) else None
    val n = math.max(1L, math.round(o.seconds / wl.roundSeconds)).toInt
    val done = mutable.ArrayBuffer[Done]()
    val rounds = mutable.ArrayBuffer[(Boolean, Double)]()
    val t0 = System.nanoTime()
    (0 until (if (o.trace) 2 * n + 1 else n)).foreach { r =>
      val traced = recorder.isDefined && r % 2 == 1
      recorder.filter(_ => traced).foreach(_.attach())
      val rs = System.nanoTime()
      wl.round(r).foreach(c => done += runner.run(c, r, if (traced) recorder.get else NoTrace))
      recorder.filter(_ => traced).foreach(_.detach())
      rounds += traced -> (System.nanoTime() - rs) / 1e9
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    log(f"timed ${done.size} calls in ${rounds.size} rounds, $timedS%.3fs")

    // Correctness: errors, invariants on every seed, pinned rows+sig on
    // the default seed.
    val failures = mutable.LinkedHashMap[Int, String]()
    done.foreach(d => d.error.foreach(e => failures.getOrElseUpdate(d.index, e)))
    wl.check(done.toSeq).foreach { case (i, m) => failures.getOrElseUpdate(i, m) }
    // effects return counts, not rows+sig: only sinks are pinned
    def sinks(d: Done) = d.outs.filter { case (s, _) =>
      d.call.steps.exists(st => st.name == s && st.isInstanceOf[Sink]) }
    val observed = done.filter(_.ok).flatMap(d =>
      sinks(d).map { case (s, x) => s"${d.call.kind}.$s" -> Seq(x.rows, x.sig) }).toMap
    if (o.seed == DefaultSeed && !o.recordPins) {
      val pins = Option(json.readTree(new File(o.pins)).get(o.workload))
      done.filter(_.ok).foreach { d =>
        sinks(d).foreach { case (s, x) =>
          val key = s"${d.call.kind}.$s"
          pins.flatMap(p => Option(p.get(key))).map(n => (n.get(0).asLong, n.get(1).asLong)) match {
            case None => failures.getOrElseUpdate(d.index, s"no pinned rows+sig for $key")
            case Some(p) if p != (x.rows, x.sig) =>
              failures.getOrElseUpdate(d.index, s"$key rows+sig ${x.rows}/${x.sig} != pinned ${p._1}/${p._2}")
            case _ =>
          }
        }
      }
    }
    failures.foreach { case (i, m) => log(s"FAILED call $i (${done(i - done.head.index).call.kind}): $m") }

    val untraced = done.filterNot(_.traced)
    val walls = untraced.map(_.wallS).toSeq
    val byKind = Metrics.Kinds.map(k => k -> untraced.filter(_.call.kind == k).map(_.wallS).toSeq).toMap
    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        Seq(
          ("setup_s", "s", setupS),
          ("rows_per_s", "rows/s", untraced.map(_.call.inputRows).sum / walls.sum),
          ("call_geomean_s", "s", Stats.geomean(walls)),
          ("bytes_stored_ratio", "ratio", wl.bytesStoredRatio))
      } else {
        val layers = Metrics.combine(done.filter(_.traced).map(_.layers).toSeq)
        def med(traced: Boolean) = Stats.median(rounds.filter(_._1 == traced).map(_._2).toSeq)
        val extra = Map(
          "failed_frac" -> failures.size.toDouble / done.size,
          "trace.overhead_s" -> (med(true) - med(false))) ++
          byKind.map { case (k, ws) => s"${k}_s" -> (if (ws.isEmpty) 0.0 else Stats.median(ws)) }
        Metrics.PerLayer.map { case (n, u) => (n, u, layers.getOrElse(n, extra(n))) }
      }
    val metricsJson = metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val env = Map(
      "nproc" -> cores, "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "workload" -> o.workload, "seed" -> o.seed, "run_seconds" -> o.seconds,
      "inputs" -> wl.inputs, "commit" -> o.commit, "source_digest" -> o.digest)
    val tail = Stats.tailPercentile(walls.size).map(p =>
      Map("percentile" -> p, "s" -> Stats.percentile(walls, p)))
    val result = mutable.LinkedHashMap[String, Any](
      "env" -> env,
      "correct" -> failures.isEmpty, "attempted" -> done.size, "failed" -> failures.size,
      "metrics" -> metricsJson,
      "setup" -> Map("session_s" -> sessionS, "load_s" -> loadS, "warmup_s" -> warmS),
      "timed_s" -> timedS, "rounds" -> rounds.map { case (t, w) => Map("traced" -> t, "wall_s" -> w) },
      "call_latency" -> Map("n" -> walls.size, "p50_s" -> Stats.median(walls), "tail" -> tail),
      "kinds" -> byKind.filter(_._2.nonEmpty).map { case (k, ws) =>
        k -> Map("n" -> ws.size, "median_s" -> Stats.median(ws)) },
      "failures" -> failures.map { case (i, m) => Map("call" -> i, "message" -> m) },
      "calls" -> done.map(d => Map("call" -> d.index, "round" -> d.round,
        "kind" -> d.call.kind, "traced" -> d.traced, "wall_s" -> d.wallS,
        "input_rows" -> d.call.inputRows,
        "outs" -> d.outs.map { case (s, x) => s -> Map("rows" -> x.rows, "sig" -> x.sig) },
        "layers" -> d.layers)))
    if (o.recordPins) result("observed_pins") = observed
    recorder.foreach { rec =>
      result("spans") = rec.spans.map(s => Map("call" -> s.call, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      result("self_s") = Recorder.selfTimes(rec.spans.toSeq)
    }
    val outDir = new File(o.out)
    outDir.mkdirs()
    val file = new File(outDir, s"${o.workload}-s${o.seed}-trace${if (o.trace) 1 else 0}.json")
    json.writerWithDefaultPrettyPrinter().writeValue(file, result)
    log(s"result written to ${file.getPath}")

    spark.stop()
    runner.close()
    println(json.writeValueAsString(Map(
      "correct" -> failures.isEmpty, "attempted" -> done.size, "failed" -> failures.size,
      "metrics" -> metricsJson)))
    0
  }

  /** Small default-seed inputs and every sink's output as parquet, for
    * the DuckDB comparison in perfbench/oracle.py. */
  def dump(work: File, out: File): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    val cores = spark.sparkContext.defaultParallelism
    val a = Gen.frame(spark, Gen.rows(DefaultSeed, 1, Gen.shapeA(20000)), cores)
    val b = Gen.frame(spark, Gen.rows(DefaultSeed, 2, Gen.shapeB(2000)), cores)
    def write(df: org.apache.spark.sql.DataFrame, n: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(new File(out, s"$n.parquet").getPath)
    write(a, "a")
    write(b, "b")
    Workload.joinCalls(() => a, () => b, 0).foreach(c => c.steps.foreach {
      case s: Sink => write(s.build(), c.kind)
      case _ =>
    })
    write(graft.ops.Ops.merge(a), "merge")
    write(graft.ops.Ops.cluster(a), "cluster")
    write(graft.ops.Ops.complement(a), "complement")
    spark.stop()
  }

  /** Load and warm up every workload once, untimed: the build runs this
    * to record the classes a run loads in a class-data-sharing archive. */
  def train(work: File): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    Workload.Names.foreach { n =>
      val wl = Workload(n, spark, DefaultSeed, new File(work, n))
      wl.load()
      wl.round(-1).foreach(c => try c.steps.foreach(Runner.step(_, NoTrace)) catch {
        case e: Throwable => log(s"training ${c.kind} failed: ${e.getMessage}")
      })
    }
    spark.stop()
  }

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
