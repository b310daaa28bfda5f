package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import graft.core.Sig
import graft.ops.Ops
import org.apache.spark.sql.DataFrame

/** Tests of the benchmark itself (not of the engine):
  *
  *   python3 perfbench/run.py --selftest
  *
  * Prints one line per test and exits non-zero if any fails. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") } catch {
      case e: Throwable => failures += 1; println(s"FAIL $name: ${e.getMessage}")
    }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = new File(opts("--work"))
    val bench = opts("--bench")

    test("percentile rule: highest percentile with >= 10 samples beyond it") {
      val cases = Seq(19 -> None, 20 -> None, 40 -> Some(75.0), 99 -> Some(75.0),
        100 -> Some(90.0), 199 -> Some(90.0), 200 -> Some(95.0), 1000 -> Some(99.0),
        10000 -> Some(99.9))
      cases.foreach { case (n, want) =>
        expect(Stats.tailPercentile(n) == want, s"n=$n gave ${Stats.tailPercentile(n)}, want $want")
      }
      expect(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5, "median of 1..4 != 2.5")
    }

    test("metric names, units and workloads match BENCHMARK.json") {
      val b = Main.json.readTree(new File(bench))
      def pairs(k: String) = b.get(k).elements.asScala
        .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
      expect(pairs("end_to_end") == Metrics.EndToEnd,
        s"end_to_end ${pairs("end_to_end")} != emitted ${Metrics.EndToEnd}")
      expect(pairs("per_layer") == Metrics.PerLayer,
        s"per_layer ${pairs("per_layer")} != emitted ${Metrics.PerLayer}")
      val wls = b.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
      expect(wls == Workload.Names, s"workloads $wls != ${Workload.Names}")
    }

    test("span self time subtracts the union of child intervals") {
      expect(Recorder.covered(Seq((0.0, 4.0), (2.0, 6.0), (8.0, 9.0)), 1.0, 8.5) == 5.5,
        "covered length of [1,8.5] != 5.5")
      val spans = Seq(Span(0, 1, 0, "call", 0, 10), Span(0, 2, 1, "exec", 1, 9),
        Span(0, 3, 2, "job", 2, 5), Span(0, 4, 2, "job", 4, 7))
      val self = Recorder.selfTimes(spans)
      expect(self == Map("call" -> 0.002, "exec" -> 0.003, "job" -> 0.006),
        s"self times $self")
    }

    val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
    val cores = spark.sparkContext.defaultParallelism
    def frame(seed: Long, stream: Int, n: Int) =
      Gen.frame(spark, Gen.rows(seed, stream, if (stream == 1) Gen.shapeA(n) else Gen.shapeB(n)), cores)

    test("same seed gives identical inputs and rows+sig; another seed differs") {
      expect(Gen.rows(7, 1, Gen.shapeA(2000)).toSeq == Gen.rows(7, 1, Gen.shapeA(2000)).toSeq,
        "seed 7 generated two different A relations")
      expect(Gen.rows(7, 1, Gen.shapeA(2000)).toSeq != Gen.rows(8, 1, Gen.shapeA(2000)).toSeq,
        "seeds 7 and 8 generated the same A relation")
      def joined(seed: Long) = Sig.sink(Ops.overlap(frame(seed, 1, 4000), frame(seed, 2, 400), how = "inner"))
      expect(joined(7) == joined(7), "seed 7 joined to two different rows+sig")
      expect(joined(7) != joined(8), "seeds 7 and 8 joined to the same rows+sig")
    }

    test("the benchmark's sink takes the same rows+sig as graft.core.Sig.sink") {
      val df = Ops.overlap(frame(3, 1, 4000), frame(3, 2, 400), how = "left")
      val o = SinkFrame.read(SinkFrame(df, Seq(Workload.span)).collect()(0), 1)
      expect((o.rows, o.sig) == Sig.sink(df), s"${(o.rows, o.sig)} != ${Sig.sink(df)}")
    }

    // One real round per workload on the default seed: it must pass every
    // check, and the same round with one output row dropped must not.
    Workload.Names.foreach { name =>
      val dir = new File(work, name)
      val wl = Workload(name, spark, Main.DefaultSeed, dir)
      val runner = new Runner(spark, dir)
      wl.load()
      val victim = if (name == "genome_join") "overlap_inner" else "sweep"
      def dropOne(df: DataFrame): DataFrame = {
        val n = df.count()
        df.limit((n - 1).toInt)
      }
      def runRound(drop: Boolean) = wl.round(0).map { c =>
        val steps = if (drop && c.kind == victim) c.steps.map {
          case s: Sink if s.name != "merge" => s.copy(build = () => dropOne(s.build()))
          case s => s
        } else c.steps
        runner.run(c.copy(steps = steps), 0, NoTrace)
      }
      test(s"$name: a default-seed round passes its invariants and pins") {
        val done = runRound(drop = false)
        expect(done.forall(_.ok), s"errors ${done.flatMap(_.error)}")
        val fails = wl.check(done)
        expect(fails.isEmpty, s"invariants flagged $fails")
        val pins = Main.json.readTree(new File(opts("--pins"))).get(name)
        done.foreach(d => d.outs.foreach { case (s, x) =>
          Option(pins.get(s"${d.call.kind}.$s")).foreach { p =>
            expect((p.get(0).asLong, p.get(1).asLong) == (x.rows, x.sig), s"${d.call.kind}.$s differs from its pin")
          }
        })
      }
      test(s"$name: the invariant checker flags one dropped row of $victim") {
        val done = runRound(drop = true)
        val bad = done.filter(_.call.kind == victim).map(_.index).toSet
        val flagged = wl.check(done).map(_._1).toSet
        expect(bad.nonEmpty && bad.subsetOf(flagged), s"flagged calls $flagged, expected $bad")
      }
      runner.close()
    }
    spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
