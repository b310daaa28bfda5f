package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.core.{ColSpec, Sig}
import graft.io.Tables
import graft.ops.{BucketedJoin, Closest, Ops}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A workload: inputs made from the seed at set-up, the calls of one
  * round, and the checks of what the calls returned. */
trait Workload {
  /** Generate the inputs and store them where the calls read them. */
  def load(): Unit
  def round(r: Int): Seq[Call]
  /** About how long one round takes on 4 cores; a run measures
    * `seconds / roundSeconds` rounds (at least one), a fixed amount of
    * work, so faster code does not get more — and warmer — rounds. */
  def roundSeconds: Double
  /** Invariant violations as (call index, message); runs untimed after
    * the timed loop and may run engine calls of its own. */
  def check(done: Seq[Done]): Seq[(Int, String)]
  /** Bytes the workload's storage steps wrote per BED byte of their input. */
  def bytesStoredRatio: Double
  /** Input row counts and BED-text bytes, for the environment record. */
  def inputs: Map[String, Long]
}

object Workload {
  val Names = Seq("genome_join", "bed_ingest")

  def apply(name: String, spark: SparkSession, seed: Long, dir: File): Workload = name match {
    case "genome_join" => new GenomeJoin(spark, seed, dir)
    case "bed_ingest" => new BedIngest(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Inputs are 1/20 of the 1M x 100k starting size, keeping A:B = 10:1,
    * so one round fits the run length on a 4-core machine. */
  val NA = 50000
  val NB = 5000

  private[perfbench] def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  private[perfbench] def bedBytes(rs: Array[Row]): Long =
    Gen.bedText(rs).getBytes(UTF_8).length.toLong

  private[perfbench] def lens(rs: Array[Row]): Long =
    rs.map(r => r.getLong(2) - r.getLong(1)).sum

  private[perfbench] def chromsOf(rs: Array[Row]): Set[String] = rs.map(_.getString(0)).toSet

  def partnered: Column = when(col("chrom_").isNotNull, 1).otherwise(0)
  def span: Column = col("end") - col("start")

  /** The six batch-annotation calls over relations `a` and `b`. */
  def joinCalls(a: () => DataFrame, b: () => DataFrame, rows: Long): Seq[Call] = Seq(
    Call("overlap_inner", rows,
      Seq(Sink("out", () => Ops.overlap(a(), b(), how = "inner")))),
    Call("overlap_left", rows,
      Seq(Sink("out", () => Ops.overlap(a(), b(), how = "left")))),
    Call("count_overlaps", rows,
      Seq(Sink("out", () => Ops.countOverlaps(a(), b()),
        Seq(col("count"), when(col("count") === 0, 1).otherwise(0))))),
    Call("coverage", rows,
      Seq(Sink("out", () => Ops.coverage(a(), b()),
        Seq(col("coverage"), when(col("coverage") < 0 || col("coverage") > span, 1).otherwise(0))))),
    Call("closest", rows,
      Seq(Sink("out", () => Closest.closest(a(), Some(b())), Seq(partnered)))),
    Call("subtract", rows,
      Seq(Sink("out", () => Ops.subtract(a(), b()), Seq(span)))))
}

import Workload._

/** Batch annotation of an unsorted A against a heavy-tailed B. */
final class GenomeJoin(spark: SparkSession, seed: Long, dir: File) extends Workload {
  val roundSeconds = 15.0
  private lazy val ra = Gen.rows(seed, 1, Gen.shapeA(NA))
  private lazy val rb = Gen.rows(seed, 2, Gen.shapeB(NB))
  private val pa = new File(dir, "a.parquet").getPath
  private val pb = new File(dir, "b.parquet").getPath
  private val cores = spark.sparkContext.defaultParallelism

  // plain parquet in generation order: the engine sees unsorted input
  def load(): Unit = {
    Gen.frame(spark, ra, cores).write.mode("overwrite").parquet(pa)
    Gen.frame(spark, rb, cores).write.mode("overwrite").parquet(pb)
  }

  def round(r: Int): Seq[Call] =
    joinCalls(() => spark.read.parquet(pa), () => spark.read.parquet(pb), NA + NB)

  def check(done: Seq[Done]): Seq[(Int, String)] = {
    val onB = chromsOf(rb)
    val aOnB = ra.count(r => onB.contains(r.getString(0))).toLong
    val lenA = BigInt(lens(ra))
    done.filter(_.ok).groupBy(_.round).values.toSeq.flatMap { rd =>
      val by = rd.map(d => d.call.kind -> d).toMap
      def o(k: String) = by.get(k).map(_.out("out"))
      def idx(ks: String*) = ks.flatMap(by.get).map(_.index)
      val fails = Seq.newBuilder[(Seq[Int], String)]
      for (c <- o("count_overlaps"); i <- o("overlap_inner")) {
        if (c.rows != NA) fails += idx("count_overlaps") -> s"count_overlaps rows ${c.rows} != |A| $NA"
        if (c.extras(0) != i.rows)
          fails += idx("count_overlaps", "overlap_inner") -> s"sum(count) ${c.extras(0)} != inner rows ${i.rows}"
        for (l <- o("overlap_left"); if BigInt(l.rows) != i.rows + c.extras(1))
          fails += idx("overlap_left") -> s"left rows ${l.rows} != inner ${i.rows} + unmatched ${c.extras(1)}"
      }
      for (c <- o("closest")) {
        if (c.rows != NA) fails += idx("closest") -> s"closest rows ${c.rows} != |A| $NA"
        if (c.extras(0) != aOnB)
          fails += idx("closest") -> s"closest partnered rows ${c.extras(0)} != A rows on B's chromosomes $aOnB"
      }
      for (v <- o("coverage")) {
        if (v.rows != NA || v.extras(1) != 0)
          fails += idx("coverage") -> s"coverage rows ${v.rows}, out-of-range values ${v.extras(1)}"
        for (s <- o("subtract"); if s.extras(0) + v.extras(0) != lenA)
          fails += idx("subtract", "coverage") ->
            s"subtracted bp ${s.extras(0)} + covered bp ${v.extras(0)} != A bp $lenA"
      }
      fails.result().flatMap { case (is, m) => is.map(_ -> m) }
    }
  }

  lazy val bytesStoredRatio: Double =
    (dirBytes(new File(pa)) + dirBytes(new File(pb))).toDouble / (bedBytes(ra) + bedBytes(rb))

  def inputs: Map[String, Long] = Map("a_rows" -> NA.toLong, "b_rows" -> NB.toLong,
    "a_bed_bytes" -> bedBytes(ra), "b_bed_bytes" -> bedBytes(rb))
}

/** The write side: position-sorted BED6 text in, parsed, validated,
  * swept, stored three ways, and joined back through the bin index. */
final class BedIngest(spark: SparkSession, seed: Long, dir: File) extends Workload {
  val roundSeconds = 10.0
  private lazy val ra = Gen.sorted(Gen.rows(seed, 1, Gen.shapeA(NA)))
  private lazy val rb = Gen.sorted(Gen.rows(seed, 2, Gen.shapeB(NB)))
  private val out = new File(dir, "out")
  private def p(parent: File, n: String) = new File(parent, n).getPath

  def load(): Unit = {
    dir.mkdirs()
    Files.write(Paths.get(p(dir, "a.bed")), Gen.bedText(ra).getBytes(UTF_8))
    Files.write(Paths.get(p(dir, "b.bed")), Gen.bedText(rb).getBytes(UTF_8))
  }

  def round(r: Int): Seq[Call] = {
    def a() = Tables.readTable(spark, p(dir, "a.bed"), "bed6")
    def b() = Tables.readTable(spark, p(dir, "b.bed"), "bed6")
    val c2 = ColSpec.default.withSuffix("_")
    Seq(
      Call("parse_validate", NA + NB, Seq(Effect("out", () =>
        Seq(Tables.validateBed(a(), "bed6").map(_._2).sum,
          Tables.validateBed(b(), "bed6").map(_._2).sum)))),
      Call("sweep", 3 * NA, Seq(
        Sink("merge", () => Ops.merge(a()),
          Seq(col("n_intervals"), span, when(col("start") === 0, 1).otherwise(0))),
        Sink("cluster", () => Ops.cluster(a())),
        Sink("complement", () => Ops.complement(a()), Seq(span)))),
      Call("write", 3 * (NA + NB), Seq(Effect("out", () => {
        Tables.writeChromPartitioned(a(), p(out, "a.store"))
        Tables.writeChromPartitioned(b(), p(out, "b.store"))
        Tables.toBed(a(), p(out, "a.bed"))
        Tables.toBed(b(), p(out, "b.bed"))
        BucketedJoin.writeBinIndex(a(), "bins_a", p(out, "a.bins"))
        BucketedJoin.writeBinIndex(ColSpec.suffixAll(b(), "_"), "bins_b",
          p(out, "b.bins"), c2, binColName = "__bin_")
        Nil
      }))),
      Call("bucketed_join", NA + NB, Seq(Sink("out", () =>
        BucketedJoin.pairsFromBinIndex(spark.table("bins_a"),
          spark.table("bins_b"), ColSpec.default, c2, rightBin = "__bin_")))))
  }

  def check(done: Seq[Done]): Seq[(Int, String)] = {
    val fails = Seq.newBuilder[(Int, String)]
    def failKind(kind: String, m: String): Unit =
      done.filter(_.call.kind == kind).foreach(d => fails += d.index -> m)
    def sig(df: DataFrame) = Sig.sink(df.select(Gen.bed6.fieldNames.toIndexedSeq.map(col): _*))
    val cores = spark.sparkContext.defaultParallelism
    val wantA = Sig.sink(Gen.frame(spark, ra, cores))
    val wantB = Sig.sink(Gen.frame(spark, rb, cores))
    val readA = Tables.readTable(spark, p(dir, "a.bed"), "bed6")
    val readB = Tables.readTable(spark, p(dir, "b.bed"), "bed6")
    if (Sig.sink(readA) != wantA || Sig.sink(readB) != wantB)
      failKind("parse_validate", "parsed BED rows+sig differ from the generated rows")
    // what the last write left behind must read back as the input
    if (done.exists(d => d.call.kind == "write" && d.ok)) {
      val back = Seq(
        "a.store" -> (sig(spark.read.parquet(p(out, "a.store"))), wantA),
        "b.store" -> (sig(spark.read.parquet(p(out, "b.store"))), wantB),
        "a.bed" -> (sig(Tables.readTable(spark, p(out, "a.bed"), "bed6")), wantA),
        "b.bed" -> (sig(Tables.readTable(spark, p(out, "b.bed"), "bed6")), wantB))
      back.collect { case (f, (got, want)) if got != want => f }.foreach(f =>
        failKind("write", s"$f reads back with rows+sig different from its input"))
    }
    val inner = Sig.sink(Ops.overlap(readA, readB, how = "inner"))
    val nChrom = BigInt(chromsOf(ra).size)
    done.filter(_.ok).foreach { d =>
      def bad(m: String): Unit = fails += d.index -> m
      d.call.kind match {
        case "parse_validate" =>
          if (d.out("out").extras.exists(_ != 0)) bad(s"validateBed violations ${d.out("out").extras}")
        case "sweep" =>
          val m = d.out("merge"); val c = d.out("cluster"); val g = d.out("complement")
          if (m.extras(0) != NA) bad(s"sum(n_intervals) ${m.extras(0)} != |A| $NA")
          if (c.rows != NA) bad(s"cluster rows ${c.rows} != |A| $NA")
          // merged runs and complement gaps tile [0, Long.MaxValue) per chromosome
          if (m.extras(1) + g.extras(0) != nChrom * Long.MaxValue ||
              BigInt(g.rows) != m.rows + nChrom - m.extras(2))
            bad(s"merge (${m.rows} runs) and complement (${g.rows} gaps) do not tile $nChrom chromosomes")
        case "bucketed_join" =>
          val o = d.out("out")
          if ((o.rows, o.sig) != inner) bad(s"bucketed pairs ${o.rows}/${o.sig} != inner overlap $inner")
        case _ =>
      }
    }
    fails.result()
  }

  /** Stored bytes of one round's writes per BED byte read. */
  lazy val bytesStoredRatio: Double =
    dirBytes(out).toDouble / (bedBytes(ra) + bedBytes(rb))

  def inputs: Map[String, Long] = Map("a_rows" -> NA.toLong, "b_rows" -> NB.toLong,
    "a_bed_bytes" -> bedBytes(ra), "b_bed_bytes" -> bedBytes(rb))
}
