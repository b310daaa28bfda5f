package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded genome-shaped inputs. Everything the engine sees is derived
  * from the seed here; the same seed gives byte-identical relations.
  *
  * Positions are uniform over the hg38 primary chromosomes weighted by
  * length (the packaged seqinfo table), so chr1 carries ~8% of the rows
  * and chrY ~1.9% — the real per-chromosome skew the engine partitions
  * by. Lengths are log-normal and capped: A is short reads/peaks, B is a
  * feature table whose heavy tail reaches megabases.
  */
object Gen {

  final case class Chrom(name: String, length: Long)

  /** chr1..chr22, chrX, chrY from the packaged hg38 seqinfo table. */
  lazy val hg38: IndexedSeq[Chrom] = {
    val in = getClass.getResourceAsStream("/graft/assemblies/hg38.seqinfo.tsv")
    require(in != null, "hg38.seqinfo.tsv resource missing from the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().drop(1).map(_.split('\t'))
      .filter(f => f(2) == "assembled" && f(4) == "primary" && f(0) == f(3))
      .map(f => Chrom(f(0), f(1).toLong)).toIndexedSeq
    finally src.close()
  }

  final case class Shape(n: Int, medianLen: Double, sigma: Double, capLen: Long,
                         prefix: String)

  /** A: short intervals (median 500 bp, cap 5 kb). */
  def shapeA(n: Int): Shape = Shape(n, 500.0, 1.0, 5000L, "a")
  /** B: features (median 20 kb, sigma 1.5, cap 2 Mb — a heavy tail). */
  def shapeB(n: Int): Shape = Shape(n, 20000.0, 1.5, 2000000L, "b")

  val bed6: StructType = StructType(Seq(
    StructField("chrom", StringType), StructField("start", LongType),
    StructField("end", LongType), StructField("name", StringType),
    StructField("score", StringType), StructField("strand", StringType)))

  /** Rows of one relation in generation (unsorted) order. `stream` keeps
    * A and B independent under one seed. */
  def rows(seed: Long, stream: Int, s: Shape): Array[Row] = {
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    val chroms = hg38
    val cum = chroms.scanLeft(0L)(_ + _.length).tail.toArray
    val total = cum.last
    val mu = math.log(s.medianLen)
    Array.tabulate(s.n) { i =>
      val pos = rnd.nextLong(total)
      var c = java.util.Arrays.binarySearch(cum, pos)
      c = if (c < 0) -c - 1 else c + 1
      val chrom = chroms(c)
      val len = math.min(s.capLen, math.max(1L,
        math.round(math.exp(mu + s.sigma * gaussian(rnd)))))
      val start = rnd.nextLong(math.max(1L, chrom.length - len))
      Row(chrom.name, start, start + len, s"${s.prefix}$i",
        rnd.nextInt(1001).toString, if (rnd.nextBoolean()) "+" else "-")
    }
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (SplittableRandom has no gaussian)
    val u1 = 1.0 - rnd.nextDouble()
    val u2 = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def frame(spark: SparkSession, rs: Array[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.toSeq, slices), bed6)

  /** Position order (chrom name, start, end), as real BED files ship. */
  def sorted(rs: Array[Row]): Array[Row] =
    rs.sortBy(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** BED6 text of `rs`, one line per row. */
  def bedText(rs: Array[Row]): String = {
    val sb = new StringBuilder(rs.length * 40)
    rs.foreach { r =>
      sb.append(r.getString(0)).append('\t').append(r.getLong(1)).append('\t')
        .append(r.getLong(2)).append('\t').append(r.getString(3)).append('\t')
        .append(r.getString(4)).append('\t').append(r.getString(5)).append('\n')
    }
    sb.toString
  }
}
