package graft

import graft.core.ColSpec
import graft.ops.{BucketedJoin, IntervalJoin, Ops}
import graft.plans.IntervalJoinRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Every implementation of the interval join must produce the SAME pair
  * multiset as a driver-side brute force on random inputs: the
  * Binned, BroadcastRight and BinnedTwoLevel strategies, the plain-SQL
  * range join rewritten by `IntervalJoinRewrite` (the Expression-level
  * copy of the bin layout), and a bin index joined by
  * `BucketedJoin.pairsFromBinIndex`. Inputs carry points (start == end,
  * promoted in the predicate), negative starts, intervals straddling a
  * bin edge, a heavy span tail (crosses the two-level long cut at
  * 8*binSize), and empty sides. */
class JoinPropertySpec extends SparkSpec {
  import spark.implicits._

  private val binSize = 4L

  private val genIvs: Gen[List[(Long, String, Long, Long)]] =
    Gen.choose(0, 40).flatMap { n =>
      Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        s <- Gen.frequency(
          3 -> Gen.choose(-100L, 500L),             // incl. negative starts
          1 -> Gen.choose(-25L, 125L).map(_ * 4 - 1) // last bp before an edge
        )
        span <- Gen.frequency(
          3 -> Gen.choose(0L, 30L),   // incl. points
          1 -> Gen.choose(100L, 300L) // long tail: >> 8 * binSize 4
        )
      } yield (g, s, s + span))
    }.map(_.zipWithIndex.map { case ((g, s, e), i) => (i.toLong, g, s, e) })

  private def ids(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted

  /** The plain-SQL range join on promoted ends; it must plan through
    * the rewrite whenever both sides are non-empty. */
  private def sqlPairs(df1: DataFrame, df2: DataFrame): (Seq[(Long, Long)], Boolean) = {
    df1.createOrReplaceTempView("jps_l")
    df2.createOrReplaceTempView("jps_r")
    val q = spark.sql(
      """SELECT l.id, r.id FROM jps_l l JOIN jps_r r
        |  ON l.chrom = r.chrom
        | AND l.start < CASE WHEN r.start = r.`end` THEN r.start + 1 ELSE r.`end` END
        | AND r.start < CASE WHEN l.start = l.`end` THEN l.start + 1 ELSE l.`end` END
        |""".stripMargin)
    val rewritten = q.queryExecution.optimizedPlan.toString
      .contains(IntervalJoinRewrite.BinName)
    (ids(q), rewritten)
  }

  private def bucketedPairs(df1: DataFrame, df2: DataFrame): Seq[(Long, Long)] = {
    val c1 = ColSpec.default.withSuffix("_1")
    val c2 = ColSpec.default.withSuffix("_2")
    val l = BucketedJoin.binIndex(ColSpec.suffixAll(df1, "_1"), c1, binSize)
    val r = BucketedJoin.binIndex(ColSpec.suffixAll(df2, "_2"), c2, binSize)
      .withColumnRenamed(BucketedJoin.BinCol, "__bin_2")
    ids(BucketedJoin.pairsFromBinIndex(l, r, c1, c2, rightBin = "__bin_2",
      binSize = binSize).select(col("id_1"), col("id_2")))
  }

  test("Binned / BroadcastRight / BinnedTwoLevel emit identical pair " +
    "multisets, equal to brute force") {
    val keys = Seq(IntervalJoinRewrite.BinSizeKey, IntervalJoinRewrite.SmallBytesKey)
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(IntervalJoinRewrite.BinSizeKey, binSize.toString)
    spark.conf.set(IntervalJoinRewrite.SmallBytesKey, "0")
    val prop = Prop.forAll(genIvs, genIvs) { (l, r) =>
      val df1 = l.toDF("id", "chrom", "start", "end")
      val df2 = r.map { case (i, g, s, e) => (i + 1000L, g, s, e) }
        .toDF("id", "chrom", "start", "end")
      def run(st: IntervalJoin.Strategy): Seq[(Long, Long)] =
        ids(Ops.overlap(df1, df2, how = "inner", suffixes = ("_1", "_2"),
            strategy = st, binSize = binSize)
          .select(col("id_1"), col("id_2")))
      def pe(s: Long, e: Long) = if (s == e) s + 1 else e
      val brute = (for {
        (i1, g1, s1, e1) <- l
        (i2, g2, s2, e2) <- r
        if g1 == g2 && s1 < pe(s2, e2) && s2 < pe(s1, e1)
      } yield (i1, i2 + 1000L)).sorted
      val (sql, rewritten) = sqlPairs(df1, df2)
      run(IntervalJoin.Binned) == brute &&
        run(IntervalJoin.BroadcastRight) == brute &&
        run(IntervalJoin.BinnedTwoLevel) == brute &&
        sql == brute && (rewritten || l.isEmpty || r.isEmpty) &&
        bucketedPairs(df1, df2) == brute
    }
    try {
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
      assert(res.passed, res.status.toString)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
