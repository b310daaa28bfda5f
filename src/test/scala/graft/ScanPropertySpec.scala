package graft

import graft.ops.Scan
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the two-level prefix scans — the engine's
  * load-bearing primitive (`ops/Scan.scala`). Random bucket widths
  * including width 1 (every coordinate its own bucket) and width > span
  * (everything in one bucket, i.e. the stitch contributes nothing), random
  * negative coordinates, negative values, duplicate keys, and empty
  * groups — all asserted equal to a driver-side single-sweep oracle, which
  * is exactly the single-partition window the two-level construction
  * replaces. */
class ScanPropertySpec extends SparkSpec {
  import spark.implicits._

  private val genRows: Gen[List[(String, Long, Long)]] =
    Gen.choose(0, 60).flatMap { n =>
      Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        k <- Gen.choose(-200L, 200L)
        v <- Gen.choose(-5L, 5L)
      } yield (g, k, v))
    }

  // width 1 = bucket per coordinate; 512 > the 401-coordinate span = one
  // bucket per group (stitch degenerates); primes exercise misalignment
  private val genWidth: Gen[Long] = Gen.oneOf(1L, 2L, 7L, 64L, 512L)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("two-level prefixSum/prefixMax/prefixSumN equal the single-sweep " +
    "oracle for random widths incl. 1 and > span") {
    check(Prop.forAll(genRows, genWidth) { (rows, width) =>
      val data = rows.zipWithIndex.map { case ((g, k, v), i) =>
        (i.toLong, g, k, v)
      }
      val ord = Seq(col("k").asc, col("id").asc)
      val base = data.toDF("id", "g", "k", "v")
        .withColumn("__b", Scan.bucketOf(col("k"), width))
      val out = Scan.prefixSumN(
        Scan.prefixMax(
          Scan.prefixMax(
            Scan.prefixSum(
              Scan.prefixSum(base, Seq("g"), "__b", ord, col("v"),
                inclusive = true, "s_in"),
              Seq("g"), "__b", ord, col("v"), inclusive = false, "s_ex"),
            Seq("g"), "__b", ord, col("v"), inclusive = true, "m_in"),
          Seq("g"), "__b", ord, col("v"), inclusive = false, "m_ex"),
        Seq("g"), "__b", ord, Seq(col("v") -> "n1", (col("v") * 2) -> "n2"))
      val got = out.collect().map { r =>
        r.getAs[Long]("id") -> ((r.getAs[Long]("s_in"), r.getAs[Long]("s_ex"),
          Option(r.getAs[Any]("m_in")), Option(r.getAs[Any]("m_ex")),
          r.getAs[Long]("n1"), r.getAs[Long]("n2")))
      }.toMap
      // oracle: one in-memory sweep per group over (k, id) order
      val exp = data.groupBy(_._2).flatMap { case (_, grp) =>
        val sorted = grp.sortBy(r => (r._3, r._1))
        val pre = sorted.scanLeft((0L, Option.empty[Long])) {
          case ((s, m), r) => (s + r._4, Some(m.fold(r._4)(math.max(_, r._4))))
        }
        sorted.zipWithIndex.map { case (r, i) =>
          r._1 -> ((pre(i + 1)._1, pre(i)._1,
            pre(i + 1)._2.map(x => x: Any), pre(i)._2.map(x => x: Any),
            pre(i + 1)._1, pre(i + 1)._1 * 2))
        }
      }
      got == exp
    })
  }

  test("two-level withNext equals per-group sorted lead as a multiset " +
    "(duplicate positions make per-row assignment ambiguous)") {
    check(Prop.forAll(genRows, genWidth) { (rows, width) =>
      val data = rows.zipWithIndex.map { case ((g, k, v), i) =>
        (i.toLong, g, k, v)
      }
      val base = data.toDF("id", "g", "k", "v")
        .withColumn("__b", Scan.bucketOf(col("k"), width))
      val got = Scan.withNext(base, Seq("g"), "__b", "k", "nxt")
        .collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("k"),
          Option(r.getAs[Any]("nxt"))))
        .sortBy(_.toString).toSeq
      val exp = data.groupBy(_._2).toSeq.flatMap { case (g, grp) =>
        val ks = grp.map(_._3).sorted
        ks.zip(ks.drop(1).map(x => Some(x: Any)) :+ None)
          .map { case (k, n) => (g, k, n) }
      }.sortBy(_.toString)
      got == exp
    })
  }
}
