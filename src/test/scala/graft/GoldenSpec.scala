package graft

import graft.core.ColSpec
import graft.io.Tables
import graft.dedup.Dedup
import graft.ops.{Closest, Extras, IntervalJoin, Ops}
import graft.vis.Vis
import org.apache.spark.sql.functions._

/** Golden-frame transcriptions of the reference suite's contract tests —
  * null handling, tie-breaking, directional closest, view-clipped
  * complement, order-restoring joins (`tests/test_ops.py` regions cited
  * per test). Kept separate from OpsSpec so each reference test region
  * maps to one suite. */
class GoldenSpec extends SparkSpec {
  import spark.implicits._

  // ---- overlap with NA rows (tests/test_ops.py:775-867) ----

  private def naB = Seq(
    (Option("chr1"), Option(6L), Option(10L), "+"),
    (None: Option[String], None: Option[Long], None: Option[Long], "-"),
    (Option("chrX"), Option(7L), Option(10L), "-"),
    (Option("chrX"), Option(1000L), Option(1200L), "-"))
    .toDF("chrom", "start", "end", "strand")

  private def naA = Seq(("chr1", 8L, 12L, "+"), ("chr1", 7L, 10L, "-"),
    ("chrX", 1L, 8L, "+")).toDF("chrom", "start", "end", "strand")

  test("overlap left: NA rows in df2 match nothing, don't crash the " +
    "merged-anti branch (test_ops.py:775-812)") {
    val out = Ops.overlap(naA, naB, how = "left", suffixes = ("_1", "_2"),
      binSize = 4)
    assertFrame(out.select($"start_1", $"start_2"),
      Seq(Seq(8L, 6L), Seq(7L, 6L), Seq(1L, 7L)), "start_1", "start_2")
  }

  test("overlap outer: NA rows of either side survive as unmatched " +
    "(test_ops.py:801-807)") {
    val out = Ops.overlap(naA, naB, how = "outer", suffixes = ("_1", "_2"),
      binSize = 4)
    // 3 pairs + df2's NA row + df2's unmatched chrX:1000-1200
    assert(out.count() == 5)
    val naRow = out.filter($"chrom_2".isNull && $"chrom_1".isNull)
    assert(naRow.count() == 1 && naRow.head().getAs[String]("strand_2") == "-")
  }

  test("closest ignores NA rows on both sides (test_ops.py:1276-1305)") {
    val a = Seq((Option("chr1"), Option(1L), Option(5L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    val b = Seq((Option("chr1"), Option(4L), Option(8L)),
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(10L), Option(11L)))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(a, Some(b), k = 5, ignoreOverlaps = true,
      suffixes = ("_1", "_2"), binSize = 4)
    assertFrame(out.select($"start_1", $"start_2", $"distance"),
      Seq(Seq(1L, 10L, 5L), Seq(null, null, null)),
      "start_1", "start_2", "distance")
  }

  // ---- cluster with NAs and on= (tests/test_ops.py:905-952) ----

  test("cluster: each NA row forms its own cluster (test_ops.py:929-945)") {
    val df = Seq(
      (Option("chrX"), Option(1L), Option(8L)),
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(8L), Option(12L)),
      (Option("chr1"), Option(1L), Option(8L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    val out = Ops.cluster(df, minDist = Some(0))
    // one row per input row
    assert(out.count() == 5)
    // chr1 rows merge into one cluster; each NA row isolated
    val naClusters = out.filter($"chrom".isNull)
      .select($"cluster").collect().map(_.getLong(0)).toSet
    assert(naClusters.size == 2, "NA rows must not merge with each other")
    val chr1 = out.filter($"chrom" === "chr1")
      .select($"cluster").distinct().count()
    assert(chr1 == 1)
  }

  test("cluster on=[strand] vs on=[location, animal] grouping " +
    "(test_ops.py:918-925; ids are per-(chrom,on) group here — a " +
    "documented deviation from the reference's global dense ids)") {
    val df = Seq(
      ("chr1", 3L, 8L, "+", "cat", 5.5),
      ("chr1", 3L, 8L, "-", "dog", 6.5),
      ("chr1", 6L, 10L, "-", "cat", 6.5),
      ("chrX", 6L, 10L, "-", "cat", 6.5))
      .toDF("chrom", "start", "end", "strand", "animal", "location")
    val byStrand = Ops.cluster(df, on = Seq("strand"))
      .select($"chrom", $"strand", $"cluster", $"start").collect()
    // the two chr1 "-" rows overlap -> same cluster; "+" row separate
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2))
    val minus = byStrand.filter(r => r.getString(1) == "-" && r.getString(0) == "chr1")
    assert(minus.map(key).toSet.size == 1)
    val plus = byStrand.filter(_.getString(1) == "+")
    assert(!minus.map(key).contains(key(plus.head)))
    val byLocAnimal = Ops.cluster(df, on = Seq("location", "animal"))
    // all four rows end up in distinct (group, cluster) cells
    assert(byLocAnimal.select($"chrom", $"location", $"animal", $"cluster")
      .distinct().count() == 4)
  }

  // ---- complement view clipping (tests/test_ops.py:1120-1167) ----

  test("complement clips an overhanging interval to the view " +
    "(test_ops.py:1120-1135)") {
    val df = Seq(("chr1", -5L, 5L), ("chr1", 10L, 20L))
      .toDF("chrom", "start", "end")
    val view = Seq(("chr1", 0L, 15L, "chr1:0-15")).toDF("chrom", "start", "end", "name")
    assertFrame(Ops.complement(df, view),
      Seq(Seq("chr1", 5L, 10L, "chr1:0-15")),
      "chrom", "start", "end", "view_region")
  }

  test("complement: interval spanning two view regions contributes to " +
    "both; inter-region gap excluded (test_ops.py:1139-1147)") {
    val df = Seq(("chr1", 5L, 15L)).toDF("chrom", "start", "end")
    val view = Seq(("chr1", 0L, 9L, "chr1p"), ("chr1", 11L, 20L, "chr1q"))
      .toDF("chrom", "start", "end", "name")
    assertFrame(Ops.complement(df, view),
      Seq(Seq("chr1", 0L, 5L, "chr1p"), Seq("chr1", 15L, 20L, "chr1q")),
      "chrom", "start", "end", "view_region")
  }

  test("complement ignores NA rows in df (test_ops.py:1149-1162)") {
    val df = Seq(
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(5L), Option(15L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    val view = Seq(("chr1", 0L, 9L, "chr1p"), ("chr1", 11L, 20L, "chr1q"))
      .toDF("chrom", "start", "end", "name")
    assertFrame(Ops.complement(df, view),
      Seq(Seq("chr1", 0L, 5L, "chr1p"), Seq("chr1", 15L, 20L, "chr1q")),
      "chrom", "start", "end", "view_region")
  }

  test("complement under custom coordinate colnames emits the custom " +
    "triple + view_region (tests/test_core_specs.py:19-37)") {
    val cols = graft.core.ColSpec("C", "chromStart", "chromStop")
    val df = Seq(("chr1", 1L, 5L), ("chr1", 3L, 8L), ("chr1", 8L, 10L),
      ("chr1", 12L, 14L)).toDF("C", "chromStart", "chromStop")
    val view = Seq(("chr1", 0L, 100L, "chr1"), ("chrX", 0L, 100L, "chrX"))
      .toDF("chrom", "start", "end", "name")
    val out = Ops.complement(df, view, cols = cols)
    assert(out.columns.toSeq == Seq("C", "chromStart", "chromStop", "view_region"))
    assertFrame(out, Seq(
      Seq("chr1", 0L, 1L, "chr1"), Seq("chr1", 10L, 12L, "chr1"),
      Seq("chr1", 14L, 100L, "chr1"), Seq("chrX", 0L, 100L, "chrX")),
      "C", "chromStart", "chromStop", "view_region")
  }

  // ---- closest golden cases (tests/test_ops.py:1168-1493) ----

  private def cA = Seq(("chr1", 1L, 5L)).toDF("chrom", "start", "end")
  private def cB = Seq(("chr1", 4L, 8L), ("chr1", 10L, 11L))
    .toDF("chrom", "start", "end")

  test("closest k=1 picks the overlap (test_ops.py:1180-1190)") {
    val out = Closest.closest(cA, Some(cB), k = 1, suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_2", $"distance"),
      Seq(Seq(4L, 0L)), "start_2", "distance")
  }

  test("closest ignoreOverlaps picks the nearest non-overlap " +
    "(test_ops.py:1192-1204)") {
    val out = Closest.closest(cA, Some(cB), k = 1, ignoreOverlaps = true,
      suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_2", $"distance"),
      Seq(Seq(10L, 5L)), "start_2", "distance")
  }

  test("closest skips other-chromosome rows (test_ops.py:1222-1233)") {
    val b = Seq(("chrA", 4L, 8L), ("chr1", 10L, 11L))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(cA, Some(b), k = 1, suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_2", $"distance"),
      Seq(Seq(10L, 5L)), "start_2", "distance")
  }

  test("closest direction_col: overlap wins for both strands " +
    "(test_ops.py:1317-1341)") {
    val a = Seq(("chr1", 3L, 5L, "+"), ("chr1", 3L, 5L, "-"))
      .toDF("chrom", "start", "end", "strand")
    val b = Seq(("chr1", 1L, 2L), ("chr1", 2L, 8L), ("chr1", 10L, 11L))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(a, Some(b), k = 1,
      directionCol = Some("strand"), suffixes = ("_1", "_2"))
    assertFrame(out.select($"strand_1", $"start_2", $"distance"),
      Seq(Seq("+", 2L, 0L), Seq("-", 2L, 0L)),
      "strand_1", "start_2", "distance")
  }

  test("closest direction_col + ignoreDownstream keeps upstream per " +
    "strand (test_ops.py:1343-1366)") {
    val a = Seq(("chr1", 3L, 5L, "+"), ("chr1", 3L, 5L, "-"))
      .toDF("chrom", "start", "end", "strand")
    val b = Seq(("chr1", 1L, 2L), ("chr1", 2L, 8L), ("chr1", 10L, 11L))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(a, Some(b), k = 1, ignoreDownstream = true,
      ignoreOverlaps = true, directionCol = Some("strand"),
      suffixes = ("_1", "_2"))
    assertFrame(out.select($"strand_1", $"start_2", $"distance"),
      Seq(Seq("+", 1L, 1L), Seq("-", 10L, 5L)),
      "strand_1", "start_2", "distance")
    val flipped = Closest.closest(a, Some(b), k = 1, ignoreUpstream = true,
      ignoreOverlaps = true, directionCol = Some("strand"),
      suffixes = ("_1", "_2"))
    assertFrame(flipped.select($"strand_1", $"start_2", $"distance"),
      Seq(Seq("+", 10L, 5L), Seq("-", 1L, 1L)),
      "strand_1", "start_2", "distance")
  }

  test("closest ignoreDownstream without direction_col keeps a present " +
    "upstream neighbor (test_ops.py:1398-1433)") {
    val a = Seq(("chr1", 3L, 5L)).toDF("chrom", "start", "end")
    val b = Seq(("chr1", 1L, 2L), ("chr1", 10L, 11L))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(a, Some(b), k = 1, ignoreDownstream = true,
      ignoreOverlaps = true, suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_2", $"end_2", $"distance"),
      Seq(Seq(1L, 2L, 1L)), "start_2", "end_2", "distance")
  }

  test("closest: side absent -> null row survives (test_ops.py:1434-1492)") {
    val a = Seq(("chr1", 3L, 5L)).toDF("chrom", "start", "end")
    val bNoUp = Seq(("chr1", 5L, 6L), ("chr1", 10L, 11L))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(a, Some(bNoUp), k = 1, ignoreDownstream = true,
      ignoreOverlaps = true, suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_1", $"start_2", $"distance"),
      Seq(Seq(3L, null, null)), "start_1", "start_2", "distance")
  }

  test("closest k=2 returns the overlap then the nearest neighbor " +
    "(test_ops.py:1205-1220)") {
    val out = Closest.closest(cA, Some(cB), k = 2, suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_2", $"end_2", $"distance"),
      Seq(Seq(4L, 8L, 0L), Seq(10L, 11L, 5L)),
      "start_2", "end_2", "distance")
  }

  test("closest returnInput=false with returnOverlap+distance: overlap row " +
    "carries coords, non-overlap row nulls them (test_ops.py:1237-1254)") {
    val out = Closest.closest(cA, Some(cB), k = 2, returnInput = false,
      returnOverlap = true, suffixes = ("_1", "_2"))
    assert(!out.columns.contains("start_1") && !out.columns.contains("start_2"))
    assertFrame(out.select($"have_overlap", $"overlap_start", $"overlap_end",
      $"distance"),
      Seq(Seq(true, 4L, 5L, 0L), Seq(false, null, null, 5L)),
      "have_overlap", "overlap_start", "overlap_end", "distance")
  }

  test("closest self: two overlapping rows each pick the other at zero " +
    "distance (test_ops.py:1256-1275)") {
    val df = Seq(("chrX", 1L, 8L), ("chrX", 2L, 10L))
      .toDF("chrom", "start", "end")
    val out = Closest.closest(df, None, k = 1, suffixes = ("_1", "_2"))
    assertFrame(out.select($"start_1", $"start_2", $"distance"),
      Seq(Seq(1L, 2L, 0L), Seq(2L, 1L, 0L)),
      "start_1", "start_2", "distance")
  }

  test("closest returnOverlap on a promoted point is consistent with its " +
    "zero distance (ADVICE r4; reference promotion arrops.py:271-287)") {
    val a = Seq(("chr1", 5L, 5L)).toDF("chrom", "start", "end")
    val b = Seq(("chr1", 3L, 8L)).toDF("chrom", "start", "end")
    val out = Closest.closest(a, Some(b), k = 1, returnOverlap = true,
      suffixes = ("_1", "_2"))
    assertFrame(out.select($"have_overlap", $"overlap_start", $"overlap_end",
      $"distance"),
      Seq(Seq(true, 5L, 5L, 0L)),
      "have_overlap", "overlap_start", "overlap_end", "distance")
  }

  // ---- keepOrder fallback + sortBedframe (ops.py:549-550, 1690-1804) ----

  test("overlap keepOrder with NO order columns restores fresh-read file " +
    "order via the content-id ordinal map (Ops.overlap fbOrdMap)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ko").toString
    Seq(("chr1", 7L, 10L, "a2"), ("chr2", 3L, 5L, "a3"), ("chr1", 1L, 5L, "a1"),
      ("chr1", 0L, 2L, "a0"))
      .toDF("chrom", "start", "end", "name")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val a = spark.read.parquet(dir)
    val b = Seq(("chr1", 4L, 8L, "b1"), ("chr1", 10L, 11L, "b2"),
      ("chr3", 0L, 2L, "b3")).toDF("chrom", "start", "end", "name")
    val out = Ops.overlap(a, b, how = "left", suffixes = ("_1", "_2"),
      keepOrder = true, binSize = 4)
    assert(out.select("name_1").collect().map(_.getString(0)).toSeq ==
      Seq("a2", "a3", "a1", "a0"))
  }

  test("sortBedframe sorts (chrom, start, end); view variant sorts by " +
    "view order then coords (ops.py:1690-1804)") {
    val df = Seq(("chr2", 1L, 3L, "x"), ("chr1", 9L, 12L, "y"),
      ("chr1", 2L, 5L, "z"), ("chr1", 2L, 4L, "w"))
      .toDF("chrom", "start", "end", "name")
    val sorted = Ops.sortBedframe(df.repartition(3))
    assert(sorted.select("name").collect().map(_.getString(0)).toSeq ==
      Seq("w", "z", "y", "x"))
    // view lists chr2 first -> its rows sort first
    val view = Seq(("chr2", 0L, 100L, "r2"), ("chr1", 0L, 100L, "r1"))
      .toDF("chrom", "start", "end", "name")
    val viewSorted = Ops.sortBedframe(df.repartition(3), Some(view))
    assert(viewSorted.select("name").collect().map(_.getString(0)).toSeq ==
      Seq("x", "w", "z", "y"))
  }

  // ---- Auto strategy resolution (IntervalJoin.resolveAuto) ----

  test("Auto picks BinnedTwoLevel from a heavy span tail, Binned for " +
    "uniform shorts, BroadcastRight for tiny dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-auto").toString
    val rnd = new scala.util.Random(11)
    // heavy tail: 5% of spans cover ~200 bins of binSize 16; fixtures are
    // sized well above resolveAuto's 64KB broadcast cap
    (0 until 40000).map { i =>
      val s = rnd.nextInt(5000).toLong
      val len = if (i % 20 == 0) 3000L + rnd.nextInt(1000) else rnd.nextInt(8).toLong
      ("chr1", s, s + len)
    }.toDF("chrom", "start", "end")
      .write.mode("overwrite").parquet(s"$dir/heavy")
    (0 until 40000).map { i =>
      val s = rnd.nextInt(5000).toLong
      ("chr1", s, s + rnd.nextInt(8).toLong)
    }.toDF("chrom", "start", "end")
      .write.mode("overwrite").parquet(s"$dir/uniform")
    val heavy = spark.read.parquet(s"$dir/heavy")
    val uniform = spark.read.parquet(s"$dir/uniform")
    val c = ColSpec.default
    spark.conf.set(IntervalJoin.ProbeThresholdKey, "1")
    try {
      assert(IntervalJoin.resolveAuto(heavy, uniform, c, c, 16) ==
        IntervalJoin.BinnedTwoLevel)
      assert(IntervalJoin.resolveAuto(uniform, heavy, c, c, 16) ==
        IntervalJoin.BinnedTwoLevel)
      assert(IntervalJoin.resolveAuto(uniform, uniform, c, c, 16) ==
        IntervalJoin.Binned)
      val tiny = Seq(("chr1", 0L, 100L)).toDF("chrom", "start", "end")
      assert(IntervalJoin.resolveAuto(heavy, tiny, c, c, 16) ==
        IntervalJoin.BroadcastRight)
    } finally spark.conf.unset(IntervalJoin.ProbeThresholdKey)
  }

  test("spanQuantiles is order-robust: on sorted input whose long " +
    "intervals all follow the first maxRows rows, p99 still clears the " +
    "two-level cut") {
    val (maxRows, binSize) = (1000, 16L)
    // 4000 position-sorted rows; only the last quarter is long (100x the
    // 8*binSize cut), so a maxRows prefix would see short spans only
    val sorted = (0 until 4000).map { i =>
      val len = if (i < 3000) 10L else binSize * 8 * 100
      ("chr1", i * 10L, i * 10L + len)
    }.toDF("chrom", "start", "end")
    val q = IntervalJoin.spanQuantiles(sorted, ColSpec.default, maxRows)
    assert(q.exists(_._2 > binSize * 8), s"p99 misses the sorted tail: $q")
  }

  // ---- bed12 validator null-guard (ADVICE r4, io/bed.py:127-475) ----

  test("bed12: blockStarts with missing or malformed blockSizes is a " +
    "violation, not a silent NULL pass") {
    val base = Seq(
      // valid bed12 block structure
      ("chr1", 0L, 100L, Some("0,50,"), Some("10,50,")),
      // blockSizes missing entirely
      ("chr1", 0L, 100L, Some("0,50,"), None: Option[String]),
      // malformed blockSizes
      ("chr1", 0L, 100L, Some("0,50,"), Some("x,y")),
      // length mismatch between lists
      ("chr1", 0L, 100L, Some("0,50,"), Some("10,")))
      .toDF("chrom", "start", "end", "blockStarts", "blockSizes")
      .withColumn("name", lit("n")).withColumn("score", lit("0"))
      .withColumn("strand", lit("+"))
      .withColumn("thickStart", col("start")).withColumn("thickEnd", col("end"))
      .withColumn("itemRgb", lit("0"))
      .withColumn("blockCount", expr("2"))
    val viols = Tables.validateBed(base, "bed12").toMap
    assert(viols("blockStarts") == 3L,
      s"expected 3 blockStarts violations, got $viols")
  }

  // ---- hot-shingle audit (Dedup.hotShingles) ----

  test("hotShingles surfaces exactly the shingles the default cap drops") {
    val docs = (0 until 30).map(i =>
      (i.toLong, s"common boiler plate unique$i words here"))
      .toDF("doc_id", "text")
    // "common boiler plate" appears in all 30 docs
    val hot = Dedup.hotShingles(docs, "doc_id", "text", n = 3,
      maxShingleDf = 20L)
    val rows = hot.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "common boiler plate"
      && rows(0).getLong(1) == 30L)
    assert(Dedup.hotShingles(docs, "doc_id", "text", n = 3,
      maxShingleDf = 50L).count() == 0)
  }

  // ---- NA tolerance of the remaining merge-fed operators ----

  test("coverage/subtract/setdiff ignore NA rows in df2; NA probe rows " +
    "get zero coverage (reference NA-row convention)") {
    val a = Seq((Option("chr1"), Option(0L), Option(10L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    val b = Seq((Option("chr1"), Option(2L), Option(6L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    assertFrame(Ops.coverage(a, b, binSize = 4).select($"start", $"coverage"),
      Seq(Seq(0L, 4L), Seq(null, 0L)), "start", "coverage")
    // NA probe rows are dropped by subtract (test_ops.py:1814-1839)
    assertFrame(Ops.subtract(a, b, binSize = 4).select($"start", $"end"),
      Seq(Seq(0L, 2L), Seq(6L, 10L)), "start", "end")
    // the NA probe row can't overlap anything -> survives setdiff
    assertFrame(Ops.setdiff(a, b, binSize = 4).select($"start"),
      Seq(Seq(null)), "start")
  }

  // ---- merge with on= (tests/test_ops.py:1000-1050) ----

  test("merge with on=[strand] merges within strata only") {
    val df = Seq(("chr1", 1L, 5L, "+"), ("chr1", 3L, 8L, "-"),
      ("chr1", 4L, 10L, "+"), ("chr1", 20L, 22L, "-"))
      .toDF("chrom", "start", "end", "strand")
    val out = Ops.merge(df, Some(0), on = Seq("strand"))
    assertFrame(out.select($"strand", $"start", $"end", $"n_intervals"),
      Seq(Seq("+", 1L, 10L, 2L), Seq("-", 3L, 8L, 1L), Seq("-", 20L, 22L, 1L)),
      "strand", "start", "end", "n_intervals")
  }

  // ---- overlap returnIndex / returnOverlap details ----

  test("overlap returnOverlap on a promoted point yields the empty " +
    "intersection at the point (reference ops.py:486-494 raw coords)") {
    val a = Seq(("chr1", 5L, 5L, "p")).toDF("chrom", "start", "end", "name")
    val b = Seq(("chr1", 3L, 8L, "b")).toDF("chrom", "start", "end", "name")
    val out = Ops.overlap(a, b, how = "inner", suffixes = ("_1", "_2"),
      returnOverlap = true, binSize = 4)
    assertFrame(out.select($"overlap_start", $"overlap_end"),
      Seq(Seq(5L, 5L)), "overlap_start", "overlap_end")
  }

  test("overlap returnIndex exposes both sides' ids for every pair and " +
    "null partners (reference ops.py:549)") {
    val a = Seq(("chr1", 1L, 5L), ("chr2", 0L, 2L)).toDF("chrom", "start", "end")
    val b = Seq(("chr1", 4L, 8L)).toDF("chrom", "start", "end")
    val out = Ops.overlap(a, b, how = "left", suffixes = ("_1", "_2"),
      returnIndex = true, binSize = 4)
    assert(out.columns.contains("index_1") && out.columns.contains("index_2"))
    assert(out.filter($"index_2".isNull).count() == 1)
    assert(out.filter($"index_1".isNull).count() == 0)
  }

  // ---- expand edge cases (tests/test_ops.py:217-298) ----

  test("expand scale=0 collapses to the rounded midpoint; points are " +
    "scale-invariant") {
    val df = Seq(("chr1", 10L, 20L), ("chr1", 7L, 7L))
      .toDF("chrom", "start", "end")
    assertFrame(Ops.expand(df, scale = Some(0.0)),
      Seq(Seq("chr1", 15L, 15L), Seq("chr1", 7L, 7L)),
      "chrom", "start", "end")
  }

  // ---- trim with an explicit region column (ops.py:1441-1557) ----

  test("trim honors a caller-provided view column instead of assigning") {
    val view = Seq(("chr1", 0L, 10L, "p"), ("chr1", 10L, 20L, "q"))
      .toDF("chrom", "start", "end", "name")
    // row pinned to q even though p overlaps it more
    val df = Seq(("chr1", 2L, 12L, "q")).toDF("chrom", "start", "end", "reg")
    val out = Ops.trim(df, view, dfViewCol = Some("reg"))
    assertFrame(out.select($"start", $"end"),
      Seq(Seq(10L, 12L)), "start", "end")
  }

  // ---- merge min_dist family (tests/test_ops.py:953-985) ----

  private def mergeCounts(df: org.apache.spark.sql.DataFrame,
                          minDist: Option[Long]): Seq[Long] =
    Ops.merge(df, minDist).orderBy($"chrom", $"start")
      .select($"n_intervals").collect().map(_.getLong(0)).toSeq

  test("merge: adjacent intervals merge at min_dist=0, stay apart at " +
    "None, chain at 2 (test_ops.py:953-975)") {
    val df = Seq(("chr1", 1L, 5L), ("chr1", 3L, 8L), ("chr1", 8L, 10L),
      ("chr1", 12L, 14L)).toDF("chrom", "start", "end")
    assert(mergeCounts(df, Some(0)) == Seq(3L, 1L))
    assert(mergeCounts(df, None) == Seq(2L, 1L, 1L))
    assert(mergeCounts(df, Some(2)) == Seq(4L))
    // first row moved to chrX: nothing merges across chromosomes
    val df2 = Seq(("chrX", 1L, 5L), ("chr1", 3L, 8L), ("chr1", 8L, 10L),
      ("chr1", 12L, 14L)).toDF("chrom", "start", "end")
    assert(mergeCounts(df2, None) == Seq(1L, 1L, 1L, 1L))
    assert(mergeCounts(df2, Some(0)) == Seq(2L, 1L, 1L))
  }

  test("merge on= strata counts and the animal golden frame " +
    "(test_ops.py:1000-1023)") {
    val df = Seq(("chr1", 3L, 8L, "+", "cat", 5.5),
      ("chr1", 3L, 8L, "-", "dog", 6.5), ("chr1", 6L, 10L, "-", "cat", 6.5),
      ("chrX", 6L, 10L, "-", "cat", 6.5))
      .toDF("chrom", "start", "end", "strand", "animal", "location")
    assert(Ops.merge(df, Some(0)).count() == 2)
    assert(Ops.merge(df, Some(0), on = Seq("strand")).count() == 3)
    assert(Ops.merge(df, Some(0), on = Seq("strand", "location")).count() == 3)
    assert(Ops.merge(df, Some(0),
      on = Seq("strand", "location", "animal")).count() == 4)
    assertFrame(Ops.merge(df, Some(0), on = Seq("animal"))
        .select($"chrom", $"start", $"end", $"animal", $"n_intervals"),
      Seq(Seq("chr1", 3L, 10L, "cat", 2L), Seq("chr1", 3L, 8L, "dog", 1L),
        Seq("chrX", 6L, 10L, "cat", 1L)),
      "chrom", "start", "end", "animal", "n_intervals")
  }

  // ---- coverage contracts (tests/test_ops.py:1494-1545) ----

  test("coverage clips to the probe, zeroes across chromosomes, and " +
    "never double-counts overlapping cover (test_ops.py:1494-1520)") {
    val probe = Seq(("chr1", 3L, 8L)).toDF("chrom", "start", "end")
    def cov(b: org.apache.spark.sql.DataFrame): Long =
      Ops.coverage(probe, b, binSize = 4).select($"coverage")
        .collect().head.getLong(0)
    // cover [2,10) clips to the probe's 5 bp
    assert(cov(Seq(("chr1", 2L, 10L)).toDF("chrom", "start", "end")) == 5L)
    // other chromosome -> 0
    assert(cov(Seq(("chrX", 3L, 8L)).toDF("chrom", "start", "end")) == 0L)
    // [3,6) + [5,8) overlap each other; merged cover is 5, not 6
    assert(cov(Seq(("chr1", 3L, 6L), ("chr1", 5L, 8L))
      .toDF("chrom", "start", "end")) == 5L)
  }

  test("coverage: the rank-scan and pair-join physical paths agree on " +
    "every probe, including points, NA rows, and zero coverage") {
    val probes = Seq((Option("chr1"), Option(0L), Option(30L)),
      (Option("chr1"), Option(5L), Option(5L)),
      (Option("chr1"), Option(100L), Option(120L)),
      (Option("chr2"), Option(0L), Option(10L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    val cover = Seq(("chr1", 2L, 8L), ("chr1", 4L, 12L), ("chr1", 12L, 20L),
      ("chr1", 25L, 40L), ("chr1", 25L, 25L))
      .toDF("chrom", "start", "end")
    val withId = probes.withColumn("__id", monotonically_increasing_id())
      .persist()
    val probeOf = withId.collect()
      .map(r => r.getAs[Long]("__id") -> r.toSeq.take(3)).toMap
    // both regimes return (probe id, covered bp); an absent probe reads 0,
    // the fill coverage applies
    def byProbe(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Long] = {
      val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      probeOf.map { case (id, p) => p -> m.getOrElse(id, 0L) }
    }
    val c = ColSpec.default
    val byPairs = byProbe(Ops.coveredBpByPairs(withId, "__id", cover,
      "coverage", c, c, 4, IntervalJoin.Auto))
    val byScan = byProbe(Ops.coveredBpByRank(withId, "__id", cover,
      "coverage", c, c, 4))
    assert(byPairs == byScan)
    // [0,30): runs [2,20) and [25,40) clip to 18 + 5 = 23
    assert(byPairs(Seq("chr1", 0L, 30L)) == 23L)
    withId.unpersist()
  }

  test("coverage with custom column names on both sides " +
    "(test_ops.py:1523-1534)") {
    val p = Seq(("chr1", 3L, 8L)).toDF("chromosome", "begin", "stop")
    val b = Seq(("chr1", 3L, 8L)).toDF("chr", "cluster_start", "cluster_end")
    val out = Ops.coverage(p, b,
      cols1 = ColSpec("chromosome", "begin", "stop"),
      cols2 = ColSpec("chr", "cluster_start", "cluster_end"), binSize = 4)
    assertFrame(out.select($"chromosome", $"begin", $"stop", $"coverage"),
      Seq(Seq("chr1", 3L, 8L, 5L)), "chromosome", "begin", "stop", "coverage")
  }

  // ---- expand pad/scale family (tests/test_ops.py:217-298) ----

  private def expFrame = Seq(("chr1", 1L, 5L), ("chr1", 50L, 55L),
    ("chr2", 100L, 200L)).toDF("chrom", "start", "end")

  test("expand pad=10 pads unclamped (negative starts allowed, " +
    "test_ops.py:223-231)") {
    assertFrame(Ops.expand(expFrame, pad = Some(10L)),
      Seq(Seq("chr1", -9L, 15L), Seq("chr1", 40L, 65L), Seq("chr2", 90L, 210L)),
      "chrom", "start", "end")
  }

  test("expand pad=-10 clamps at the midpoint; side=left clamps start " +
    "only (test_ops.py:233-251)") {
    assertFrame(Ops.expand(expFrame, pad = Some(-10L)),
      Seq(Seq("chr1", 3L, 3L), Seq("chr1", 52L, 52L), Seq("chr2", 110L, 190L)),
      "chrom", "start", "end")
    assertFrame(Ops.expand(expFrame, pad = Some(-10L), side = "left"),
      Seq(Seq("chr1", 3L, 5L), Seq("chr1", 52L, 55L), Seq("chr2", 110L, 200L)),
      "chrom", "start", "end")
  }

  test("expand scale=2 doubles around the midpoint (test_ops.py:262-270)") {
    assertFrame(Ops.expand(expFrame, scale = Some(2.0)),
      Seq(Seq("chr1", -1L, 7L), Seq("chr1", 48L, 58L), Seq("chr2", 50L, 250L)),
      "chrom", "start", "end")
  }

  test("expand scale=1.1 rounds half-even and passes NA rows through " +
    "(test_ops.py:272-295)") {
    val df = Seq((Option("chr1"), Option(1L), Option(5L)),
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr2"), Option(100L), Option(200L)))
      .toDF("chrom", "start", "end")
    assertFrame(Ops.expand(df, scale = Some(1.1)),
      Seq(Seq("chr1", 1L, 5L), Seq(null, null, null), Seq("chr2", 95L, 205L)),
      "chrom", "start", "end")
  }

  test("expand requires exactly one of pad/scale (test_ops.py:291-300)") {
    intercept[IllegalArgumentException] {
      Ops.expand(expFrame, pad = Some(10L), scale = Some(2.0))
    }
  }

  // ---- trim with view + explicit region column (tests/test_ops.py:67-103) ----

  test("trim with a view clamps into the assigned region, including the " +
    "fully-overhanging interval (test_ops.py:67-103)") {
    val view = Seq(("chr1", 0L, 12L, "chr1p"), ("chr1", 13L, 26L, "chr1q"),
      ("chrX", 1L, 8L, "chrX_0")).toDF("chrom", "start", "end", "name")
    val df = Seq(("chr1", -6L, 12L, "chr1p"), ("chr1", 0L, 12L, "chr1p"),
      ("chr1", 32L, 36L, "chr1q"), ("chrX", 1L, 8L, "chrX_0"))
      .toDF("chrom", "start", "end", "view_region")
    val out = Ops.trim(df, view, dfViewCol = Some("view_region"))
    assertFrame(out.select($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 0L, 12L), Seq("chr1", 0L, 12L), Seq("chr1", 26L, 26L),
        Seq("chrX", 1L, 8L)),
      "chrom", "start", "end")
  }

  test("trim accepts non-default view column names (test_ops.py:103-113)") {
    val funkyView = Seq(("chr1", 0L, 12L, "chr1p"), ("chr1", 13L, 26L, "chr1q"),
      ("chrX", 1L, 8L, "chrX_0")).toDF("chr", "start", "end", "name")
    val df = Seq(("chr1", -6L, 12L, "chr1p"), ("chr1", 32L, 36L, "chr1q"))
      .toDF("chrom", "start", "end", "view_region")
    val out = Ops.trim(df, funkyView, dfViewCol = Some("view_region"),
      colsView = ColSpec("chr", "start", "end"))
    assertFrame(out.select($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 0L, 12L), Seq("chr1", 26L, 26L)),
      "chrom", "start", "end")
  }

  test("trim with a chromsizes-style view and custom data columns clips " +
    "ends to chromosome length (test_ops.py:115-142)") {
    // the dict {"chr1": 20, "chrX_0": 5} as a viewframe
    val view = Seq(("chr1", 0L, 20L, "chr1"), ("chrX_0", 0L, 5L, "chrX_0"))
      .toDF("chrom", "start", "end", "name")
    val df = Seq(("chr1", 0L, 12L), ("chr1", 13L, 26L), ("chrX_0", 1L, 8L))
      .toDF("chrom", "startFunky", "end")
    val out = Ops.trim(df, view,
      cols = ColSpec("chrom", "startFunky", "end"))
    assertFrame(out.select($"chrom", $"startFunky", $"end"),
      Seq(Seq("chr1", 0L, 12L), Seq("chr1", 13L, 20L), Seq("chrX_0", 1L, 5L)),
      "chrom", "startFunky", "end")
  }

  test("trim with a view and NA rows infers assignment per row and passes " +
    "NA triples through (test_ops.py:189-216)") {
    val view = Seq(("chr1", 0L, 12L, "chr1p"), ("chr1", 13L, 26L, "chr1q"),
      ("chrX", 1L, 12L, "chrX_0")).toDF("chrom", "start", "end", "name")
    val df = Seq(
      (Option("chr1"), Option(-6L), Option(12L)),
      (Option("chr1"), Option(0L), Option(12L)),
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chrX"), Option(1L), Option(20L)))
      .toDF("chrom", "start", "end")
    val out = Ops.trim(df, view) // dfViewCol=None -> assign_view path
    assertFrame(out.select($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 0L, 12L), Seq("chr1", 0L, 12L), Seq(null, null, null),
        Seq("chrX", 1L, 12L)),
      "chrom", "start", "end")
  }

  // ---- coordinate dtype preservation through joins (the Spark analog of
  // tests/test_ops.py:775-867's uint32/Int64 contracts: input column types
  // survive inner joins unchanged, outer joins only add nullability —
  // never a float widening) ----

  test("overlap preserves coordinate column types across inner and outer " +
    "joins; outer adds nullability, not float widening " +
    "(test_ops.py:775-838 analog)") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val a = Seq(("chr1", 8, 12), ("chr1", 7, 10), ("chrX", 1, 8))
      .toDF("chrom", "start", "end") // IntegerType coords
    val b = Seq(("chr1", 6L, 10L), ("chrX", 7L, 10L), ("chrX", 1000L, 1200L))
      .toDF("chrom", "start", "end") // LongType coords
    val inner = Ops.overlap(a, b, how = "inner", suffixes = ("", "_"))
    assert(inner.schema("start").dataType == IntegerType)
    assert(inner.schema("start_").dataType == LongType)
    // execution, not just schema: both chr1 rows x (6-10), (chrX 1-8) x (7-10)
    assert(inner.count() == 3)
    val outer = Ops.overlap(a, b, how = "outer", suffixes = ("", "_"))
    assert(outer.schema("start").dataType == IntegerType)
    assert(outer.schema("start_").dataType == LongType)
    assert(outer.schema("start").nullable && outer.schema("start_").nullable)
    // and the unmatched right row really is a null-left row, typed int
    assert(outer.filter($"start".isNull && $"start_" === 1000L).count() == 1)
  }

  // ---- cluster min_dist family (tests/test_ops.py:869-928) ----

  test("cluster: default joins touching intervals, None separates them, " +
    "2 chains the gap (test_ops.py:869-905)") {
    val df = Seq(("chr1", 1L, 5L), ("chr1", 3L, 8L), ("chr1", 8L, 10L),
      ("chr1", 12L, 14L)).toDF("chrom", "start", "end")
    def nClusters(minDist: Option[Long]): Long =
      Ops.cluster(df, minDist).select($"cluster").distinct().count()
    assert(nClusters(Some(0)) == 2)
    assert(nClusters(None) == 3)
    assert(nClusters(Some(2)) == 1)
  }

  // ---- subtract contracts (tests/test_ops.py:1570-1692) ----

  test("subtract: self-subtraction is empty; a punch-out splits the " +
    "interval and propagates extra columns (test_ops.py:1570-1598)") {
    val a = Seq(("chrX", 3L, 8L, "sea-creature"), ("chr1", 4L, 7L, "sea-creature"),
      ("chrX", 1L, 5L, "sea-creature")).toDF("chrom", "start", "end", "animal")
    assert(Ops.subtract(a, a, binSize = 4).count() == 0)
    val b = Seq(("chrX", 0L, 18L), ("chr1", 5L, 6L)).toDF("chrom", "start", "end")
    assertFrame(Ops.subtract(a, b, binSize = 4)
        .select($"chrom", $"start", $"end", $"animal"),
      Seq(Seq("chr1", 4L, 5L, "sea-creature"), Seq("chr1", 6L, 7L, "sea-creature")),
      "chrom", "start", "end", "animal")
  }

  test("subtract with disjoint custom column names on each side " +
    "(test_ops.py:1620-1654)") {
    val a = Seq(("chrX", 3L, 8L, "+"), ("chr1", 4L, 7L, "+"), ("chrX", 1L, 5L, "+"))
      .toDF("C", "chromStart", "chromStop", "strand")
    val b = Seq(("chrX", 0L, 18L), ("chr1", 5L, 6L)).toDF("chr", "st", "e")
    val out = Ops.subtract(a, b,
      cols1 = ColSpec("C", "chromStart", "chromStop"),
      cols2 = ColSpec("chr", "st", "e"), binSize = 4)
    assertFrame(out.select($"C", $"chromStart", $"chromStop", $"strand"),
      Seq(Seq("chr1", 4L, 5L, "+"), Seq("chr1", 6L, 7L, "+")),
      "C", "chromStart", "chromStop", "strand")
  }

  test("subtract: an abutting punch-out leaves the uncovered tail " +
    "(test_ops.py:1656-1692 empty-group region)") {
    val a = Seq(("chrX", 1L, 8L), ("chrX", 2L, 10L)).toDF("chrom", "start", "end")
    val b = Seq(("chrX", 1L, 8L)).toDF("chrom", "start", "end")
    assertFrame(Ops.subtract(a, b, binSize = 4).select($"chrom", $"start", $"end"),
      Seq(Seq("chrX", 8L, 10L)), "chrom", "start", "end")
  }

  // ---- setdiff on= strata (tests/test_ops.py:1863-1946) ----

  test("setdiff: strata via on= change what survives; NA rows always " +
    "survive (test_ops.py:1863-1946)") {
    val a = Seq(("chr1", 8L, 12L, "+", "cat"), ("chr1", 8L, 12L, "-", "cat"),
      ("chrX", 1L, 8L, "+", "cat"))
      .toDF("chrom1", "start", "end", "strand", "animal")
    val b = Seq(("chrX", 7L, 10L, "-", "dog"), ("chr1", 6L, 10L, "-", "cat"),
      ("chr1", 6L, 10L, "-", "cat"))
      .toDF("chrom2", "start", "end", "strand", "animal")
    val c1 = ColSpec("chrom1", "start", "end")
    val c2 = ColSpec("chrom2", "start", "end")
    assert(Ops.setdiff(a, b, cols1 = c1, cols2 = c2, binSize = 4).count() == 0)
    assert(Ops.setdiff(a, b, on = Seq("animal"), cols1 = c1, cols2 = c2,
      binSize = 4).count() == 1)
    assert(Ops.setdiff(a, b, on = Seq("strand"), cols1 = c1, cols2 = c2,
      binSize = 4).count() == 2)
    // NA rows on the probe side can't overlap anything -> survive setdiff
    val aNa = a.unionByName(Seq((null.asInstanceOf[String],
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long],
        null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("chrom1", "start", "end", "strand", "animal"))
    assert(Ops.setdiff(aNa, b, cols1 = c1, cols2 = c2, binSize = 4).count() == 1)
    assert(Ops.setdiff(aNa, b, on = Seq("strand"), cols1 = c1, cols2 = c2,
      binSize = 4).count() == 3)
  }

  test("count_overlaps rank scan agrees with an overlap-join count on " +
    "randomized intervals (points, touching, duplicates)") {
    val rnd = new scala.util.Random(11)
    def mk(n: Int) = (0 until n).map { i =>
      val chrom = s"chr${rnd.nextInt(3)}"
      val s = rnd.nextInt(400).toLong
      val len = if (rnd.nextInt(5) == 0) 0L else rnd.nextInt(60).toLong
      (chrom, s, s + len, i.toLong)
    }.toDF("chrom", "start", "end", "id")
    val a = mk(300)
    val b = mk(200)
    val viaScan = Ops.countOverlaps(a, b, binSize = 32)
      .select($"id", $"count")
    // independent path: inner overlap join + groupBy, zeros restored
    val viaJoin = Ops.overlap(a, b, how = "inner", suffixes = ("_1", "_2"),
        binSize = 32)
      .groupBy($"id_1".as("id")).agg(count(lit(1)).as("jc"))
    val joined = viaScan.join(viaJoin, Seq("id"), "left")
      .withColumn("jc", coalesce($"jc", lit(0L)))
    assert(joined.filter($"count" =!= $"jc").count() == 0)
  }

  // ---- count_overlaps on= strata + NA (tests/test_ops.py:1949-2035) ----

  test("count_overlaps: on= strata shrink counts; NA rows count zero " +
    "(test_ops.py:1949-2035)") {
    val a = Seq(("chr1", 8L, 12L, "+", "cat"), ("chr1", 8L, 12L, "-", "cat"),
      ("chrX", 1L, 8L, "+", "cat"))
      .toDF("chrom1", "start", "end", "strand", "animal")
    val b = Seq(("chr1", 6L, 10L, "+", "dog"), ("chr1", 6L, 10L, "+", "dog"),
      ("chrX", 7L, 10L, "+", "dog"), ("chrX", 7L, 10L, "+", "dog"))
      .toDF("chrom2", "start2", "end2", "strand", "animal")
    val c1 = ColSpec("chrom1", "start", "end")
    val c2 = ColSpec("chrom2", "start2", "end2")
    def counts(on: Seq[String]): Seq[Long] =
      Ops.countOverlaps(a, b, on = on, cols1 = c1, cols2 = c2, binSize = 4)
        .orderBy($"chrom1", $"strand", $"start")
        .select($"count").collect().map(_.getLong(0)).toSeq
    assert(counts(Nil) == Seq(2L, 2L, 2L))
    assert(counts(Seq("strand")) == Seq(2L, 0L, 2L))
    assert(counts(Seq("strand", "animal")) == Seq(0L, 0L, 0L))
    val aNa = a.unionByName(Seq((null.asInstanceOf[String],
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long],
        null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("chrom1", "start", "end", "strand", "animal"))
    val withNa = Ops.countOverlaps(aNa, b, cols1 = c1, cols2 = c2, binSize = 4)
    assert(withNa.count() == 4)
    assert(withNa.filter($"chrom1".isNull).select($"count")
      .collect().head.getLong(0) == 0L)
  }

  // ---- pair_by_distance option matrix (tests/test_extras.py:209-299) ----

  test("pair_by_distance: midpoints vs endpoints, widening max_sep, and " +
    "the intervening-interval filters (test_extras.py:209-290)") {
    val df = Seq(("chr1", 1L, 3L, "+", "cat"), ("chr1", 6L, 8L, "+", "skunk"),
      ("chr1", 9L, 11L, "-", "dog")).toDF("chrom", "start", "end", "strand", "animal")
    def pairs(minSep: Long, maxSep: Long, relTo: String = "midpoints",
              minInt: Option[Long] = None, maxInt: Option[Long] = None) =
      rowsOf(Extras.pairByDistance(df, minSep, maxSep, minIntervening = minInt,
          maxIntervening = maxInt, relativeTo = relTo, binSize = 4)
        .select($"start_1", $"end_1", $"start_2", $"end_2"))
    assert(pairs(1, 4) == Seq(Seq(6L, 8L, 9L, 11L)))
    assert(pairs(1, 4, relTo = "endpoints") == Seq(Seq(1L, 3L, 6L, 8L)))
    assert(pairs(1, 6).toSet ==
      Set(Seq(1L, 3L, 6L, 8L), Seq(6L, 8L, 9L, 11L)))
    assert(pairs(1, 9).toSet ==
      Set(Seq(1L, 3L, 6L, 8L), Seq(1L, 3L, 9L, 11L), Seq(6L, 8L, 9L, 11L)))
    // max_intervening=0 kills the skip-pair; min_intervening=1 keeps only it
    assert(pairs(1, 9, maxInt = Some(0)).toSet ==
      Set(Seq(1L, 3L, 6L, 8L), Seq(6L, 8L, 9L, 11L)))
    assert(pairs(1, 9, minInt = Some(1)) == Seq(Seq(1L, 3L, 9L, 11L)))
    intercept[IllegalArgumentException] {
      Extras.pairByDistance(df, minSep = -1, maxSep = 9).collect()
    }
    intercept[IllegalArgumentException] {
      Extras.pairByDistance(df, minSep = 12, maxSep = 9).collect()
    }
  }

  // ---- make_chromarms golden (tests/test_extras.py:12-67) ----

  test("make_chromarms splits at the mid, names p/q arms " +
    "(test_extras.py:12-67)") {
    val sizes = Seq(("chrX", 8L)).toDF("chrom", "length")
    val mids = Seq(("chrX", 4L)).toDF("chrom", "mid")
    assertFrame(Extras.makeChromarms(sizes, mids)
        .select($"chrom", $"start", $"end", $"name"),
      Seq(Seq("chrX", 0L, 4L, "chrX_p"), Seq("chrX", 4L, 8L, "chrX_q")),
      "chrom", "start", "end", "name")
  }

  // ---- select: half-open queries, point rows (test_ops_select.py:102-198) ----

  test("select: query intervals are half-open on both data and query " +
    "(test_ops_select.py:102-143)") {
    val df = Seq(("chr1", 0L, 10L, "a"), ("chr1", 10L, 20L, "b"),
      ("chr2", 10L, 20L, "A"), ("chr2", 20L, 30L, "B"), ("chr2", 30L, 40L, "C"),
      ("chr2", 40L, 50L, "D"), ("chr2", 50L, 60L, "E"), ("chr2", 60L, 70L, "F"))
      .toDF("chrom", "start", "end", "name")
    def names(region: String): Set[String] =
      Ops.select(df, region).select($"name").collect().map(_.getString(0)).toSet
    assert(names("chr1") == Set("a", "b"))
    assert(names("chr2:20-70") == Set("B", "C", "D", "E", "F"))
    assert(names("chr2:20-30") == Set("B"))
    assert(names("chr2:20-45") == Set("B", "C", "D"))
    assert(names("chr2:19-45") == Set("A", "B", "C", "D"))
    assert(names("chr2:25-50") == Set("B", "C", "D"))
    assert(names("chr2:25-51") == Set("B", "C", "D", "E"))
  }

  test("select: zero-length data rows and point queries promote to " +
    "length-1 (test_ops_select.py:146-198)") {
    val df = Seq(("chr1", 0L, 10L, "a"), ("chr1", 10L, 10L, "b"),
      ("chr2", 40L, 50L, "D"), ("chr2", 50L, 50L, "E"), ("chr2", 60L, 70L, "F"))
      .toDF("chrom", "start", "end", "name")
    def names(region: String): Set[String] =
      Ops.select(df, region).select($"name").collect().map(_.getString(0)).toSet
    assert(names("chr1:4-10") == Set("a"))
    assert(names("chr1:4-4") == Set("a"))     // point query inside [0,10)
    assert(names("chr1:10-15") == Set("b"))   // point row at its own start
    assert(names("chr2:49-70") == Set("D", "E", "F"))
    assert(names("chr2:50-70") == Set("E", "F"))
    assert(names("chr2:50-50") == Set("E"))   // point query on point row
  }

  test("select: inverted query range raises; absent chromosome or " +
    "out-of-range window select nothing (test_ops_select.py:30-39)") {
    val df = Seq(("chrX", 3L, 8L), ("chr1", 4L, 5L), ("chrX", 1L, 5L))
      .toDF("chrom", "start", "end")
    intercept[IllegalArgumentException] { Ops.select(df, "chr1:1-0") }
    assert(Ops.select(df, "chrZ").count() == 0)
    assert(Ops.select(df, "chr1:100-1000").count() == 0)
    assert(Ops.select(df, "chr1:1-3").count() == 0)
  }

  test("select: custom column names, NA rows dropped, open-ended range " +
    "(test_ops_select.py:42-82, 122-124)") {
    val renamed = Seq(("chrX", 3L, 8L), ("chr1", 4L, 5L), ("chrX", 1L, 5L))
      .toDF("chr", "chrstart", "chrend")
    val cs = ColSpec("chr", "chrstart", "chrend")
    assertFrame(Ops.select(renamed, "chrX:4-6", cs),
      Seq(Seq("chrX", 3L, 8L), Seq("chrX", 1L, 5L)), "chr", "chrstart", "chrend")
    assertFrame(Ops.select(renamed, "chrX", cs),
      Seq(Seq("chrX", 3L, 8L), Seq("chrX", 1L, 5L)), "chr", "chrstart", "chrend")
    val withNa = Seq(
      (Option("chr1"), Option(-6L), Option(12L), "chr1p"),
      (None: Option[String], None: Option[Long], None: Option[Long], "chr1q"),
      (Option("chrX"), Option(1L), Option(8L), "chrX_0"))
      .toDF("chrom", "start", "end", "view_region")
    assertFrame(Ops.select(withNa, "chr1:0-1").select($"view_region"),
      Seq(Seq("chr1p")), "view_region")
    // open-ended "chrom:start-" bounds only from below
    val six = Seq(("chr2", 20L, 30L, "B"), ("chr2", 10L, 20L, "A"),
      ("chr2", 60L, 70L, "F")).toDF("chrom", "start", "end", "name")
    assertFrame(Ops.select(six, "chr2:20-").select($"name"),
      Seq(Seq("B"), Seq("F")), "name")
  }

  test("select: a dataframe of points via cols=(chrom,pos,pos) " +
    "(test_ops_select.py:184-198)") {
    val pts = Seq(("chrX", 3L, "A"), ("chr1", 4L, "C"), ("chrX", 1L, "B"))
      .toDF("chrom", "pos", "name")
    val cs = ColSpec("chrom", "pos", "pos")
    def names(region: String): Set[String] =
      Ops.select(pts, region, cs).select($"name").collect()
        .map(_.getString(0)).toSet
    assert(names("chr1:4-10") == Set("C"))
    assert(names("chr1:3-10") == Set("C"))
    assert(names("chr1:4-4") == Set("C"))
  }

  // ---- assign_view contracts (tests/test_ops.py:2070-2187) ----

  test("assign_view: max-overlap assignment, custom name/region columns, " +
    "uncataloged and NA rows -> null or dropped (test_ops.py:2104-2187)") {
    val view = Seq(("chrX", 1L, 8L, "oranges"), ("chrX", 8L, 20L, "grapefruit"),
      ("chr1", 0L, 10L, "apples")).toDF("chrom", "start", "end", "fruit")
    val df = Seq(("chr1", 0L, 10L, "+"), ("chrX", 5L, 10L, "+"),
      ("chrX", 0L, 5L, "+"), ("chr2", 5L, 10L, "+"))
      .toDF("chrom", "start", "end", "strand")
    // chrX [5,10) overlaps oranges by 3 and grapefruit by 2 -> oranges
    assertFrame(Ops.assignView(df, view, dropUnassigned = true,
        dfViewCol = "funny_view_region", viewNameCol = "fruit")
        .select($"chrom", $"start", $"funny_view_region"),
      Seq(Seq("chr1", 0L, "apples"), Seq("chrX", 5L, "oranges"),
        Seq("chrX", 0L, "oranges")),
      "chrom", "start", "funny_view_region")
    // dropUnassigned=false keeps the uncataloged chr2 row with null region
    assertFrame(Ops.assignView(df, view, dropUnassigned = false,
        dfViewCol = "funny_view_region", viewNameCol = "fruit")
        .select($"chrom", $"start", $"funny_view_region"),
      Seq(Seq("chr1", 0L, "apples"), Seq("chrX", 5L, "oranges"),
        Seq("chrX", 0L, "oranges"), Seq("chr2", 5L, null)),
      "chrom", "start", "funny_view_region")
    // NA coordinate rows survive with a null region
    val dfNa = Seq((Option("chr1"), Option(0L), Option(10L)),
      (None: Option[String], None: Option[Long], None: Option[Long]))
      .toDF("chrom", "start", "end")
    assertFrame(Ops.assignView(dfNa, view, viewNameCol = "fruit")
        .select($"chrom", $"view_region"),
      Seq(Seq("chr1", "apples"), Seq(null, null)), "chrom", "view_region")
  }

  // ---- mark_runs / merge_runs value runs (tests/test_extras.py:309-386) ----

  private def runsFixture = Seq(
    ("chr1", 85563L, 129897L, "c", 0.2), ("chr1", 129897L, 508340L, "c", 0.8),
    ("chr1", 508340L, 620903L, "c", 0.5),
    ("chr1", 620904L, 688020L, "c", 0.7),  // 1bp gap -> new run of c
    ("chr1", 688020L, 858415L, "b", 0.8),  // adjacent, different value
    ("chr2", 548402L, 639680L, "a", 0.6), ("chr2", 639680L, 1026586L, "b", 0.8),
    ("chr3", 260538L, 272930L, "c", 0.5), ("chr3", 272930L, 470969L, "c", 0.5),
    ("chr3", 470969L, 502336L, "c", 0.5))
    .toDF("chrom", "start", "end", "name", "score")

  test("mark_runs: per-chrom run ids split on gaps and value changes " +
    "(test_extras.py:309-340)") {
    val runs = Extras.markRuns(runsFixture, "name", bucketSize = 1L << 18)
      .orderBy($"chrom", $"start")
      .select($"chrom", $"name", $"run").collect()
    assert(runs.map(_.getString(1)).toSeq ==
      Seq("c", "c", "c", "c", "b", "a", "b", "c", "c", "c"))
    assert(runs.map(_.getLong(2)).toSeq ==
      Seq(0L, 0L, 0L, 1L, 2L, 0L, 1L, 0L, 0L, 0L))
  }

  test("merge_runs collapses runs to spans with caller aggregates " +
    "(test_extras.py:345-350)") {
    val merged = Extras.mergeRuns(runsFixture, "name",
        agg = Map("score_mean" -> avg($"score")), bucketSize = 1L << 18)
      .orderBy($"chrom", $"start")
      .select($"name", $"score_mean").collect()
    assert(merged.map(_.getString(0)).toSeq == Seq("c", "c", "b", "a", "b", "c"))
    val means = merged.map(_.getDouble(1))
    val expected = Seq(0.5, 0.7, 0.8, 0.6, 0.8, 0.5)
    assert(means.zip(expected).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  // ---- is_covering / is_tiling (test_core_checks.py:183-320) ----

  test("is_covering: one spanning interval or a piecewise cover over " +
    "two view regions; labels irrelevant (test_core_checks.py:183-244)") {
    val view = Seq(("chr1", 0L, 9L, "chr1p"), ("chr1", 11L, 20L, "chr1q"))
      .toDF("chrom", "start", "end", "name")
    import graft.core.Checks
    val spanning = Seq(("chr1", -5L, 25L)).toDF("chrom", "start", "end")
    assert(Checks.isCovering(spanning, view))
    val piecewise = Seq(("chr1", -5L, 10L), ("chr1", 11L, 12L),
      ("chr1", 12L, 20L)).toDF("chrom", "start", "end")
    assert(Checks.isCovering(piecewise, view))
    val gap = Seq(("chr1", 11L, 12L), ("chr1", 12L, 20L))
      .toDF("chrom", "start", "end")
    assert(!Checks.isCovering(gap, view))
  }

  test("is_tiling: exact tile passes; wrong label, internal overlap, or " +
    "a gap each fail (test_core_checks.py:247-320)") {
    import graft.core.Checks
    val view = Seq(("chr1", 0L, 9L, "chr1p"), ("chr1", 11L, 20L, "chr1q"))
      .toDF("chrom", "start", "end", "name")
    val tiled = Seq(("chr1", 0L, 9L, "chr1p"), ("chr1", 11L, 12L, "chr1q"),
      ("chr1", 12L, 20L, "chr1q")).toDF("chrom", "start", "end", "view_region")
    assert(Checks.isTiling(tiled, view))
    // (chr1,0,9) labeled chr1q: covers, but not contained in its region
    val misLabeled = Seq(("chr1", 0L, 9L, "chr1q"), ("chr1", 11L, 12L, "chr1q"),
      ("chr1", 12L, 20L, "chr1q")).toDF("chrom", "start", "end", "view_region")
    assert(!Checks.isTiling(misLabeled, view))
    val overlapping = Seq(("chr1", 0L, 9L, "chr1p"), ("chr1", 11L, 13L, "chr1q"),
      ("chr1", 12L, 20L, "chr1q")).toDF("chrom", "start", "end", "view_region")
    assert(!Checks.isTiling(overlapping, view))
    val gappy = Seq(("chr1", 11L, 12L, "chr1q"), ("chr1", 12L, 20L, "chr1q"))
      .toDF("chrom", "start", "end", "view_region")
    assert(!Checks.isTiling(gappy, view))
  }

  // ---- is_cataloged / is_bedframe / is_viewframe (test_core_checks.py) ----

  test("is_cataloged: a label absent from the view fails; custom label " +
    "columns pass (test_core_checks.py:20-62)") {
    import graft.core.Checks
    val view = Seq(("chr1", 0L, 12L, "chr1p"), ("chr1", 13L, 26L, "chr1q"),
      ("chrX", 1L, 8L, "chrX_0")).toDF("chrom", "start", "end", "funny_name")
    val bad = Seq(("chr1", 0L, 12L, "chr1p"), ("chr2", 13L, 26L, "chr2q"))
      .toDF("chrom", "start", "end", "funny_view_region")
    assert(!Checks.isCataloged(bad, view, dfViewCol = "funny_view_region",
      viewNameCol = "funny_name"))
    val good = Seq(("chr1", 0L, 12L, "chr1p"), ("chr2", 13L, 26L, "chr1q"))
      .toDF("chrom", "start", "end", "funny_view_region")
    assert(Checks.isCataloged(good, view, dfViewCol = "funny_view_region",
      viewNameCol = "funny_name"))
  }

  test("is_bedframe: missing column, inverted interval, partial-NA row " +
    "fail; full-NA rows pass (test_core_checks.py:321-381)") {
    import graft.core.Checks
    assert(!Checks.isBedframe(Seq(("chr1", 11L)).toDF("chrom", "start")))
    assert(!Checks.isBedframe(Seq(("chr1", 15L, 10L))
      .toDF("chrom", "start", "end")))
    val partialNa = Seq((Option("chr1"), Option(10L), Option(20L)),
      (Option("chr1"), None: Option[Long], Option(15L)))
      .toDF("chrom", "start", "end")
    assert(!Checks.isBedframe(partialNa))
    val fullNa = Seq((None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(10L), Option(15L)))
      .toDF("chrom", "start", "end")
    assert(Checks.isBedframe(fullNa))
  }

  test("is_viewframe: inverted row, missing name column, null coords, " +
    "overlap all fail; a proper view passes (test_core_checks.py:382-434)") {
    import graft.core.Checks
    assert(!Checks.isViewframe(Seq(("chr1", 10L, 20L, "p"), ("chr1", 15L, 10L, "q"))
      .toDF("chrom", "start", "end", "name")))
    assert(!Checks.isViewframe(Seq(("chr1", 10L, 20L))
      .toDF("chrom", "start", "end")))
    assert(!Checks.isViewframe(
      Seq((Option("chr1"), Option(10L), Option(20L), "p"),
        (Option("chr1"), None: Option[Long], None: Option[Long], "q"))
        .toDF("chrom", "start", "end", "name")))
    assert(!Checks.isViewframe(Seq(("chr1", 10L, 20L, "p"), ("chr1", 15L, 25L, "q"))
      .toDF("chrom", "start", "end", "name")))
    assert(Checks.isViewframe(Seq(("chr1", 10L, 20L, "p"), ("chr1", 20L, 25L, "q"),
      ("chr2", 20L, 25L, "r")).toDF("chrom", "start", "end", "name")))
  }

  // ---- is_sorted with view order (test_core_checks.py:435-501) ----

  test("is_sorted: view order differs from lexicographic order " +
    "(test_core_checks.py:476-501)") {
    import graft.core.Checks
    val view = Seq(("chrX", 1L, 8L, "oranges"), ("chrX", 8L, 20L, "grapefruit"),
      ("chr1", 0L, 10L, "apples")).toDF("chrom", "start", "end", "fruit")
    // the view is sorted under its own order...
    assert(Checks.isSorted(view, view, "fruit", Some("fruit"),
      ColSpec.default, ColSpec.default))
    // ...but not lexicographically (chrX before chr1)
    assert(!Checks.isSorted(view))
    val df = Seq(("chr1", 0L, 10L), ("chrX", 5L, 10L), ("chrX", 0L, 5L),
      ("chr2", 5L, 10L)).toDF("chrom", "start", "end")
    assert(!Checks.isSorted(df))
    // sort under the view -> sorted under the view, still not plain-sorted
    val sorted = Ops.sortBedframe(df, Some(view), viewNameCol = "fruit")
    assert(Checks.isSorted(sorted, view, "fruit"))
    assert(!Checks.isSorted(sorted))
  }

  // ---- sort_bedframe: unassigned + NA rows last, custom view cols
  //      (tests/test_ops.py:2188-2291) ----

  test("sortBedframe with a view puts unassigned-chromosome and NA rows " +
    "last, honors non-default view colnames (test_ops.py:2222-2291)") {
    val view = Seq(("chrX", 1L, 8L, "oranges"), ("chrX", 8L, 20L, "grapefruit"),
      ("chr1", 0L, 10L, "apples")).toDF("chr", "start", "end", "fruit")
    val df = Seq(
      (Option("chr1"), Option(0L), Option(10L), "a"),
      (Option("chrX"), Option(5L), Option(10L), "b"),
      (None: Option[String], None: Option[Long], None: Option[Long], "na"),
      (Option("chrX"), Option(0L), Option(5L), "c"),
      (Option("chr2"), Option(5L), Option(10L), "d")) // chr2 not in the view
      .toDF("chrom", "start", "end", "name")
    val sorted = Ops.sortBedframe(df.repartition(3), Some(view),
      viewNameCol = "fruit", colsView = ColSpec("chr", "start", "end"))
    val names = sorted.select("name").collect().map(_.getString(0)).toSeq
    // view order: chrX (oranges/grapefruit) then chr1 (apples); the
    // unassigned chr2 row and the NA row sort after all assigned rows
    assert(names.take(3) == Seq("c", "b", "a"), names.toString)
    assert(names.drop(3).toSet == Set("d", "na"), names.toString)
    // plain sort: NA last (test_ops.py:2272-2287)
    val plain = Ops.sortBedframe(df.repartition(3))
      .select("name").collect().map(_.getString(0)).toSeq
    assert(plain == Seq("a", "d", "c", "b", "na"), plain.toString)
  }

  // ---- overlap on= strata + how-variant lengths under fully disjoint
  //      column names (tests/test_ops.py:326-446) ----

  private def onA = Seq(
    ("chr1", 8L, 12L, "+", "cat"),
    ("chr1", 8L, 12L, "-", "cat"),
    ("chrX", 1L, 8L, "+", "cat"))
    .toDF("chrom1", "s1", "e1", "strand", "animal")
  private def onB = Seq(
    ("chr1", 6L, 10L, "+", "dog"),
    ("chrX", 7L, 10L, "-", "dog"))
    .toDF("chrom2", "s2", "e2", "strand", "animal")
  private val onColsA = ColSpec("chrom1", "s1", "e1")
  private val onColsB = ColSpec("chrom2", "s2", "e2")

  test("overlap left: null-partner counts 3/2/0 for on=[animal]/[strand]/" +
    "None under disjoint colnames (test_ops.py:326-377)") {
    def nullPartners(on: Seq[String]) =
      Ops.overlap(onA, onB, how = "left", on = on, returnIndex = true,
        suffixes = ("_1", "_2"), cols1 = onColsA, cols2 = onColsB, binSize = 4)
        .filter(col("index_2").isNull).count()
    assert(nullPartners(Seq("animal")) == 3) // cat never meets dog
    assert(nullPartners(Seq("strand")) == 2) // only the +/+ pair survives
    assert(nullPartners(Nil) == 0)           // every row pairs coordinate-wise
  }

  test("overlap how-variant row counts with on=[animal] vs on=None " +
    "(test_ops.py:379-446)") {
    def n(how: String, on: Seq[String]) =
      Ops.overlap(onA, onB, how = how, on = on, suffixes = ("_1", "_2"),
        cols1 = onColsA, cols2 = onColsB, binSize = 4).count()
    assert(n("outer", Nil) == 3)            // all three pairs, nothing unmatched
    assert(n("outer", Seq("animal")) == 5)  // zero pairs: 3 left + 2 right rows
    assert(n("inner", Seq("animal")) == 0)
    assert(n("right", Seq("animal")) == 2)
    assert(n("left", Seq("animal")) == 3)
  }

  // ---- point/segment promotion asymmetries (tests/test_ops.py:449-686) ----

  test("overlap: a point at a segment's START overlaps it, a point at its " +
    "END does not, in both operand orders (test_ops.py:526-686)") {
    val p1 = Seq(("chr1", 1L, 1L)).toDF("chrom", "start", "end")
    val p2 = Seq(("chr1", 2L, 2L)).toDF("chrom", "start", "end")
    val seg = Seq(("chr1", 1L, 2L)).toDF("chrom", "start", "end")
    def pairOf(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      Ops.overlap(a, b, how = "left", suffixes = ("_1", "_2"), binSize = 4)
        .select($"start_1", $"end_1", $"start_2", $"end_2")
    // point at start <-> segment: matched both ways (ops.py:62-65 promotion)
    assertFrame(pairOf(p1, seg), Seq(Seq(1L, 1L, 1L, 2L)),
      "start_1", "end_1", "start_2", "end_2")
    assertFrame(pairOf(seg, p1), Seq(Seq(1L, 2L, 1L, 1L)),
      "start_1", "end_1", "start_2", "end_2")
    // point at end <-> segment: unmatched both ways (half-open [start,end))
    assertFrame(pairOf(seg, p2), Seq(Seq(1L, 2L, null, null)),
      "start_1", "end_1", "start_2", "end_2")
    assertFrame(pairOf(p2, seg), Seq(Seq(2L, 2L, null, null)),
      "start_1", "end_1", "start_2", "end_2")
    // two adjacent points never overlap (test_ops.py:526-576)
    assertFrame(pairOf(p1, p2), Seq(Seq(1L, 1L, null, null)),
      "start_1", "end_1", "start_2", "end_2")
    assertFrame(pairOf(p2, p1), Seq(Seq(2L, 2L, null, null)),
      "start_1", "end_1", "start_2", "end_2")
  }

  test("overlap right: point-at-start pairs survive the right join in " +
    "both operand orders (test_ops.py:483-524)") {
    val p1 = Seq(("chr1", 1L, 1L)).toDF("chrom", "start", "end")
    val seg = Seq(("chr1", 1L, 2L)).toDF("chrom", "start", "end")
    def pairOf(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      Ops.overlap(a, b, how = "right", suffixes = ("_1", "_2"), binSize = 4)
        .select($"start_1", $"end_1", $"start_2", $"end_2")
    assertFrame(pairOf(p1, seg), Seq(Seq(1L, 1L, 1L, 2L)),
      "start_1", "end_1", "start_2", "end_2")
    assertFrame(pairOf(seg, p1), Seq(Seq(1L, 2L, 1L, 1L)),
      "start_1", "end_1", "start_2", "end_2")
  }

  // ---- to_ucsc_colorstring (vis.py:18-59) ----

  test("toUcscColorstring: named, hex, short hex, alpha hex, none, null, " +
    "unknown") {
    val df = Seq("red", "tomato", "#ff0000", "#FF8800", "#f0a", "#ff000055",
      "none", null, "nosuchcolor", "tab:green", "k", "green",
      "xkcd:sky blue")
      .toDF("color")
      .select(Vis.toUcscColorstring(col("color")).as("rgb"))
    // named/hex/short-hex/alpha-hex rows mirror tests/test_vis.py:8-30
    assert(df.collect().map(_.getString(0)).toSeq == Seq(
      "255,0,0", "255,99,71", "255,0,0", "255,136,0", "255,0,170",
      "255,0,0", "0", "0", null, "44,160,44", "0,0,0", "0,128,0",
      "117,187,253"))
  }

  // ---- merge NA passthrough (tests/test_ops.py:1024-1054) ----

  private def mergeNaInput = Seq(
    (Option("chrX"), Option(1L), Option(8L), Option.empty[String]),
    (None: Option[String], None: Option[Long], None: Option[Long], Option("-")),
    (Option("chr1"), Option(8L), Option(12L), Option("+")),
    (Option("chr1"), Option(1L), Option(8L), Option.empty[String]),
    (None: Option[String], None: Option[Long], None: Option[Long], Option("-")))
    .toDF("chrom", "start", "end", "strand")

  for (strat <- Seq(Ops.RangePartitioned, Ops.WindowSweep))
    test(s"merge/$strat: NA rows pass through unmerged with n_intervals " +
      "null (test_ops.py:1024-1054)") {
      val out = Ops.merge(mergeNaInput.select($"chrom", $"start", $"end"),
        mergeStrategy = strat)
      // chr1 1-8 + 8-12 merge to 1-12; chrX 1-8; two NA rows survive apart
      assert(out.count() == 4)
      val chr1 = out.filter($"chrom" === "chr1").collect()
      assert(chr1.length == 1 && chr1.head.getLong(1) == 1L &&
        chr1.head.getLong(2) == 12L && chr1.head.getLong(3) == 2L)
      val nas = out.filter($"chrom".isNull).collect()
      assert(nas.length == 2, "NA rows must not merge with each other")
      assert(nas.forall(_.isNullAt(3)), "NA rows carry n_intervals null")
    }

  test("merge on=[strand]: a null group key makes the row passthrough, " +
    "so every input row survives (test_ops.py:1047-1050)") {
    val out = Ops.merge(mergeNaInput, on = Seq("strand"))
    assert(out.count() == 5)
    // the lone concrete-keyed row (chr1, +) is a real 1-interval cluster
    val plus = out.filter($"strand" === "+").collect()
    assert(plus.length == 1 && plus.head.getAs[Long]("n_intervals") == 1L)
    // null-strand chr1/chrX rows pass through with their real coordinates
    val nullStrand = out.filter($"strand".isNull && $"chrom".isNotNull)
      .select($"chrom", $"start", $"end", $"n_intervals")
      .orderBy($"chrom").collect()
    assert(nullStrand.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("chr1", 1L, 8L), ("chrX", 1L, 8L)))
    assert(nullStrand.forall(_.isNullAt(3)))
  }

  // ---- subtract: point subtrahends + NA rows (tests/test_ops.py:1686-1862) ----

  test("subtract splits at point subtrahends; an interval is untouched by " +
    "a point at its start (test_ops.py:1686-1812, ex-split)") {
    val df1 = Seq(("chrX", 3L, 8L), ("chr1", 4L, 7L), ("chrX", 1L, 5L))
      .toDF("chrom", "start", "end")
    val pts = Seq(("chrX", 4L, 4L), ("chr1", 5L, 5L))
      .toDF("chrom", "start", "end")
    assertFrame(
      Ops.subtract(df1, pts, binSize = 4)
        .select($"chrom", $"start", $"end").orderBy($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 4L, 5L), Seq("chr1", 5L, 7L), Seq("chrX", 1L, 4L),
        Seq("chrX", 3L, 4L), Seq("chrX", 4L, 5L), Seq("chrX", 4L, 8L)),
      "chrom", "start", "end")
    // subtracting the point [1,1) from [0,2) splits it ...
    val seg = Seq(("chr1", 0L, 2L)).toDF("chrom", "start", "end")
    val p1 = Seq(("chr1", 1L, 1L)).toDF("chrom", "start", "end")
    assertFrame(
      Ops.subtract(seg, p1, binSize = 4).select($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 0L, 1L), Seq("chr1", 1L, 2L)), "chrom", "start", "end")
    // ... but [1,2) is untouched by the point at its own start
    val seg2 = Seq(("chr1", 1L, 2L)).toDF("chrom", "start", "end")
    assertFrame(
      Ops.subtract(seg2, p1, binSize = 4).select($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 1L, 2L)), "chrom", "start", "end")
  }

  test("subtract ignores NA rows on both sides; all-NA df1 yields empty " +
    "(test_ops.py:1814-1862)") {
    val df1 = Seq(
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(1L), Option(5L)))
      .toDF("chrom", "start", "end")
    val df2 = Seq(
      (Option("chrX"), Option(1L), Option(5L)),
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(4L), Option(8L)),
      (None: Option[String], None: Option[Long], None: Option[Long]),
      (Option("chr1"), Option(10L), Option(11L)))
      .toDF("chrom", "start", "end")
    assertFrame(
      Ops.subtract(df1, df2, binSize = 4).select($"chrom", $"start", $"end"),
      Seq(Seq("chr1", 1L, 4L)), "chrom", "start", "end")
    val allNa = df1.filter($"chrom".isNull)
    assert(Ops.subtract(allNa, df2, binSize = 4).count() == 0)
  }

  // ---- count_overlaps return_input=False (tests/test_ops.py:2057-2069) ----

  test("countOverlaps returnInput=false keeps only the count column " +
    "(test_ops.py:2057-2069)") {
    val a = Seq(("chr1", 8L, 12L), ("chrX", 1L, 8L)).toDF("chrom", "start", "end")
    val b = Seq(("chr1", 6L, 10L), ("chr1", 6L, 10L), ("chrX", 7L, 10L))
      .toDF("chrom", "start", "end")
    val out = Ops.countOverlaps(a, b, returnInput = false, binSize = 4)
    assert(out.columns.toSeq == Seq("count"))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  // ---- overlap: NA left rows under keep_order (tests/test_ops.py:687-710) ----

  test("overlap left keep_order: NA df1 rows stay in input position with " +
    "null partners (test_ops.py:687-702)") {
    val df1 = Seq(
      (Option("chr1"), Option(8L), Option(12L), "+"),
      (None: Option[String], None: Option[Long], None: Option[Long], "-"),
      (Option("chrX"), Option(1L), Option(8L), "+"))
      .toDF("chrom", "start", "end", "strand")
    val df2 = Seq(
      (Option("chr1"), Option(6L), Option(10L), "+"),
      (None: Option[String], None: Option[Long], None: Option[Long], "-"),
      (Option("chrX"), Option(7L), Option(10L), "-"))
      .toDF("chrom2", "start2", "end2", "strand_")
    val out = Ops.overlap(df1, df2, how = "left", keepOrder = true,
      suffixes = ("", "_"), cols2 = ColSpec("chrom2", "start2", "end2"),
      binSize = 4)
    // reference: left frame restored verbatim, in order, NA row included
    assert(out.select($"chrom", $"start", $"end", $"strand")
      .collect().map(r => (Option(r.getString(0)), r.getString(3))).toSeq ==
      Seq((Some("chr1"), "+"), (None, "-"), (Some("chrX"), "+")))
    // the NA row matched nothing: partner columns null (df2 side carries
    // the "_" suffix)
    assert(out.filter($"strand" === "-").select($"chrom2_").collect()
      .forall(_.isNullAt(0)))
  }
}
