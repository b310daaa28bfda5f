package graft.ops

import graft.core.ColSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

/** Physical strategies for the interval (range-overlap) join — the one
  * operator Spark genuinely lacks. The reference implements it as a
  * single-node sort + double-`searchsorted` sweep (`core/arrops.py:290-375`);
  * a naive Spark translation (`join` on `s1 < e2 && s2 < e1`) degenerates to
  * a broadcast-nested-loop / cartesian plan. Instead:
  *
  *  - '''Binned equi-join''' (the scale path): explode each side onto fixed
  *    genome bins of width `binSize`, equi-join on `(chrom, on..., bin)`,
  *    re-check the true interval predicate, and keep each pair only in the
  *    bin containing `max(start1, start2)` — a closed-form dedup that avoids
  *    a `distinct()` shuffle. Both sides shuffle-partition by `(chrom, bin)`,
  *    which simultaneously parallelizes within chromosomes and defuses
  *    per-chromosome skew (chr1 >> chrM; see SURVEY §4). AQE handles any
  *    residual skew. The bin layout exists once, as [[explodeBins]] +
  *    [[joinBins]]: [[Binned]] is one such join, [[BinnedTwoLevel]] a
  *    union of three at two widths, and [[BucketedJoin]] stores the
  *    exploded relation and joins it later with the same [[joinBins]].
  *  - '''Broadcast''': when one side is small (views, chromsizes, dimension
  *    tables), hash-join on `(chrom, on...)` with the range predicate in the
  *    join condition — no shuffle of the big side at all.
  *
  * Point intervals (`start == end`) are promoted to length-1 pseudo-segments
  * inside the predicate (reference `core/arrops.py:271-287`).
  */
object IntervalJoin {

  sealed trait Strategy
  /** Resolve from plan statistics and the span probe ([[resolveAuto]]). */
  case object Auto extends Strategy
  case object Binned extends Strategy
  /** Two-level binning for mixed-length relations: an interval of span s
    * explodes into s/binSize rows under [[Binned]], so megabase features
    * (whole genes, SVs, chromosome arms) against a small binSize blow up
    * the candidate relation. Intervals are classed short (span <=
    * 8*binSize) or long; the join is a union of three class-disjoint
    * equi-joins — short x short on FINE bins (<= 9 rows each), and
    * long x all / short x long on COARSE bins (64*binSize wide: <= 2
    * rows for shorts, span/coarse for longs) — each with the closed-form
    * overlap-start-bin dedup. No class pairs two crowded bucket sets, so
    * no level degenerates into a cross product (a naive climb-all-levels
    * hierarchy does exactly that at the level whose width exceeds the
    * chromosome). Opt-in: uniformly short relations pay an extra pass. */
  case object BinnedTwoLevel extends Strategy
  case object BroadcastRight extends Strategy

  val DefaultBinSize: Long = 1000000L

  /** Session conf key: minimum optimizer size estimate (bytes) of either
    * join side before [[Auto]] pays the span-quantile probe that can
    * upgrade [[Binned]] to [[BinnedTwoLevel]]. Below it the probe isn't
    * worth a job (the fine-bin explosion is bounded anyway); at
    * cluster scale the probe cost is noise next to the join. */
  val ProbeThresholdKey = "spark.graft.join.probeThresholdBytes"
  val DefaultProbeThresholdBytes: Long = 256L << 20

  /** Span quantiles (p50, p99) over a Bernoulli sample of about
    * `maxRows` rows, its fraction sized from the optimizer's row estimate
    * — ONE probe job serving both the [[Auto]] heavy-tail decision and
    * the adaptive coarse width ([[adaptiveCoarse]]). A sample, not a
    * prefix: on position-sorted input a prefix sees only the first
    * chromosome's rows, and a tail that sits further on goes unseen. */
  def spanQuantiles(df: DataFrame, c: ColSpec,
                    maxRows: Int = 100000): Option[(Double, Double)] = {
    val plan = df.queryExecution.optimizedPlan
    val rows = plan.stats.rowCount.getOrElse(
      plan.stats.sizeInBytes / EstimationUtils.getSizePerRow(plan.output))
    val fraction = maxRows / math.max(rows.toDouble, 1.0)
    val spans = df.select((c.promotedEnd - c.startCol).cast("double").as("__span"))
    val q = (if (fraction < 1.0) spans.sample(fraction, seed = 0L) else spans)
      .stat.approxQuantile("__span", Array(0.5, 0.99), 0.1)
    if (q.length >= 2) Some((q(0), q(1))) else None
  }

  /** The heavy-tail decision shared by [[Auto]] and `Ops.coverage`:
    * `Some((p50, p99))` when `df` is KNOWN-large — optimizer estimate at
    * or above [[ProbeThresholdKey]], but not the unknown-stats
    * Long.MaxValue default that mapPartitions barriers report — and its
    * p99 span exceeds the two-level long cut (8*binSize), where [[Binned]]
    * would explode the tail onto many fine bins per row. Below the
    * threshold the probe isn't worth a job. */
  def heavySpanTail(df: DataFrame, c: ColSpec,
                    binSize: Long): Option[(Double, Double)] = {
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = BigInt(df.sparkSession.conf
      .get(ProbeThresholdKey, DefaultProbeThresholdBytes.toString).toLong)
    if (sz >= threshold && sz < BigInt(Long.MaxValue) / 4)
      spanQuantiles(df, c).filter(_._2 > (binSize * 8).toDouble)
    else None
  }

  /** Coarse-bin width for the two-level join's long-class joins, sized to
    * the measured span distribution instead of the fixed 64*binSize
    * (r16; guide §2 — partitioning sized to the data, not a constant).
    *
    * Cost model: a long interval of span s explodes onto s/c + 1 coarse
    * bins, and each coarse bin holds other-side rows proportional to
    * (c + r) for typical other-side span r — so candidate pairs per long
    * row track (s/c + 1)(c + r), minimized at c* = sqrt(s*r). With the
    * probed p99 span as s and the p50 span as the short-side proxy r,
    * c* lands in the flat basin of that curve (measured on the ivLong
    * fixture: 64*binSize = 4096 generates ~5x the candidates of the
    * adaptive width). Clamped to [longCap/4, 64*binSize] — the floor
    * bounds the short-class explosion in the short x long join at <= 5
    * bins per row, the ceiling never does worse than the legacy fixed
    * width — and rounded up to a power of two for plan stability. */
  def adaptiveCoarse(binSize: Long, p50: Double, p99: Double): Long = {
    val legacy = binSize * 64
    val floor = math.max(1L, (binSize * 8) / 4)
    val cStar = math.sqrt(math.max(p99, 1.0) * math.max(p50, 1.0))
    val pow2 = java.lang.Long.highestOneBit(
      math.max(1L, math.ceil(cStar).toLong - 1L)) << 1
    math.min(legacy, math.max(floor, pow2))
  }

  /** The overlap predicate with point promotion, on already-suffixed specs. */
  def overlapPredicate(c1: ColSpec, c2: ColSpec): Column =
    c1.startCol < c2.promotedEnd && c2.startCol < c1.promotedEnd

  /** [[Auto]] resolution from plan statistics (public so tests can assert
    * the choice without running the join):
    *  - tiny right side -> [[BroadcastRight]]. Broadcast is only right for
    *    true dimension tables (views, chromsizes): the hash join keys on
    *    `chrom` alone, so every left row scans ALL same-chrom right rows —
    *    cost O(|L| * |R| / nChrom), catastrophic for a non-tiny right side
    *    (observed 650s vs 15s at 600k x 150k). Hard few-thousand-row cap
    *    regardless of the session broadcast threshold.
    *  - a side with a heavy span tail ([[heavySpanTail]]) ->
    *    [[BinnedTwoLevel]]: megabase-scale intervals would explode onto
    *    many fine bins under [[Binned]].
    *  - everything else -> [[Binned]], whose cost tracks the true pair
    *    count. */
  def resolveAuto(left: DataFrame, right: DataFrame,
                  c1: ColSpec, c2: ColSpec, binSize: Long): Strategy =
    resolveAutoPlan(left, right, c1, c2, binSize)._1

  /** [[resolveAuto]] plus the coarse width the two-level strategy should
    * run with — derived from the SAME span probe (no extra job): the
    * side whose heavy tail triggered the upgrade contributes its
    * (p50, p99) to [[adaptiveCoarse]]. Returns the legacy 64*binSize
    * coarse when the resolution is not [[BinnedTwoLevel]]. */
  def resolveAutoPlan(left: DataFrame, right: DataFrame,
                      c1: ColSpec, c2: ColSpec,
                      binSize: Long): (Strategy, Long) = {
    val cap = 65536L
    val legacyCoarse = binSize * 64
    val szR = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (szR <= cap) (BroadcastRight, legacyCoarse)
    else heavySpanTail(left, c1, binSize)
      .orElse(heavySpanTail(right, c2, binSize)) match {
        case Some((p50, p99)) =>
          (BinnedTwoLevel, adaptiveCoarse(binSize, p50, p99))
        case None => (Binned, legacyCoarse)
      }
  }

  /** Equal `chrom` and `on` keys, and `cond`. */
  private def keysAnd(c1: ColSpec, c2: ColSpec, on: Seq[(String, String)],
                      cond: Column): Column =
    (c1.chromCol === c2.chromCol) &&
      on.map { case (a, b) => col(a) === col(b) }.foldLeft(cond)(_ && _)

  /** `df` with one row per bin of width `w` that its point-promoted span
    * touches — bins `start/w` through `(promotedEnd-1)/w` by
    * [[Scan.bucketOf]] — the bin id in `binCol`. The one bin layout of
    * [[Binned]], [[BinnedTwoLevel]] and [[BucketedJoin]]. */
  def explodeBins(df: DataFrame, c: ColSpec, w: Long,
                  binCol: String): DataFrame =
    df.withColumn(binCol, explode(sequence(Scan.bucketOf(c.startCol, w),
      Scan.bucketOf(c.promotedEnd - 1, w))))

  /** Overlap pairs of two relations exploded by [[explodeBins]] at width
    * `w`: shuffle-hash equi-join on `(chrom, on..., bin)`, re-check the
    * overlap predicate, and emit each pair only from the bin holding
    * `max(start1, start2)` — exactly once, without a distinct() shuffle.
    * A hash map of the right side is built per bin partition instead of
    * sort-merge: with heavily duplicated bin keys SMJ degenerates into a
    * buffered nested loop (measured 20x slower at 112M output pairs). */
  def joinBins(lb: DataFrame, rb: DataFrame, c1: ColSpec, c2: ColSpec,
               on: Seq[(String, String)], w: Long,
               lBin: String, rBin: String): DataFrame = {
    lb.join(rb.hint("SHUFFLE_HASH"),
        keysAnd(c1, c2, on, col(lBin) === col(rBin)), "inner")
      .filter(overlapPredicate(c1, c2))
      .filter(col(lBin) === Scan.bucketOf(greatest(c1.startCol, c2.startCol), w))
      .drop(lBin, rBin)
  }

  /** Inner interval join of two relations whose column names are already
    * disjoint. Returns all columns of both sides for each overlapping pair.
    *
    * @param on extra equi-key column name pairs (left name, right name),
    *           mirroring the reference's `on=` (`ops.py:456-462`).
    */
  def pairs(left: DataFrame, right: DataFrame,
            c1: ColSpec, c2: ColSpec,
            on: Seq[(String, String)] = Nil,
            strategy: Strategy = Auto,
            binSize: Long = DefaultBinSize): DataFrame = {
    val (resolved, autoCoarse) = strategy match {
      case Auto => resolveAutoPlan(left, right, c1, c2, binSize)
      case s => (s, binSize * 64)
    }
    def binned(l: DataFrame, r: DataFrame, w: Long) =
      joinBins(explodeBins(l, c1, w, "__bin"), explodeBins(r, c2, w, "__bin2"),
        c1, c2, on, w, "__bin", "__bin2")
    resolved match {
      case BroadcastRight | Auto =>
        left.join(broadcast(right),
          keysAnd(c1, c2, on, overlapPredicate(c1, c2)), "inner")
      case Binned => binned(left, right, binSize)
      case BinnedTwoLevel =>
        def isLong(c: ColSpec) = (c.promotedEnd - c.startCol) > lit(binSize * 8)
        val lShort = left.filter(!isLong(c1))
        val rShort = right.filter(!isLong(c2))
        // three class-disjoint joins: short x short fine, long x all and
        // short x long coarse (shorts span <= coarse width -> <= 2 bins)
        binned(lShort, rShort, binSize)
          .unionByName(binned(left.filter(isLong(c1)), right, autoCoarse))
          .unionByName(binned(lShort, right.filter(isLong(c2)), autoCoarse))
    }
  }
}
