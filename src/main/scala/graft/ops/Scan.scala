package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level distributed prefix scans.
  *
  * A window `PARTITION BY group ORDER BY k` puts one whole group (here: a
  * chromosome) into a single task — the classic sweep-kernel scale ceiling
  * (the reference's cummax/cumsum kernels in `arrops.py` are single-node
  * for the same reason). These helpers compute the same running aggregate
  * with bounded partitions:
  *
  *  1. bucket rows by `floor(orderKey / width)` so the window partitions
  *     by `(group, bucket)` — parallel within a group;
  *  2. aggregate one summary row per populated bucket (a relation of
  *     ~|coordinate span| / width rows — tiny), compute each bucket's
  *     carry-in over prior buckets with a window over that summary, and
  *     broadcast-join the carry back;
  *  3. combine: running = local-within-bucket ⊕ carry.
  *
  * Correct because the bucket id is monotone in the order key, so "prior
  * buckets" is exactly "prior rows outside my bucket". One implementation
  * (`twoLevel`) serves every running aggregate: [[prefixSum]],
  * [[prefixMax]] and [[prefixSumN]]. Used by [[Closest]]
  * (sequence numbering + as-of positions), [[Ops.cluster]], and
  * `Extras.pileup`/`markRuns`.
  *
  * INPUT CONTRACT: the input relation is referenced by MORE THAN ONE plan
  * branch (the per-bucket pass and the broadcast bucket summary), so its
  * lineage must re-evaluate consistently. Raw scans and persisted
  * relations qualify; a UNION whose children carry compatible hash
  * partitioning does NOT — Spark elides the exchange above such unions,
  * and the summary branch can observe split groups (duplicate bucket
  * keys that fan out the stitch join; seen as phantom zero-length runs
  * in `Extras.multiIntersect` before its persist barrier). When
  * composing a scan over merged/unioned relations, `.persist()` the
  * input first.
  */
object Scan {

  /** Floor-division bucket id, exact for negative coordinates — the
    * engine's one floor division (scan buckets, join bins, stream bins). */
  def bucketOf(key: Column, width: Long): Column =
    ((key - pmod(key, lit(width))) / lit(width)).cast("long")

  /** The one two-level scan: for each `(value, outCol)`, `outCol` =
    * SUM or MAX(value) OVER (PARTITION BY group ORDER BY order ROWS
    * UNBOUNDED PRECEDING AND CURRENT ROW, or AND 1 PRECEDING when not
    * `inclusive`). All values share one local WindowSpec and one bucket
    * summary, so Catalyst plans a single Window operator over a single
    * sort whatever the number of values. Sums read 0 and maxima null over
    * an empty frame. */
  private def twoLevel(df: DataFrame, group: Seq[String], bucketCol: String,
                       order: Seq[Column], values: Seq[(Column, String)],
                       isMax: Boolean, inclusive: Boolean): DataFrame = {
    val partKeys = group :+ bucketCol
    def aggFn(c: Column) = if (isMax) max(c) else sum(c)
    val wLocal = Window.partitionBy(partKeys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, if (inclusive) 0 else -1)
    val idx = values.indices
    val withLocal = idx.foldLeft(df) { (d, i) =>
      d.withColumn(s"__tl_l$i", aggFn(values(i)._1).over(wLocal))
    }
    val summary = df.groupBy(partKeys.map(col): _*)
      .agg(aggFn(values.head._1).as("__tl_b0"),
        values.tail.zipWithIndex.map { case ((v, _), i) =>
          aggFn(v).as(s"__tl_b${i + 1}")
        }: _*)
    val wCarry = Window.partitionBy(group.map(col): _*)
      .orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = idx.foldLeft(summary) { (d, i) =>
      d.withColumn(s"__tl_c$i", aggFn(col(s"__tl_b$i")).over(wCarry))
    }.drop(idx.map(i => s"__tl_b$i"): _*)
    def combined(local: Column, carried: Column) =
      if (isMax) greatest(local, carried)
      else coalesce(local, lit(0L)) + coalesce(carried, lit(0L))
    idx.foldLeft(withLocal.join(broadcast(carry), partKeys, "left")) { (d, i) =>
      d.withColumn(values(i)._2, combined(col(s"__tl_l$i"), col(s"__tl_c$i")))
    }.drop(idx.flatMap(i => Seq(s"__tl_l$i", s"__tl_c$i")): _*)
  }

  /** `outCol` = SUM(value) OVER (PARTITION BY group ORDER BY order ROWS
    * UNBOUNDED PRECEDING [AND 1 PRECEDING]), bucket-parallel. Returns 0
    * (not null) over an empty frame. */
  def prefixSum(df: DataFrame, group: Seq[String], bucketCol: String,
                order: Seq[Column], value: Column, inclusive: Boolean,
                outCol: String): DataFrame =
    twoLevel(df, group, bucketCol, order, Seq(value -> outCol),
      isMax = false, inclusive)

  /** `outCol` = MAX(value) OVER (same frame); null over an empty frame. */
  def prefixMax(df: DataFrame, group: Seq[String], bucketCol: String,
                order: Seq[Column], value: Column, inclusive: Boolean,
                outCol: String): DataFrame =
    twoLevel(df, group, bucketCol, order, Seq(value -> outCol),
      isMax = true, inclusive)

  /** N inclusive running sums over the SAME frame in one pass — 1/N the
    * shuffle/sort cost of calling [[prefixSum]] N times. */
  def prefixSumN(df: DataFrame, group: Seq[String], bucketCol: String,
                 order: Seq[Column],
                 values: Seq[(Column, String)]): DataFrame =
    twoLevel(df, group, bucketCol, order, values, isMax = false,
      inclusive = true)

  /** `outCol` = LEAD(posCol) OVER (PARTITION BY group ORDER BY posCol),
    * bucket-parallel: lead within the bucket, stitched with the next
    * populated bucket's first position from the (tiny, broadcast) bucket
    * summary. Null for each group's last row. */
  def withNext(df: DataFrame, group: Seq[String], bucketCol: String,
               posCol: String, outCol: String): DataFrame = {
    val partKeys = group :+ bucketCol
    val wLocal = Window.partitionBy(partKeys.map(col): _*)
      .orderBy(col(posCol))
    val wB = Window.partitionBy(group.map(col): _*).orderBy(col(bucketCol))
    val nextStarts = df.groupBy(partKeys.map(col): _*)
      .agg(min(col(posCol)).as("__wn_bmin"))
      .withColumn("__wn_nextb", lead(col("__wn_bmin"), 1).over(wB))
      .drop("__wn_bmin")
    df.join(broadcast(nextStarts), partKeys, "left")
      .withColumn(outCol,
        coalesce(lead(col(posCol), 1).over(wLocal), col("__wn_nextb")))
      .drop("__wn_nextb")
  }
}
