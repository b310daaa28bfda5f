package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership index for ingest-time exact dedup — beyond the
  * reference (a single-host pandas library has no reason to exist at this
  * shape), this is the operator a 100 TB corpus needs so that "which of
  * these N new documents have we already seen?" does NOT cost a
  * corpus-wide join per batch.
  *
  * Shape: the corpus's key hashes are folded — once — into per-bucket
  * Bloom filters with Spark's native `bloom_filter_agg` (a map-side
  * combinable TypedImperativeAggregate; the shuffle carries B partially
  * built filters, never rows). The index is B rows of
  * `(bucket, bloom binary)` and its TOTAL size is set by the corpus key
  * count and fpp alone (~1.2 bytes/key at 1% fpp: ~120 MB at 1e8 keys,
  * ~1.2 GB at 1e9 — bucketing shards the build/merge, it does not shrink
  * the total). The PROBE embeds the driver-merged blobs as LITERALS in a
  * single codegen'd `CASE bucket WHEN b THEN might_contain(blob_b, h)`
  * cascade — the whole batch stays inside whole-stage codegen, and only
  * the might-contain rows (true dups + ~fpp of the novel rows) reach the
  * exact verify join. The result is exact; the bloom only decides who
  * pays for verification.
  *
  * Scale boundary, stated honestly: the literal cascade ships the full
  * index once per stage (torrent-broadcast with the task binary), so it
  * is the right probe up to index sizes a plan can carry (~hundreds of
  * MB ≈ corpora of ~1e8–1e9 keys at 1% fpp). Past that, shard ingest by
  * key range so each shard's index stays plan-sized, or raise fpp —
  * undersizing degrades the prune rate, never correctness. */
object Bloom {

  import org.apache.spark.sql.graftbridge.Bridge.{column => colOf, catalystExpression => exprOf}

  /** Raise Spark's runtime-bloom-filter session caps to `items`/`bits` if
    * they are below them: `BloomFilterAggregate` silently clamps its
    * `estimatedNumItems`/`numBits` to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`.maxNumBits`
    * (defaults 4M items / 67,108,864 bits = 8 MB) at evaluation time, so
    * without this a large `expectedItems` produces an undersized filter
    * whose real fpp degrades toward 1.0 — every probe row would silently
    * fall through to the exact verify join. */
  private def ensureAggCaps(spark: SparkSession, items: Long,
                            bits: Long): Unit = {
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    if (spark.conf.get(itemsKey).toLong < items)
      spark.conf.set(itemsKey, items.toString)
    if (spark.conf.get(bitsKey).toLong < bits)
      spark.conf.set(bitsKey, bits.toString)
  }

  /** Raise the session caps that [[appendIndex]] / [[buildIndex]] with
    * these parameters need. Call it on the caller thread before running
    * an append concurrently with other jobs: the raise is a
    * read-then-set of session-global conf, and the append's own call
    * then only reads. */
  private[graft] def ensureIndexCaps(spark: SparkSession, numBuckets: Int,
                      expectedItems: Long, fpp: Double): Unit = {
    val perBucket = math.max(1L, expectedItems / numBuckets)
    ensureAggCaps(spark, perBucket,
      BloomFilter.optimalNumOfBits(perBucket, fpp))
  }

  /** Aggregate Column folding `hash` (must be BIGINT, e.g. `xxhash64`)
    * into one Bloom filter blob sized for `expectedItems` at `fpp`.
    * Raises the session's runtime-bloom-filter caps when the requested
    * sizing exceeds them (see [[ensureAggCaps]]). */
  def bloomAgg(hash: Column, expectedItems: Long, fpp: Double): Column = {
    val bits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    ensureAggCaps(SparkSession.active, expectedItems, bits)
    colOf(new BloomFilterAggregate(exprOf(hash), Literal(expectedItems),
      Literal(bits)).toAggregateExpression())
  }

  /** Codegen'd membership probe against a CONSTANT bloom blob. */
  def mightContain(bloom: Array[Byte], hash: Column): Column =
    colOf(BloomFilterMightContain(Literal(bloom, BinaryType), exprOf(hash)))

  /** The index's bucket-and-hash key derivation, shared by build and
    * probe: `(xxhash64(key), pmod(hash, numBuckets))`. */
  private def keyed(df: DataFrame, keyCol: Column, numBuckets: Int,
                    hashName: String, bucketName: String): DataFrame =
    df.withColumn(hashName, xxhash64(keyCol))
      .withColumn(bucketName, pmod(col(hashName), lit(numBuckets.toLong)))

  /** A column name not present in `taken` — probe/verify temp columns
    * must never collide with (and silently replace) a caller column. */
  private def freshName(base: String, taken: Set[String]): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(!taken(_)).get

  /** Build the `(bucket, bloom)` index over `keyCol` of `corpus` — one
    * aggregation job, one bounded result. `expectedItems` is the TOTAL
    * corpus key count the filters are sized for (each bucket gets
    * `expected/numBuckets`); undersizing degrades fpp, never
    * correctness. */
  def buildIndex(corpus: DataFrame, keyCol: Column, numBuckets: Int = 64,
                 expectedItems: Long = 10000000L,
                 fpp: Double = 0.01): DataFrame = {
    require(numBuckets > 0 && expectedItems > 0)
    val perBucket = math.max(1L, expectedItems / numBuckets)
    keyed(corpus.select(keyCol.as("__key")), col("__key"), numBuckets,
        "__h", "bucket")
      .groupBy(col("bucket"))
      .agg(bloomAgg(col("__h"), perBucket, fpp).as("bloom"))
  }

  /** Collect the index and merge multi-row buckets (appended ingest
    * batches, [[appendIndex]]) on the driver — so append stays a pure
    * parquet append and compaction is an optimization, not a
    * correctness step. Bounded by construction (B merged blobs). */
  private def mergedBlobs(index: DataFrame): Seq[(Long, Array[Byte])] =
    index
      .select(col("bucket").cast("long"), col("bloom"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (b, rows) =>
        val merged = BloomFilter.readFrom(rows.head.getAs[Array[Byte]](1))
        rows.tail.foreach(r =>
          merged.mergeInPlace(BloomFilter.readFrom(r.getAs[Array[Byte]](1))))
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        b -> bos.toByteArray
      }.toSeq.sortBy(_._1)

  /** The codegen'd probe: one flat `CASE` over the (≤numBuckets) merged
    * blobs, each branch a constant-filter `might_contain`. A bucket
    * absent from the index means the corpus had no keys there → false. */
  private def maybeExpr(blooms: Seq[(Long, Array[Byte])], bucket: Column,
                        hash: Column): Column =
    blooms match {
      case Seq() => lit(false)
      case (b0, blob0) +: rest =>
        rest.foldLeft(when(bucket === lit(b0), mightContain(blob0, hash))) {
          case (acc, (bk, blob)) =>
            acc.when(bucket === lit(bk), mightContain(blob, hash))
        }.otherwise(lit(false))
    }

  /** Exact "which batch rows are NEW vs the corpus", bloom-prefiltered.
    *
    * `index` is [[buildIndex]]'s output (collected, bucket-merged, and
    * embedded as plan literals here — bounded by construction);
    * `corpusKeys` is a single-column relation of the corpus's key
    * values, consulted ONLY for the might-contain rows (persist it
    * bucketed/pre-hashed for repeated batches — the same posture as the
    * minhash incremental index). Returns the batch rows whose `keyCol`
    * value does not occur in `corpusKeys`, exactly: hash collisions
    * inside the bloom cost a verify-join row, never a wrong answer,
    * because the verify join compares the KEY VALUE, not the hash.
    *
    * The probe is expression-only — no mapPartitions, no Row encoder —
    * so the mostly-novel common case never leaves whole-stage codegen
    * (plan-asserted in BloomSpec: zero SerializeFromObject). */
  def probeNew(index: DataFrame, corpusKeys: DataFrame, batch: DataFrame,
               keyCol: Column, numBuckets: Int = 64): DataFrame = {
    val (definitelyNew, maybeDup) = maybeSplit(index, batch, keyCol,
      numBuckets)
    val ckName = freshName("__ck", batch.columns.toSet)
    val verifiedNew = maybeDup
      .join(corpusKeys.select(corpusKeys.columns.head).toDF(ckName),
        keyCol === col(ckName), "left_anti")
    definitelyNew.unionByName(verifiedNew)
  }

  /** The batch rows the bloom flags MIGHT-contain — exactly the relation
    * that pays [[probeNew]]'s verify join (true dups + ~fpp of the novel
    * rows). Public so callers/specs can measure the prefilter's prune
    * rate directly. */
  def probeMaybe(index: DataFrame, batch: DataFrame, keyCol: Column,
                 numBuckets: Int = 64): DataFrame =
    maybeSplit(index, batch, keyCol, numBuckets)._2

  /** `(definitely-new, might-contain)` split of `batch` through the
    * codegen'd cascade. */
  private def maybeSplit(index: DataFrame, batch: DataFrame, keyCol: Column,
                         numBuckets: Int): (DataFrame, DataFrame) = {
    val blooms = mergedBlobs(index)
    val taken = batch.columns.toSet
    val hName = freshName("__h", taken)
    val bName = freshName("__b", taken)
    val keyedBatch = keyed(batch, keyCol, numBuckets, hName, bName)
    val maybe = maybeExpr(blooms, col(bName), col(hName))
    val out = batch.columns
    (keyedBatch.filter(!maybe).select(out.head, out.tail: _*),
      keyedBatch.filter(maybe).select(out.head, out.tail: _*))
  }

  // -------------------------------------------- persisted ingest index

  /** Write [[buildIndex]]'s output as the persisted index at `path`. */
  def writeIndex(corpus: DataFrame, keyCol: Column, path: String,
                 numBuckets: Int = 64, expectedItems: Long = 10000000L,
                 fpp: Double = 0.01): Unit =
    buildIndex(corpus, keyCol, numBuckets, expectedItems, fpp)
      .write.mode("overwrite").parquet(path)

  /** Fold an ingest batch's keys into the persisted index — a pure
    * parquet APPEND (new `(bucket, bloom)` rows; [[probeNew]] merges
    * multi-row buckets at load). `expectedItems`/`fpp`/`numBuckets` MUST
    * match the original [[writeIndex]] call: Spark's sketch only merges
    * filters of identical bit width, which these parameters determine.
    * Each appended row costs one blob; run [[compactIndex]] on the same
    * cadence as the minhash index compaction to re-bound the file count
    * under long-running ingest. */
  def appendIndex(batch: DataFrame, keyCol: Column, path: String,
                  numBuckets: Int = 64, expectedItems: Long = 10000000L,
                  fpp: Double = 0.01): Unit =
    buildIndex(batch, keyCol, numBuckets, expectedItems, fpp)
      .write.mode("append").parquet(path)

  /** Rewrite the persisted index with one merged blob per bucket,
    * CRASH-SAFELY: the merged index is written to a fresh sibling
    * directory first, then swapped in via two renames — the live index
    * stays intact and readable until the swap, and a failure at any
    * point leaves either the old or the new index at `path` (plus at
    * worst a leftover sibling that the next run reaps). Mirrors
    * [[Dedup.compactMinhashIndex]]'s fresh-path + rename-swap +
    * best-effort-delete shape. Bucket blobs are dimension-sized by
    * construction, so the merge runs where [[probeNew]] already does
    * that work — on the driver. */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = new Path(path + "__compacting")
    val retired = new Path(path + "__old")
    // reap leftovers of a previously crashed compaction
    if (fs.exists(fresh)) fs.delete(fresh, true)
    if (fs.exists(retired)) fs.delete(retired, true)
    val merged = mergedBlobs(spark.read.parquet(path))
    import spark.implicits._
    merged.toDF("bucket", "bloom")
      .coalesce(1) // bounded relation: one file, one footer per probe load
      .write.mode("overwrite").parquet(fresh.toString)
    // the swap: old index readable until here
    require(fs.rename(live, retired), s"compactIndex: rename $live failed")
    require(fs.rename(fresh, live), s"compactIndex: rename $fresh failed")
    try { fs.delete(retired, true); () }
    catch { case _: Exception => () } // storage lifecycle can reap it
  }
}
