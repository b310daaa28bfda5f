package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension surface (beyond reference parity — the
  * reference is a batch library, SURVEY §2.6/§7).
  *
  * Two classes of operator:
  *  - stateless interval transforms (region select, expand, bin
  *    assignment) stream as-is — they're pure `Column` expressions;
  *  - order-sensitive sweeps (merge/cluster, sessionize) need keyed state:
  *    `flatMapGroupsWithState` keyed by chrom/user with an event-time
  *    watermark.
  */
object StreamOps {

  /** Tumbling event-time window aggregation with watermark — works on both
    * batch and streaming frames. */
  def windowedEventCounts(events: DataFrame, tsCol: String = "ts",
                          window_ : String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))

  /** Streaming bin assignment: stateless — each interval tagged with its
    * genome bin, ready for downstream stateful merge keyed by (chrom,bin). */
  def assignBins(intervals: DataFrame, binSize: Long): DataFrame =
    intervals.withColumn("bin", graft.ops.Scan.bucketOf(col("start"), binSize))

  case class Iv(chrom: String, start: Long, end: Long)
  case class MergedRun(chrom: String, start: Long, end: Long, nIntervals: Long)
  case class MergeState(runs: List[MergedRun], maxStart: Long)

  case class Ev(eventId: Long, tms: Long, eventType: String, value: Double)

  case class SessEv(userId: Long, eventId: Long, tms: Long)

  /** Streaming sessionization over the built-in `session_window`: a
    * session extends while consecutive events of a user arrive < `gap`
    * apart in EVENT time (a diff of exactly `gap` starts a new session —
    * the window is `[ts, ts+gap)`). Append mode emits a session only once
    * the watermark passes its close, so results are final — no
    * retractions downstream. State is O(open sessions inside the
    * watermark horizon) per the built-in's merging session store; it is
    * evicted on emission, so unbounded ingest holds bounded state. The
    * batch equivalent is the lag/cumsum sweep with a `>= gap` boundary
    * rule keyed by (user, tms). */
  def streamingSessionize(events: Dataset[SessEv], gap: String = "30 minutes",
                          delay: String = "0 seconds"): DataFrame =
    events.toDF()
      .withColumn("__ts", timestamp_millis(col("tms")))
      .withWatermark("__ts", delay)
      .groupBy(col("userId"), session_window(col("__ts"), gap))
      .agg(min(col("tms")).as("session_start"),
        max(col("tms")).as("session_last"),
        count(lit(1)).as("n_events"))
      .select(col("userId"), col("session_start"), col("session_last"),
        col("n_events"))

  /** Watermarked streaming exact-dedup: keeps the FIRST arrival per
    * `eventId`, suppressing later duplicates whose event times fall
    * inside the watermark horizon (Spark's
    * `dropDuplicatesWithinWatermark` state machine over an event-time
    * column derived from `tms` epoch-millis). The property that matters
    * at unbounded-ingest scale: state is O(distinct keys within the
    * watermark window) and is evicted as the watermark advances — a
    * plain `dropDuplicates` on a stream accretes state forever. A key
    * re-arriving AFTER its state was evicted is emitted again; choose
    * `delay` to cover the system's real duplicate-delivery window. */
  def streamingDedup(events: Dataset[Ev], delay: String): DataFrame =
    events
      .withColumn("__ts", timestamp_millis(col("tms")))
      .withWatermark("__ts", delay)
      .dropDuplicatesWithinWatermark("eventId")
      .drop("__ts")

  case class JEv(eventId: Long, userId: Long, tms: Long)

  /** Watermarked stream-stream INNER join: each left event pairs with
    * the right-stream events of the same key whose event time falls
    * within `withinMs` at-or-before it (the click-to-preceding-views
    * shape). The time-bound condition is expressed on the two
    * watermarked event-time columns, which is what lets Spark bound the
    * join state: a buffered right row is evicted once the watermark
    * passes `r.ts + withinMs` (it can never match a future left row),
    * so state is O(rows inside the bound + watermark horizon) per key —
    * a plain unbounded stream-stream join would buffer both streams
    * forever. Append mode emits each match exactly once; with
    * `joinType = "leftOuter"` an unmatched left event emits once with
    * null right columns after the watermark proves no match can still
    * arrive. */
  def streamingEventJoin(left: Dataset[JEv], right: Dataset[JEv],
                         withinMs: Long,
                         delay: String = "0 seconds",
                         joinType: String = "inner"): DataFrame = {
    val l = left.toDF("l_id", "l_user", "l_tms")
      .withColumn("__lts", timestamp_millis(col("l_tms")))
      .withWatermark("__lts", delay)
    val r = right.toDF("r_id", "r_user", "r_tms")
      .withColumn("__rts", timestamp_millis(col("r_tms")))
      .withWatermark("__rts", delay)
    val sec = withinMs / 1000
    l.join(r, col("l_user") === col("r_user") &&
        expr(s"__rts BETWEEN __lts - INTERVAL $sec SECONDS AND __lts"),
        joinType)
      .select(col("l_id"), col("r_id"), col("l_user").as("user_id"),
        (col("l_tms") - col("r_tms")).as("dt_ms"))
  }

  /** Stream-static enrichment: a batch dimension joined onto every
    * micro-batch of the stream. Stateless — no watermark and no join
    * state, because the static side is complete by definition; Spark
    * re-resolves the static plan each micro-batch, so a dimension
    * refreshed in place (an overwritten parquet dir, a view over a
    * table) is picked up without restarting the query. `broadcastDim`
    * (default) ships the dimension to every task — the right call for
    * user/geo/catalog lookups; pass false for a dimension too large to
    * broadcast and Spark shuffles each micro-batch against it instead.
    * Left join: an event with no dimension row passes through with
    * nulls rather than silently dropping. */
  def streamingEnrich(events: DataFrame, dim: DataFrame, keys: Seq[String],
                      broadcastDim: Boolean = true): DataFrame =
    events.join(if (broadcastDim) broadcast(dim) else dim, keys, "left")

  /** Stateful streaming merge with bounded out-of-order tolerance: the
    * streaming analog of the reference's cummax sweep
    * (`arrops.py:462-477`) via `flatMapGroupsWithState`, keyed by chrom.
    *
    * The "watermark" here is genomic, not temporal: a sorted-scan source
    * emits intervals roughly by start, and `allowedLag` bounds how far
    * behind the per-chrom max start a late interval may arrive — the
    * frontier is `maxStart - allowedLag`. Each batch folds its arrivals
    * into the state's partially-merged runs (re-sweeping, so in-window
    * disorder is fully repaired) and emits exactly the runs no future
    * arrival can extend (`run.end + minDist < frontier`). State is the
    * open runs inside the lag window: O(runs-per-window), not O(rows).
    * `allowedLag = 0` assumes a fully sorted source and emits most
    * eagerly. Late-beyond-lag arrivals start new (possibly overlapping)
    * runs rather than being dropped — the batch operator's semantics
    * degrade gracefully instead of silently losing data.
    */
  def streamingMerge(intervals: Dataset[Iv], minDist: Long = 0,
                     allowedLag: Long = 0): Dataset[MergedRun] = {
    import intervals.sparkSession.implicits._
    intervals
      .groupByKey(_.chrom)
      .flatMapGroupsWithState[MergeState, MergedRun](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (chrom: String, rows: Iterator[Iv], state: GroupState[MergeState]) =>
          val st = state.getOption.getOrElse(MergeState(Nil, Long.MinValue))
          val batch = rows.toSeq
          val maxStart =
            (st.maxStart +: batch.map(_.start)).max
          // fold open runs + arrivals through one sorted sweep
          val all = (st.runs.map(r => (r.start, r.end, r.nIntervals)) ++
            batch.map(iv => (iv.start, iv.end, 1L))).sortBy(t => (t._1, t._2))
          val runs = scala.collection.mutable.ArrayBuffer.empty[MergedRun]
          for ((s, e, n) <- all) {
            if (runs.nonEmpty && s <= runs.last.end + minDist) {
              val last = runs.last
              runs(runs.size - 1) = last.copy(
                end = math.max(last.end, e), nIntervals = last.nIntervals + n)
            } else runs += MergedRun(chrom, s, e, n)
          }
          val frontier = maxStart - allowedLag
          val (closed, open) = runs.partition(_.end + minDist < frontier)
          state.update(MergeState(open.toList, maxStart))
          closed.iterator
      }
  }

  /** Streaming corpus ingest with dedup-on-arrival: every micro-batch of
    * documents is (1) appended to the parquet doc store, (2) probed
    * against the persisted banded-LSH index for verified near-dup pairs
    * vs EVERYTHING ingested before it plus within itself
    * ([[graft.dedup.Dedup.incrementalMinhashPairs]]) — handed to
    * `onPairs` — and (3) its own banded keys appended to the index
    * ([[graft.dedup.Dedup.appendMinhashIndex]]) so the NEXT batch dedups
    * against this one. Probe-before-append keeps a batch from matching
    * its own keys through the index (within-batch pairs come from the
    * probe's batch self-join).
    *
    * Scale shape per batch: only the batch is shuffled (signatures +
    * probe build side); the index streams hash-clustered off its
    * bucketed scan, and verification re-shingles candidate members only.
    * State lives entirely in the index table + doc store — the streaming
    * query itself is stateless (`foreachBatch`), so a restart resumes
    * from the checkpoint with no state-store migration concerns.
    *
    * Optional EXACT-dup prefilter: pass `bloomIndexPath` (a
    * [[graft.dedup.Bloom.writeIndex]] location over the corpus's exact
    * `textCol`) and byte-identical re-deliveries are dropped at the door
    * via the codegen'd bloom cascade — handed to `onExactDups`, excluded
    * from the store / minhash probe / index appends — so only
    * bloom-positive rows (true dups + ~fpp of the batch) pay the exact
    * verify join, and the minhash machinery never re-shingles a document
    * the corpus already holds verbatim.
    *
    * Optional live statistics: pass `profileIndexPath` and each batch's
    * NOVEL rows (post-bloom) are also rolled into a
    * [[graft.text.ProfileIndex]] — per-stratum counts, size moments, and
    * HLL vocabulary/distinct-doc estimates stay queryable over
    * everything ingested so far (`ProfileIndex.readProfile`) at
    * index-scan cost, one stratum-sized append per batch. Pass
    * `cmsPath` and the novel rows' token stream also feeds a Count-Min
    * term-frequency sketch ([[graft.text.Cms]]) — point term-frequency
    * estimates over everything ingested so far at sketch-scan cost
    * (`Cms.readSketch` + `Cms.estimate`), one depth x width cell
    * relation per batch. */
  def streamingIngestDedup(docs: DataFrame, indexTable: String,
      docStorePath: String,
      onPairs: (DataFrame, Long) => Unit,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 48, bands: Int = 16,
      threshold: Double = 0.5, numBuckets: Int = 32,
      bloomIndexPath: String = null,
      onExactDups: (DataFrame, Long) => Unit = (_, _) => (),
      bloomExpectedItems: Long = 10000000L, bloomFpp: Double = 0.01,
      bloomBuckets: Int = 64,
      profileIndexPath: String = null, profileStrataCol: String = "source",
      lenHistPath: String = null, lenHistSbBits: Int = 7,
      cmsPath: String = null, cmsDepth: Int = 4, cmsWidth: Int = 2048)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestDedupBatch(batch.toDF(), batchId, indexTable, docStorePath,
          onPairs, idCol, textCol, n, numHashes, bands, threshold,
          numBuckets, bloomIndexPath, onExactDups, bloomExpectedItems,
          bloomFpp, bloomBuckets, profileIndexPath, profileStrataCol,
          lenHistPath, lenHistSbBits, cmsPath, cmsDepth, cmsWidth)
    }

  /** The store subdirectories a batch's bloom prefilter may verify
    * against: every `batch=*` child EXCEPT the current batch's own. The
    * exclusion is the replay-correctness linchpin — a foreachBatch
    * re-delivery arrives AFTER its own store write may have completed,
    * and probing against that directory would classify every row as an
    * exact dup of itself, so the replay-idempotent overwrite below would
    * then replace the batch's store dir with an EMPTY relation (silent
    * data loss; r9 VERDICT item 2). */
  private def priorStoreDirs(s: org.apache.spark.sql.SparkSession,
                             docStorePath: String,
                             batchId: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(docStorePath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filterNot(_.getPath.getName == s"batch=$batchId")
      .map(_.getPath.toString)
  }

  /** Run the independent writers of an ingest tail: inline when there is
    * at most one, else each on its own thread. Every failure surfaces:
    * the first is thrown with the others attached as suppressed. */
  private[graft] def runTail(tail: Seq[() => Unit]): Unit =
    if (tail.size <= 1) tail.foreach(f => f())
    else {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = tail.map { f =>
        val t = new Thread(() =>
          try f() catch { case e: Throwable => errs.add(e); () })
        t.start(); t
      }
      threads.foreach(_.join())
      val first = errs.poll()
      if (first != null) {
        errs.forEach(e => first.addSuppressed(e))
        throw first
      }
    }

  /** One micro-batch of [[streamingIngestDedup]], exposed so the replay
    * contract is directly testable (call it twice with the same
    * `batchId` — the second call must be a no-op for the store and the
    * profile, and re-emit the same pairs). See [[streamingIngestDedup]]
    * for the semantics of each step. */
  def ingestDedupBatch(batchDf: DataFrame, batchId: Long,
      indexTable: String, docStorePath: String,
      onPairs: (DataFrame, Long) => Unit,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 48, bands: Int = 16,
      threshold: Double = 0.5, numBuckets: Int = 32,
      bloomIndexPath: String = null,
      onExactDups: (DataFrame, Long) => Unit = (_, _) => (),
      bloomExpectedItems: Long = 10000000L, bloomFpp: Double = 0.01,
      bloomBuckets: Int = 64,
      profileIndexPath: String = null,
      profileStrataCol: String = "source",
      lenHistPath: String = null, lenHistSbBits: Int = 7,
      cmsPath: String = null, cmsDepth: Int = 4,
      cmsWidth: Int = 2048): Unit = {
    val s = batchDf.sparkSession
    val batch = batchDf.persist()
    if (!batch.isEmpty) {
      // Exact-dup prefilter (opt-in via bloomIndexPath): the batch is
      // probed against the persisted bloom index over the corpus's
      // exact text, so rows that are byte-identical to an
      // already-ingested doc are dropped AT THE DOOR — handed to
      // `onExactDups`, excluded from the store, the minhash probe,
      // and both index appends — and only the bloom-positive rows
      // (true exact dups + ~fpp of the novel rows) ever pay the
      // exact verify join inside Bloom.probeNew. Within-batch exact
      // dups are NOT caught here by design: they surface as
      // jaccard-1.0 pairs through the minhash probe's batch
      // self-join, same as before. The verify universe EXCLUDES this
      // batch's own store directory (priorStoreDirs) — a replayed
      // batch must not dedup against its own earlier write.
      val fresh: DataFrame =
        if (bloomIndexPath == null) batch
        else {
          val bloomIdx = s.read.parquet(bloomIndexPath)
          val prior = priorStoreDirs(s, docStorePath, batchId)
          val corpusKeys =
            if (prior.isEmpty) batch.select(textCol).limit(0)
            else s.read.parquet(prior: _*).select(textCol)
          val f = graft.dedup.Bloom.probeNew(bloomIdx, corpusKeys,
            batch, col(textCol), bloomBuckets).persist()
          val dups = batch.join(f.select(idCol), Seq(idCol), "left_anti")
          onExactDups(dups, batchId)
          f
        }
      // replay-idempotent store write: foreachBatch re-delivers a
      // batch after a failure with the SAME batchId, and a plain
      // append would duplicate its rows — overwrite of a
      // batch-addressed subdirectory makes the replay a no-op.
      // (Minhash-index replay is at-least-once on KEY rows but
      // exactly-once on OUTPUT: duplicated band keys only create
      // duplicate candidates and the probe's distinct() absorbs them.
      // A replayed bloom append only re-sets bits that are already
      // set. The profile write below is batch-addressed overwrite,
      // so replay replaces rather than doubles its stratum rows.)
      fresh.select(idCol, textCol).write.mode("overwrite")
        .parquet(s"$docStorePath/batch=$batchId")
      val universe = s.read.parquet(s"$docStorePath/batch=*")
      // onPairs consumes the pairs synchronously, so the probe's two
      // internal cache barriers can be released before the batch
      // ends — without this every micro-batch leaked two permanent
      // CacheManager entries into a long-running ingest stream.
      val (pairs, release) = graft.dedup.Dedup
        .incrementalMinhashPairsWithRelease(
          fresh, universe, indexTable, idCol, textCol,
          n, numHashes, bands, threshold)
      try onPairs(pairs, batchId) finally release()
      graft.dedup.Dedup.appendMinhashIndex(fresh, idCol, textCol,
        indexTable, n, numHashes, bands, numBuckets)
      // statistics/index tail — live corpus profile, HDR length
      // histogram, CMS term sketch, bloom append. Every one is
      // batch-addressed (overwrite of its own batch subdirectory, or a
      // bit-idempotent bloom append), reads only the already-persisted
      // `fresh`, and none reads another's output within this batch — so
      // they are submitted CONCURRENTLY (optimization guide §2.6:
      // overlap independent jobs). This batch's cost was measured
      // driver-gap-bound (r16 probe: 31s of inter-job gap in a 42s warm
      // run at 205 stages), so overlapping the tail's planning/commit
      // latencies is the lever; per-index semantics are byte-identical
      // to the previous sequential submission, and replay idempotence
      // never depended on the order of these four (a crash mid-tail
      // leaves some subset written — exactly the torn-delivery case the
      // batch-addressed replay already covers). Threads inherit the
      // caller's job group (InheritableThreadLocal), so budget cancels
      // still reach these jobs.
      val tail = Seq(
        Option(profileIndexPath).map(p => () =>
          graft.text.ProfileIndex.writeProfileBatch(fresh,
            profileStrataCol, textCol, p, batchId)),
        Option(lenHistPath).map(p => () =>
          graft.text.Hdr.writeHistogramBatch(
            fresh.select(col(profileStrataCol),
              length(coalesce(col(textCol), lit(""))).as("__len")),
            "__len", Seq(profileStrataCol), p, batchId,
            lenHistSbBits)),
        Option(cmsPath).map(p => () =>
          graft.text.Cms.writeSketchBatch(fresh, textCol, p,
            batchId, cmsDepth, cmsWidth)),
        Option(bloomIndexPath).map(p => () =>
          graft.dedup.Bloom.appendIndex(fresh, col(textCol),
            p, bloomBuckets, bloomExpectedItems, bloomFpp))
      ).flatten
      // the bloom append raises session caps: do it here, not on a tail
      // thread, so no worker mutates conf the sibling jobs plan against
      if (bloomIndexPath != null) graft.dedup.Bloom.ensureIndexCaps(s,
        bloomBuckets, bloomExpectedItems, bloomFpp)
      runTail(tail)
      if (bloomIndexPath != null) {
        fresh.unpersist()
        ()
      }
    }
    batch.unpersist()
    ()
  }

  /** Streaming embedding ingest into a persisted quantized IVF index
    * ([[graft.ann.Ann.writeIvfIndex]] created it; centroids are FROZEN
    * for the index's lifetime): each micro-batch is assigned, int8-
    * quantized, and appended in one pass over the batch — similarity
    * search ([[graft.ann.Ann.ivfTopKIndexed]]) stays available over
    * everything ingested so far, and the corpus never reshuffles.
    *
    * `compactEvery > 0` folds maintenance into the stream: after every
    * N batches the index is compacted to one file per bucket
    * (crash-safe fresh-path + rename swap, [[graft.ann.Ann
    * .compactIvfIndex]]), bounding the small-file growth a long-running
    * append stream otherwise accumulates. The streaming query itself is
    * stateless (`foreachBatch`) — restart resumes from the checkpoint. */
  def streamingIngestAnn(embs: DataFrame,
      cents: Array[(Int, Array[Double])], indexTable: String,
      compactPathFor: Long => String = null, compactEvery: Int = 0,
      numBuckets: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    embs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestAnnBatch(batch.toDF(), batchId, cents, indexTable,
          compactPathFor, compactEvery, numBuckets, idCol, vecCol)
    }

  /** One micro-batch of [[streamingIngestAnn]], exposed for direct
    * invocation and replay testing. Compaction is replay-idempotent: if
    * the batch's compaction target path is ALREADY the table's current
    * location (the prior delivery committed the compaction but the
    * checkpoint didn't advance), the compaction is skipped instead of
    * tripping `compactIvfIndex`'s same-path guard and wedging the stream
    * on every retry. */
  def ingestAnnBatch(batchDf: DataFrame, batchId: Long,
      cents: Array[(Int, Array[Double])], indexTable: String,
      compactPathFor: Long => String = null, compactEvery: Int = 0,
      numBuckets: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    if (!batchDf.isEmpty) {
      graft.ann.Ann.appendIvfIndex(batchDf, cents, indexTable,
        numBuckets, idCol, vecCol)
      if (compactEvery > 0 && compactPathFor != null &&
          batchId > 0 && batchId % compactEvery == 0) {
        val s = batchDf.sparkSession
        val target = compactPathFor(batchId)
        val current = s.sessionState.catalog
          .getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(indexTable))
          .location
        if (new java.net.URI(target).getPath != current.getPath)
          graft.ann.Ann.compactIvfIndex(s, indexTable, target, numBuckets)
      }
    }
    ()
  }
}
