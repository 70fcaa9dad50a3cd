package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate ADMISSION — online MinHash+LSH dedup at
  * ingestion time: a document is admitted iff NONE of its band buckets
  * was claimed by any earlier document (across all previous
  * micro-batches, or by a lower doc_id inside its own batch). Buckets
  * are claimed by REJECTED documents too, mirroring the transitive
  * batch clustering (`Dedup.duplicateClusters`): once any member of a
  * near-dup chain passes, everything chained to it is held back.
  *
  * Shape: signatures/banding identical to `Dedup.lshCandidatePairs`
  * (32 affine min-hashes over 3-shingles, xxhash64 band buckets), then
  * ONE `flatMapGroupsWithState` keyed by (band, bucket) — state is a
  * single claimed flag per DISTINCT BUCKET EVER PROBED. That is
  * O(bands × chain heads) only while near-dups re-touch their head's
  * buckets; measured over ≥50 micro-batches of a 40%-near-dup
  * stream, each rejected variant perturbs ~1.5 fresh buckets, so
  * unbounded-retention state grows linearly with stream length. For
  * indefinite ingest pass `ttlMs`: buckets not re-probed within the
  * window expire (the
  * `dropDuplicatesWithinWatermark` trade — admission dedups against
  * the trailing window, state is bounded by the window's distinct
  * buckets). The per-document AND-reduction is
  * STATELESS (every probe of a document lives in its one micro-batch):
  * `mapGroups` on a static frame, `decide(batch)` inside
  * `foreachBatch` on a stream — a second stateful stage after
  * flatMapGroupsWithState is not legal in a streaming plan, and none
  * is needed.
  *
  * Within one micro-batch the claim is deterministic: the LOWEST
  * doc_id probing a fresh bucket wins it (arrival order inside a
  * micro-batch is not meaningful; the tie-break must be reproducible
  * for the batch oracle).
  */
object StreamNearDedup {

  case class Verdict(doc_id: Long, band: Int, collided: Boolean)
  case class Decision(doc_id: Long, admitted: Boolean)

  /** Explicit opt-in to UNBOUNDED state retention: admission is exact
    * against ALL history, and the state store grows linearly with the
    * distinct buckets ever probed (~1.5 fresh buckets per rejected
    * near-dup variant, measured on a 40%-near-dup stream:
    * ~27k state rows at 18k docs, vs a 1.9–3.4k plateau with a TTL).
    * Suitable for finite backfills and the static one-batch path; an
    * indefinite ingest pipeline must pass a positive `ttlMs` instead
    * (trailing-window admission, state bounded by the window's
    * distinct buckets). */
  val HistoryExact: Long = 0L

  /** A degenerate bucket (boilerplate-heavy corpus, identical empty
    * docs) must fail loudly, not buffer without bound: the group
    * resolution holds the bucket's doc_ids in memory to find the
    * in-batch minimum (mirror of the batch `capBuckets` guard — a
    * bucket this large signals exact duplication better served by
    * `Dedup.exactStreaming` first). */
  val MaxBucketDocs: Int = 1 << 22

  /** State per bucket = last-touch processing time. The timeout
    * callback only fires for groups with NO data in a batch, so a
    * bucket probed again after its TTL lapsed would still see its
    * stale claim — the timestamp check below is what makes expiry
    * exact on the data path; the timer merely garbage-collects
    * never-again-probed buckets. */
  private def resolve(ttlMs: Long)(key: (Int, Long),
      it: Iterator[(Long, Int, Long)],
      state: GroupState[Long]): Iterator[Verdict] = {
    if (state.hasTimedOut) {
      // bucket idle past the TTL: forget the claim (trailing-window
      // semantics) — no probes ride a timed-out invocation
      state.remove()
      return Iterator.empty
    }
    val docs = it.map(_._1).take(MaxBucketDocs + 1).toArray.sorted
    require(docs.length <= MaxBucketDocs,
      s"StreamNearDedup: band bucket ${key._1}/${key._2} holds more than " +
        s"$MaxBucketDocs documents in one micro-batch — run exact dedup " +
        "ahead of the near-dup admission")
    val claimed =
      if (ttlMs == 0) state.exists
      else {
        val now = state.getCurrentProcessingTimeMs()
        state.getOption.exists(last => now - last <= ttlMs)
      }
    if (ttlMs == 0) state.update(0L)
    else {
      state.update(state.getCurrentProcessingTimeMs())
      state.setTimeoutDuration(ttlMs) // re-arm on every touch
    }
    docs.iterator.zipWithIndex.map { case (d, i) =>
      Verdict(d, key._1, claimed || i > 0)
    }
  }

  /** (doc_id, band, bucket) probes — the exact banding of
    * `Dedup.lshCandidatePairs`. */
  def probes(docs: DataFrame, numHashes: Int, bands: Int, shingleSize: Int)
      (implicit spark: SparkSession): Dataset[(Long, Int, Long)] = {
    import spark.implicits._
    require(bands >= 1 && numHashes % bands == 0,
      "numHashes must be a positive multiple of bands")
    val rows = numHashes / bands
    docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.pipeline.Dedup.minhashSignature(col("text"), numHashes,
          shingleSize).as("sig"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1,
          lit(rows))), b))).as(Seq("band", "bh")))
      .select(col("doc_id"), col("band").cast("int"), col("bh"))
      .as[(Long, Int, Long)]
  }

  /** The stateful stage alone (streaming-legal): per-probe collision
    * verdicts against everything claimed so far. The state contract is
    * EXPLICIT — `ttlMs` has no default: pass a positive TTL to bound
    * the state store (a bucket not re-probed for that long is
    * forgotten via processing-time timeout, so admission dedups
    * against the trailing window), or pass [[HistoryExact]] to accept
    * unbounded, history-exact retention (see its warning). */
  def verdicts(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      shingleSize: Int = 3, ttlMs: Long)
      (implicit spark: SparkSession): Dataset[Verdict] = {
    import spark.implicits._
    require(ttlMs >= 0, s"StreamNearDedup: negative ttlMs $ttlMs")
    probes(docs, numHashes, bands, shingleSize)
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append,
        if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(resolve(ttlMs))
  }

  /** Stateless per-micro-batch reduction: one (doc_id, admitted) row
    * per document of the batch. Use inside `foreachBatch`. */
  def decide(batch: Dataset[Verdict]): DataFrame =
    batch.groupBy("doc_id")
      .agg((sum(col("collided").cast("int")) === 0).as("admitted"))

  /** Whole-frame (static) admission — the same state functions run
    * once per group, so this is the one-micro-batch semantics: a doc
    * is admitted iff it is the lowest doc_id in EVERY one of its band
    * buckets. */
  def apply(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      shingleSize: Int = 3)(implicit spark: SparkSession): Dataset[Decision] = {
    import spark.implicits._
    verdicts(docs, numHashes, bands, shingleSize, ttlMs = HistoryExact)
      .groupByKey(_.doc_id)
      .mapGroups((d, it) => Decision(d, !it.exists(_.collided)))
  }
}
