package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/**
 * Streaming near-dup candidate filtering over a document stream
 * (SURVEY §10.6): every document explodes into its MinHash LSH band
 * buckets; per-bucket state remembers the PIONEER (minimum sequence
 * number ever seen in that bucket), and a document is flagged a
 * near-dup candidate iff some bucket of its has a pioneer strictly
 * before it. Because the state is a min — not an arrival order — the
 * verdicts are deterministic under any micro-batch slicing of an
 * in-order stream, which is what the stream==batch spec asserts.
 *
 * Two tiers share the band-bucket state layout:
 *  - candidate filter ([[bandVerdicts]]): per-bucket state is one long
 *    (the pioneer seq) — near-zero memory, flags possible dups;
 *  - VERIFIED pairs ([[verifiedPairs]]): per-bucket state retains the
 *    hashed shingle sets of every doc seen in the bucket, so each
 *    arrival is exact-Jaccard-verified against its bucket cohort and
 *    the stream emits the same verified pair set batch minhashPairs
 *    produces (asserted stream==batch in StreamingSpec). The state is
 *    bucket-local — no joins against a global corpus per micro-batch —
 *    and its bound is the same flood phenomenon the batch guard logs:
 *    Σ bucket-width × shingles/doc. A pair colliding in several bands
 *    is emitted once per colliding bucket (bucket state is
 *    coordination-free); emissions carry identical exact values, so
 *    the output contract is idempotent-by-key and consumers dedupe on
 *    (id_a, id_b) — the gated query does exactly that.
 */
object StreamDedup {

  final case class BandHit(bucket_key: Long, seq: Long, doc_id: Long)
  final case class BandVerdict(doc_id: Long, seq: Long, dup_band: Boolean)

  /**
   * Explode documents into (bucket_key, seq, doc_id) band-bucket rows.
   * `seqCol` must be monotone with stream order (an ingest sequence).
   */
  def bandHits(docs: DataFrame, textCol: String, idCol: String, seqCol: String,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val r = numHashes / bands
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(seqCol).cast("long").as("seq"),
        Dedup.minhashSignatureFromHashes(
          Dedup.hashedWordShingles(col(textCol)), numHashes).as("sig"))
      .select(col("doc_id"), col("seq"),
        posexplode(Dedup.minhashBands(col("sig"), bands, r)).as(Seq("band", "bv")))
      // one state key per (band, bucket-value): fold band into the key
      .select(xxhash64(col("band"), col("bv")).as("bucket_key"),
        col("seq"), col("doc_id"))
  }

  /** Per-bucket pioneer state: emits one verdict row per (doc, band). */
  private def verdictPerBucket(key: Long, it: Iterator[BandHit],
      state: GroupState[Long]): Iterator[BandVerdict] = {
    val hits = it.toArray.sortBy(h => (h.seq, h.doc_id))
    var pioneer = state.getOption.getOrElse(Long.MaxValue)
    val out = hits.map { h =>
      val dup = pioneer < h.seq
      if (h.seq < pioneer) pioneer = h.seq
      BandVerdict(h.doc_id, h.seq, dup)
    }
    state.update(pioneer)
    out.iterator
  }

  /**
   * Stateful band verdicts for a (possibly streaming) band-hit set;
   * aggregate with [[verdicts]] to a per-doc flag.
   */
  def bandVerdicts(hits: DataFrame): Dataset[BandVerdict] = {
    val spark = hits.sparkSession
    import spark.implicits._
    hits.as[BandHit]
      .groupByKey(_.bucket_key)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(verdictPerBucket)
  }

  /** Per-doc verdict: near-dup candidate iff ANY band flagged it. */
  def verdicts(bandVerdicts: DataFrame): DataFrame =
    bandVerdicts.groupBy(col("doc_id"))
      .agg(max(col("dup_band")).as("near_dup_candidate"))

  final case class BandDoc(bucket_key: Long, seq: Long, doc_id: Long,
      hs: Array[Long])
  final case class RetainedDoc(seq: Long, doc_id: Long, hs: Array[Long])
  final case class VerifiedPair(id_a: Long, id_b: Long, jaccard: Double)

  /**
   * Band-bucket rows that also carry the doc's hashed shingle set —
   * the input of the exact-verify tier. Same banding as [[bandHits]].
   */
  def bandDocs(docs: DataFrame, textCol: String, idCol: String, seqCol: String,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val r = numHashes / bands
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(seqCol).cast("long").as("seq"),
        Dedup.hashedWordShingles(col(textCol)).as("hs"))
      .withColumn("sig", Dedup.minhashSignatureFromHashes(col("hs"), numHashes))
      .select(col("doc_id"), col("seq"), col("hs"),
        posexplode(Dedup.minhashBands(col("sig"), bands, r)).as(Seq("band", "bv")))
      .select(xxhash64(col("band"), col("bv")).as("bucket_key"),
        col("seq"), col("doc_id"), col("hs"))
  }

  /** Same rounding as Spark SQL round(x, 6) — HALF_UP on the decimal. */
  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Two-pointer intersection count over SORTED long arrays — the
    * per-pair verify with zero boxing/allocation (the Set-based count
    * boxed every probe; measured as the bucket verify's dominant CPU). */
  private def interSorted(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** `r` with its hs sorted: `r` itself when they already are (one
    * linear check), else a copy with a sorted hs. */
  private def withSortedHs(r: RetainedDoc): RetainedDoc = {
    var i = 1
    while (i < r.hs.length && r.hs(i - 1) <= r.hs(i)) i += 1
    if (i >= r.hs.length) r
    else { val hs = r.hs.clone(); java.util.Arrays.sort(hs); r.copy(hs = hs) }
  }

  /**
   * Per-bucket exact verify: every arrival is Jaccard-checked against
   * the bucket's retained cohort (arrivals processed in (seq, doc_id)
   * order, so verdicts are deterministic under any micro-batch slicing
   * of an in-order stream). Emits pairs with exact jaccard >= tau —
   * the same values batch minhashPairs verifies, by the same double
   * math and rounding.
   *
   * maxCohort > 0 arms the stream form of the batch flood guard
   * (bucketCandidatePairs maxBucket): a degenerate bucket stops
   * RETAINING docs past the cap — arrivals still verify against the
   * capped cohort (so every doc keeps pairing with the bucket's
   * pioneers, the pivot-chaining analogue), but per-bucket state and
   * per-arrival work are bounded by maxCohort instead of growing with
   * the stream. 0 = unbounded (the exact-oracle default; the gate
   * corpus has no flood buckets).
   */
  private[graft] def verifyPerBucket(tau: Double, maxCohort: Int)(key: Long,
      it: Iterator[BandDoc],
      state: GroupState[Seq[RetainedDoc]]): Iterator[VerifiedPair] = {
    val arrivals = it.toArray.sortBy(h => (h.seq, h.doc_id))
    // invariant: retained docs hold their hs SORTED (stored below), so
    // every pair verify is a linear primitive merge; intersection
    // counts — and therefore emissions — are unchanged (hs sets are
    // distinct hashes; order never enters the Jaccard). Checkpoints
    // written before the stored hs were sorted hold them in arrival
    // order, so the restore sorts any doc that is not sorted yet.
    val retained = scala.collection.mutable.ArrayBuffer.empty[RetainedDoc]
    retained ++= state.getOption.getOrElse(Seq.empty).map(withSortedHs)
    val out = scala.collection.mutable.ArrayBuffer.empty[VerifiedPair]
    arrivals.foreach { h =>
      val hsSorted = h.hs.clone()
      java.util.Arrays.sort(hsSorted)
      retained.foreach { r0 =>
        val inter = interSorted(r0.hs, hsSorted)
        val denom = r0.hs.length + h.hs.length - inter
        if (denom > 0) {
          val j = round6(inter.toDouble / denom.toDouble)
          if (j >= tau)
            out += VerifiedPair(math.min(r0.doc_id, h.doc_id),
              math.max(r0.doc_id, h.doc_id), j)
        }
      }
      if (maxCohort <= 0 || retained.length < maxCohort)
        retained += RetainedDoc(h.seq, h.doc_id, hsSorted)
    }
    state.update(retained.toSeq)
    out.iterator
  }

  /**
   * Stateful VERIFIED near-dup pairs for a (possibly streaming)
   * [[bandDocs]] set. Emissions are per colliding bucket — dedupe on
   * (id_a, id_b) downstream (values are identical across emissions).
   */
  def verifiedPairs(hits: DataFrame, tau: Double,
      maxCohort: Int = 0): Dataset[VerifiedPair] = {
    val spark = hits.sparkSession
    import spark.implicits._
    hits.as[BandDoc]
      .groupByKey(_.bucket_key)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(verifyPerBucket(tau, maxCohort))
  }

  /**
   * Batch reference: the same verdicts from a global min-seq per
   * bucket — what the streaming state converges to.
   */
  def batchVerdicts(docs: DataFrame, textCol: String, idCol: String,
      seqCol: String, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val hits = bandHits(docs, textCol, idCol, seqCol, numHashes, bands)
    val pioneers = hits.groupBy(col("bucket_key"))
      .agg(min(col("seq")).as("pioneer"))
    hits.join(pioneers, "bucket_key")
      .groupBy(col("doc_id"))
      .agg(max(col("pioneer") < col("seq")).as("near_dup_candidate"))
  }
}
