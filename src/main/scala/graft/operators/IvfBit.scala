package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.{BitNearestCentroid, UnpackBits, VectorKernel}

/**
 * Hamming-metric IVF over packed bit codes — the binary-embedding
 * index tier (reference: contrib/datavec's `bit` opclass support,
 * sql/datavec--0.7.2.sql:336-345 `ivfflat_bit_support`, with
 * bitutils.cpp BitHammingDistance as the metric). At 32× compression
 * (1 bit per dimension) this is exactly the 100 TB storage tier:
 * codes come from [[graft.functions.VectorFunctions.binaryQuantize]],
 * the index layout is the same partitionBy(list_id) parquet as the
 * fp32/fp16/int8 tiers (reader-level partition pruning at search),
 * and list centroids are bit strings themselves.
 *
 * Training is k-majorities (k-means in Hamming space): assignment by
 * popcount argmin (compiled per-row scan of a ≤nlists-entry centroid
 * table — no shuffle), update by PER-BIT MAJORITY VOTE (the Hamming
 * 1-median of a list is the bitwise majority of its members), tied
 * bits cleared so the update is deterministic. The update aggregates
 * nlists×nbits counters (tiny), never the codes themselves.
 *
 * Scale: assignment is map-only; the per-round update is one
 * groupBy(list_id, bit) count over the posexploded SAMPLE (training
 * runs on `sampleFraction`, as any 100 TB k-means does); search reads
 * only the probed partitions and ranks through a bounded top-k.
 */
object IvfBit {

  final case class Model(centroids: Array[Array[Byte]]) {
    def nlists: Int = centroids.length
    def nbits: Int = centroids.headOption.map(_.length * 8).getOrElse(0)

    /** Nearest-centroid list ids for one query code, best first
      * (ties to the lower list id — total order, deterministic). */
    def probes(q: Array[Byte], nprobe: Int): Seq[Int] =
      centroids.indices.sortBy(i => (VectorKernel.hammingBits(q, centroids(i)), i)).take(nprobe)
  }

  /** Sign-quantize a float vector driver-side (BinaryQuantize's
    * layout: bit i of byte i/8, MSB first; > 0 sets the bit). */
  def quantize(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte]((v.length + 7) / 8)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) out(i / 8) = (out(i / 8) | (0x80 >>> (i % 8))).toByte
      i += 1
    }
    out
  }

  /** Packed code → array<int> of 0/1 bits (compiled per-row). */
  def unpackBitsCol(code: Column): Column =
    Bridge.column(UnpackBits(Bridge.expression(code)))

  /** Tag every row with its nearest list id (map-only compiled scan). */
  def assign(codes: DataFrame, codeCol: String, model: Model): DataFrame =
    codes.withColumn("list_id", Bridge.column(
      BitNearestCentroid(Bridge.expression(col(codeCol)),
        model.centroids.toSeq)))

  /**
   * Train `nlists` bit centroids by k-majorities. Deterministic:
   * seeds are the `nlists` distinct codes with the smallest
   * xxhash64, assignment ties go to the lower list, tied bits vote 0,
   * and an emptied list keeps its previous centroid.
   */
  def build(codes: DataFrame, codeCol: String, nlists: Int, iters: Int = 5,
      sampleFraction: Double = 1.0): Model = {
    val sample = (if (sampleFraction >= 1.0) codes
                  else codes.sample(sampleFraction, 42L))
      .select(col(codeCol).as("code")).cache()
    try {
      val seeds = sample.distinct()
        .orderBy(xxhash64(col("code")), col("code"))
        .limit(nlists)
        .collect().map(_.getAs[Array[Byte]](0))
      var model = Model(seeds)
      var it = 0
      while (it < iters) {
        // per-(list, bit) set-counts + per-list sizes in one pass
        val tagged = assign(sample, "code", model)
          .select(col("list_id"),
            posexplode(Bridge.column(UnpackBits(Bridge.expression(col("code"))))))
        val counts = tagged.groupBy(col("list_id"), col("pos"))
          .agg(count(lit(1)).as("n"), sum(col("col")).as("ones"))
          .collect()
        val sizes = new Array[Long](model.nlists)
        val ones = Array.ofDim[Long](model.nlists, model.nbits)
        counts.foreach { r =>
          val l = r.getInt(0); val p = r.getInt(1)
          sizes(l) = r.getLong(2)
          ones(l)(p) = r.getLong(3)
        }
        val next = model.centroids.indices.map { l =>
          if (sizes(l) == 0L) model.centroids(l)
          else {
            val c = new Array[Byte]((model.nbits + 7) / 8)
            var b = 0
            while (b < model.nbits) {
              // strict majority sets the bit; exact ties clear it
              if (2L * ones(l)(b) > sizes(l))
                c(b / 8) = (c(b / 8) | (0x80 >>> (b % 8))).toByte
              b += 1
            }
            c
          }
        }.toArray
        model = Model(next)
        it += 1
      }
      model
    } finally sample.unpersist()
  }

  /** Persist the tagged codes partitioned by list_id (the pruned
    * search layout, same as the fp16/int8 tiers). */
  def writeIndex(codes: DataFrame, codeCol: String, model: Model,
      path: String): DataFrame = {
    assign(codes, codeCol, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    codes.sparkSession.read.parquet(path)
  }

  /** nprobe search: reader-pruned list filter + Hamming popcount
    * top-k through TakeOrdered. `index` is a [[writeIndex]] table. */
  def search(index: DataFrame, codeCol: String, idCol: String, model: Model,
      q: Array[Byte], nprobe: Int, k: Int): DataFrame = {
    val probeIds = model.probes(q, nprobe).map(Integer.valueOf)
    index.filter(col("list_id").isin(probeIds: _*))
      .select(col(idCol),
        graft.functions.VectorFunctions.hammingDistance(col(codeCol), lit(q))
          .cast("long").as("dist"))
      .orderBy(col("dist"), col(idCol)).limit(k)
  }
}
