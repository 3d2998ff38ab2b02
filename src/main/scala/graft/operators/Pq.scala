package graft.operators

import graft.functions.VectorKernel
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Product quantization — the memory-side ANN scale path (reference has
 * IVF + binary quantization, contrib/datavec/src/ivfbuild.cpp,
 * bitvec.cpp; PQ is the standard next step the serving literature adds
 * on top: Jégou et al., "Product Quantization for Nearest Neighbor
 * Search", TPAMI 2011). A d-dim fp32 vector (4d bytes) compresses to
 * m code bytes (one per subspace) — 32× at d=64, m=8 — so a 100 TB
 * vector corpus's codes fit in ~3 TB of executor memory, scannable
 * without touching the full vectors.
 *
 * Search uses asymmetric distance (ADC): the query builds one m×k
 * lookup table of exact subspace distances, each candidate scores as m
 * table lookups (no float math per row), the ADC top-(k·rerank) then
 * exact-reranks against the true vectors — the same
 * coarse-then-exact two-stage shape as [[Lsh.binQuantRerank]].
 *
 * Scale shape: codebooks and the per-query table are a few KB and ride
 * broadcast variables; the code scan is a map-only pass feeding a
 * TakeOrderedAndProject (bounded per-partition heaps, no shuffle); the
 * rerank joins the shortlist (k·rerank rows) back to the vector table
 * by id. Compose with [[Ivf]] partition pruning for IVF-PQ: encode
 * each list's residuals and scan only probed lists.
 */
object Pq {

  /** codebooks(s)(c) = centroid c of subspace s (length subDim each). */
  final case class Model(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length

    /** The codebooks widened to double (exactly), for the kernel. */
    @transient private lazy val centres = codebooks.map(_.map(_.map(_.toDouble)))

    private[graft] def encodeOne(v: Array[Float]): Array[Byte] = {
      val code = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cb = centres(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          val d = VectorKernel.l2sqAt(v, s * subDim, cb(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(s) = best.toByte
        s += 1
      }
      code
    }

    /** ADC lookup table for one query: table(s)(c) = l2sq(q_sub, cent). */
    private[graft] def adcTable(q: Array[Float]): Array[Array[Double]] =
      Array.tabulate(m, k)((s, c) => VectorKernel.l2sqAt(q, s * subDim, centres(s)(c)))
  }

  /**
   * Train m per-subspace codebooks of k centroids with seeded MLlib
   * k-means (deterministic). Sub-k-means inputs are column slices of
   * the training sample — m small fits, each over subDim-dim points.
   */
  def build(corpus: DataFrame, vecCol: String, m: Int = 8, k: Int = 256,
      seed: Long = 42L, sampleFraction: Double = 1.0): Model = {
    val sample =
      (if (sampleFraction >= 1.0) corpus else corpus.sample(sampleFraction, seed))
        .select(col(vecCol).cast("array<float>").as("v"))
    val dim = sample.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"graft: dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val books = (0 until m).map { s =>
      val feats = sample.select(array_to_vector(
        slice(col("v"), s * subDim + 1, subDim).cast("array<double>")).as("features"))
      val km = new KMeans().setK(k).setSeed(seed + s).setMaxIter(20)
        .setFeaturesCol("features")
      km.fit(feats).clusterCenters.map(_.toArray.map(_.toFloat))
    }
    Model(books.toArray)
  }

  /** Encode every row to its m-byte PQ code: (id, pq_code). */
  def encode(corpus: DataFrame, vecCol: String, idCol: String,
      model: Model): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mdl = bc.value
        it.map { case (id, v) => (id, mdl.encodeOne(v)) }
      }
      .toDF("id", "pq_code")
  }

  /**
   * IVF-PQ, build half: tag rows with their IVF list, subtract the
   * list centroid (RESIDUAL — residuals concentrate near zero, so the
   * same code budget quantizes them much finer than raw vectors), and
   * train the PQ codebooks on the residuals. Encode emits
   * (id, list_id, pq_code); persisted partitionBy(list_id) the probed
   * scan prunes at the reader like [[Ivf.writeIndex]].
   */
  def buildResidual(corpus: DataFrame, vecCol: String, idCol: String,
      ivf: Ivf.Model, m: Int = 8, k: Int = 256, seed: Long = 42L,
      sampleFraction: Double = 1.0): (Model, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcIvf = spark.sparkContext.broadcast(ivf)
    // cached: build() walks this m+1 times (dim probe + m sub-k-means
    // fits) and the final encode is one more pass — uncached, the IVF
    // assignment + residual subtraction over the full corpus would be
    // recomputed by every one of those jobs
    val tagged = graft.Caching.ensureCached(Ivf.assign(corpus, vecCol, ivf)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"), col("list_id"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cents = bcIvf.value.centroids
        it.map { case (id, v, list) =>
          val cent = cents(list)
          val res = new Array[Float](v.length)
          var i = 0
          while (i < v.length) { res(i) = v(i) - cent(i); i += 1 }
          (id, res, list)
        }
      }
      .toDF("id", "residual", "list_id"))
    try {
      val model = build(tagged, "residual", m, k, seed, sampleFraction)
      val bcPq = spark.sparkContext.broadcast(model)
      val encoded = tagged.as[(Long, Array[Float], Int)]
        .mapPartitions { it =>
          val mdl = bcPq.value
          it.map { case (id, res, list) => (id, list, mdl.encodeOne(res)) }
        }
        .toDF("id", "list_id", "pq_code")
      // materialize the codes (m+16 bytes/row — tiny next to the fp32
      // residuals) so the residual cache can be dropped before return:
      // build is the natural barrier, and callers persist `encoded`
      // partitionBy(list_id) right after anyway
      val out = graft.Caching.ensureCached(encoded)
      out.count()
      (model, out)
    } finally tagged.unpersist()
  }

  /**
   * IVF-PQ search: probe the nprobe nearest lists, build one residual
   * ADC table PER PROBED LIST (the query residual differs per list),
   * scan only those lists' codes (partition-pruned when the encoded
   * table is persisted partitionBy(list_id)), shortlist, exact rerank.
   */
  def searchIvfPq(encoded: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, ivf: Ivf.Model, pq: Model, q: Array[Float], k: Int,
      nprobe: Int, rerank: Int = 4): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val probes = ivf.probes(q, nprobe)
    val tables: Map[Int, Array[Array[Double]]] = probes.map { list =>
      val cent = ivf.centroids(list)
      val qres = new Array[Float](q.length)
      var i = 0
      while (i < q.length) { qres(i) = q(i) - cent(i); i += 1 }
      list -> pq.adcTable(qres)
    }.toMap
    val bcTables = spark.sparkContext.broadcast(tables)
    val probeIds = probes.map(Integer.valueOf)
    val shortlist = encoded
      .filter(col("list_id").isin(probeIds: _*))
      .select(col("id"), col("list_id"), col("pq_code"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        val tbls = bcTables.value
        it.map { case (id, list, code) =>
          val table = tbls(list)
          var d = 0.0
          var s = 0
          while (s < code.length) { d += table(s)(code(s) & 0xff); s += 1 }
          (id, d)
        }
      }
      .toDF("id", "adc")
      .orderBy(col("adc"), col("id")).limit(k * rerank)
    val qc = typedlit(q.toSeq)
    corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .join(shortlist.select("id"), Seq("id"), "left_semi")
      .select(col("id"),
        round(graft.functions.VectorFunctions.l2Distance(col("v"), qc), 6).as("dist"))
      .orderBy(col("dist"), col("id")).limit(k)
  }

  /**
   * ADC top-k over encoded codes with exact rerank: scan codes with the
   * query's lookup table (map-only; TakeOrderedAndProject shortlist of
   * k·rerank), join the shortlist back to the vectors, exact top-k.
   * Output: (id, dist) — dist is the EXACT rounded l2, same contract
   * as [[Knn.exactTopK]].
   */
  def search(encoded: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, model: Model, q: Array[Float], k: Int,
      rerank: Int = 4): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val bcTable = spark.sparkContext.broadcast(model.adcTable(q))
    val shortlist = encoded.select(col("id"), col("pq_code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val table = bcTable.value
        it.map { case (id, code) =>
          var d = 0.0
          var s = 0
          while (s < code.length) { d += table(s)(code(s) & 0xff); s += 1 }
          (id, d)
        }
      }
      .toDF("id", "adc")
      .orderBy(col("adc"), col("id")).limit(k * rerank)
    val qc = typedlit(q.toSeq)
    corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .join(shortlist.select("id"), Seq("id"), "left_semi")
      .select(col("id"),
        round(graft.functions.VectorFunctions.l2Distance(col("v"), qc), 6).as("dist"))
      .orderBy(col("dist"), col("id")).limit(k)
  }
}
