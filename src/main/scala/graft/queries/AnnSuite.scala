package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.functions.{VectorFunctions => VF}
import graft.operators.{Hnsw, Ivf, IvfBit, Knn, Lsh, Pq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * ANN / similarity-search queries (SURVEY §2 B-series). The query vector
 * is vec_id = 0 (a k-row driver collect, allowed by SURVEY §5).
 *
 * knn_exact / knn_join / binquant_rerank have exact SQL oracles.
 * ivf_* / lsh_ann / hnsw_* are approximate-by-design, so their gated
 * outputs are engine-independent INVARIANTS instead of raw neighbor
 * lists: result-set cardinality (an exact contract) plus
 * recall-vs-in-query-exact-KNN booleans whose bounds sit well below
 * the recalls AnnSpec asserts — the oracle recomputes the cardinality
 * and emits the booleans as constant TRUE. The raw-neighbor forms stay
 * spec-asserted in AnnSpec.
 */
object AnnSuite {
  private def queryVec(s: SparkSession, dir: String): Array[Float] =
    Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /**
   * Gate shape for a single-query ANN result: `n_results` (exact — the
   * operator must return exactly k rows) and `recall_ok` (hits against
   * the in-query exact top-k under the SAME metric >= minHits). The
   * oracle emits the same row as constants.
   */
  private def recallGate(found: DataFrame, exact: DataFrame,
      idCol: String, minHits: Int): DataFrame =
    // single pass: mark hits with a left join, count rows and hits in
    // one aggregate (no 1×1 crossJoin pattern to trip plan audits)
    found.join(exact.select(col(idCol), lit(1).as("hit")), Seq(idCol), "left")
      .agg(count(lit(1)).as("n_results"),
        (coalesce(sum(col("hit")), lit(0)) >= minHits).as("recall_ok"))

  // corpus sizes memoized per dir (parquet-metadata count): probe
  // budgets auto-scale with n (Ivf.autoNprobe) — at production list
  // densities (sf0.1's n=2000 and beyond) the old nprobe constants
  // hold exactly; thinner corpora widen deterministically so the
  // recall floor never rides on the random draw (the r12-documented
  // sf0.001 flag flips)
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def corpusN(s: SparkSession, dir: String): Long =
    sizeCache.computeIfAbsent(dir,
      _ => Tables(s, dir, "embeddings").count()).longValue()

  // the IVF index is built once per corpus in reality; memoize the
  // (deterministic, seeded) model per data dir so queries don't re-run
  // k-means each invocation.
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Ivf.Model]()
  private def ivfModel(s: SparkSession, dir: String, nlists: Int): Ivf.Model =
    modelCache.computeIfAbsent((dir, nlists),
      _ => Ivf.build(Tables(s, dir, "embeddings"), "embedding", nlists))

  // bit-tier centroids: build-once per corpus like the fp32 model
  private val bitModelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), IvfBit.Model]()
  private def ivfBitModel(s: SparkSession, dir: String, nlists: Int): IvfBit.Model =
    bitModelCache.computeIfAbsent((dir, nlists), _ =>
      IvfBit.build(Tables(s, dir, "embeddings")
        .select(VF.binaryQuantize(col("embedding")).as("code")), "code", nlists))

  // PQ codebooks are likewise a build-once artifact per corpus
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pq.Model]()
  private def pqModel(s: SparkSession, dir: String): Pq.Model =
    pqCache.computeIfAbsent(dir,
      _ => Pq.build(Tables(s, dir, "embeddings"), "embedding", m = 8, k = 32))

  // IVF-PQ residual codebooks + encoded codes (cached like the models;
  // the encoded DF is small — (long, int, 8 bytes) per row)
  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Pq.Model, DataFrame)]()
  private def ivfPqIndex(s: SparkSession, dir: String,
      ivf: Ivf.Model): (Pq.Model, DataFrame) =
    ivfPqCache.computeIfAbsent(dir, { _ =>
      val (m, enc) = Pq.buildResidual(Tables(s, dir, "embeddings"),
        "embedding", "vec_id", ivf, m = 8, k = 32)
      (m, enc.cache())
    })

  private val distSql =
    "round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6)"

  val gated: Seq[Gated] = Seq(
    // B1: exact top-k — TakeOrderedAndProject, no shuffle.
    Gated("knn_exact", (s, dir) =>
      Knn.exactTopK(Tables(s, dir, "embeddings"), "embedding", "vec_id",
        queryVec(s, dir), 20),
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, $distSql AS dist
         |FROM embeddings e, q ORDER BY dist, vec_id LIMIT 20""".stripMargin)),

    // filtered KNN — pgvector's `WHERE label = ? ORDER BY emb <-> q
    // LIMIT k`: the metadata predicate REACHES THE SCAN (PushedFilters,
    // plan-asserted in AnnSpec) and the top-k is still a bounded-heap
    // TakeOrderedAndProject over only the filtered rows — no
    // post-search re-filtering that would under-fill k
    Gated("knn_filtered", (s, dir) =>
      Knn.exactTopK(
        Tables(s, dir, "embeddings").filter(col("label") === 2),
        "embedding", "vec_id", queryVec(s, dir), 10),
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, $distSql AS dist
         |FROM embeddings e, q WHERE e.label = 2
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // B11: radius search (`WHERE embedding <-> q < ε`) with LOSSLESS
    // IVF list pruning — the triangle inequality proves a list whose
    // ||q−c|| − radius exceeds ε holds no result, so the oracle is the
    // plain brute-force distance filter (zero recall qualifier) while
    // the plan skips unprunable partitions at the reader
    Gated("vec_range", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      val tagged = Ivf.assign(emb, "embedding", model)
      val radii = Ivf.listRadii(tagged, "embedding", model)
      Ivf.rangeSearch(tagged, "embedding", "vec_id", model, radii,
          queryVec(s, dir), eps = 1.2)
        .transform(graft.queries.Gate.ordered(_, "vec_id"))
    },
      // brute-force filter IS the oracle — the pruning is lossless
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, $distSql AS dist
         |FROM embeddings e, q WHERE $distSql <= 1.2
         |ORDER BY vec_id""".stripMargin)),

    // B12: scalar (int8) quantized search — the compression tier
    // between halfvec and binary_quantize (pgvector 0.7's int8 axis;
    // the reference's datavec stops at fp16 + bit). Corpus-wide
    // [lo, hi] from ONE aggregate, codes 4× smaller than fp32, and
    // quantized L2 is pure INTEGER arithmetic (Σ(qa−qb)²) — rankings
    // engine-exact with no float tolerance at all
    Gated("vec_int8_topk", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val r = emb.agg(
        min(array_min(col("embedding").cast("array<double>"))).as("lo"),
        max(array_max(col("embedding").cast("array<double>"))).as("hi")).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val codes = emb.select(col("vec_id"),
        VF.int8Quantize(col("embedding"), lit(lo), lit(hi)).as("c"))
      val q = codes.filter(col("vec_id") === 0).select(col("c").as("qc"))
      codes.crossJoin(broadcast(q))
        .select(col("vec_id"), VF.int8DistSq(col("c"), col("qc")).as("dist2"))
        .orderBy(col("dist2"), col("vec_id")).limit(10)
    },
      // identical quantization arithmetic: IEEE (x−lo)/(hi−lo)·254−127,
      // HALF_UP round (ties away from zero in both engines), then pure
      // integer Σ(qa−qb)²
      Some("""WITH g AS (SELECT min(list_min(embedding))::DOUBLE AS lo,
        |             max(list_max(embedding))::DOUBLE AS hi FROM embeddings),
        |codes AS (SELECT vec_id, list_transform(embedding, x ->
        |    CAST(round((x::DOUBLE - lo) / (hi - lo) * 254 - 127, 0) AS INTEGER)) AS c
        |  FROM embeddings CROSS JOIN g),
        |q AS (SELECT c AS qc FROM codes WHERE vec_id = 0)
        |SELECT vec_id, CAST(list_sum(list_transform(range(1, len(c) + 1),
        |    i -> CAST(c[i] - qc[i] AS BIGINT) * (c[i] - qc[i]))) AS BIGINT) AS dist2
        |FROM codes, q ORDER BY dist2, vec_id LIMIT 10""".stripMargin)),

    // B2: many-query KNN join with bounded-heap partial aggregation.
    Gated("knn_join", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      Knn.knnJoin(qs, "embedding", "vec_id", emb, "embedding", "vec_id", 5)
        .transform(Gate.ordered(_, "qid", "rank"))
    },
      Some("""WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |ranked AS (
        |  SELECT qs.qid, e.vec_id AS nid,
        |    round(list_distance(e.embedding::DOUBLE[], qs.qv::DOUBLE[]), 6) AS dist,
        |    row_number() OVER (PARTITION BY qs.qid
        |      ORDER BY round(list_distance(e.embedding::DOUBLE[], qs.qv::DOUBLE[]), 6), e.vec_id) AS rank
        |  FROM embeddings e, qs)
        |SELECT qid, rank, nid, dist FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // B3: IVF build — coverage invariants: every corpus row lands in
    // exactly one list (n_rows = count(embeddings)) and list ids stay
    // inside [0, nlists). The per-list histogram itself is
    // k-means-seed-specific, so the GATED output is the invariant set;
    // the histogram stays visible via Ivf.centroidDrift and AnnSpec.
    Gated("ivf_build", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      Ivf.assign(emb, "embedding", model)
        .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_lists_used"),
          min(col("list_id")).as("min_list"),
          max(col("list_id")).as("max_list"))
        .select(col("n_rows"),
          (col("n_lists_used").between(1, 16) &&
            col("min_list") >= 0 && col("max_list") <= 15).as("lists_ok"))
    },
      // Invariant gates for the approximate operators: cardinality is an
      // exact contract; the recall booleans are Spark-computed against the
      // in-query exact KNN and must be TRUE at the declared floors (floors
      // sit under AnnSpec's asserted recalls with margin).
      Some("SELECT count(*) AS n_rows, TRUE AS lists_ok FROM embeddings")),

    // B4: IVF nprobe search — exact-cardinality + recall invariants.
    // The budget is autoNprobe: base 4 of 16 lists (~1/4 of the
    // corpus) at production density, widened on thin corpora so the
    // 0.5 recall floor holds deterministically.
    Gated("ivf_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      val tagged = Ivf.assign(emb, "embedding", model)
      val qv = queryVec(s, dir)
      val found = Ivf.search(tagged, "embedding", "vec_id", model, qv,
        k = 10, nprobe = Ivf.autoNprobe(corpusN(s, dir), 16, k = 10, base = 4, minHits = 5))
      recallGate(found, Knn.exactTopK(emb, "embedding", "vec_id", qv, 10),
        "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // B9: product-quantization ADC search — the memory-side scale path
    // (32x compression at dim 64 / m 8). Codes scanned with the query's
    // lookup table (map-only TakeOrderedAndProject shortlist), exact
    // rerank of 16k candidates; recall gated vs exact KNN (measured
    // 10/10 at sf0.01, 9/10 at sf0.1 on these near-random embeddings —
    // PQ's worst-case geometry; gate floors at 5).
    Gated("pq_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val encoded = Pq.encode(emb, "embedding", "vec_id", model)
      val qv = queryVec(s, dir)
      val found = Pq.search(encoded, emb, "embedding", "vec_id", model,
          qv, k = 10, rerank = 16)
        .withColumnRenamed("id", "vec_id")
      recallGate(found, Knn.exactTopK(emb, "embedding", "vec_id", qv, 10),
        "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // B9b: IVF-PQ — residual codes per IVF list, nprobe-pruned ADC scan
    // (probed lists only), per-list residual tables, exact rerank.
    // Measured 10/10 at sf0.01, 8/10 at sf0.1 (nprobe 8/16, rerank 16);
    // floor 5.
    Gated("ivfpq_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val ivf = ivfModel(s, dir, 16)
      val (pq, encoded) = ivfPqIndex(s, dir, ivf)
      val qv = queryVec(s, dir)
      val found = Pq.searchIvfPq(encoded, emb, "embedding", "vec_id", ivf,
          pq, qv, k = 10, nprobe = 8, rerank = 16)
        .withColumnRenamed("id", "vec_id")
      recallGate(found, Knn.exactTopK(emb, "embedding", "vec_id", qv, 10),
        "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // B5: hyperplane-LSH banded ANN — recall gate under the SAME metric
    // the ANN reranks with (cosine).
    Gated("lsh_ann", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val planes = Lsh.hyperplanes(dim = 64, nbits = 16)
      val qv = queryVec(s, dir)
      val found = Lsh.annTopK(emb, "embedding", "vec_id", qv, k = 10,
        planes, bands = 4, r = 4)
      recallGate(found,
        Knn.exactTopK(emb, "embedding", "vec_id", qv, 10,
          graft.functions.VectorFunctions.cosineDistance),
        "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // B5b: per-partition NSW graph ANN + beam search (the HNSW
    // analogue). AnnSpec asserts recall >= 0.8 at this budget; the
    // driver gate floors at 0.6.
    Gated("hnsw_ann", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val index = Hnsw.buildIndex(emb, "embedding", "vec_id", numParts = 8)
      val qv = queryVec(s, dir)
      val found = Hnsw.search(index, qv, k = 10)
      recallGate(found, Knn.exactTopK(emb, "embedding", "vec_id", qv, 10),
        "vec_id", minHits = 6)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // B5c/B8: routed many-query search over CLUSTERED NSW shards — each
    // query beams only in its nprobe nearest lists (the batch ANN shape
    // at 100 TB: shard routing + per-shard graph search). The index is
    // built ONCE per corpus and persisted partitionBy(part_id), so the
    // routing filter prunes whole shard directories at the parquet
    // reader (PartitionFilters asserted in PlanContractSpec) — an index
    // is a build-once artifact, not per-query work. Approximate, so the
    // oracle checks per-query invariants; recall vs unrouted per-query
    // search is asserted in AnnSpec.
    Gated("hnsw_routed", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val path = s"target/graft-nsw/${new java.io.File(dir).getName}"
      // the quantizer model is part of the index artifact: persist it
      // WITH the shards and always route with the persisted centroids —
      // a per-process retrain could disagree with the stored part_id
      // layout and silently misroute
      val modelPath = s"$path-model"
      // both artifacts or neither: a shard layout without its quantizer
      // (or vice versa) must trigger a rebuild
      if (!new java.io.File(path, "_SUCCESS").exists()
          || !new java.io.File(modelPath, "_SUCCESS").exists()) {
        val m = ivfModel(s, dir, 16)
        Ivf.saveModel(s, m, modelPath)
        Hnsw.buildIndexClustered(emb, "embedding", "vec_id", m)
          .write.mode("overwrite").partitionBy("part_id").parquet(path)
      }
      val model = Ivf.loadModel(s, modelPath)
      val spark = s
      import spark.implicits._
      val index = s.read.parquet(path).as[Hnsw.GraphRow]
      // DataFrame-native routing: queries stay distributed end-to-end
      // (no driver collect), so |Q| is unbounded — the 100 TB shape.
      // AnnSpec asserts this form row-for-row equals per-query routed search.
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      val routed = Hnsw.searchManyRoutedDF(index, model, qs,
        "vec_id", "embedding", k = 5,
        nprobe = Ivf.autoNprobe(corpusN(s, dir), 16, k = 5, base = 6, minHits = 3))
      // per-query invariants: exactly k results, recall@5 vs the
      // in-query exact KNN join >= 3/5 (routing probes 6/16 shards;
      // nprobe=4 left one query at 2/5 — isotropic data is routing's
      // worst case, so buy margin with two more probes).
      val exact = Knn.knnJoin(emb.filter(col("vec_id") < 5), "embedding",
        "vec_id", emb, "embedding", "vec_id", 5)
      val nres = routed.groupBy(col("qid")).agg(count(lit(1)).as("n_results"))
      val hits = routed
        .join(exact.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      nres.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("n_results"),
          (coalesce(col("n_hits"), lit(0L)) >= 3).as("recall_ok"))
        .transform(Gate.ordered(_, "qid"))
    },
      Some("""SELECT vec_id AS qid, CAST(5 AS BIGINT) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin)),

    // B6: binary-quantize coarse + exact rerank (exact SQL oracle).
    Gated("binquant_rerank", (s, dir) =>
      Lsh.binQuantRerank(Tables(s, dir, "embeddings"), "embedding", "vec_id",
        queryVec(s, dir), k = 10, oversample = 5),
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |coarse AS (
        |  SELECT e.vec_id, e.embedding,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CASE WHEN (e.embedding[i] > 0) <> (q.qv[i] > 0) THEN 1 ELSE 0 END)) AS hamm
        |  FROM embeddings e, q
        |  ORDER BY hamm, vec_id LIMIT 50)
        |SELECT c.vec_id,
        |  round(list_distance(c.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM coarse c, q
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // B7: incremental index maintenance end-to-end (ref: ivfinsert.cpp /
    // ivfflatbulkdelete) — build the partitioned index WITHOUT a held-out
    // delta, append the delta against the frozen centroids, bulk-delete a
    // victim set (only its list partitions rewritten), then search
    // exactly (nprobe = nlists) through the reloaded layout. Every output
    // is SQL-recomputable: counts are modular-arithmetic filters over
    // `embeddings`, and the nprobe=nlists search is the exact top-10 of
    // the remaining corpus (rounded-dist, vec_id tiebreak — same order
    // contract as knn_exact).
    Gated("ivf_append", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      val path = s"target/graft-ivf-append/${new java.io.File(dir).getName}"
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      Ivf.writeIndex(emb.filter(!isDelta), "embedding", model, path)
      val index = Ivf.appendToIndex(emb.filter(isDelta), "embedding", model, path)
      val victims = emb.filter(pmod(col("vec_id"), lit(1000)) === 123)
        .select(col("vec_id"))
      val afterDelete = Ivf.deleteFromIndex(s, path, "vec_id", victims)
      val found = Ivf.search(afterDelete, "embedding", "vec_id", model,
        queryVec(s, dir), k = 10, nprobe = 16)
      val deltaIds = emb.filter(isDelta).select(col("vec_id"))
      afterDelete.agg(count(lit(1)).as("n_total"))
        .crossJoin(deltaIds.agg(count(lit(1)).as("n_delta")))
        .crossJoin(victims.agg(count(lit(1)).as("n_deleted")))
        .crossJoin(found.join(deltaIds, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_top10_from_delta")))
        .crossJoin(found.orderBy(col("dist"), col("vec_id")).limit(1)
          .select(col("vec_id").as("top1_id")))
    },
      // ivf_append's whole output is exact SQL over `embeddings`: the
      // remaining corpus is everything minus the victim set, and the
      // nprobe=nlists search is its exact top-10 by (rounded l2, vec_id).
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |remaining AS (SELECT * FROM embeddings WHERE vec_id % 1000 <> 123),
        |top10 AS (
        |  SELECT e.vec_id,
        |    round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |  FROM remaining e, q ORDER BY dist, vec_id LIMIT 10)
        |SELECT
        |  (SELECT count(*) FROM remaining) AS n_total,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 7) AS n_delta,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 1000 = 123) AS n_deleted,
        |  (SELECT count(*) FROM top10 WHERE vec_id % 10 = 7) AS n_top10_from_delta,
        |  (SELECT vec_id FROM top10 ORDER BY dist, vec_id LIMIT 1) AS top1_id""".stripMargin)),

    // B2+B3: many-query KNN join routed through the IVF lists — the
    // scalable (equi-join, no broadcast) path. nprobe = nlists makes it
    // exact, so the SQL window-rank oracle applies.
    Gated("ivf_knn_join", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      val tagged = Ivf.assign(emb, "embedding", model)
      val qs = emb.filter(col("vec_id") < 5)
      Ivf.knnJoin(qs, "embedding", "vec_id", tagged, "embedding", "vec_id",
          model, k = 5, nprobe = 16)
        .transform(Gate.ordered(_, "qid", "rank"))
    },
      Some("""WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |ranked AS (
        |  SELECT qs.qid, e.vec_id AS nid,
        |    round(list_distance(e.embedding::DOUBLE[], qs.qv::DOUBLE[]), 6) AS dist,
        |    row_number() OVER (PARTITION BY qs.qid
        |      ORDER BY round(list_distance(e.embedding::DOUBLE[], qs.qv::DOUBLE[]), 6), e.vec_id) AS rank
        |  FROM embeddings e, qs)
        |SELECT qid, rank, nid, dist FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // Sparse-vector top-k via inverted postings (SparseAnn): sparsify
    // |x| > 0.1 (the A19 convention), floor-quantize to milli-units,
    // equi-join postings with 3 broadcast query entry sets, exact LONG
    // dot sums, bounded payload heap per query. The oracle recomputes
    // the identical quantized dot DENSELY — the gate proves the
    // postings plan equals the merge-scan arithmetic bit-for-bit.
    Gated("vec_sparse_topk", (s, dir) => {
      def entries(c: Column) =
        filter(transform(c, (x, i) => struct(i.as("i"), x.as("v"))),
          e => abs(e.getField("v")) > 0.1f)
      val sp = Tables(s, dir, "embeddings")
        .withColumn("se", entries(col("embedding")))
        .select(col("vec_id"),
          transform(col("se"), e => e.getField("i")).as("sidx"),
          transform(col("se"), e => e.getField("v")).as("sval"))
      graft.operators.SparseAnn.topKInnerProduct(
          sp, "vec_id", "sidx", "sval",
          sp.filter(col("vec_id") < 3), "vec_id", "sidx", "sval", k = 10)
        .withColumnRenamed("id", "vec_id")
        .transform(Gate.ordered(_, "qid", "rank"))
    },
      // dense recomputation of the quantized sparse dot: floor(v*1000)
      // milli-units, integer products — order-invariant exact sums, so
      // the postings plan must match bit-for-bit. Candidates require
      // >= 1 shared stored dimension (the inverted-index contract).
      Some("""WITH s AS (SELECT vec_id, list_transform(embedding,
        |    x -> CASE WHEN abs(x) > 0.1
        |              THEN CAST(floor(x::DOUBLE * 1000) AS BIGINT)
        |              ELSE 0 END) AS qe FROM embeddings),
        |q AS (SELECT vec_id AS qid, qe AS qq FROM s WHERE vec_id < 3),
        |d AS (SELECT q.qid, s.vec_id,
        |        list_sum(list_transform(generate_series(1, len(s.qe)),
        |          i -> s.qe[i] * q.qq[i]))::BIGINT AS dot,
        |        len(list_filter(generate_series(1, len(s.qe)),
        |          i -> s.qe[i] != 0 AND q.qq[i] != 0))::BIGINT AS n_common
        |      FROM s, q),
        |r AS (SELECT qid, vec_id, n_common, dot,
        |        row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
        |          AS rank
        |      FROM d WHERE n_common > 0)
        |SELECT qid, rank::INT AS rank, vec_id, n_common,
        |  CAST(dot AS DOUBLE) / 1000000 AS score
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // IVF search END-TO-END over packed-fp16 BINARY storage: the index
    // is WRITTEN as partitionBy(list_id) parquet holding 2-byte/elem
    // packed halfvecs (half the fp32 footprint), the nprobe filter
    // prunes list partitions AT THE READER, and distance runs DIRECTLY
    // on the packed bytes (no unpack in the hot path). Recall gated vs
    // exact fp32 KNN — fp16 rounding costs ~nothing on these corpora.
    Gated("ivf_half_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      val path = s"target/graft-ivfhalf/${new java.io.File(dir).getName}"
      Ivf.assign(emb, "embedding", model)
        .select(col("vec_id"), VF.packHalf(col("embedding")).as("hv"),
          col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(path)
      val packed = s.read.parquet(path)
      val qv = queryVec(s, dir)
      val probeIds = model
        .probes(qv, Ivf.autoNprobe(corpusN(s, dir), 16, k = 10, base = 4, minHits = 5))
        .map(Integer.valueOf)
      val found = packed.filter(col("list_id").isin(probeIds: _*))
        .select(col("vec_id"),
          round(VF.packedHalfDistance(col("hv"), VF.packHalf(lit(qv)), "l2"), 6)
            .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      recallGate(found, Knn.exactTopK(emb, "embedding", "vec_id", qv, 10),
        "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // IVF search over int8 scalar-quantized codes (B13 storage tier,
    // 4x smaller than fp32): same partitioned layout + reader pruning,
    // candidates ranked by the integer-exact quantized L2. Recall vs
    // exact fp32 KNN (quantization grid ~(hi-lo)/255 ≈ 0.03σ here).
    Gated("ivf_int8_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = ivfModel(s, dir, 16)
      val r = emb.agg(
        min(array_min(col("embedding").cast("array<double>"))).as("lo"),
        max(array_max(col("embedding").cast("array<double>"))).as("hi")).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val path = s"target/graft-ivfint8/${new java.io.File(dir).getName}"
      Ivf.assign(emb, "embedding", model)
        .select(col("vec_id"),
          VF.int8Quantize(col("embedding"), lit(lo), lit(hi)).as("c"),
          col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(path)
      val codes = s.read.parquet(path)
      val qv = queryVec(s, dir)
      val probeIds = model
        .probes(qv, Ivf.autoNprobe(corpusN(s, dir), 16, k = 10, base = 4, minHits = 5))
        .map(Integer.valueOf)
      val qc = codes.filter(col("vec_id") === 0).select(col("c").as("qc"))
      val found = codes.filter(col("list_id").isin(probeIds: _*))
        .crossJoin(broadcast(qc))
        .select(col("vec_id"), VF.int8DistSq(col("c"), col("qc")).as("dist2"))
        .orderBy(col("dist2"), col("vec_id")).limit(10)
      recallGate(found, Knn.exactTopK(emb, "embedding", "vec_id", qv, 10),
        "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // Hamming-metric IVF over sign-quantized bit codes (the `bit`
    // opclass tier, 32x compression — the remaining datavec index
    // cell): k-majorities centroids, the same partitionBy(list_id)
    // reader-pruned layout as the fp16/int8 tiers, popcount ranking.
    // Recall vs the exact HAMMING top-10 over all codes (same metric
    // — quantization loss is the tier's property, not the index's)
    Gated("ivf_bit_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val codes = emb.select(col("vec_id"),
        VF.binaryQuantize(col("embedding")).as("code"))
      val model = ivfBitModel(s, dir, 16)
      val path = s"target/graft-ivfbit/${new java.io.File(dir).getName}"
      val index = IvfBit.writeIndex(codes, "code", model, path)
      val qc = IvfBit.quantize(queryVec(s, dir))
      val found = IvfBit.search(index, "code", "vec_id", model, qc,
        nprobe = Ivf.autoNprobe(corpusN(s, dir), 16, k = 10, base = 4, minHits = 5), k = 10)
      val exact = codes.select(col("vec_id"),
          VF.hammingDistance(col("code"), lit(qc)).cast("long").as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      recallGate(found, exact, "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // HNSW over the bit tier (`hnsw_bit_support`): EXACT metric
    // reduction — Hamming(a,b) == L2²(a,b) for 0/1 vectors, a theorem,
    // so the graph build/beam machinery (which only consumes
    // distances) runs unchanged over the unpacked codes and its
    // neighbor structure IS the Hamming-metric graph; packed-bytes
    // STORAGE rides the IVF bit tier (ivf_bit_search). Recall vs
    // exact Hamming top-10
    Gated("hnsw_bit", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val codes = emb.select(col("vec_id"),
        VF.binaryQuantize(col("embedding")).as("code"))
      val bits = codes.select(col("vec_id"),
        graft.operators.IvfBit.unpackBitsCol(col("code"))
          .cast("array<float>").as("bits"))
      val index = Hnsw.buildIndex(bits, "bits", "vec_id", numParts = 8)
      val qc = IvfBit.quantize(queryVec(s, dir))
      val qb = new Array[Float](qc.length * 8)
      qc.indices.foreach { i =>
        (0 until 8).foreach { b =>
          if ((qc(i) & (0x80 >>> b)) != 0) qb(i * 8 + b) = 1f
        }
      }
      val found = Hnsw.search(index, qb, k = 10)
      val exact = codes.select(col("vec_id"),
          VF.hammingDistance(col("code"), lit(qc)).cast("long").as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      recallGate(found, exact, "vec_id", minHits = 5)
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok"))
  )
}
