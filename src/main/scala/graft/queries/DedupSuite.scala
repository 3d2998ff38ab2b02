package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.functions.{VectorFunctions => VF}
import graft.operators.{Dedup, Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._

/**
 * Dedup / similarity / multimodal queries (SURVEY §2 D1–D6, D11).
 * Exact oracles where engine-independent (exact dedup, n-gram Jaccard,
 * embedding pair scan, multimodal byte features); minhash/simhash are
 * hash-family-dependent → rows-only plus DedupSpec assertions.
 */
object DedupSuite {
  // build-once k-means model per data dir (deterministic, seeded) for
  // the semantic-dedup gate — same memoization discipline as AnnSuite
  private val semModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Ivf.Model]()

  val gated: Seq[Gated] = Seq(
    // D23: SemDeDup (cluster + intra-cluster epsilon-ball pruning).
    // Same planted corpus as dedup_embedding_lsh: every vec_id < 64
    // gets a near-copy at vec_id + 1000000 (cosd ~0.001-0.005 pairs;
    // natural frontier >= ~0.4). Candidate pairs form ONLY inside a
    // k-means cluster; at these margins the copy co-clusters with its
    // original, so the survivor set equals the brute-force oracle's
    // star rule (drop any id with a smaller-id neighbor within 0.2).
    Gated("dedup_semantic", (s, dir) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 64)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") + lit(0.05)).cast("float"))
              .otherwise(x)).as("embedding"))
      val corpus = e.unionByName(planted)
      val model = semModelCache.computeIfAbsent(dir,
        _ => graft.operators.Ivf.build(corpus, "embedding", nlists = 16))
      Dedup.semanticDedup(corpus, "embedding", "vec_id", model,
          maxCosDist = 0.2)
        .select(col("vec_id"))
        .transform(Gate.ordered(_, "vec_id"))
    },
      // brute-force star rule over the planted corpus: survivors = ids
      // with no smaller-id neighbor within cosd 0.2 (the cluster-bounded
      // Spark pair set is complete at these margins — every true pair
      // co-clusters)
      Some("""WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding, (x, i) -> CASE WHEN i = 1
        |      THEN CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT) ELSE x END)
        |  FROM embeddings WHERE vec_id < 64),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(1.0 - greatest(-1.0, least(1.0,
        |      list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
        |           list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))), 6) AS cosd
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT vec_id FROM corpus
        |WHERE vec_id NOT IN (SELECT id_b FROM scored WHERE cosd <= 0.2)
        |ORDER BY vec_id""".stripMargin)),

    // D1: exact dedup summary over normalized text.
    Gated("dedup_exact", (s, dir) =>
      Dedup.exactSurvivors(Tables(s, dir, "documents"), "text", "doc_id")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("keep_id")).as("id_sum"),
          sum(col("n_copies")).as("n_docs")),
      Some("""SELECT count(*) AS n_groups, CAST(sum(keep_id) AS BIGINT) AS id_sum,
        |  CAST(sum(c) AS BIGINT) AS n_docs
        |FROM (SELECT min(doc_id) AS keep_id, count(*) AS c FROM documents
        |      GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))""".stripMargin)),

    // D2: MinHash LSH candidates verified to exact Jaccard >= 0.5.
    Gated("dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(Tables.spread(s, dir, "documents"), "text", "doc_id",
          numHashes = 64, bands = 16, tau = 0.5)
        .transform(Gate.ordered(_, "id_a", "id_b")),
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(i::DOUBLE / (sa.n + sb.n - i)::DOUBLE, 6) AS jaccard
        |FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // incremental near-dup: every 10th doc is the "daily drop", the
    // rest the indexed corpus; the delta verifies against the index
    // without corpus×corpus pairing — the output equals the full-batch
    // pair set restricted to pairs touching a delta doc
    Gated("dedup_incremental", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val idx = Dedup.dedupIndex(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "text", "doc_id")
      Dedup.incrementalMinhashPairs(idx,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), "text", "doc_id",
          numHashes = 64, bands = 16, tau = 0.5)
        .transform(Gate.ordered(_, "id_a", "id_b"))
    },
      // minhash is seeded-deterministic and its verification stage keeps
      // only exact-Jaccard >= 0.5 pairs; banding recall at the verified
      // pairs' similarity levels is 1.0 on this corpus (checked at sf0.01
      // and sf0.1), so the exact pair set is the oracle.
      // the full exact-Jaccard pair set restricted to pairs touching a
      // delta doc (doc_id % 10 = 0)
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(i::DOUBLE / (sa.n + sb.n - i)::DOUBLE, 6) AS jaccard
        |FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.5
        |  AND (id_a % 10 = 0 OR id_b % 10 = 0)
        |ORDER BY id_a, id_b""".stripMargin)),

    // D3: SimHash pairs within hamming <= 6 via segment-pair pigeonhole.
    // Gate design: simhash signatures are hash-family values, so the
    // NATURAL corpus's hamming-<=6 pair set is not SQL-recomputable.
    // The query therefore unions a PLANTED sub-corpus built identically
    // in both engines — 16 groups of 3 byte-identical synthetic docs
    // with pairwise-disjoint vocabularies — and gates the planted pair
    // subset: identical docs have identical signatures (hamming 0) and
    // the segment-pair pigeonhole is COMPLETE to hamming <= nSegs-2, so
    // every within-group pair MUST surface; docs with disjoint token
    // sets have independent 64-bit signatures, so a cross-group (or
    // natural-planted) pair within hamming 6 has probability ~5e-12 per
    // pair. DedupSpec asserts the natural pair set against brute force.
    //
    // Pushdown proofing: a bare planted-id filter pushes BELOW the
    // self-join (verified in the r5 executed plan), pruning the natural
    // corpus's candidate generation + hamming verification out of the
    // measured query. The `natural_done` column defeats that: it is a
    // global-window count over the FULL verified pair set, and Catalyst
    // cannot push a predicate through a Window with an empty partition
    // spec — so the whole-corpus candidate join and verification must
    // execute before the planted filter applies. The window input is
    // the operator's verified-pair OUTPUT (orders of magnitude smaller
    // than the corpus), so the single-partition window reorganizes a
    // handful of rows, never corpus-scale data. The oracle emits the
    // boolean as constant TRUE.
    Gated("dedup_simhash", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = s.range(48).select(
        (col("id") + 1000000L).as("doc_id"),
        array_join(transform(sequence(lit(0), lit(29)),
          j => concat(lit("tok"), expr("id DIV 3"), lit("x"), j)), " ").as("text"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Dedup.simhashPairs(docs.unionByName(planted), "text", "doc_id", maxDist = 6)
        .withColumn("n_natural",
          sum(when(col("id_b") < 1000000L, 1L).otherwise(0L)).over(w))
        .filter(col("id_a") >= 1000000L)
        .select(col("id_a"), col("id_b"), col("hamming"),
          (col("n_natural") >= 0L).as("natural_done"))
        .transform(Gate.ordered(_, "id_a", "id_b"))
    },
      // the planted pair set: all within-group pairs of the 16×3 synthetic
      // groups, hamming 0 (byte-identical docs). Completeness of the
      // pigeonhole at hamming 0 and signature determinism make this exact.
      Some("""WITH p AS (SELECT 1000000 + i AS id, i // 3 AS g FROM range(48) t(i))
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming,
        |  TRUE AS natural_done
        |FROM p a JOIN p b ON a.g = b.g AND a.id < b.id
        |ORDER BY id_a, id_b""".stripMargin)),

    // D4: exact n-gram Jaccard pairs. At permissive tau the prefix covers
    // ~(1-tau) of each doc, so PPJoin prefix-candidates degenerate toward
    // the full gram join while still paying array-verify per pair; the
    // count-based gram join (narrow rows, map-side-combinable count, two
    // shuffles) is the right exact plan for low tau on shingled text.
    // ngramJaccardPairsPrefix (PPJoin+) remains the high-tau / Zipfian-df
    // path; DedupSpec asserts both forms agree.
    Gated("sim_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.spread(s, dir, "documents"), "text", "doc_id", tau = 0.3)
        .transform(Gate.ordered(_, "id_a", "id_b")),
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(i::DOUBLE / (sa.n + sb.n - i)::DOUBLE, 6) AS jaccard
        |FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),

    // D5: embedding closest-pairs frontier — 20 closest pairs by cosine
    // (the test corpus has no true near-dups: the frontier sits at
    // cosd ~0.4-0.56, barely above random, so no LSH banding separates
    // it from the bulk). Exact all-pairs as a block-pair equi-join:
    // evenly sharded, no BroadcastNestedLoopJoin. The sub-quadratic LSH
    // path for the real near-dup regime is Dedup.embeddingNearDupPairs,
    // recall-asserted in DedupSpec on planted duplicates.
    Gated("dedup_embedding", (s, dir) => {
      val e = Tables.spread(s, dir, "embeddings")
      Dedup.allPairsBlocked(e, "embedding", "vec_id", blocks = 16)
        .select(col("id_a"), col("id_b"),
          round(VF.cosineDistance(col("va"), col("vb")), 6).as("cosd"))
        .orderBy(col("cosd"), col("id_a"), col("id_b"))
        .limit(20)
    },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(1.0 - greatest(-1.0, least(1.0,
        |    list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
        |         list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))), 6) AS cosd
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cosd, id_a, id_b LIMIT 20""".stripMargin)),

    // D5b: the SUB-QUADRATIC near-dup regime — LSH-bucketed candidates +
    // exact cosine verify (Dedup.embeddingNearDupPairs), gated with an
    // exact oracle. The natural corpus has no near-dups (frontier cosd
    // 0.399 at sf0.1), so the query plants them: every vec_id < 64 gets
    // a copy at vec_id + 1000000 with element 0 perturbed by +0.05 —
    // expressible identically in DuckDB, so the oracle recomputes the
    // exact thresholded pair set over the same planted corpus. Margins
    // are wide on both sides of the 0.2 threshold: planted pairs land
    // at cosd ~0.001-0.005, everything else >= ~0.4; recall of the
    // 16-band/16-bit banding at cosd 0.005 is 1 - ~1e-9 per pair.
    Gated("dedup_embedding_lsh", (s, dir) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 64)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") + lit(0.05)).cast("float"))
              .otherwise(x)).as("embedding"))
      Dedup.embeddingNearDupPairs(e.unionByName(planted), "embedding", "vec_id",
          maxCosDist = 0.2, nbits = 256, bands = 16, dim = 64)
        .transform(Gate.ordered(_, "id_a", "id_b"))
    },
      // exact thresholded pair set over the planted corpus; the banding's
      // recall at the planted similarity makes the LSH path complete here
      Some("""WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding, (x, i) -> CASE WHEN i = 1
        |      THEN CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT) ELSE x END)
        |  FROM embeddings WHERE vec_id < 64),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(1.0 - greatest(-1.0, least(1.0,
        |      list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) *
        |           list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))), 6) AS cosd
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosd FROM scored WHERE cosd <= 0.2
        |ORDER BY id_a, id_b""".stripMargin)),

    // Exact duplicated-SPAN detection (substring-level dedup): maximal
    // per-doc runs of 5-token grams occurring >= 2 times corpus-wide —
    // the verbatim-passage duplication whole-doc/near-dup dedup misses.
    // Fully exact gate: positions and run extents are deterministic.
    Gated("dedup_spans", (s, dir) =>
      Dedup.duplicatedSpans(Tables.spread(s, dir, "documents"),
          "text", "doc_id", w = 5)
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id", "start_tok")),
      // span dedup: recompute duplicated 5-gram positions from the gram
      // STRINGS and merge runs with the same <= w distance rule
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |        array_to_string(t[i:i+4], ' ') AS gram
        |      FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
        |      WHERE len(t) >= 5),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        |r AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
        |             THEN 0 ELSE 1 END AS newrun
        |      FROM p),
        |s AS (SELECT doc_id, pos, sum(newrun) OVER (PARTITION BY doc_id
        |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM r)
        |SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok,
        |  count(*) AS n_grams
        |FROM s GROUP BY doc_id, run ORDER BY doc_id, start_tok""".stripMargin)),

    // D2 end-to-end: survivors after connected components over verified
    // near-dup pairs (keep min doc id per cluster).
    Gated("dedup_survivors", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id", 64, 16, tau = 0.7)
      Dedup.survivorsFromPairs(docs, "doc_id", pairs)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1).otherwise(0)).as("n_keep"),
          sum(when(!col("keep"), col("id"))).as("dropped_id_sum"))
    },
      // connected components over the (deterministic, fully-recalled)
      // verified pair set, as a DuckDB recursive transitive closure.
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |          WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.7),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |roots AS (SELECT a AS id, least(a, min(b)) AS root FROM reach GROUP BY a)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN root IS NULL OR root = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(sum(CASE WHEN root IS NOT NULL AND root <> doc_id THEN doc_id END) AS BIGINT) AS dropped_id_sum
        |FROM documents LEFT JOIN roots ON doc_id = roots.id""".stripMargin)),

    // Quality-aware survivor selection: per duplicate cluster keep the
    // ARGMAX token-count doc (min-id tiebreak) — integer score, so the
    // full per-doc (id, root, keep) assignment gates hash-exactly
    Gated("dedup_best", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("score"))
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id", 64, 16, tau = 0.7)
      Dedup.survivorsByScore(scored, "doc_id", "score", pairs)
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id"))
    },
      // same pair graph + closure as dedup_survivors, then per-cluster
      // argmax token count (min-id tiebreak) — integer score, exact
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |          WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.7),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |roots AS (SELECT a AS id, least(a, min(b)) AS root FROM reach GROUP BY a),
        |allc AS (SELECT d.doc_id, coalesce(r.root, d.doc_id) AS root
        |         FROM documents d LEFT JOIN roots r ON d.doc_id = r.id),
        |tk AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS score FROM documents),
        |rk AS (SELECT a.doc_id, a.root,
        |         row_number() OVER (PARTITION BY a.root ORDER BY t.score DESC, a.doc_id) AS rn
        |       FROM allc a JOIN tk t USING (doc_id))
        |SELECT doc_id, CAST(root AS BIGINT) AS root, rn = 1 AS keep
        |FROM rk ORDER BY doc_id""".stripMargin)),

    // Flagship composition — the whole curation pipeline a training-data
    // user runs, in one query: exact dedup -> minhash near-dup survivors
    // (connected components, keep-min) -> language + quality gate ->
    // corpus accounting. Every stage is individually oracled elsewhere;
    // this query proves they compose (and the oracle recomputes the
    // FULL pipeline in SQL, recursive CC included).
    Gated("pipeline_curate", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select("doc_id", "text")
      val exactKeep = Dedup.exactSurvivors(docs, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val d = docs.join(exactKeep, "doc_id").cache()
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", 64, 16, tau = 0.7)
      val kept = Dedup.survivorsFromPairs(d, "doc_id", pairs)
        .filter(col("keep")).select(col("id").as("doc_id"))
        .join(d, "doc_id")
      val feat = kept.select(col("doc_id"),
        graft.operators.TextAnalysis.langId(col("text")).as("lang"),
        graft.operators.TextAnalysis.qualityFeatures(col("text")).as("q"),
        graft.operators.TextAnalysis.wsTokenCount(col("text")).as("ws"))
      val fin = feat.filter(col("lang") === "en" && col("q.quality") >= 0.5)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(d.agg(count(lit(1)).as("n_exact")))
        .crossJoin(kept.agg(count(lit(1)).as("n_near")))
        .crossJoin(fin.agg(count(lit(1)).as("n_final"),
          sum(col("ws")).as("sum_tokens"),
          round(expr("CAST(sum(CAST(q.quality AS DECIMAL(10,6))) AS DOUBLE)")
            / count(lit(1)), 6).as("avg_quality")))
    },
      // full-pipeline recompute: exact dedup, 3-gram Jaccard >= 0.7 pairs,
      // recursive-CTE connected components, keep-min survivors, language +
      // quality gate, corpus accounting. Quality sums go through exact
      // DECIMAL(10,6) on both engines (order-independent), divided once.
      Some("""WITH RECURSIVE
        |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g')),
        |d AS (SELECT c.doc_id, c.text FROM documents c JOIN exact_keep k USING (doc_id)),
        |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM d),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |          WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.7),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |roots AS (SELECT a AS id, least(a, min(b)) AS root FROM reach GROUP BY a),
        |kept AS (SELECT d.doc_id, d.text FROM d LEFT JOIN roots r ON d.doc_id = r.id
        |         WHERE r.root IS NULL OR r.root = d.doc_id),
        |f AS (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM kept),
        |scored AS (SELECT doc_id, len(t)::BIGINT AS ws, len(t)::DOUBLE AS n,
        |  len(list_distinct(t))::DOUBLE AS nd,
        |  len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','that'], x))) AS sw_en,
        |  len(list_filter(t, x -> list_contains(['el','la','de','los','las','y','que','en'], x))) AS sw_es,
        |  len(list_filter(t, x -> list_contains(['der','die','das','und','nicht','ist','von','ein'], x))) AS sw_de,
        |  len(list_filter(t, x -> list_contains(['le','la','les','et','de','un','une','est'], x))) AS sw_fr
        |  FROM f),
        |lang AS (SELECT doc_id, ws, n, nd, sw_en,
        |  CASE WHEN greatest(sw_en, sw_es, sw_de, sw_fr) = 0 THEN 'und'
        |       WHEN sw_en = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
        |       WHEN sw_es = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
        |       WHEN sw_de = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
        |       ELSE 'fr' END AS lang,
        |  round(least(n / 400, 1.0) * 0.4 + (1.0 - (1.0 - nd / n)) * 0.4
        |    + least(sw_en / n * 10, 1.0) * 0.2, 6) AS quality
        |  FROM scored),
        |fin AS (SELECT * FROM lang WHERE lang = 'en' AND quality >= 0.5)
        |SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  (SELECT count(*) FROM d) AS n_exact,
        |  (SELECT count(*) FROM kept) AS n_near,
        |  count(*) AS n_final,
        |  CAST(sum(ws) AS BIGINT) AS sum_tokens,
        |  round(CAST(sum(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6) AS avg_quality
        |FROM fin""".stripMargin)),

    // Iterative/recursive query (reference: WITH RECURSIVE,
    // src/common/backend/parser/gram.y:23981): full transitive closure
    // over the verified near-dup graph — (id_a < id_b) emitted iff the
    // docs connect through ANY chain of exact-Jaccard >= 0.7 pairs.
    // Runs connected components on Iterate.fixpoint (alternating
    // large-star/small-star, reliable-checkpoint truncation), then a
    // same-root self-join; the oracle recomputes reachability as a
    // DuckDB recursive CTE.
    Gated("graph_reach", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id", 64, 16, tau = 0.7)
      val cc = Dedup.connectedComponents(pairs)
      cc.as("a").join(cc.as("b"),
          col("a.root") === col("b.root") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .transform(Gate.ordered(_, "id_a", "id_b"))
    },
      // reachability oracle: same verified pair set as dedup_survivors,
      // closed transitively with a recursive CTE; Spark's same-root pairs
      // equal the closure's unordered pairs.
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |          WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.7),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT DISTINCT a AS id_a, b AS id_b FROM reach WHERE a < b
        |ORDER BY id_a, id_b""".stripMargin)),

    // C17 at the SQL SURFACE (ref: gram.y:23981): the same transitive
    // closure as graph_reach, but EXPRESSED as a WITH RECURSIVE ...
    // UNION query — the distinct-union recursion form openGauss accepts
    // and Spark's native recursive CTE rejects (and the only form that
    // terminates on this cyclic edge set). RecursiveSql rewrites it
    // onto Iterate.fixpoint (semi-naive delta evaluation); the oracle
    // is DuckDB's native recursive CTE over the same pair graph.
    Gated("sql_recursive", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      Dedup.minhashPairs(docs, "text", "doc_id", 64, 16, tau = 0.7)
        .createOrReplaceTempView("dup_pairs")
      // the full CTE-list shape: a leading non-recursive CTE
      // (symmetrization), the UNION-distinct recursive member, and a
      // trailing CTE — all inside one WITH RECURSIVE, as openGauss/
      // PostgreSQL accept it
      graft.operators.RecursiveSql.sql(s,
        """WITH RECURSIVE edges AS (
          |  SELECT id_a AS a, id_b AS b FROM dup_pairs
          |  UNION
          |  SELECT id_b, id_a FROM dup_pairs),
          |reach(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION
          |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          |closure AS (SELECT DISTINCT a AS id_a, b AS id_b FROM reach WHERE a < b)
          |SELECT id_a, id_b FROM closure ORDER BY id_a, id_b""".stripMargin)
    },
      // the SQL-surface recursion gate shares graph_reach's oracle shape:
      // DuckDB executes its own native WITH RECURSIVE over the same
      // verified pair graph
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |          WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.7),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT DISTINCT a AS id_a, b AS id_b FROM reach WHERE a < b
        |ORDER BY id_a, id_b""".stripMargin)),

    // Iterative query #2 — BFS hop distance from each dup cluster's
    // root (min id) over the verified near-dup graph: the fixpoint's
    // distance-relaxation form, oracled by a DuckDB recursive
    // shortest-path CTE. Every node of the pair graph gets (id, hops).
    Gated("graph_hops", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id", 64, 16, tau = 0.7)
      val cc = Dedup.connectedComponents(pairs)
      val roots = cc.filter(col("id") === col("root")).select(col("id"))
      Gate.ordered(graft.operators.Iterate.hopDistances(pairs, roots), "id")
    },
      // recursive shortest-path oracle: BFS frontier capped at depth 100
      // (dup-cluster diameters are tiny; the cap only bounds the CTE)
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |          WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.7),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |roots AS (SELECT a AS id, least(a, min(b)) AS root FROM reach GROUP BY a),
        |srcs AS (SELECT DISTINCT root AS id FROM roots),
        |hops(id, d) AS (SELECT id, 0 FROM srcs
        |  UNION SELECT e.b, h.d + 1 FROM hops h JOIN edges e ON e.a = h.id WHERE h.d < 100)
        |SELECT id, CAST(min(d) AS BIGINT) AS hops FROM hops GROUP BY id
        |ORDER BY id""".stripMargin)),

    // D11: multimodal pipeline — payload bytes -> stub decode features.
    Gated("mm_pipeline", (s, dir) => {
      val media = Multimodal.asMedia(Tables.spread(s, dir, "documents"), "text", "doc_id")
      Multimodal.decodeFeatures(media, frameSize = 64)
        .select(col("doc_id"), col("n_bytes"), col("byte_sum"),
          round(col("mean_luma"), 6).as("mean_luma"), col("n_frames"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""SELECT doc_id, length(text)::BIGINT AS n_bytes,
        |  list_sum(list_transform(range(1, length(text) + 1),
        |    i -> xor(ord(substr(text, i, 1))::BIGINT, 90)))::BIGINT AS byte_sum,
        |  round(list_sum(list_transform(range(1, length(text) + 1),
        |    i -> xor(ord(substr(text, i, 1))::BIGINT, 90)))::DOUBLE / length(text), 6) AS mean_luma,
        |  CAST(ceil(length(text) / 64.0) AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // D11: REAL image codec round-trip — one deterministic grayscale
    // PNG per doc encoded with javax.imageio on executors, then decoded
    // back (dims + pixels read from the DECODED image). Grayscale PNG
    // is lossless and the test pattern is integer SQL, so the oracle
    // recomputes every feature without ever seeing a PNG.
    Gated("mm_decode", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select(col("doc_id"))
      Multimodal.decodeImageFeatures(Multimodal.syntheticImages(docs, "doc_id"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // recompute the decoded-pixel features from the generating formula:
      // pixel(x,y) = (doc_id*31 + 7x + 13y) mod 256 over w×h, with
      // w = (doc_id%4)*16+32 (<=80), h = (doc_id%3)*16+32 (<=64)
      Some("""WITH d AS (SELECT doc_id, CAST((doc_id % 4) * 16 + 32 AS INT) AS w,
        |                 CAST((doc_id % 3) * 16 + 32 AS INT) AS h FROM documents),
        |px AS (SELECT doc_id, w, h, (doc_id * 31 + x.i * 7 + y.j * 13) % 256 AS p
        |       FROM d, range(0, 80) x(i), range(0, 64) y(j)
        |       WHERE x.i < w AND y.j < h)
        |SELECT doc_id, w AS width, h AS height, CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(p) AS BIGINT) AS luma_sum,
        |  round(CAST(sum(p) AS DOUBLE) / (w * h), 6) AS mean_luma
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // D11: frame sampling — every 2nd 64-byte frame with stub-decoded
    // per-frame statistics (the batch shape a frame model consumes).
    Gated("mm_frames", (s, dir) => {
      val media = Multimodal.asMedia(Tables.spread(s, dir, "documents"), "text", "doc_id")
      Multimodal.frameFeatures(media, frameSize = 64, stride = 2)
        .transform(Gate.ordered(_, "doc_id", "frame_idx"))
    },
      Some("""WITH fr AS (SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT))) AS fi
        |  FROM documents),
        |kept AS (SELECT doc_id, fi, substr(text, CAST(fi * 64 + 1 AS INT), 64) AS frame
        |         FROM fr WHERE fi % 2 = 0)
        |SELECT doc_id, fi::INT AS frame_idx,
        |  length(frame)::BIGINT AS frame_len,
        |  CAST(list_sum(list_transform(range(1, length(frame) + 1),
        |    i -> xor(ord(substr(frame, i, 1))::BIGINT, 90))) AS BIGINT) AS frame_sum
        |FROM kept ORDER BY doc_id, frame_idx""".stripMargin)),

    // D11: REAL audio codec round-trip — one deterministic 16-bit PCM
    // waveform per doc, WAV-encoded and decoded with the JDK's
    // javax.sound.sampled on executors; n_samples comes from the
    // decoded stream and every statistic from decoded samples. PCM is
    // lossless and the waveform formula walks full mod-256 cycles, so
    // the oracle recomputes the features in closed-form integer SQL.
    Gated("mm_audio", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select(col("doc_id"))
      Multimodal.decodeAudioFeatures(Multimodal.syntheticAudio(docs, "doc_id"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // closed forms: n = 1024 + (id%4)*256 samples (a multiple of 256,
      // so the 17-step residue walk covers n/256 full cycles, each
      // summing to 32640 - 128*256 = -128 after centering); with the
      // per-doc DC offset dc = id%7, sample_sum = dc*n - 128*(n/256);
      // residues -128..127 all occur, so peak_abs = max(128-dc, 127+dc)
      Some("""WITH d AS (SELECT doc_id,
        |    CAST(1024 + (doc_id % 4) * 256 AS BIGINT) AS n,
        |    CAST(doc_id % 7 AS BIGINT) AS dc FROM documents)
        |SELECT doc_id, n AS n_samples,
        |  CAST(dc * n - 128 * (n // 256) AS BIGINT) AS sample_sum,
        |  CAST(CASE WHEN dc = 0 THEN 128 ELSE 127 + dc END AS BIGINT) AS peak_abs
        |FROM d ORDER BY doc_id""".stripMargin)),

    // D11: REAL lossy-image codec — grayscale JPEG encoded at pinned
    // quality with javax.imageio, decoded back on executors. JPEG loss
    // makes exact pixel equality impossible by design, so the gate is
    // TOLERANCE-BANDED: dims and pixel count from the DECODED image
    // are exact; the decoded mean must sit within ±1.0 of the smooth
    // pattern's closed-form mean (the DCT preserves DC almost exactly;
    // measured |err| ≤ 0.012 at q=0.9) and the decoded min/max within
    // ±8 of the closed-form range. The oracle recomputes dims/count in
    // SQL and emits the band booleans as constant TRUE.
    Gated("mm_jpeg", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select(col("doc_id"))
      val stats = Multimodal.decodeImageStats(Multimodal.syntheticJpegs(docs, "doc_id"))
      val base = pmod(col("doc_id"), lit(128))
      stats.select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"),
          (abs(col("luma_sum").cast("double") / col("n_pixels") -
            (base + (col("width") - 1) / 2.0 + (col("height") - 1) / 2.0))
            <= 1.0).as("mean_ok"),
          (col("min_luma") >= base - 8 &&
            col("max_luma") <= base + col("width") + col("height") - 2 + 8)
            .as("range_ok"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // lossy-codec gate: dims/pixel count recomputed in SQL (exact); the
      // pixel-statistic band checks are Spark-computed booleans, TRUE here
      Some("""SELECT doc_id,
        |  CAST((doc_id % 3) * 16 + 16 AS BIGINT) AS width,
        |  CAST((doc_id % 2) * 16 + 16 AS BIGINT) AS height,
        |  CAST(((doc_id % 3) * 16 + 16) * ((doc_id % 2) * 16 + 16) AS BIGINT)
        |    AS n_pixels,
        |  TRUE AS mean_ok, TRUE AS range_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // D11: REAL image resize — decode PNG → nearest-neighbor scale to
    // 16×16 → re-encode PNG → DECODE AGAIN for the gate stats, so the
    // whole decode→resize→encode→decode chain is load-bearing. Nearest
    // neighbor is a pure index remap, so the resized statistics are
    // exact integer SQL over the generating pattern.
    Gated("mm_resize", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select(col("doc_id"))
      val resized = Multimodal.resizeImages(
        Multimodal.syntheticImages(docs, "doc_id"), 16, 16)
      Multimodal.decodeImageStats(resized.select(col("doc_id"), col("payload")))
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("luma_sum"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // nearest-neighbor resize: out(x,y) = pattern(id, x·w/16, y·h/16)
      // with integer floor division — exact closed form
      Some("""WITH d AS (SELECT doc_id, CAST((doc_id % 4) * 16 + 32 AS BIGINT) AS w,
        |             CAST((doc_id % 3) * 16 + 32 AS BIGINT) AS h FROM documents),
        |px AS (SELECT doc_id,
        |         (doc_id * 31 + ((x.i * w) // 16) * 7 + ((y.j * h) // 16) * 13) % 256 AS p
        |       FROM d, range(0, 16) x(i), range(0, 16) y(j))
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(256 AS BIGINT) AS n_pixels, CAST(sum(p) AS BIGINT) AS luma_sum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // D11: REAL video-frame sampling — a Motion-PNG stream (length-
    // prefixed real PNG keyframes) parsed on executors, every 2nd frame
    // ImageIO-decoded, per-frame features from the decoded pixels.
    Gated("mm_video", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents").select(col("doc_id"))
      Multimodal.videoFrameFeatures(Multimodal.syntheticVideo(docs, "doc_id"),
          stride = 2)
        .transform(Gate.ordered(_, "doc_id", "frame_idx"))
    },
      // one row per kept frame (stride 2) of nf = 4 + id%3 frames; pixels
      // ramp along x from base luma l = (7*id + 13*fi) mod 256, so a row
      // sums to 8l + 28 - 256*max(0, l-248) (wrap past 255) and the frame
      // to 8 rows of that
      Some("""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS nf FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, nf)) AS fi FROM d),
        |k AS (SELECT doc_id, fi, (7 * doc_id + 13 * fi) % 256 AS l
        |      FROM fr WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(8 * (8 * l + 28 - 256 * greatest(0, l - 248)) AS BIGINT) AS luma_sum
        |FROM k ORDER BY doc_id, frame_idx""".stripMargin))
  )
}
