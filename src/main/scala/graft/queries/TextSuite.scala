package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Text-analysis queries (SURVEY §2 D7–D10) with exact DuckDB oracles. */
object TextSuite {
  /** xsyn rule groups (canon ← members), shared with the oracle. */
  private val synDict: Map[String, String] = Map(
    "fast" -> "speed", "quick" -> "speed", "rapid" -> "speed",
    "table" -> "tabl0", "tbl" -> "tabl0", "relation" -> "tabl0",
    "big" -> "big", "large" -> "big", "huge" -> "big")

  private val maxsimQuery = Seq("spark", "merge", "vector", "quick")

  private val swEn = "['the','a','of','and','to','in','is','that']"
  private val swEs = "['el','la','de','los','las','y','que','en']"
  private val swDe = "['der','die','das','und','nicht','ist','von','ein']"
  private val swFr = "['le','la','les','et','de','un','une','est']"

  /** Weighted calc_rank_or per-term contribution in integer nanos —
    * the SQL twin of FullText.tsRankWeighted's contribNanos (title
    * zone = first 3 tokens at weight 1.0, body 0.1). `ps` names a
    * column holding the term's 1-based position list. */
  private def wContribSql(ps: String): String =
    s"""CASE WHEN len($ps) = 0 THEN 0 ELSE
       |  (CASE WHEN len(list_filter($ps, p -> p <= 3)) > 0
       |        THEN 1000000000 ELSE 100000000 END)
       |  + coalesce(list_sum(list_transform(generate_series(1, len($ps)),
       |      j -> CAST(round((CASE WHEN $ps[j] <= 3 THEN 1000000000.0
       |                       ELSE 100000000.0 END) / (j * j), 0) AS BIGINT))), 0)
       |  - CAST(round((CASE WHEN len(list_filter($ps, p -> p <= 3)) > 0
       |                THEN 1000000000 ELSE 100000000 END)
       |      / (coalesce(nullif(list_position(list_transform($ps, p -> p <= 3), true), 0), 1)
       |         * coalesce(nullif(list_position(list_transform($ps, p -> p <= 3), true), 0), 1)),
       |      0) AS BIGINT) END""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("text_langid", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .transform(Gate.ordered(_, "doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  len(list_filter(toks, x -> list_contains($swEn, x))) AS en,
         |  len(list_filter(toks, x -> list_contains($swEs, x))) AS es,
         |  len(list_filter(toks, x -> list_contains($swDe, x))) AS de,
         |  len(list_filter(toks, x -> list_contains($swFr, x))) AS fr
         |FROM t)
         |SELECT doc_id, CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
         |  WHEN en = greatest(en, es, de, fr) THEN 'en'
         |  WHEN es = greatest(en, es, de, fr) THEN 'es'
         |  WHEN de = greatest(en, es, de, fr) THEN 'de'
         |  ELSE 'fr' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin)),

    Gated("text_quality", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityFeatures(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_tokens"), col("q.n_distinct"),
          col("q.stopword_ratio"), col("q.repetition"), col("q.punct_ratio"),
          col("q.quality"))
        .transform(Gate.ordered(_, "doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents),
         |f AS (SELECT doc_id, text,
         |  len(toks)::DOUBLE AS n,
         |  len(list_distinct(toks))::DOUBLE AS nd,
         |  len(list_filter(toks, x -> list_contains($swEn, x)))::DOUBLE AS sw,
         |  (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
         |    / greatest(length(text), 1)::DOUBLE AS pr
         |FROM t)
         |SELECT doc_id, n::BIGINT AS n_tokens, nd::BIGINT AS n_distinct,
         |  round(sw / n, 6) AS stopword_ratio,
         |  round(1.0 - nd / n, 6) AS repetition,
         |  round(pr, 6) AS punct_ratio,
         |  round(least(n / 400, 1.0) * 0.4 + (1.0 - (1.0 - nd / n)) * 0.4
         |    + least(sw / n * 10, 1.0) * 0.2, 6) AS quality
         |FROM f ORDER BY doc_id""".stripMargin)),

    Gated("text_tokens", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .transform(Gate.ordered(_, "doc_id")),
      Some("""SELECT doc_id,
        |  len(string_split(lower(text), ' '))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Gated("text_fingerprint", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .transform(Gate.ordered(_, "doc_id")),
      Some("""SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))::BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Two-pass exact heavy hitters — corpus vocabulary top-20. Pass 1:
    // ONE map-side-combinable Misra-Gries sketch pass (O(k) state per
    // partial — no full-vocabulary shuffle at 100 TB) yields a
    // candidate superset (every token with freq > ~2n/k survives any
    // merge order). Pass 2: exact counts of candidates only, filtered
    // BEFORE the shuffle. The final top-20 is deterministic despite
    // the sketch's merge-order-dependent internals → hash-exact gate.
    Gated("vocab_topk", (s, dir) => {
      val toks = Tables.spread(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val cands = toks
        .agg(graft.functions.HeavyHitters.sketch(col("tok"), 64).as("hh"))
        .select(explode(col("hh")).as("e")).select(col("e.item").as("tok"))
      toks.join(broadcast(cands), Seq("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(20)
    },
      Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM t WHERE tok <> ''
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)),

    // Sequence packing: documents binned into 256-token training
    // sequences, 8 independent id-hash streams, deterministic greedy
    // walk in id order — the oracle marches the identical walk as a
    // recursive CTE, so the gate is hash-exact (see Pack.packGreedy).
    Gated("pack_sequences", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.wsTokenCount(col("text")).as("tok"))
      graft.operators.Pack.packGreedy(docs, "doc_id", "tok",
          budget = 256, nGroups = 8)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the identical greedy walk, one step per recursion round: fill
      // resets to the doc's own count when it would pass the budget,
      // bumping the per-stream sequence counter
      Some("""WITH RECURSIVE o AS (
        |  SELECT doc_id, doc_id % 8 AS g,
        |    len(string_split(lower(text), ' ')) AS tok,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |walk(g, rn, doc_id, tok, fill, seq) AS (
        |  SELECT g, rn, doc_id, tok, tok, 0 FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.g, o.rn, o.doc_id, o.tok,
        |    CASE WHEN w.fill + o.tok > 256 THEN o.tok ELSE w.fill + o.tok END,
        |    CASE WHEN w.fill + o.tok > 256 THEN w.seq + 1 ELSE w.seq END
        |  FROM walk w JOIN o ON o.g = w.g AND o.rn = w.rn + 1)
        |SELECT doc_id, CAST(g * 1000000000 + seq AS BIGINT) AS seq_id,
        |  CAST(tok AS BIGINT) AS n_tokens
        |FROM walk ORDER BY doc_id""".stripMargin)),

    // context-window chunking: fixed 64-token windows, boundaries are
    // pure offsets — closed-form in SQL, exact text round-trip
    Gated("chunk_docs", (s, dir) =>
      graft.operators.Pack.chunkByTokens(
          Tables.spread(s, dir, "documents"), "doc_id", "text", budget = 64)
        .transform(Gate.ordered(_, "doc_id", "chunk_idx")),
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |    unnest(range(0, CAST(ceil(len(toks) / 64.0) AS INT))) AS ci FROM d),
        |s AS (SELECT doc_id, ci, list_slice(toks, ci * 64 + 1, ci * 64 + 64) AS ct FROM c)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |  CAST(len(ct) AS BIGINT) AS n_tokens,
        |  array_to_string(ct, ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),

    // benchmark decontamination: flag docs sharing any word trigram
    // with a small "benchmark" slice (doc_id % 97 == 0), which is
    // broadcast; benchmark members excluded from the output
    Gated("decontaminate", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      graft.operators.Dedup.contaminationFlags(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id",
          docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text")
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""WITH g AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM g),
        |b AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 97 = 0),
        |h AS (SELECT tg.doc_id, count(*) AS hits FROM tg JOIN b USING (gram)
        |      WHERE tg.doc_id % 97 <> 0 GROUP BY tg.doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS n_shared,
        |  coalesce(h.hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // corpus-frequency quality score: avg unigram log-prob under the
    // corpus's own empirical distribution (LM-quality proxy); term
    // frequencies equi-join (vocab never broadcast), scalar total as a
    // 1-row broadcast
    Gated("text_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(
          Tables.spread(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id")),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
        |f AS (SELECT tok, count(*) AS tf FROM tt GROUP BY tok),
        |n AS (SELECT count(*) AS nt FROM tt)
        |SELECT doc_id, count(*) AS n_scored,
        |  round(avg(ln(tf::DOUBLE / nt)), 6) AS logprob
        |FROM tt JOIN f USING (tok) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 relevance: one 1-row global aggregate (N, Σdl, per-term df)
    // + a map-only scoring pass — nothing per-document ever shuffles
    // (see Relevance.bm25). Terms chosen with a real idf spread:
    // 'dup' is rare (df≈25/500), 'spark'/'key' are common.
    Gated("text_bm25", (s, dir) =>
      graft.operators.Relevance.bm25(
          Tables.spread(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "spark", "key"))
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id")),
      // identical fixed-order BM25 arithmetic: tf/df/dl/N integer-exact,
      // per-term weights summed in literal order t0+t1+t2
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, len(toks)::BIGINT AS dl,
        |  len(list_filter(toks, x -> x = 'dup'))::BIGINT AS tf0,
        |  len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf1,
        |  len(list_filter(toks, x -> x = 'key'))::BIGINT AS tf2
        |FROM t),
        |g AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |FROM b)
        |SELECT doc_id, (tf0 + tf1 + tf2)::BIGINT AS n_hits,
        |  round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n))), 6) AS score
        |FROM b CROSS JOIN g
        |WHERE tf0 + tf1 + tf2 > 0 ORDER BY doc_id""".stripMargin)),

    // Gopher-style intra-doc repetition filters: duplicated 2-/3-gram
    // fractions per doc, entirely map-only (array expressions inside
    // codegen — no explode/shuffle; the 100 TB shape is a pure scan)
    Gated("text_repetition", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_tokens"),
          col("r.dup2_ratio"), col("r.dup3_ratio"))
        .transform(Gate.ordered(_, "doc_id")),
      // same map-only gram construction: range(1, n-w+2) == Spark's
      // sequence(1, n-w+1); identical double division + 6dp round
      Some("""WITH t AS (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |FROM documents),
        |g AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  CASE WHEN len(toks) < 2 THEN []::VARCHAR[] ELSE
        |    list_transform(range(1, len(toks)), i ->
        |      array_to_string(list_slice(toks, i, i + 1), ' ')) END AS g2,
        |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[] ELSE
        |    list_transform(range(1, len(toks) - 1), i ->
        |      array_to_string(list_slice(toks, i, i + 2), ' ')) END AS g3
        |FROM t)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |    round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2)::DOUBLE, 6)
        |  END AS dup2_ratio,
        |  CASE WHEN len(g3) = 0 THEN 0.0 ELSE
        |    round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3)::DOUBLE, 6)
        |  END AS dup3_ratio
        |FROM g ORDER BY doc_id""".stripMargin)),

    // model-based quality filtering (CCNet/LLaMA fastText stage): a
    // linear classifier over the corpus's top-200 tokens, weights
    // applied via equi-join (a trained vocab never broadcasts), exact
    // DECIMAL logit sums, keep = logit > 0
    Gated("quality_classifier", (s, dir) =>
      graft.operators.TextAnalysis.classifierQuality(
          Tables.spread(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id")),
      // identical vocabulary (top-200 by count desc, token asc), identical
      // one-decimal weights, DECIMAL logit sums — order-invariant
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT tok, count(*)::BIGINT AS tf FROM toks
        |       WHERE tok <> '' GROUP BY tok),
        |top AS (SELECT tok, row_number() OVER (ORDER BY tf DESC, tok) AS rank
        |        FROM tf ORDER BY tf DESC, tok LIMIT 200),
        |wt AS (SELECT tok,
        |         CAST(CAST(rank % 7 - 3 AS DOUBLE) / 10 AS DECIMAL(18,1)) AS w
        |       FROM top)
        |SELECT t.doc_id, count(*)::BIGINT AS n_scored,
        |  CAST(sum(wt.w) AS DOUBLE) AS logit, sum(wt.w) > 0 AS keep
        |FROM toks t JOIN wt ON t.tok = wt.tok
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 RETRIEVAL: top-5 docs per query for a 3-query table (each
    // query = a doc's first 4 tokens). Query vocab broadcasts, corpus
    // streams; 6dp-rounded weights sum as DECIMAL so ranking ties out
    // bit-for-bit against the oracle
    Gated("bm25_search", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      graft.operators.Relevance.searchTopK(
          docs, "doc_id", "text", qs, "qid", "qtext", k = 5)
        .transform(Gate.ordered(_, "qid", "rank"))
    },
      // retrieval: same broadcast-vocab tf/df/dl/N arithmetic as
      // text_bm25, weights rounded then DECIMAL-summed per (query, doc),
      // rank by exact decimal score with doc-id tiebreak
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |q AS (SELECT doc_id AS qid,
        |        list_filter(list_slice(string_split(lower(text), ' '), 1, 4),
        |          x -> x <> '') AS qtoks
        |      FROM documents WHERE doc_id < 3),
        |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS term FROM q),
        |vocab AS (SELECT DISTINCT term FROM qt),
        |g AS (SELECT count(*)::BIGINT AS n, sum(len(toks))::BIGINT AS sumdl FROM d),
        |ex AS (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
        |       FROM ex JOIN vocab USING (term) GROUP BY doc_id, dl, term),
        |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        |wts AS (SELECT doc_id, term, CAST(round(
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n))), 6)
        |    AS DECIMAL(18,6)) AS w
        |  FROM tf JOIN dfx USING (term) CROSS JOIN g),
        |pq AS (SELECT qt.qid, w.doc_id, sum(w.w) AS sw,
        |         count(*)::BIGINT AS n_terms
        |       FROM wts w JOIN qt ON w.term = qt.term GROUP BY qt.qid, w.doc_id),
        |r AS (SELECT qid, doc_id, n_terms, sw, row_number() OVER
        |        (PARTITION BY qid ORDER BY sw DESC, doc_id) AS rank
        |      FROM pq)
        |SELECT qid, rank, doc_id, n_terms, CAST(sw AS DOUBLE) AS score
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // bigram-LM perplexity quality stage (CCNet-shaped): add-one
    // smoothed bigram table equi-joined (never broadcast — web-scale
    // tables are billions of rows), per-doc 6dp DECIMAL nll sums
    Gated("text_bigram_ppl", (s, dir) =>
      graft.operators.TextAnalysis.bigramNll(
          Tables.spread(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |e AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
        |      FROM t WHERE len(toks) >= 2),
        |pr AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM e),
        |big AS (SELECT a, b, count(*)::BIGINT AS nab FROM pr GROUP BY a, b),
        |uni AS (SELECT unnest(toks) AS a FROM t),
        |unic AS (SELECT a, count(*)::BIGINT AS na FROM uni GROUP BY a),
        |vs AS (SELECT count(DISTINCT a)::BIGINT AS v FROM uni),
        |sc AS (SELECT pr.doc_id,
        |         CAST(round(ln((big.nab + 1.0) / (unic.na + vs.v)), 6)
        |           AS DECIMAL(18,6)) AS lnp
        |       FROM pr JOIN big USING (a, b) JOIN unic USING (a) CROSS JOIN vs)
        |SELECT doc_id, count(*)::BIGINT AS n_pairs,
        |  CAST(-sum(lnp) * 1000000 AS BIGINT) AS nll_micros
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // deterministic OVERSAMPLING: per-lang mixture weights realized as
    // floor(w) copies + one hash-decided extra — E[copies] = w exactly,
    // reproducible (same corpus/weights/epoch → identical rows);
    // map-only explode, no shuffle
    Gated("oversample", (s, dir) => {
      val w = expr("CASE lang WHEN 'en' THEN 0.7 WHEN 'zh' THEN 2.3 " +
        "WHEN 'fr' THEN 1.5 WHEN 'es' THEN 1.0 ELSE 3.1 END")
      graft.operators.Sampling.oversample(
          Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", w, epoch = 1)
        .transform(Gate.ordered(_, "doc_id", "copy_id"))
    },
      // same epoch-salted Knuth mix as the Spark side; nc = 0 rows drop
      // via unnest of the empty series
      Some("""WITH t AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 0.7 WHEN 'zh' THEN 2.3
        |            WHEN 'fr' THEN 1.5 WHEN 'es' THEN 1.0 ELSE 3.1 END AS w
        |FROM documents),
        |n AS (SELECT doc_id, lang,
        |  CAST(floor(w) AS BIGINT) +
        |  CASE WHEN ((doc_id + 1000000007) * 2654435761) % 4294967296 % 1000000
        |         < CAST(round((w - floor(w)) * 1000000, 0) AS BIGINT)
        |       THEN 1 ELSE 0 END AS nc
        |FROM t)
        |SELECT doc_id, lang, unnest(generate_series(0, nc - 1)) AS copy_id
        |FROM n ORDER BY doc_id, copy_id""".stripMargin)),

    // BPE ENCODE: apply a merge table (rank order) to tokenize the
    // corpus — the inference side of bpe_step's training; map-only
    // fold chain, includes a CHAINED merge (table+table then +key)
    // proving merged symbols compose in later ranks
    Gated("bpe_encode", (s, dir) => {
      val merges = Seq(("table", "table"), ("a", "a"),
        ("table+table", "key"), ("fast", "spark"))
      val toks = Tables.spread(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      graft.operators.Bpe.encode(toks, "toks", merges)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(filter(col("toks"), t => t.contains("+"))).cast("long")
            .as("n_merged"),
          array_join(slice(col("toks"), 1, 8), " ").as("head"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // greedy left-to-right merge == leftmost non-overlapping replace
      // over the DOUBLE-SPACE-joined token string (the single-space wrap
      // keeps every token flanked by its own delimiter, so a match
      // consumes one of the two gap spaces and the next occurrence still
      // has its leading space — exactly the fold's pending semantics);
      // merges nest innermost-first in training order
      Some("""WITH t AS (SELECT doc_id,
        |  ' ' || array_to_string(string_split(lower(text), ' '), '  ') || ' ' AS s
        |FROM documents),
        |m AS (SELECT doc_id,
        |  replace(replace(replace(replace(s,
        |    ' table  table ', ' table+table '),
        |    ' a  a ', ' a+a '),
        |    ' table+table  key ', ' table+table+key '),
        |    ' fast  spark ', ' fast+spark ') AS s2
        |FROM t),
        |tok AS (SELECT doc_id, string_split(trim(s2), '  ') AS toks FROM m)
        |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  len(list_filter(toks, x -> contains(x, '+')))::BIGINT AS n_merged,
        |  array_to_string(list_slice(toks, 1, 8), ' ') AS head
        |FROM tok ORDER BY doc_id""".stripMargin)),

    // HYBRID retrieval: BM25 lexical top-20 + vector-KNN dense top-20
    // fused by reciprocal rank (RRF, Cormack 2009) — the pgvector
    // `ORDER BY embedding <=> q` × full-text combination. Query ids
    // double as vec ids (documents and embeddings share the id space);
    // fusion touches only the already-bounded top-k lists
    Gated("hybrid_rrf", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      val text = graft.operators.Relevance.searchTopK(
          docs, "doc_id", "text", qs, "qid", "qtext", k = 20)
        .select(col("qid"), col("rank"), col("doc_id"))
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.filter(col("vec_id") < 3)
      val vec = graft.operators.Knn.knnJoin(
          vq, "embedding", "vec_id", emb, "embedding", "vec_id", 20)
        .select(col("qid"), col("rank"), col("nid").as("doc_id"))
      graft.operators.Relevance.rrfFuse(Seq(text, vec), k = 10)
        .transform(Gate.ordered(_, "qid", "rank"))
    },
      // bm25_search's CTEs at k=20 + the knn_join ranking at k=20, fused:
      // contribution = round(1/(60+rank), 6) summed as DECIMAL (order-
      // invariant), final order (rrf DESC, doc_id)
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |q AS (SELECT doc_id AS qid,
        |        list_filter(list_slice(string_split(lower(text), ' '), 1, 4),
        |          x -> x <> '') AS qtoks
        |      FROM documents WHERE doc_id < 3),
        |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS term FROM q),
        |vocab AS (SELECT DISTINCT term FROM qt),
        |g AS (SELECT count(*)::BIGINT AS n, sum(len(toks))::BIGINT AS sumdl FROM d),
        |ex AS (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
        |       FROM ex JOIN vocab USING (term) GROUP BY doc_id, dl, term),
        |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        |wts AS (SELECT doc_id, term, CAST(round(
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n))), 6)
        |    AS DECIMAL(18,6)) AS w
        |  FROM tf JOIN dfx USING (term) CROSS JOIN g),
        |pq AS (SELECT qt.qid, w.doc_id, sum(w.w) AS sw
        |       FROM wts w JOIN qt ON w.term = qt.term GROUP BY qt.qid, w.doc_id),
        |tl AS (SELECT qid, doc_id, row_number() OVER
        |         (PARTITION BY qid ORDER BY sw DESC, doc_id) AS rank
        |       FROM pq),
        |vqs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |vl AS (SELECT vqs.qid, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY vqs.qid
        |      ORDER BY round(list_distance(e.embedding::DOUBLE[], vqs.qv::DOUBLE[]), 6),
        |               e.vec_id) AS rank
        |  FROM embeddings e, vqs),
        |u AS (SELECT qid, doc_id, CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS c
        |      FROM tl WHERE rank <= 20
        |      UNION ALL
        |      SELECT qid, doc_id, CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS c
        |      FROM vl WHERE rank <= 20),
        |f AS (SELECT qid, doc_id, sum(c) AS sc, count(*)::BIGINT AS n_lists
        |      FROM u GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, n_lists, sc, row_number() OVER
        |        (PARTITION BY qid ORDER BY sc DESC, doc_id) AS rank
        |      FROM f)
        |SELECT qid, rank, doc_id, n_lists, CAST(sc AS DOUBLE) AS rrf
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // deterministic global shuffle + fixed-size batch assignment (the
    // pretrain data-ordering step): global rank from a bucket
    // histogram + ONE within-bucket window — no global orderBy (whose
    // range sampling double-executes the child), no driver ordering
    Gated("shuffle_batches", (s, dir) =>
      graft.operators.Sampling.shuffleBatches(
          Tables.spread(s, dir, "documents").select(col("doc_id")),
          "doc_id", batchSize = 64)
        .transform(Gate.ordered(_, "doc_id")),
      // global pseudo-random order: same Knuth mix, rank via row_number
      // (the Spark side computes it bucket-histogram + window — same
      // total order), integer batch division
      Some("""WITH t AS (SELECT doc_id,
        |  (doc_id * 2654435761) % 4294967296 AS ord FROM documents),
        |r AS (SELECT doc_id,
        |  (row_number() OVER (ORDER BY ord, doc_id) - 1)::BIGINT AS pos
        |FROM t)
        |SELECT doc_id, pos, (pos // 64)::BIGINT AS batch_id
        |FROM r ORDER BY doc_id""".stripMargin)),

    // end-to-end curate-to-batches (r9 composition): Gopher repetition
    // filter → classifier keep → deterministic global shuffle into
    // fixed-size batches — the LAST mile of pretrain prep, gated
    // hash-exact THROUGH THE CHAIN (per-doc batch assignments, not
    // counts); every stage's determinism composes
    Gated("pipeline_batches", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val lowRep = docs.select(col("doc_id"), col("text"),
          TextAnalysis.repetitionStats(col("text")).as("r"))
        .filter(col("r.dup3_ratio") <= 0.5)
        .select(col("doc_id"), col("text"))
      val kept = lowRep.join(
        graft.operators.TextAnalysis.classifierQuality(docs, "doc_id", "text")
          .filter(col("keep")).select(col("id").as("doc_id")),
        "doc_id")
      graft.operators.Sampling.shuffleBatches(
          kept.select(col("doc_id")), "doc_id", batchSize = 32)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the three stages as CTEs: classifier keep-set over the FULL
      // corpus vocabulary, dup3-ratio filter (same n−2 denominator as
      // the map-only Spark form), then the Knuth-mix global order over
      // the surviving intersection
      Some("""WITH toksall AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |                FROM documents),
        |tf AS (SELECT tok, count(*)::BIGINT AS tf FROM toksall
        |       WHERE tok <> '' GROUP BY tok),
        |top AS (SELECT tok, row_number() OVER (ORDER BY tf DESC, tok) AS rank
        |        FROM tf ORDER BY tf DESC, tok LIMIT 200),
        |wt AS (SELECT tok,
        |         CAST(CAST(rank % 7 - 3 AS DOUBLE) / 10 AS DECIMAL(18,1)) AS w
        |       FROM top),
        |keepers AS (SELECT t.doc_id FROM toksall t JOIN wt ON t.tok = wt.tok
        |            GROUP BY t.doc_id HAVING sum(wt.w) > 0),
        |g3 AS (SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |       FROM documents),
        |rep AS (SELECT doc_id FROM g3 WHERE
        |  CASE WHEN len(toks) < 3 THEN 0.0 ELSE
        |    round(1.0 - len(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(list_slice(toks, i, i + 2), ' '))))::DOUBLE
        |      / (len(toks) - 2)::DOUBLE, 6) END <= 0.5),
        |sel AS (SELECT doc_id FROM documents
        |        WHERE doc_id IN (SELECT doc_id FROM keepers)
        |          AND doc_id IN (SELECT doc_id FROM rep)),
        |r AS (SELECT doc_id, (row_number() OVER
        |        (ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) - 1)::BIGINT AS pos
        |      FROM sel)
        |SELECT doc_id, pos, (pos // 32)::BIGINT AS batch_id
        |FROM r ORDER BY doc_id""".stripMargin)),

    // stratified exact-n sampling: per-language 25-doc deterministic
    // sample by Knuth-mix order — one shuffle on the stratum key, the
    // per-stratum sort is Spark's external (spillable) sort; the
    // map-only hashFraction form is spec-gated (see Sampling)
    Gated("sample_stratified", (s, dir) =>
      graft.operators.Sampling.stratifiedExactN(
          Tables.spread(s, dir, "documents")
            .select(col("doc_id"), col("lang")), "lang", "doc_id", 25)
        .transform(Gate.ordered(_, "doc_id")),
      // identical Knuth-mix permutation in exact BIGINT arithmetic
      Some("""WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
        |FROM documents)
        |SELECT doc_id, lang, rk::INTEGER AS rk FROM r
        |WHERE rk <= 25 ORDER BY doc_id""".stripMargin)),

    // PG fuzzystrmatch + unaccent contribs (the openGauss kernel ships
    // both): levenshtein between consecutive docs' leading tokens, and
    // accent folding via an explicit translate map over PLANTED
    // accented text (the corpus is ASCII, so the gate synthesizes the
    // accents — both engines fold the identical string). soundex has
    // no DuckDB analogue → spec-gated against PG's documented values.
    Gated("fuzzy_ops", (s, dir) => {
      val d = Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          element_at(split(lower(col("text")), " "), 1).as("w"),
          concat(lit("résumé café naïve jalapeño über v"),
            col("doc_id").cast("string")).as("acc"))
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          col("a.w").as("w_a"), col("b.w").as("w_b"),
          levenshtein(col("a.w"), col("b.w")).as("lev"),
          // costed forms (fuzzystrmatch.cpp:177): uniform costs scale
          // the unit distance (oracle: 3*levenshtein); less_equal is
          // exact ≤ maxD and deterministically maxD+1 beyond (oracle:
          // a CASE over the unit distance)
          graft.functions.Phonetic.levenshteinCol(
            col("a.w"), col("b.w"), 3, 3, 3).as("lev_c3"),
          graft.functions.Phonetic.levenshteinLessEqualCol(
            col("a.w"), col("b.w"), 2).as("lev_le2"),
          translate(col("a.acc"), "éèêëàâäçïîíñóôöúûüý",
            "eeeeaaaciiinooouuuy").as("unaccented"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""WITH d AS (SELECT doc_id, string_split(lower(text), ' ')[1] AS w,
        |  'résumé café naïve jalapeño über v' || doc_id::VARCHAR AS acc
        |FROM documents)
        |SELECT a.doc_id AS doc_id, a.w AS w_a, b.w AS w_b,
        |  levenshtein(a.w, b.w)::INTEGER AS lev,
        |  (3 * levenshtein(a.w, b.w))::INTEGER AS lev_c3,
        |  (CASE WHEN levenshtein(a.w, b.w) <= 2
        |        THEN levenshtein(a.w, b.w) ELSE 3 END)::INTEGER AS lev_le2,
        |  translate(a.acc, 'éèêëàâäçïîíñóôöúûüý',
        |    'eeeeaaaciiinooouuuy') AS unaccented
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin)),

    // fuzzystrmatch phonetics (metaphone fuzzystrmatch.cpp:226,
    // difference :680, double metaphone dmetaphone.cpp): no SQL engine
    // computes these → rows-only driver check; values are pinned to the
    // reference kernels by PhoneticSpec's 99-word battery (the C
    // harness compiled from the reference's own DMETAPHONE_MAIN)
    Gated("fuzzy_phonetic", (s, dir) => {
      val d = Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          element_at(split(lower(col("text")), " "), 1).as("w"),
          element_at(split(lower(col("text")), " "), 2).as("w2"))
      d.select(col("doc_id"), col("w"),
          graft.functions.Phonetic.metaphoneCol(col("w"), 4).as("mph"),
          graft.functions.Phonetic.dmetaphoneCol(col("w")).as("dmph"),
          graft.functions.Phonetic.dmetaphoneAltCol(col("w")).as("dmph_alt"),
          graft.functions.Phonetic.soundexCol(col("w")).as("sdx"),
          graft.functions.Phonetic.differenceCol(col("w"), col("w2")).as("diff"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      None),

    // end-to-end pretrain prep: decontaminate → temperature mix →
    // greedy sequence packing, per-doc sequence assignment gated
    // hash-exact THROUGH THE WHOLE CHAIN (each stage's determinism
    // composes: order-free contamination flags, per-source quota
    // arithmetic, partitioning-invariant pack walk)
    Gated("pipeline_pretrain", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val clean = train.join(
        graft.operators.Dedup.contaminationFlags(train, "text", "doc_id",
            bench, "text")
          .filter(!col("contaminated")).select(col("id").as("doc_id")),
        "doc_id")
      val mixed = graft.operators.Sampling.mixBySource(
        clean.select(col("doc_id"), col("lang"), col("text")),
        "lang", "doc_id")
      val toks = mixed.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("tok"))
      graft.operators.Pack.packGreedy(toks, "doc_id", "tok",
          budget = 256, nGroups = 8)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the same three stages as CTEs: contamination filter → sqrt-quota
      // mix → the recursive-CTE pack walk over the selected set
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram FROM t),
        |b AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 97 = 0),
        |h AS (SELECT tg.doc_id, count(*) AS hits FROM tg JOIN b USING (gram)
        |      WHERE tg.doc_id % 97 <> 0 GROUP BY tg.doc_id),
        |clean AS (SELECT d.doc_id, d.lang, d.text FROM documents d
        |      LEFT JOIN h ON d.doc_id = h.doc_id
        |      WHERE d.doc_id % 97 <> 0 AND coalesce(h.hits, 0) = 0),
        |q AS (SELECT lang, CAST(round(sqrt(count(*)::DOUBLE) * 5, 0) AS BIGINT) AS quota
        |      FROM clean GROUP BY lang),
        |r AS (SELECT doc_id, lang, text, row_number() OVER (PARTITION BY lang
        |        ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk FROM clean),
        |sel AS (SELECT r.doc_id, r.text FROM r JOIN q USING (lang) WHERE r.rk <= q.quota),
        |o AS (SELECT doc_id, doc_id % 8 AS g,
        |        len(string_split(lower(text), ' ')) AS tok,
        |        row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |      FROM sel),
        |walk(g, rn, doc_id, tok, fill, seq) AS (
        |  SELECT g, rn, doc_id, tok, tok, 0 FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.g, o.rn, o.doc_id, o.tok,
        |    CASE WHEN w.fill + o.tok > 256 THEN o.tok ELSE w.fill + o.tok END,
        |    CASE WHEN w.fill + o.tok > 256 THEN w.seq + 1 ELSE w.seq END
        |  FROM walk w JOIN o ON o.g = w.g AND o.rn = w.rn + 1)
        |SELECT doc_id, CAST(g * 1000000000 + seq AS BIGINT) AS seq_id,
        |  CAST(tok AS BIGINT) AS n_tokens
        |FROM walk ORDER BY doc_id""".stripMargin)),

    // one BPE merge-training round, exactly gated: the winning pair is
    // the global top adjacent-pair count (lexicographic tie-break) and
    // the greedy left-to-right merge's effect is verified per doc
    // (n_after) — the SQL oracle reproduces greedy non-overlap as
    // ceil(run/2) over gaps-and-islands of match positions
    Gated("bpe_step", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .withColumn("n_before", size(col("toks")).cast("long"))
      val Some(((a, b, n), merged)) = graft.operators.Bpe.step(docs, "toks")
      merged.select(col("doc_id"), lit(a).as("pair_a"), lit(b).as("pair_b"),
          lit(n).as("pair_n"), col("n_before"),
          size(col("toks")).cast("long").as("n_after"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // greedy non-overlapping merges per doc = Σ ceil(run/2) over
      // islands of consecutive match positions (identical to the
      // left-to-right fold: within a run of overlapping matches exactly
      // the 1st, 3rd, ... merge)
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |pr AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
        |p2 AS (SELECT doc_id, i, toks[i] AS a, toks[i+1] AS b FROM pr),
        |top AS (SELECT a, b, count(*) AS n FROM p2 GROUP BY a, b
        |        ORDER BY n DESC, a, b LIMIT 1),
        |m AS (SELECT p2.doc_id, p2.i FROM p2 JOIN top USING (a, b)),
        |isl AS (SELECT doc_id, i,
        |        i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g FROM m),
        |runs AS (SELECT doc_id, g, count(*) AS run FROM isl GROUP BY doc_id, g),
        |mg AS (SELECT doc_id, sum((run + 1) // 2) AS merged FROM runs GROUP BY doc_id)
        |SELECT t.doc_id, top.a AS pair_a, top.b AS pair_b, top.n AS pair_n,
        |  len(t.toks)::BIGINT AS n_before,
        |  (len(t.toks) - coalesce(mg.merged, 0))::BIGINT AS n_after
        |FROM t CROSS JOIN top LEFT JOIN mg ON t.doc_id = mg.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // temperature-weighted mixture flattening: per-language quota
    // ∝ sqrt(n) (en keeps ~34% of its docs, fr ~63% — the sqrt mix),
    // members picked in Knuth-mix order; quotas are per-source
    // independent so no engine-ordered float accumulation exists
    Gated("mix_sources", (s, dir) =>
      graft.operators.Sampling.mixBySource(
          Tables.spread(s, dir, "documents")
            .select(col("doc_id"), col("lang")), "lang", "doc_id")
        .select(col("doc_id"), col("lang"), col("rk"))
        .transform(Gate.ordered(_, "doc_id")),
      // identical per-source quota arithmetic (sqrt correctly-rounded
      // in both engines) + the identical Knuth-mix pick order
      Some("""WITH q AS (SELECT lang,
        |  CAST(round(sqrt(count(*)::DOUBLE) * 5, 0) AS BIGINT) AS quota
        |FROM documents GROUP BY lang),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
        |FROM documents)
        |SELECT r.doc_id, r.lang, r.rk::INTEGER AS rk
        |FROM r JOIN q USING (lang) WHERE r.rk <= q.quota
        |ORDER BY doc_id""".stripMargin)),

    // pg_trgm similarity(): PG-semantics padded word trigrams, gated
    // as consecutive-id pairs (an equi-join — no global window, no
    // all-pairs). The scaled `%`-search form is Trgm.similarPairs,
    // spec-gated (this corpus's shared 30-word vocab makes every doc
    // pair ~0.9-similar, so a threshold search would return O(n²)).
    Gated("sim_trgm", (s, dir) => {
      val d = Tables.spread(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("next_id"),
          round(graft.operators.Trgm.similarity(col("a.text"), col("b.text")), 6)
            .as("sim"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // identical PG trigram construction: pad '  w ', all 3-char
      // windows, distinct across the string; sim = |∩| / |∪|
      Some("""WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
        |FROM documents),
        |t AS (SELECT doc_id, list_distinct(flatten(list_transform(ws, w ->
        |    list_transform(range(1, length(w) + 2), i -> substr('  ' || w || ' ', i, 3))))) AS tg
        |FROM w)
        |SELECT a.doc_id AS doc_id, b.doc_id AS next_id,
        |  round(len(list_intersect(a.tg, b.tg))::DOUBLE
        |    / (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))), 6) AS sim
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin)),

    // Full-text boolean/phrase match (tsvector @@ tsquery analogue):
    // AND/OR/NOT + <-> phrase adjacency compile to pure-codegen
    // substring probes on the padded text — a map-only scan, mirrored
    // in SQL with position(). Output keeps two sub-atom booleans so
    // the gate checks the atoms, not just the conjunction.
    // ts_rewrite (tsquery_rewrite.c): three rewrite shapes — plain
    // expansion, n-ary subset replacement inside a larger AND, and a
    // rewrite under negation — each applied to the query FIRST, then
    // matched; the oracle hand-writes the EXPANDED semantics, so the
    // gate proves the rewrite produced exactly those semantics
    Gated("fts_rewrite", (s, dir) => {
      val FT = graft.operators.FullText
      val q1 = FT.tsRewriteText("spark & merge", "merge", "merge | join")
      val q2 = FT.tsRewriteText("vector & data & scan", "vector & data", "batch")
      val q3 = FT.tsRewriteText("query & !slow", "slow", "slow | small")
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          FT.tsMatch(col("text"), q1).as("m_expanded"),
          FT.tsMatch(col("text"), q2).as("m_subset"),
          FT.tsMatch(col("text"), q3).as("m_negated"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
        |SELECT doc_id,
        |  (position(' spark ' IN pad) > 0 AND
        |    (position(' merge ' IN pad) > 0 OR position(' join ' IN pad) > 0))
        |    AS m_expanded,
        |  (position(' batch ' IN pad) > 0 AND position(' scan ' IN pad) > 0)
        |    AS m_subset,
        |  (position(' query ' IN pad) > 0 AND NOT
        |    (position(' slow ' IN pad) > 0 OR position(' small ' IN pad) > 0))
        |    AS m_negated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // Default text-search parser (wparser_def.cpp): each doc's corpus
    // text (pure lowercase words — each an asciiword) is extended with
    // a planted suffix exercising protocol/url/host/url_path, email,
    // version, sfloat, hyphenated word + parts, file paths, tags and
    // entities — all derived from doc_id, so the oracle reconstructs
    // the ENTIRE expected "tokid:token" stream by string arithmetic.
    // Map-only per-row kernel — no shuffle beyond the gate's sort.
    Gated("fts_parser", (s, dir) => {
      val corpus = concat(col("text"),
        lit(" http://h"), col("doc_id"), lit(".example.org/p?q="),
        col("doc_id"),
        lit(" u"), col("doc_id"), lit("@mail"), col("doc_id"), lit(".net"),
        lit(" ver 1."), col("doc_id"), lit(".7"),
        lit(" +4.5e-3 big-data gist.h.c /usr/lib"), col("doc_id"),
        lit(" <b>tag</b> &amp; end"))
      Tables.spread(s, dir, "documents")
        .withColumn("parsed",
          graft.functions.TsDefaultParser.parseCol(corpus))
        .select(col("doc_id"), size(col("parsed")).as("n_tokens"),
          concat_ws("|",
            expr("transform(parsed, x -> x.tokid || ':' || x.token)"))
            .as("stream"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the full expected token stream, rebuilt piece by piece: every
      // corpus word is '1:w' with '12: ' blanks between, then the planted
      // suffix's fixed decomposition with doc_id spliced in
      Some("""WITH t AS (SELECT doc_id, text, doc_id::VARCHAR AS i FROM documents),
        |s AS (SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' '),
        |    w -> '1:' || w), '|12: |')
        |  || '|12: |14:http://|5:h' || i || '.example.org/p?q=' || i
        |  || '|6:h' || i || '.example.org|18:/p?q=' || i
        |  || '|12: |4:u' || i || '@mail' || i || '.net'
        |  || '|12: |1:ver|12: |8:1.' || i || '.7'
        |  || '|12: |7:+4.5e-3'
        |  || '|12: |16:big-data|11:big|12:-|11:data'
        |  || '|12: |19:gist.h.c'
        |  || '|12: |19:/usr/lib' || i
        |  || '|12: |13:<b>|1:tag|13:</b>'
        |  || '|12: |23:&amp;|12: |1:end' AS stream
        |FROM t)
        |SELECT doc_id, len(string_split(stream, '|'))::INTEGER AS n_tokens,
        |  stream
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Composition: parser → parsetext position assignment (the
    // to_tsvector front half). Positions advance only for
    // dictionary-mapped types (not blank/tag/protocol/entity), so the
    // planted suffix's anchors sit at fixed offsets from the word count.
    Gated("fts_parse_vector", (s, dir) => {
      val corpus = concat(col("text"),
        lit(" http://h"), col("doc_id"), lit(".example.org/p?q="),
        col("doc_id"),
        lit(" u"), col("doc_id"), lit("@mail"), col("doc_id"), lit(".net"),
        lit(" ver 1."), col("doc_id"), lit(".7"),
        lit(" +4.5e-3 big-data gist.h.c /usr/lib"), col("doc_id"),
        lit(" <b>tag</b> &amp; end"))
      Tables.spread(s, dir, "documents")
        .withColumn("parsed",
          graft.functions.TsDefaultParser.parseCol(corpus))
        .select(col("doc_id"),
          expr("element_at(parsed, -1).pos").as("n_pos"),
          expr("filter(parsed, x -> x.tokid = 11 AND x.token = 'big')[0].pos")
            .as("pos_big"),
          expr("filter(parsed, x -> x.tokid = 1 AND x.token = 'tag')[0].pos")
            .as("pos_tag"),
          expr("size(filter(parsed, x -> x.pos = 0))").as("n_unmapped"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // mapped-token positions: n corpus words, then url/host/url_path,
      // email, ver, version, sfloat (+7), big-data/big/data (+10),
      // gist (+11), /usr/lib (+12), tag word (+13), end (+14); the
      // unmapped remainder is (n-1) text blanks + 12 suffix blanks
      // (incl. the hword '-') + 2 tags + 1 protocol + 1 entity = n + 15
      Some("""WITH t AS (SELECT doc_id,
        |  len(string_split(text, ' '))::INTEGER AS n FROM documents)
        |SELECT doc_id, (n + 14)::INTEGER AS n_pos, (n + 9)::INTEGER AS pos_big,
        |  (n + 13)::INTEGER AS pos_tag, (n + 15)::INTEGER AS n_unmapped
        |FROM t ORDER BY doc_id""".stripMargin)),

    // ts_headline over the DEFAULT parser (prsd_headline port): the
    // single-fragment selector on the plain-word corpus. With
    // ShortWord=0 and a single-atom query the cover logic reduces to
    // closed-form window arithmetic the oracle can recompute: window =
    // 5 words from the first 'spark' (backward-extended at doc end),
    // every in-window occurrence wrapped; no-match docs show the first
    // MinWords words. The full cover/fragment semantics are pinned to
    // the reference's own 8-case regress battery in HeadlineDefaultSpec
    Gated("fts_headline_default", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.HeadlineDefault.headlineCol(col("text"), "spark",
            maxWords = 10, minWords = 5, shortWord = 0).as("headline"))
        .transform(Gate.ordered(_, "doc_id")),
      // single-atom cover arithmetic: every occurrence anchors a 5-word
      // candidate window (clamped backward at doc end). mark_hl_words
      // SKIPS covers whose in-cover item count (always 1 for one atom)
      // is below the reigning best's EXTENDED count — so after the first
      // window with >= 2 in-window occurrences wins, everything later is
      // skipped: the pick is the FIRST window with >= 2 occurrences,
      // else the first window; fallback = first 5 words
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id, w, len(w) AS n,
        |  list_filter(range(1, len(w) + 1), i -> w[i] = 'spark') AS occ
        |FROM t),
        |c AS (SELECT doc_id, w, n, occ,
        |  list_transform(occ, o -> greatest(1, least(o, n - 4))) AS bs,
        |  list_transform(occ, o -> least(o + 4, n)) AS es FROM p),
        |s AS (SELECT doc_id, w, n, occ, bs, es,
        |  coalesce(nullif(list_position(
        |    list_transform(range(1, len(occ) + 1),
        |      k -> len(list_filter(occ,
        |             o2 -> o2 >= bs[k] AND o2 <= es[k])) >= 2), true), 0), 1)
        |    AS pick
        |FROM c),
        |win AS (SELECT doc_id, w,
        |  CASE WHEN len(occ) = 0 THEN 1 ELSE bs[pick] END AS b,
        |  CASE WHEN len(occ) = 0 THEN least(5, n) ELSE es[pick] END AS e
        |FROM s)
        |SELECT doc_id,
        |  array_to_string(list_transform(w[b:e],
        |    x -> CASE WHEN x = 'spark' THEN '<b>' || x || '</b>'
        |              ELSE x END), ' ') AS headline
        |FROM win ORDER BY doc_id""".stripMargin)),

    // ts_headline FRAGMENT mode (r16): MaxFragments=2 over a PLANTED
    // word stream (mark_hl_fragments, wparser_def.cpp:1976 — already
    // ported and regress-pinned; this gates it against a driver
    // oracle). The construction keeps the fragment algebra closed-form:
    // single-atom covers seed left-to-right (poslen all 1, strict
    // tie-breaks keep array order), each fragment stretches
    // (MaxWords−1)/2=2 words back (clamped at doc start when the
    // prefix is short) then forward to 6 words (clamped at doc end
    // when the suffix is short); the doc_id%3 rows plant an ADJACENT
    // second occurrence whose cover lands inside fragment 1 and is
    // EXCLUDED, so fragment 2 still seeds at the far occurrence. The
    // separation filler (≥7) guarantees fragments never interact, so
    // the oracle reproduces the exact rendering with slice arithmetic.
    Gated("fts_headline_frag", (s, dir) => {
      val na = pmod(col("doc_id"), lit(5)).cast("int")
      val mid = (pmod(col("doc_id"), lit(6)) + 7).cast("int")
      val nc = pmod(col("doc_id"), lit(4)).cast("int")
      val first = when(pmod(col("doc_id"), lit(3)) === 0,
        array(lit("spark"), lit("spark"))).otherwise(array(lit("spark")))
      val words = concat(
        array_repeat(lit("f"), na), first,
        array_repeat(lit("g"), mid), array(lit("spark")),
        array_repeat(lit("h"), nc))
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), array_join(words, " ").as("t2"))
        .select(col("doc_id"),
          graft.operators.HeadlineDefault.headlineCol(col("t2"), "spark",
            maxWords = 6, minWords = 2, shortWord = 0, maxFragments = 2)
            .as("headline"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the planted fragment algebra in list arithmetic: word positions
      // o1 = na+1 (+adjacent pair when doc_id%3=0) and o3 = na+npair+
      // mid+1; fragment windows [b,e] with b = max(1, o−2), e = min(n,
      // b+5); every in-window 'spark' wraps; fragments join with the
      // default ' ... ' delimiter
      Some("""WITH p AS (SELECT doc_id,
        |    doc_id % 5 AS na,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS np,
        |    7 + doc_id % 6 AS mid,
        |    doc_id % 4 AS nc
        |  FROM documents),
        |w0 AS (SELECT doc_id, na, np, mid, nc,
        |    list_transform(range(1, (na + 1)::INTEGER), i -> 'f')
        |    || CASE WHEN np = 2 THEN ['spark', 'spark'] ELSE ['spark'] END
        |    || list_transform(range(1, (mid + 1)::INTEGER), i -> 'g')
        |    || ['spark']
        |    || list_transform(range(1, (nc + 1)::INTEGER), i -> 'h') AS w
        |  FROM p),
        |b AS (SELECT doc_id, w, len(w) AS n,
        |    greatest(1, (na + 1) - 2) AS b1,
        |    (na + np + mid + 1) - 2 AS b2
        |  FROM w0),
        |f AS (SELECT doc_id, w,
        |    b1, b1 + 5 AS e1, b2, least(n, b2 + 5) AS e2
        |  FROM b)
        |SELECT doc_id,
        |  array_to_string(list_transform(w[b1:e1],
        |    x -> CASE WHEN x = 'spark' THEN '<b>' || x || '</b>'
        |              ELSE x END), ' ')
        |  || ' ... ' ||
        |  array_to_string(list_transform(w[b2:e2],
        |    x -> CASE WHEN x = 'spark' THEN '<b>' || x || '</b>'
        |              ELSE x END), ' ') AS headline
        |FROM f ORDER BY doc_id""".stripMargin)),

    // SQL-name parity (r16): the ENTIRE query below is spark.sql TEXT
    // over the registered tsearch names — the spelling an openGauss
    // user writes (src/test/regress/sql/tsearch.sql) — composing
    // to_tsvector / ts_match / ts_rank / ts_rank_cd / ts_headline /
    // ts_parse / to_tsquery in one statement. Each name resolves
    // through the FunctionRegistry to the SAME kernels the Column
    // gates run (SQL==Column parity pinned per-name in
    // SqlTextSearchSpec); the oracle recomputes every column with the
    // established closed forms (stem CASE map, shared rank table,
    // cover-density nanos, single-atom headline window arithmetic).
    Gated("sql_fts", (s, dir) => {
      graft.GraftExtensions.install(s)
      Tables.spread(s, dir, "documents").createOrReplaceTempView("docs_sqlfts")
      s.sql(
        """SELECT doc_id,
          |  size(to_tsvector(text)) AS n_lex,
          |  round(ts_rank(text, 'spark & key'), 6) AS r0,
          |  ts_rank_cd(text, 'spark & key') AS rank_cd,
          |  ts_headline(text, 'spark',
          |    'MaxWords=10, MinWords=5, ShortWord=0') AS headline,
          |  size(ts_parse('default', text)) AS n_tokens,
          |  to_tsquery('sparks & keys') AS qnorm
          |FROM docs_sqlfts
          |WHERE ts_match(text, 'spark & key')
          |ORDER BY doc_id""".stripMargin)
    },
      // every column of the spark.sql-text gate recomputed with the
      // suite's established closed forms: n_lex = distinct stems of
      // non-stop tokens (the driver-shared Porter CASE map); r0 = the
      // shared contribution table over raw tf; rank_cd = adjacent
      // mixed-pair nanos; headline = the single-atom window arithmetic
      // (same CTEs as fts_headline_default, restricted to matches —
      // every matched doc contains 'spark', so the no-match fallback
      // never fires); n_tokens = 2·words−1 (word+blank stream of the
      // default parser on the pure-word corpus); qnorm = the engine's
      // normalized rendering, stems computed by the SAME Porter at
      // oracle-build time
      Some({
        val LX = graft.operators.Lexize
        val rt = graft.operators.FullText.rankTableSql
        val qnorm = s"(${graft.functions.Porter.stem("sparks")}) & " +
          s"(${graft.functions.Porter.stem("keys")})"
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
         |             string_split(lower(text), ' ') AS toks,
         |             ' ' || lower(text) || ' ' AS pad FROM documents),
         |f AS (SELECT * FROM t WHERE position(' spark ' IN pad) > 0
         |                        AND position(' key ' IN pad) > 0),
         |lx AS (SELECT doc_id, len(list_distinct(list_transform(
         |    list_filter(toks, x -> x NOT IN ${LX.stopListSql}),
         |    x -> ${LX.stemCaseSql("x")})))::INTEGER AS n_lex FROM f),
         |rk AS (SELECT doc_id,
         |    round(list_extract($rt,
         |        least(len(list_filter(toks, x -> x = 'spark')), 256) + 1)
         |      + list_extract($rt,
         |        least(len(list_filter(toks, x -> x = 'key')), 256) + 1), 6)
         |      AS r0 FROM f),
         |cd0 AS (SELECT doc_id, toks, list_sort(list_concat(
         |    list_filter(generate_series(1, len(toks)), i -> toks[i] = 'spark'),
         |    list_filter(generate_series(1, len(toks)), i -> toks[i] = 'key')))
         |    AS ps FROM f),
         |cd AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
         |    list_filter(generate_series(1, len(ps) - 1),
         |      j -> toks[ps[j]] <> toks[ps[j+1]]),
         |    j -> CAST(round(100000000.0 / (ps[j+1] - ps[j]), 0) AS BIGINT))),
         |    0) AS DOUBLE) / 1000000000.0 AS rank_cd FROM cd0),
         |hp AS (SELECT doc_id, w, len(w) AS n,
         |    list_filter(range(1, len(w) + 1), i -> w[i] = 'spark') AS occ
         |  FROM f),
         |hc AS (SELECT doc_id, w, n, occ,
         |    list_transform(occ, o -> greatest(1, least(o, n - 4))) AS bs,
         |    list_transform(occ, o -> least(o + 4, n)) AS es FROM hp),
         |hs AS (SELECT doc_id, w, occ, bs, es,
         |    coalesce(nullif(list_position(
         |      list_transform(range(1, len(occ) + 1),
         |        k -> len(list_filter(occ,
         |               o2 -> o2 >= bs[k] AND o2 <= es[k])) >= 2), true), 0), 1)
         |      AS pick FROM hc),
         |hl AS (SELECT doc_id,
         |    array_to_string(list_transform(w[bs[pick]:es[pick]],
         |      x -> CASE WHEN x = 'spark' THEN '<b>' || x || '</b>'
         |                ELSE x END), ' ') AS headline FROM hs)
         |SELECT f.doc_id, lx.n_lex, rk.r0, cd.rank_cd, hl.headline,
         |  (2 * len(f.toks) - 1)::INTEGER AS n_tokens,
         |  '$qnorm' AS qnorm
         |FROM f JOIN lx USING (doc_id) JOIN rk USING (doc_id)
         |  JOIN cd USING (doc_id) JOIN hl USING (doc_id)
         |ORDER BY f.doc_id""".stripMargin
      })),

    // Composition re-gate: INDEXED retrieval over PARSER-produced
    // tokens. Postings are built from the default parser's mapped
    // lexemes (so host/url/path tokens index as units — whitespace
    // tokenization would garble them), then the query is two postings
    // semi-joins (host h3.example.org AND asciiword spark): matching
    // happens entirely inside the index, text is never re-read. The
    // oracle recomputes membership and the per-doc distinct-lexeme
    // count by string arithmetic
    Gated("fts_parser_retrieve", (s, dir) => {
      val corpus = concat(col("text"),
        lit(" http://h"), pmod(col("doc_id"), lit(7)),
        lit(".example.org/p?q="), col("doc_id"))
      val withToks = Tables.spread(s, dir, "documents")
        .withColumn("parsed",
          graft.functions.TsDefaultParser.parseCol(corpus))
        .withColumn("lex",
          expr("array_distinct(transform(filter(parsed, x -> x.pos > 0)," +
            " x -> lower(x.token)))"))
      val post = withToks
        .select(col("doc_id"), explode(col("lex")).as("term"))
      val hostHits = post.filter(col("term") === "h3.example.org")
        .select("doc_id")
      val wordHits = post.filter(col("term") === "spark").select("doc_id")
      withToks
        .join(hostHits.join(wordHits, "doc_id"), "doc_id")
        .select(col("doc_id"), size(col("lex")).as("n_lexemes"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // membership: doc_id % 7 = 3 plants the queried host; 'spark' as a
      // word of the text; lexemes = distinct words + the 3 planted
      // mapped tokens (url, host, url_path — all contain ':'/'.'/digits,
      // so they never collide with the letter-only corpus words)
      Some("""SELECT doc_id,
        |  (len(list_distinct(string_split(text, ' '))) + 3)::INTEGER
        |    AS n_lexemes
        |FROM documents
        |WHERE doc_id % 7 = 3
        |  AND position(' spark ' IN ' ' || text || ' ') > 0
        |ORDER BY doc_id""".stripMargin)),

    // N-gram Chinese FTS parser (ts_zh_ngram.cpp): the corpus text
    // plus a planted CJK phrase tokenize through the full run +
    // sliding-gram procedure (ASCII letter runs gram exactly like CJK
    // runs; the fullwidth comma splits under the default
    // punctuation_ignore). The oracle reproduces the gram arithmetic
    // with character substr over each whitespace run and the planted
    // phrase's own grams — the whole token stream, in order
    Gated("fts_zh_ngram", (s, dir) => {
      val toks = graft.functions.ZhNgram.tokensCol(
        concat(col("text"), lit(" 数据库，系统")))
      val pound = graft.functions.ZhNgram.poundTokensCol(
        concat(lit("f1#"), col("text"), lit("##f3")))
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), toks.as("t"), pound.as("p"))
        .select(col("doc_id"), size(col("t")).as("n_tokens"),
          concat_ws("|", col("t")).as("tokens"),
          concat_ws("|", col("p")).as("pound_fields"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // fts atoms mirror tsMatch exactly: token membership / adjacency
      // == substring containment on the space-padded lowercased text
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, flatten(list_transform(w, x ->
        |    CASE WHEN length(x) < 2 THEN [x]
        |         ELSE list_transform(range(1, length(x)),
        |                i -> substr(x, i::INTEGER, 2)) END))
        |  || ['数据', '据库', '系统'] AS toks
        |FROM t)
        |SELECT doc_id, len(toks)::INTEGER AS n_tokens,
        |  array_to_string(toks, '|') AS tokens,
        |  'f1|' || text || '|f3' AS pound_fields
        |FROM g JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Lexicon-based CJK segmentation (zhparser-style FMM engine; the
    // reference stubs ts_zh_zhparser for lack of scws data, so the
    // engine takes a caller lexicon). The planted phrase segments by
    // forward maximum matching (数据库|系统|用户|数据 — 用户 is the
    // out-of-lexicon stretch falling back to D53's bigrams); the
    // English corpus words are all out-of-lexicon, so their token
    // stream is exactly the ngram parser's — the oracle reuses that
    // substr arithmetic plus the planted phrase's fixed segmentation
    Gated("fts_zh_lexicon", (s, dir) => {
      val lex = graft.functions.ZhLexicon.build(Seq("数据库", "系统", "数据"))
      val toks = graft.functions.ZhLexicon.tokensCol(
        concat(col("text"), lit(" 数据库系统用户数据")), lex)
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), size(col("t")).as("n_tokens"),
          concat_ws("|", col("t")).as("tokens"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // English words are out-of-lexicon -> ngram fallback (the same
      // substr arithmetic as fts_zh_ngram); the planted phrase's FMM
      // segmentation is fixed
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, flatten(list_transform(w, x ->
        |    CASE WHEN length(x) < 2 THEN [x]
        |         ELSE list_transform(range(1, length(x)),
        |                i -> substr(x, i::INTEGER, 2)) END))
        |  || ['数据库', '系统', '用户', '数据'] AS toks
        |FROM t)
        |SELECT doc_id, len(toks)::INTEGER AS n_tokens,
        |  array_to_string(toks, '|') AS tokens
        |FROM g ORDER BY doc_id""".stripMargin)),

    // thesaurus dictionary (dict_thesaurus.cpp): phrase-level rewrite
    // during lexizing — 'slow query' collapses to the *-marked raw
    // lexeme 'sq' (1 output token for 2 input), 'big table' expands to
    // the subdictionary-normalized pair 'storag unit'. The oracle
    // recomputes counts and the first collapsed position from raw
    // adjacent-pair arithmetic (the corpus vocabulary is closed — no
    // inflections — so raw-pair detection ≡ the stem-normalized
    // matching; the full inflection/stopword semantics are pinned to
    // the reference's regress battery in ThesaurusSpec)
    Gated("fts_thesaurus", (s, dir) => {
      val dict = graft.operators.Thesaurus.load(
        "slow query : *sq\nbig table : storage unit\n",
        stop = Set.empty, stem = graft.functions.Porter.stem)
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Thesaurus.lexizeCol(col("text"), dict).as("lex"))
        .select(col("doc_id"),
          size(col("lex")).as("n_out"),
          size(expr("filter(lex, x -> x.lex = 'sq')")).as("n_sq"),
          size(expr("filter(lex, x -> x.lex = 'unit')")).as("n_unit"),
          coalesce(expr(
            "array_min(transform(filter(lex, x -> x.lex = 'sq'), x -> x.pos))"),
            lit(0)).as("first_sq"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // n_out = tokens − sq-collapses (2→1; 'big table'→2 is
      // count-neutral); first 'sq' OUTPUT position = its first token
      // index (everything before it emits 1-for-1 or 2-for-2)
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |p AS (SELECT doc_id, len(w) AS n,
        |  list_transform(range(1, len(w)),
        |    i -> CASE WHEN w[i] = 'slow' AND w[i+1] = 'query'
        |              THEN 1 ELSE 0 END) AS sq,
        |  list_transform(range(1, len(w)),
        |    i -> CASE WHEN w[i] = 'big' AND w[i+1] = 'table'
        |              THEN 1 ELSE 0 END) AS bt
        |FROM t)
        |SELECT doc_id,
        |  (n - coalesce(list_sum(sq), 0))::INTEGER AS n_out,
        |  coalesce(list_sum(sq), 0)::INTEGER AS n_sq,
        |  coalesce(list_sum(bt), 0)::INTEGER AS n_unit,
        |  coalesce(list_position(sq, 1), 0)::INTEGER AS first_sq
        |FROM p ORDER BY doc_id""".stripMargin)),

    Gated("fts_match", (s, dir) => {
      val FT = graft.operators.FullText
      Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"),
          "(spark <-> key | dup) & !(slow <-> query)"))
        .select(col("doc_id"),
          FT.tsMatch(col("text"), "spark <-> key").as("phrase_hit"),
          FT.tsMatch(col("text"), "dup").as("dup_hit"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
        |SELECT doc_id,
        |  position(' spark key ' IN pad) > 0 AS phrase_hit,
        |  position(' dup ' IN pad) > 0 AS dup_hit
        |FROM p
        |WHERE (position(' spark key ' IN pad) > 0
        |       OR position(' dup ' IN pad) > 0)
        |  AND NOT position(' slow query ' IN pad) > 0
        |ORDER BY doc_id""".stripMargin)),

    // FOLLOWED BY at distance N (tsquery `<N>`): position arithmetic
    // substring probes can't express — one compiled token scan per row
    // (PhraseGapMatch), still map-only; mirrored in SQL via
    // generate_series position filters
    Gated("fts_gap", (s, dir) => {
      val FT = graft.operators.FullText
      Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"),
          "(spark <2> key | key <2> spark) & !dup"))
        .select(col("doc_id"),
          FT.tsMatch(col("text"), "spark <2> key").as("gap_sk"),
          FT.tsMatch(col("text"), "key <2> spark").as("gap_ks"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // <N> positions via generate_series over the token list; 1-based
      // lists, so toks[i] pairs with toks[i+N]
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks,
        |             ' ' || lower(text) || ' ' AS pad FROM documents),
        |g AS (SELECT doc_id, pad,
        |  len(list_filter(generate_series(1, len(toks) - 2),
        |    i -> toks[i] = 'spark' AND toks[i+2] = 'key')) > 0 AS gap_sk,
        |  len(list_filter(generate_series(1, len(toks) - 2),
        |    i -> toks[i] = 'key' AND toks[i+2] = 'spark')) > 0 AS gap_ks
        |FROM t)
        |SELECT doc_id, gap_sk, gap_ks FROM g
        |WHERE (gap_sk OR gap_ks) AND NOT position(' dup ' IN pad) > 0
        |ORDER BY doc_id""".stripMargin)),

    // ts_headline analogue: snippet of ±2 tokens around the first
    // positive-term hit, for the matched docs — map-only codegen
    // (array_position/slice/array_join), snippet string gated exactly
    Gated("fts_headline", (s, dir) => {
      val FT = graft.operators.FullText
      val q = "(spark <-> key | dup) & !(slow <-> query)"
      Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"), q))
        .select(col("doc_id"),
          FT.headline(col("text"), q, window = 2).as("snippet"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // first positive-term hit via list_position; snippet is the
      // inclusive token slice [fp-2, fp+2] clamped at the doc start
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks,
        |             ' ' || lower(text) || ' ' AS pad FROM documents),
        |p AS (SELECT doc_id, toks, pad,
        |  least(
        |    coalesce(nullif(list_position(toks, 'spark'), 0), 9223372036854775807),
        |    coalesce(nullif(list_position(toks, 'key'), 0), 9223372036854775807),
        |    coalesce(nullif(list_position(toks, 'dup'), 0), 9223372036854775807))
        |    AS fp
        |FROM t)
        |SELECT doc_id,
        |  array_to_string(list_slice(toks, greatest(fp - 2, 1), fp + 2), ' ')
        |    AS snippet
        |FROM p
        |WHERE (position(' spark key ' IN pad) > 0
        |       OR position(' dup ' IN pad) > 0)
        |  AND NOT position(' slow query ' IN pad) > 0
        |ORDER BY doc_id""".stripMargin)),

    // Boolean-filtered BM25 retrieval in ONE query (the reference's
    // `tsquery @@ ... ORDER BY ts_rank` shape): tsMatch prunes the
    // corpus map-side, BM25 then scores the query's positive terms
    // over the MATCHED subcorpus (stats N/Σdl/df computed on the
    // filtered set, as PG ranks within the matched result)
    Gated("fts_bm25", (s, dir) => {
      val FT = graft.operators.FullText
      val q = "(spark <-> key | dup) & !(slow <-> query)"
      val matched = Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"), q))
      graft.operators.Relevance.bm25(matched, "doc_id", "text",
          FT.positiveTerms(q))
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id"))
    },
      // same bm25 arithmetic as text_bm25, over the tsMatch-filtered
      // subcorpus; positive terms in tree order: spark, key, dup
      Some("""WITH m AS (SELECT doc_id, text FROM documents
        |  WHERE (position(' spark key ' IN ' '||lower(text)||' ') > 0
        |         OR position(' dup ' IN ' '||lower(text)||' ') > 0)
        |    AND NOT position(' slow query ' IN ' '||lower(text)||' ') > 0),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM m),
        |b AS (SELECT doc_id, len(toks)::BIGINT AS dl,
        |  len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf0,
        |  len(list_filter(toks, x -> x = 'key'))::BIGINT AS tf1,
        |  len(list_filter(toks, x -> x = 'dup'))::BIGINT AS tf2
        |FROM t),
        |g AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |FROM b)
        |SELECT doc_id, (tf0 + tf1 + tf2)::BIGINT AS n_hits,
        |  round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n))), 6) AS score
        |FROM b CROSS JOIN g
        |WHERE tf0 + tf1 + tf2 > 0 ORDER BY doc_id""".stripMargin)),

    // The full retrieval stack in ONE query — PG's
    // `WHERE doc @@ query ORDER BY ts_rank LIMIT k` + ts_headline
    // shape: boolean prune (map-side) -> BM25 score over the matched
    // subcorpus -> bounded top-10 (TakeOrderedAndProject) -> snippet
    // for the survivors only (k rows, not the corpus)
    Gated("fts_retrieve", (s, dir) => {
      val FT = graft.operators.FullText
      val q = "(spark <-> key | dup) & !(slow <-> query)"
      val docs = Tables.spread(s, dir, "documents")
      val matched = docs.filter(FT.tsMatch(col("text"), q))
      val top = graft.operators.Relevance.bm25(matched, "doc_id", "text",
          FT.positiveTerms(q))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("score").desc, col("doc_id")).limit(10)
      top.join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), col("n_hits"), col("score"),
          FT.headline(col("text"), q, window = 2).as("snippet"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // fts_bm25's scoring CTEs -> top-10 by (score DESC, doc_id) ->
      // fts_headline's snippet for the 10 survivors only
      Some("""WITH m AS (SELECT doc_id, text FROM documents
        |  WHERE (position(' spark key ' IN ' '||lower(text)||' ') > 0
        |         OR position(' dup ' IN ' '||lower(text)||' ') > 0)
        |    AND NOT position(' slow query ' IN ' '||lower(text)||' ') > 0),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM m),
        |b AS (SELECT doc_id, len(toks)::BIGINT AS dl,
        |  len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf0,
        |  len(list_filter(toks, x -> x = 'key'))::BIGINT AS tf1,
        |  len(list_filter(toks, x -> x = 'dup'))::BIGINT AS tf2
        |FROM t),
        |g AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |FROM b),
        |s AS (SELECT doc_id, (tf0 + tf1 + tf2)::BIGINT AS n_hits,
        |  round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n))), 6) AS score
        |FROM b CROSS JOIN g
        |WHERE tf0 + tf1 + tf2 > 0),
        |top AS (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT 10),
        |p AS (SELECT doc_id, toks,
        |  least(
        |    coalesce(nullif(list_position(toks, 'spark'), 0), 9223372036854775807),
        |    coalesce(nullif(list_position(toks, 'key'), 0), 9223372036854775807),
        |    coalesce(nullif(list_position(toks, 'dup'), 0), 9223372036854775807))
        |    AS fp
        |FROM t)
        |SELECT top.doc_id, top.n_hits, top.score,
        |  array_to_string(list_slice(p.toks, greatest(p.fp - 2, 1), p.fp + 2), ' ')
        |    AS snippet
        |FROM top JOIN p ON top.doc_id = p.doc_id
        |ORDER BY top.doc_id""".stripMargin)),

    // ts_rank analogue (tsrank.cpp calc_rank_or under uniform D
    // weights) with PG's normalization bitmask: the per-tf contribution
    // table is ONE driver-computed literal shared verbatim with the
    // oracle, so both engines look up identical doubles and the only
    // live float arithmetic is the fixed-order term sum + norm divides
    Gated("fts_rank", (s, dir) => {
      val FT = graft.operators.FullText
      val q = "spark <-> key | dup"
      val txt = col("text")
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          round(FT.tsRank(txt, q), 6).as("r0"),
          round(FT.tsRank(txt, q, norm = 1), 6).as("r1"),
          round(FT.tsRank(txt, q, norm = 2 | 8), 6).as("r2u"),
          round(FT.tsRank(txt, q, norm = 32), 6).as("r32"))
        .filter(col("r0") > 0.0)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the rank table literal is the SAME driver-computed doubles the
      // Spark expression looks up (shortest-roundtrip repr); term order
      // spark, key, dup matches positiveTerms tree order
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |b AS (SELECT doc_id, len(toks)::BIGINT AS dl,
         |  len(list_distinct(toks))::BIGINT AS uq,
         |  list_extract(${graft.operators.FullText.rankTableSql},
         |    least(len(list_filter(toks, x -> x = 'spark')), 256) + 1)
         |  + list_extract(${graft.operators.FullText.rankTableSql},
         |    least(len(list_filter(toks, x -> x = 'key')), 256) + 1)
         |  + list_extract(${graft.operators.FullText.rankTableSql},
         |    least(len(list_filter(toks, x -> x = 'dup')), 256) + 1) AS raw
         |FROM t)
         |SELECT doc_id, round(raw, 6) AS r0,
         |  round(CASE WHEN dl > 1 THEN raw / (ln(dl + 1.0) / ln(2.0)) ELSE raw END, 6) AS r1,
         |  round(CASE WHEN uq > 0 THEN (CASE WHEN dl > 0 THEN raw / dl ELSE raw END) / uq
         |             ELSE (CASE WHEN dl > 0 THEN raw / dl ELSE raw END) END, 6) AS r2u,
         |  round(raw / (raw + 1.0), 6) AS r32
         |FROM b WHERE round(raw, 6) > 0 ORDER BY doc_id""".stripMargin)),

    // ts_rank_cd analogue: cover-density proximity rank — minimal
    // covers spanning all positive terms, each adding 0.1/(1+noise),
    // accumulated as exact integer nanos in one compiled scan; for a
    // 2-term query PG's covers are exactly the adjacent mixed pairs of
    // the merged position list, which is what the oracle enumerates
    Gated("fts_rank_cd", (s, dir) => {
      val FT = graft.operators.FullText
      Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"), "spark & key"))
        .select(col("doc_id"),
          FT.tsRankCd(col("text"), "spark & key").as("rank_cd"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // 2-term covers == adjacent mixed pairs of the merged sorted
      // position list; per-cover nanos = round(1e8/token distance),
      // summed exactly as integers
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks,
        |             ' ' || lower(text) || ' ' AS pad FROM documents),
        |p AS (SELECT doc_id, toks, pad, list_sort(list_concat(
        |        list_filter(generate_series(1, len(toks)), i -> toks[i] = 'spark'),
        |        list_filter(generate_series(1, len(toks)), i -> toks[i] = 'key'))) AS ps
        |      FROM t),
        |s AS (SELECT doc_id, pad, coalesce(list_sum(list_transform(
        |        list_filter(generate_series(1, len(ps) - 1),
        |          j -> toks[ps[j]] <> toks[ps[j+1]]),
        |        j -> CAST(round(100000000.0 / (ps[j+1] - ps[j]), 0) AS BIGINT))), 0) AS nanos
        |      FROM p)
        |SELECT doc_id, CAST(nanos AS DOUBLE) / 1000000000.0 AS rank_cd
        |FROM s
        |WHERE position(' spark ' IN pad) > 0 AND position(' key ' IN pad) > 0
        |ORDER BY doc_id""".stripMargin)),

    // ts_stat analogue: corpus-wide lexeme statistics (word, ndoc,
    // nentry) — PG's tsvector vocabulary inspection surface; two
    // map-side-combined aggregates + a bounded top-50 (total order by
    // nentry desc, word — deterministic at the cut)
    Gated("fts_stat", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("ndoc"), sum(col("tf")).as("nentry"))
        .orderBy(col("nentry").desc, col("word")).limit(50)
        .transform(Gate.ordered(_, "word")),
      Some("""WITH e AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |           FROM documents),
        |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
        |       FROM e GROUP BY doc_id, word),
        |st AS (SELECT word, count(*)::BIGINT AS ndoc, sum(tf)::BIGINT AS nentry
        |       FROM tf GROUP BY word)
        |SELECT word, ndoc, nentry FROM st
        |ORDER BY nentry DESC, word LIMIT 50""".stripMargin)),

    // INDEXED tsquery match (the GIN shape): postings (term, doc,
    // positions) built once and PERSISTED partitioned by term-hash
    // bucket; each term lookup carries its bucket literal so the
    // parquet reader prunes to the query terms' partitions (the
    // plan-contract spec asserts PartitionFilters) — semi/anti joins +
    // position-arithmetic phrase verify, no document text in the match
    // path. Same compound query as fts_match, same answer, sub-linear
    // I/O for selective terms
    Gated("fts_indexed", (s, dir) => {
      val FT = graft.operators.FullText
      val path = s"target/graft-postings/${new java.io.File(dir).getName}"
      FT.postingsBucketed(Tables.spread(s, dir, "documents"),
          "doc_id", "text", buckets = 8)
        .write.mode("overwrite").partitionBy("tbucket").parquet(path)
      FT.indexedMatch(s.read.parquet(path),
          "(spark <-> key | dup) & !(slow <-> query)", buckets = 8)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the index path must land on exactly the scan path's answer
      Some("""SELECT doc_id FROM
        |  (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
        |WHERE (position(' spark key ' IN pad) > 0
        |       OR position(' dup ' IN pad) > 0)
        |  AND NOT position(' slow query ' IN pad) > 0
        |ORDER BY doc_id""".stripMargin)),

    // BATCH indexed match — the serving shape: a query TABLE evaluated
    // in ONE postings pass (union of every query's term literals
    // broadcast against a single scan, bounded per-literal aggregate
    // state), vs re-scanning the index per query. Per-qid match sets
    // equal the one-query indexedMatch / tsMatch answers.
    Gated("fts_indexed_many", (s, dir) => {
      val FT = graft.operators.FullText
      val post = FT.postings(
        Tables.spread(s, dir, "documents"), "doc_id", "text")
      FT.indexedMatchMany(post, Seq(
          0L -> "(spark <-> key | dup) & !(slow <-> query)",
          1L -> "table & !batch",
          2L -> "key <2> spark"))
        .transform(Gate.ordered(_, "qid", "doc_id"))
    },
      // the one-pass batch form must land on each query's scan answer:
      // per-qid arms union the padded-substring / generate_series forms
      Some("""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pad,
        |             string_split(lower(text), ' ') AS toks FROM documents)
        |SELECT 0::BIGINT AS qid, doc_id FROM p
        |WHERE (position(' spark key ' IN pad) > 0
        |       OR position(' dup ' IN pad) > 0)
        |  AND NOT position(' slow query ' IN pad) > 0
        |UNION ALL
        |SELECT 1::BIGINT, doc_id FROM p
        |WHERE position(' table ' IN pad) > 0
        |  AND NOT position(' batch ' IN pad) > 0
        |UNION ALL
        |SELECT 2::BIGINT, doc_id FROM p
        |WHERE len(list_filter(generate_series(1, len(toks) - 2),
        |  i -> toks[i] = 'key' AND toks[i+2] = 'spark')) > 0
        |ORDER BY qid, doc_id""".stripMargin)),

    // INDEX-DRIVEN ranked retrieval end-to-end: the selective-query
    // shape at 100 TB — match entirely inside the postings index
    // (document text never read), fetch text for the MATCHED subset
    // only, BM25-rank it, bounded top-10. Same answer as the scan
    // path's fts_retrieve ranking (index==scan), radically less I/O
    // when the query is selective
    Gated("fts_indexed_retrieve", (s, dir) => {
      val FT = graft.operators.FullText
      val q = "(spark <-> key | dup) & !(slow <-> query)"
      val docs = Tables.spread(s, dir, "documents")
      val post = FT.postings(docs, "doc_id", "text")
      val matched = FT.indexedMatch(post, q)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      graft.operators.Relevance.bm25(matched, "doc_id", "text",
          FT.positiveTerms(q))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // fts_retrieve's scoring CTEs without the snippet stage — the
      // index path must produce the identical ranking
      Some("""WITH m AS (SELECT doc_id, text FROM documents
        |  WHERE (position(' spark key ' IN ' '||lower(text)||' ') > 0
        |         OR position(' dup ' IN ' '||lower(text)||' ') > 0)
        |    AND NOT position(' slow query ' IN ' '||lower(text)||' ') > 0),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM m),
        |b AS (SELECT doc_id, len(toks)::BIGINT AS dl,
        |  len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf0,
        |  len(list_filter(toks, x -> x = 'key'))::BIGINT AS tf1,
        |  len(list_filter(toks, x -> x = 'dup'))::BIGINT AS tf2
        |FROM t),
        |g AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |FROM b),
        |s AS (SELECT doc_id, (tf0 + tf1 + tf2)::BIGINT AS n_hits,
        |  round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl::DOUBLE / n))), 6) AS score
        |FROM b CROSS JOIN g
        |WHERE tf0 + tf1 + tf2 > 0),
        |top AS (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT doc_id, n_hits, score FROM top ORDER BY doc_id""".stripMargin)),

    // setweight-style WEIGHTED ts_rank: first-3-token "title" zone at
    // weight A (1.0), body at D (0.1) — faithful calc_rank_or with
    // non-uniform wpos, every occurrence term quantized to integer
    // nanos so both engines sum exact longs
    Gated("fts_rank_weighted", (s, dir) => {
      val FT = graft.operators.FullText
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          round(FT.tsRankWeighted(col("text"), "spark | key | dup",
            titleTokens = 3), 9).as("wrank"))
        .filter(col("wrank") > 0.0)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // weighted calc_rank_or: per-term nano contributions from the
      // shared closed form, final fixed-order double divisions; term
      // order spark, key, dup
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |p AS (SELECT doc_id,
         |  list_filter(generate_series(1, len(toks)), i -> toks[i] = 'spark') AS ps0,
         |  list_filter(generate_series(1, len(toks)), i -> toks[i] = 'key') AS ps1,
         |  list_filter(generate_series(1, len(toks)), i -> toks[i] = 'dup') AS ps2
         |FROM t),
         |c AS (SELECT doc_id,
         |  ${wContribSql("ps0")} AS c0,
         |  ${wContribSql("ps1")} AS c1,
         |  ${wContribSql("ps2")} AS c2
         |FROM p)
         |SELECT doc_id, round(
         |    CAST(c0 AS DOUBLE) / 1000000000.0 / 1.64493406685
         |  + CAST(c1 AS DOUBLE) / 1000000000.0 / 1.64493406685
         |  + CAST(c2 AS DOUBLE) / 1000000000.0 / 1.64493406685, 9) AS wrank
         |FROM c
         |WHERE round(CAST(c0 AS DOUBLE) / 1000000000.0 / 1.64493406685
         |  + CAST(c1 AS DOUBLE) / 1000000000.0 / 1.64493406685
         |  + CAST(c2 AS DOUBLE) / 1000000000.0 / 1.64493406685, 9) > 0
         |ORDER BY doc_id""".stripMargin)),

    // websearch_to_tsquery analogue end-to-end: free-form web syntax
    // ("quoted phrase", OR, -negation) compiles on the driver to the
    // tsquery tree, then matches AND ranks in one map-only scan
    Gated("fts_websearch", (s, dir) => {
      val FT = graft.operators.FullText
      val q = FT.websearchQuery("\"spark key\" OR dup -\"slow query\"")
      Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"), q))
        .select(col("doc_id"),
          round(FT.tsRank(col("text"), q), 6).as("rank"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // websearch '"spark key" OR dup -"slow query"' compiles to
      // (spark <-> key) | dup & !(slow <-> query); rank over positive
      // terms spark, key, dup with the shared contribution table
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks,
         |             ' ' || lower(text) || ' ' AS pad FROM documents),
         |b AS (SELECT doc_id, pad,
         |  list_extract(${graft.operators.FullText.rankTableSql},
         |    least(len(list_filter(toks, x -> x = 'spark')), 256) + 1)
         |  + list_extract(${graft.operators.FullText.rankTableSql},
         |    least(len(list_filter(toks, x -> x = 'key')), 256) + 1)
         |  + list_extract(${graft.operators.FullText.rankTableSql},
         |    least(len(list_filter(toks, x -> x = 'dup')), 256) + 1) AS raw
         |FROM t)
         |SELECT doc_id, round(raw, 6) AS rank FROM b
         |WHERE position(' spark key ' IN pad) > 0
         |   OR (position(' dup ' IN pad) > 0
         |       AND NOT position(' slow query ' IN pad) > 0)
         |ORDER BY doc_id""".stripMargin)),

    // PII scrubbing over text with PLANTED addresses (the natural corpus
    // has none, so the gate synthesizes one email + one URL per doc —
    // both engines build and scrub the identical string)
    Gated("text_scrub", (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(concat(col("text"),
            lit(" mail u"), col("doc_id"), lit("@ex-a.mple.org or "),
            lit("https://h"), col("doc_id"), lit(".example.com/p?q=1 end")))
            .as("scrubbed"))
        .transform(Gate.ordered(_, "doc_id")),
      Some("""SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' mail u' || doc_id || '@ex-a.mple.org or '
        |           || 'https://h' || doc_id || '.example.com/p?q=1 end',
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g')
        |    AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Linguistic normalization (to_tsvector('english', …)): the
    // surface-form query 'customers & merging' stems to custom &
    // merg and hits docs saying 'customer … merge'; stopwords are
    // dropped pre-stem (the dictionary chain), tf and ts_rank run
    // over LEXEMES with the shared contribution table. One compiled
    // map-only scan; the oracle applies the IDENTICAL Porter stems
    // via a driver-generated vocabulary CASE map (rankTableSql device)
    Gated("fts_stemmed", (s, dir) => {
      val LX = graft.operators.Lexize
      val q = "customers & merging"
      val st = LX.stemStats(col("text"), Seq("custom", "merg"))
      Tables.spread(s, dir, "documents")
        .filter(LX.tsMatch(col("text"), q))
        .select(col("doc_id"),
          element_at(st.getField("tfs"), 1).cast("long").as("tf_custom"),
          element_at(st.getField("tfs"), 2).cast("long").as("tf_merg"),
          round(LX.tsRank(col("text"), q), 6).as("r0"),
          round(LX.tsRank(col("text"), q, norm = 2 | 8), 6).as("r2u"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // lexemes = stop-filter (pre-stem) then the SAME Porter stems the
      // engine computes, shared as a driver-generated CASE over the
      // deterministic corpus vocabulary; rank = shared contribution
      // table over lexeme tf with lexeme-based norms
      Some({
        val LX = graft.operators.Lexize
        s"""WITH t AS (SELECT doc_id,
         |  list_transform(list_filter(string_split(lower(text), ' '),
         |      x -> x <> '' AND x NOT IN ${LX.stopListSql}),
         |    x -> ${LX.stemCaseSql("x")}) AS lex
         |  FROM documents),
         |b AS (SELECT doc_id, len(lex)::BIGINT AS n_lex,
         |  len(list_distinct(lex))::BIGINT AS n_uniq,
         |  len(list_filter(lex, x -> x = 'custom'))::BIGINT AS tf_custom,
         |  len(list_filter(lex, x -> x = 'merg'))::BIGINT AS tf_merg FROM t),
         |r AS (SELECT doc_id, tf_custom, tf_merg, n_lex, n_uniq,
         |  list_extract(${graft.operators.FullText.rankTableSql},
         |    least(tf_custom, 256) + 1)
         |  + list_extract(${graft.operators.FullText.rankTableSql},
         |    least(tf_merg, 256) + 1) AS raw FROM b)
         |SELECT doc_id, tf_custom, tf_merg, round(raw, 6) AS r0,
         |  round((CASE WHEN n_uniq > 0
         |         THEN (CASE WHEN n_lex > 0 THEN raw / n_lex ELSE raw END) / n_uniq
         |         ELSE (CASE WHEN n_lex > 0 THEN raw / n_lex ELSE raw END) END), 6)
         |    AS r2u
         |FROM r WHERE tf_custom > 0 AND tf_merg > 0 ORDER BY doc_id""".stripMargin
      })),

    // phraseto_tsquery over free text WITH a stopword: 'value the
    // table' → `valu <2> tabl` (the dropped stopword leaves its
    // parser-position gap) plus surface-plural adjacency 'customers
    // merge' → `custom <-> merg` — position arithmetic on stemmed
    // tokens in one compiled scan per row
    Gated("fts_stem_phrase", (s, dir) => {
      val LX = graft.operators.Lexize
      val p1 = LX.phraseQuery("value the table")
      val p2 = LX.phraseQuery("customers merge")
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          LX.phraseMatch(col("text"), p1).as("vt_gap"),
          LX.phraseMatch(col("text"), p2).as("cm_adj"))
        .filter(col("vt_gap") || col("cm_adj"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // parser positions = raw 1-based token index; a stopword's stem
      // ('the'→'the') can never equal a query lexeme, so stemming the
      // whole token list in place preserves the gap arithmetic
      Some({
        val LX = graft.operators.Lexize
        s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(lower(text), ' '),
         |    x -> ${LX.stemCaseSql("x")}) AS lex FROM documents),
         |g AS (SELECT doc_id,
         |  len(list_filter(generate_series(1, len(lex) - 2),
         |    i -> lex[i] = 'valu' AND lex[i+2] = 'tabl')) > 0 AS vt_gap,
         |  len(list_filter(generate_series(1, len(lex) - 1),
         |    i -> lex[i] = 'custom' AND lex[i+1] = 'merg')) > 0 AS cm_adj
         |FROM t)
         |SELECT doc_id, vt_gap, cm_adj FROM g
         |WHERE vt_gap OR cm_adj ORDER BY doc_id""".stripMargin
      })),

    // The GIN shape over LEXEMES — what PG actually indexes: postings
    // of stemmed terms with parser positions, persisted partitionBy
    // (term-hash bucket) for reader pruning; the surface query
    // normalizes (stem + stopword-gap folding), renders back, and the
    // whole semi/anti-join + position-arithmetic machinery serves it.
    // Index == scan over normalized text; text never read in the
    // match path
    Gated("fts_stem_indexed", (s, dir) => {
      val LX = graft.operators.Lexize
      val path = s"target/graft-lexpostings/${new java.io.File(dir).getName}"
      LX.postingsBucketed(Tables.spread(s, dir, "documents"),
          "doc_id", "text", buckets = 8)
        .write.mode("overwrite").partitionBy("tbucket").parquet(path)
      LX.indexedMatch(s.read.parquet(path),
          "(customers & merging & !queries) | (value <-> the <-> table)",
          buckets = 8)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the scan-equivalent of the indexed stemmed match: membership /
      // NOT / position-gap phrase over the stemmed token view (stopword
      // stems never collide with query lexemes, so stemming in place
      // preserves both membership and the gap arithmetic)
      Some({
        val LX = graft.operators.Lexize
        s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(lower(text), ' '),
         |    x -> ${LX.stemCaseSql("x")}) AS lex FROM documents)
         |SELECT doc_id FROM t
         |WHERE (len(list_filter(lex, x -> x = 'custom')) > 0
         |       AND len(list_filter(lex, x -> x = 'merg')) > 0
         |       AND len(list_filter(lex, x -> x = 'queri')) = 0)
         |   OR len(list_filter(generate_series(1, len(lex) - 2),
         |        i -> lex[i] = 'valu' AND lex[i+2] = 'tabl')) > 0
         |ORDER BY doc_id""".stripMargin
      })),

    // tsquery prefix matching `p:*` (tsquery.c prefix flag): a padded
    // probe with a LEADING boundary space only, so ` sc` hits every
    // token starting 'sc' — same map-only codegen shape as the exact
    // atoms; the indexed form (term-range over first-letter-partitioned
    // postings, GIN partial-match shape) is parity+pruning-asserted in
    // FullTextSpec
    Gated("fts_prefix", (s, dir) => {
      val FT = graft.operators.FullText
      Tables.spread(s, dir, "documents")
        .filter(FT.tsMatch(col("text"), "(sc:* | sm:*) & !dup"))
        .select(col("doc_id"),
          FT.tsMatch(col("text"), "sc:*").as("sc_hit"),
          FT.tsMatch(col("text"), "sm:*").as("sm_hit"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // prefix atom == leading-boundary-space substring probe
      Some("""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
        |SELECT doc_id,
        |  position(' sc' IN pad) > 0 AS sc_hit,
        |  position(' sm' IN pad) > 0 AS sm_hit
        |FROM p
        |WHERE (position(' sc' IN pad) > 0 OR position(' sm' IN pad) > 0)
        |  AND NOT position(' dup ' IN pad) > 0
        |ORDER BY doc_id""".stripMargin)),

    // The normalized retrieval stack at serving shape: indexed stemmed
    // match (lexeme postings, text never read in the match path) →
    // fetch text for the matched subset only → lexeme-tf ts_rank →
    // bounded top-10. Index==scan by construction (fts_stem_indexed),
    // rank shares the contribution table with the oracle
    Gated("fts_stem_retrieve", (s, dir) => {
      val LX = graft.operators.Lexize
      val q = "customers & merging"
      val docs = Tables.spread(s, dir, "documents")
      val post = LX.postings(docs, "doc_id", "text")
      LX.indexedMatch(post, q)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), round(LX.tsRank(col("text"), q), 6).as("r0"))
        .orderBy(col("r0").desc, col("doc_id")).limit(10)
        .transform(Gate.ordered(_, "doc_id"))
    },
      // fts_stemmed's scoring CTEs -> top-10 by (rank DESC, doc_id)
      Some({
        val LX = graft.operators.Lexize
        s"""WITH t AS (SELECT doc_id,
         |  list_transform(list_filter(string_split(lower(text), ' '),
         |      x -> x <> '' AND x NOT IN ${LX.stopListSql}),
         |    x -> ${LX.stemCaseSql("x")}) AS lex
         |  FROM documents),
         |b AS (SELECT doc_id,
         |  len(list_filter(lex, x -> x = 'custom'))::BIGINT AS tf_custom,
         |  len(list_filter(lex, x -> x = 'merg'))::BIGINT AS tf_merg FROM t),
         |r AS (SELECT doc_id, tf_custom, tf_merg,
         |  list_extract(${graft.operators.FullText.rankTableSql},
         |    least(tf_custom, 256) + 1)
         |  + list_extract(${graft.operators.FullText.rankTableSql},
         |    least(tf_merg, 256) + 1) AS raw FROM b)
         |SELECT doc_id, round(raw, 6) AS r0 FROM r
         |WHERE tf_custom > 0 AND tf_merg > 0
         |ORDER BY round(raw, 6) DESC, doc_id LIMIT 10""".stripMargin
      })),

    // tsvector value manipulation (tsvector.c / tsvector_op.cpp):
    // to_tsvector proper (lexemes grouped, entries sorted — PG's
    // layout), length, tsvector_to_array, ts_delete — one compiled
    // pass builds the vector, array functions compose on top
    Gated("tsvector_ops", (s, dir) => {
      val LX = graft.operators.Lexize
      val v = LX.tsvector(col("text"))
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          LX.tsvectorLength(v).cast("long").as("n_lex"),
          array_join(LX.tsvectorToArray(v), " ").as("lex_arr"),
          LX.tsvectorLength(LX.tsDelete(v, "tabl")).cast("long")
            .as("n_after_del"),
          element_at(LX.tsvectorToArray(v), 1).as("first_lex"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // tsvector entries = sorted distinct lexemes (stop-filter pre-stem,
      // shared stem map)
      Some({
        val LX = graft.operators.Lexize
        s"""WITH t AS (SELECT doc_id,
         |  list_sort(list_distinct(list_transform(
         |    list_filter(string_split(lower(text), ' '),
         |      x -> x <> '' AND x NOT IN ${LX.stopListSql}),
         |    x -> ${LX.stemCaseSql("x")}))) AS lexs
         |FROM documents)
         |SELECT doc_id, len(lexs)::BIGINT AS n_lex,
         |  array_to_string(lexs, ' ') AS lex_arr,
         |  len(list_filter(lexs, x -> x <> 'tabl'))::BIGINT AS n_after_del,
         |  lexs[1] AS first_lex
         |FROM t ORDER BY doc_id""".stripMargin
      })),

    // dict_xsyn synonym canonicalization: corpus tokens AND query
    // terms rewrite to a canonical form through a literal broadcast
    // map, so `quick` (absent from the corpus) matches `fast` docs.
    Gated("fts_synonym", (s, dir) => {
      val LX = graft.operators.Lexize
      val toks = filter(split(lower(col("text")), " "), t => length(t) > 0)
      val canon = LX.canonTokens(toks, synDict)
      def has(term: String) =
        array_contains(canon, synDict.getOrElse(term, term))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          has("quick").as("m_quick"),
          (has("quick") && has("tbl")).as("m_quick_tbl"),
          (has("rapid") || has("large")).as("m_rapid_large"),
          size(filter(canon, t => t === synDict("fast"))).as("tf_speed"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some({
        // the canonicalization CASE is generated from the same synDict
        // the Spark side broadcasts — shared verbatim
        val caseSql = "CASE x " + synDict.toSeq.sortBy(_._1).map {
          case (w, c) => s"WHEN '$w' THEN '$c'"
        }.mkString(" ") + " ELSE x END"
        s"""WITH t AS (SELECT doc_id,
         |  list_transform(list_filter(string_split(lower(text), ' '),
         |    x -> x <> ''), x -> $caseSql) AS canon
         |FROM documents)
         |SELECT doc_id,
         |  list_contains(canon, 'speed') AS m_quick,
         |  (list_contains(canon, 'speed') AND list_contains(canon, 'tabl0'))
         |    AS m_quick_tbl,
         |  (list_contains(canon, 'speed') OR list_contains(canon, 'big'))
         |    AS m_rapid_large,
         |  len(list_filter(canon, x -> x = 'speed'))::INTEGER AS tf_speed
         |FROM t ORDER BY doc_id""".stripMargin
      })),

    // dict_int integer-token dictionary: tokens come from long
    // serial-number-style names (all > maxlen → truncate path) and
    // short JSON payload values (pass-through path); the strict
    // column counts survivors of a maxlen=4 REJECTLONG config (long
    // tokens dropped, not trimmed). All three lexize branches fire.
    Gated("fts_dict_int", (s, dir) => {
      val LX = graft.operators.Lexize
      val raw = Tables(s, dir, "customer").select(col("c_name").as("raw"))
        .unionAll(Tables(s, dir, "events").select(col("props").as("raw")))
      raw.select(explode(
            expr("regexp_extract_all(raw, '-?[0-9]+', 0)")).as("tok"))
        .select(LX.dictInt(col("tok")).as("lex"),
          LX.dictInt(col("tok"), maxlen = 4, rejectlong = true).as("strict"))
        .groupBy("lex")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("strict").isNotNull, 1L).otherwise(0L)).as("n_strict"))
        .transform(Gate.ordered(_, "lex"))
    },
      Some({
        s"""WITH raw AS (
         |  SELECT c_name AS raw FROM customer
         |  UNION ALL SELECT props FROM events),
         |tok AS (SELECT unnest(regexp_extract_all(raw, '-?[0-9]+')) AS tok
         |  FROM raw)
         |SELECT CASE WHEN length(tok) <= 6 THEN tok
         |            ELSE substr(tok, 1, 6) END AS lex,
         |  count(*)::BIGINT AS n_tok,
         |  sum(CASE WHEN length(tok) <= 4 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_strict
         |FROM tok GROUP BY 1 ORDER BY lex""".stripMargin
      })),

    // ColBERT-style late-interaction MaxSim retrieval (D40): per-token
    // embeddings from a vocab-table equi-join, literal query vectors,
    // per-doc max/sum aggregate. Integer dots → hash-exact.
    Gated("maxsim_retrieve", (s, dir) =>
      graft.operators.LateInteraction.maxsim(
          Tables(s, dir, "documents"), "doc_id", "text", maxsimQuery)
        .transform(Gate.ordered(_, "doc_id")),
      Some({
        val LI = graft.operators.LateInteraction
        val qs = maxsimQuery.map(LI.embLiteralSql)
        val maxCols = qs.zipWithIndex.map { case (q, i) =>
          s"max(list_dot_product(e, $q))::BIGINT AS m_$i"
        }.mkString(",\n         |  ")
        val sumCols = maxsimQuery.indices.map(i => s"m_$i").mkString(" + ")
        s"""WITH tok AS (SELECT DISTINCT doc_id, t AS tok FROM (
         |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
         |      x -> x <> '')) AS t FROM documents)),
         |emb AS (SELECT tok, list_transform(range(0, ${LI.DIM}),
         |    d -> (ascii(substr(md5(tok || '_' || d::VARCHAR), 1, 1)) * 16
         |        + ascii(substr(md5(tok || '_' || d::VARCHAR), 2, 1))) % 9 - 4) AS e
         |  FROM (SELECT DISTINCT tok FROM tok)),
         |s AS (SELECT doc_id,
         |  $maxCols
         |  FROM tok JOIN emb USING (tok) GROUP BY doc_id)
         |SELECT doc_id, ${maxsimQuery.indices.map(i => s"m_$i").mkString(", ")},
         |  ($sumCols)::BIGINT AS maxsim
         |FROM s ORDER BY doc_id""".stripMargin
      })),

    // Stupid-backoff trigram LM (Brants 2007): train on even doc_ids,
    // score ALL docs so the backoff chain actually fires; count
    // tables equi-joined (never broadcast), per-position 6dp decimal
    // log-scores summed to exact integer micros.
    Gated("text_trigram_ppl", (s, dir) =>
      graft.operators.TextAnalysis.trigramBackoffNll(
          Tables.spread(s, dir, "documents"), "doc_id", "text",
          col("doc_id") % 2 === 0)
        .withColumnRenamed("id", "doc_id")
        .transform(Gate.ordered(_, "doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |tri AS (SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3,
        |    count(*)::BIGINT AS c3
        |  FROM (SELECT unnest(list_transform(range(1, len(t) - 1),
        |      i -> {'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]})) AS u
        |    FROM tr WHERE len(t) >= 3) GROUP BY 1, 2, 3),
        |big AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*)::BIGINT AS c12
        |  FROM (SELECT unnest(list_transform(range(1, len(t)),
        |      i -> {'w1': t[i], 'w2': t[i+1]})) AS u
        |    FROM tr WHERE len(t) >= 2) GROUP BY 1, 2),
        |uni AS (SELECT w1, count(*)::BIGINT AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM tr) GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS bigN,
        |    count(DISTINCT w1)::BIGINT AS vocabV
        |  FROM (SELECT unnest(t) AS w1 FROM tr)),
        |dt AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> {'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]})) AS u
        |    FROM toks WHERE len(t) >= 3)),
        |sc AS (SELECT dt.doc_id,
        |    CASE WHEN tri.c3 IS NOT NULL THEN tri.c3::DOUBLE / b1.c12::DOUBLE
        |      WHEN b2.c23 IS NOT NULL
        |        THEN 0.4 * (b2.c23::DOUBLE / u2.n2::DOUBLE)
        |      ELSE 0.16 * ((coalesce(u3.n3, 0)::DOUBLE + 1.0)
        |        / (tot.bigN::DOUBLE + tot.vocabV::DOUBLE)) END AS s,
        |    CASE WHEN tri.c3 IS NULL THEN 1 ELSE 0 END AS backoff
        |  FROM dt
        |  LEFT JOIN tri ON dt.w1 = tri.w1 AND dt.w2 = tri.w2 AND dt.w3 = tri.w3
        |  LEFT JOIN big b1 ON dt.w1 = b1.w1 AND dt.w2 = b1.w2
        |  LEFT JOIN (SELECT w1 AS w2, w2 AS w3, c12 AS c23 FROM big) b2
        |    ON dt.w2 = b2.w2 AND dt.w3 = b2.w3
        |  LEFT JOIN (SELECT w1 AS w2, c1 AS n2 FROM uni) u2 ON dt.w2 = u2.w2
        |  LEFT JOIN (SELECT w1 AS w3, c1 AS n3 FROM uni) u3 ON dt.w3 = u3.w3
        |  CROSS JOIN tot),
        |l AS (SELECT doc_id, round(ln(s), 6)::DECIMAL(18,6) AS lnp, backoff
        |  FROM sc)
        |SELECT doc_id, count(*)::BIGINT AS n_tri,
        |  sum(backoff)::BIGINT AS n_backoff,
        |  (-sum(lnp) * 1000000)::BIGINT AS nll_micros
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    // A-Res): k docs with inclusion probability ∝ n_chars; u derived
    // from md5 hex chars so both engines compute identical keys;
    // TakeOrderedAndProject = bounded heap, no global sort.
    Gated("weighted_sample", (s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val u = ((ascii(substring(h, 1, 1)) * 256 + ascii(substring(h, 2, 1)))
        * 256 + ascii(substring(h, 3, 1))).cast("double") / 16777216.0
      graft.operators.Sampling.weightedSampleK(
          Tables(s, dir, "documents"), u, col("n_chars").cast("double"), 50)
        .select(col("doc_id"), col("n_chars"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""WITH u AS (SELECT doc_id, n_chars,
        |  ((ascii(substr(md5(doc_id::VARCHAR), 1, 1)) * 256
        |    + ascii(substr(md5(doc_id::VARCHAR), 2, 1))) * 256
        |    + ascii(substr(md5(doc_id::VARCHAR), 3, 1)))::DOUBLE / 16777216.0
        |    AS uu
        |FROM documents),
        |s AS (SELECT doc_id, n_chars
        |  FROM u ORDER BY -ln(uu) / n_chars::DOUBLE LIMIT 50)
        |SELECT doc_id, n_chars FROM s ORDER BY doc_id""".stripMargin)),

    // pgcrypto digest surface (contrib/pgcrypto): md5 / sha256 hex
    // digests + hex/base64 codecs, all codegen'd builtins.
    Gated("digest_fns", (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("md5_hex"),
          sha2(col("text").cast("binary"), 256).as("sha256_hex"),
          base64(substring(col("text"), 1, 12).cast("binary")).as("b64_head"),
          lower(hex(substring(col("text"), 1, 8).cast("binary"))).as("hex_head"))
        .transform(Gate.ordered(_, "doc_id")),
      Some("""SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
        |  to_base64(substr(text, 1, 12)::BLOB) AS b64_head,
        |  lower(hex(substr(text, 1, 8)::BLOB)) AS hex_head
        |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
