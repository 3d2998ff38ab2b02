package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.operators.{Dedup, Ml}
import org.apache.spark.sql.functions._

/**
 * STATEMENT-level openGauss SQL gates (r17): the same engines the
 * C17/C35/C52/C78/F10 gates already verify, exercised through ONE
 * spark.sql text each — the spelling an openGauss user actually
 * writes (gram.y:23994 WITH RECURSIVE, MergeStmt, start_with/
 * connect_by_clause, :6416 TIMECAPSULE, :11597/:27180 CREATE MODEL /
 * PREDICT BY, contrib/dblink). Routing happens in the injected
 * parser ([[graft.plans.PgStatements]]); each oracle recomputes the
 * result relationally in DuckDB, so a statement that silently
 * mis-routes cannot pass.
 */
object SqlStatementSuite {
  // ---- the spark.sql statement texts, shared with the corpus fuzz
  // (PgSqlRewriteCorpusSpec pins rewrite-identity + idempotence and
  // PgStatements routing stability over every gate statement) ----

  val recursiveStmt: String =
    """WITH RECURSIVE edges AS (
      |  SELECT id_a AS a, id_b AS b FROM stmt_pairs
      |  UNION
      |  SELECT id_b, id_a FROM stmt_pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |closure AS (SELECT DISTINCT a AS id_a, b AS id_b FROM reach WHERE a < b)
      |SELECT id_a, id_b FROM closure ORDER BY id_a, id_b""".stripMargin

  val mergeStmt: String =
    """MERGE INTO m_target t USING m_source s ON t.c_custkey = s.c_custkey
      |WHEN MATCHED AND s.op = 'D' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal, c_name = s.c_name
      |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (c_custkey, c_name, c_acctbal, c_nationkey)
      |  VALUES (s.c_custkey, s.c_name, s.c_acctbal, s.c_nationkey)""".stripMargin

  val connectByStmt: String =
    """SELECT c_custkey AS id, LEVEL AS level, CONNECT_BY_ROOT c_custkey AS root_id,
      |  SYS_CONNECT_BY_PATH(c_custkey, '/') AS path, CONNECT_BY_ISLEAF AS is_leaf
      |FROM cb_nodes
      |START WITH c_custkey <= 9
      |CONNECT BY PRIOR c_custkey = c_parent""".stripMargin

  val createModelStmt: String =
    "CREATE MODEL stmt_linreg USING linear_regression " +
      "FEATURES user_id % 50, event_id % 31 " +
      "TARGET CAST(floor(value * 100) AS BIGINT) FROM pm_events"

  val predictStmt: String =
    """SELECT event_id, PREDICT BY stmt_linreg (FEATURES user_id % 50, event_id % 31) AS yhat
      |FROM pm_events WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin

  val timecapsuleStmt: String =
    "SELECT * FROM tc_log TIMECAPSULE TIMESTAMP '2024-01-20 00:00:00' ORDER BY k"

  def dblinkStmt(url: String): String =
    s"""SELECT c_custkey, c_name, c_acctbal
       |FROM dblink('$url', 'SELECT "c_custkey", "c_name", "c_acctbal" FROM CUST WHERE MOD("c_custkey", 10) = 0')
       |WHERE c_acctbal > 1000 ORDER BY c_custkey""".stripMargin

  val explainModelStmt: String = "EXPLAIN MODEL stmt_linreg"

  val createKmeansStmt: String =
    "CREATE MODEL pm_km USING kmeans " +
      "FEATURES user_id % 97, CAST(floor(value) AS BIGINT) % 89 " +
      "FROM pm_events WITH (k = 4, max_iterations = 3)"

  val predictKmeansStmt: String =
    """SELECT event_id,
      |  PREDICT BY pm_km (FEATURES user_id % 97, CAST(floor(value) AS BIGINT) % 89) AS cluster
      |FROM pm_events WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin

  val matviewCreateStmt: String =
    """CREATE INCREMENTAL MATERIALIZED VIEW mv_sales AS
      |SELECT o_custkey, count(*) AS n,
      |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |FROM mv_orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY o_custkey""".stripMargin

  val matviewRefreshStmt: String =
    "REFRESH INCREMENTAL MATERIALIZED VIEW mv_sales"

  def copyToStmt(path: String): String =
    s"COPY (SELECT * FROM cp_src) TO '$path' WITH (FORMAT csv, HEADER, ENCODING 'GB18030')"

  def copyFromStmt(path: String): String =
    s"COPY cp_tgt FROM '$path' WITH (FORMAT csv, HEADER, ENCODING 'GB18030')"

  val updatePlainStmt: String =
    "UPDATE u_target SET c_acctbal = c_acctbal + 100.0, " +
      "c_name = concat(c_name, '_u') WHERE c_custkey % 7 = 0"

  val updateFromStmt: String =
    """UPDATE u_target t SET c_acctbal = s.c_acctbal, c_nationkey = s.c_nationkey
      |FROM u_source s WHERE t.c_custkey = s.c_custkey""".stripMargin

  val insertValuesStmt: String =
    "INSERT INTO i_target VALUES (9000001, 'ins_a', 111.5), " +
      "(9000002, 'ins_b', -2.25)"

  val insertColsStmt: String =
    "INSERT INTO i_target (c_custkey, c_acctbal) VALUES (9000003, 7.0)"

  val insertSelectStmt: String =
    """INSERT INTO i_target
      |SELECT c_custkey + 2000000, concat(c_name, '_dup'), c_acctbal
      |FROM i_source""".stripMargin

  val deletePlainStmt: String =
    "DELETE FROM d_target WHERE c_custkey % 11 = 0"

  val deleteUsingStmt: String =
    "DELETE FROM d_target t USING d_keys s WHERE t.c_custkey = s.c_custkey"

  val createIvfIndexStmt: String =
    "CREATE INDEX vidx_gate ON vidx_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 16)"

  val createHnswIndexStmt: String =
    "CREATE INDEX vidx_hnsw ON vidxh_emb USING hnsw " +
      "(embedding vector_l2_ops) WITH (m = 8, ef_construction = 48, lists = 8)"

  /** The pgvector KNN idiom over an indexed relation (NOT in
    * [[statements]]: `<->` deliberately rewrites, so it is not
    * identity under PgSqlRewrite — its e2e behavior is gated). */
  def knnIdiomStmt(table: String, q: String, k: Int): String =
    s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS dist
       |FROM $table ORDER BY embedding <-> '$q'::vector, vec_id
       |LIMIT $k""".stripMargin

  val createSequenceStmt: String =
    "CREATE SEQUENCE gate_seq START WITH 5 INCREMENT BY 3"

  val createClusterIndexStmt: String =
    "CREATE INDEX vidx_cl ON cl_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 16)"

  val clusterStmtText: String = "CLUSTER cl_emb USING vidx_cl"

  val createVacIndexStmt: String =
    "CREATE INDEX vidx_vac ON vac_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 16)"

  def vacInsertStmt(dir: String, i: Int): String =
    s"""INSERT INTO vac_emb SELECT vec_id + ${i}000000, embedding
       |FROM parquet.`$dir/embeddings.parquet` WHERE vec_id % 100 = $i""".stripMargin

  val vacuumStmt: String = "VACUUM vac_emb"

  val explainUpdateStmt: String =
    """EXPLAIN UPDATE exp_target t SET c_acctbal = s.c_acctbal
      |FROM exp_source s WHERE t.c_custkey = s.c_custkey""".stripMargin

  val explainDeleteStmt: String =
    "EXPLAIN ANALYZE DELETE FROM exp_target WHERE c_custkey % 11 = 0"

  /** Every statement the gates push through spark.sql (corpus fuzz). */
  def statements: Seq[String] = Seq(recursiveStmt, mergeStmt, connectByStmt,
    explainUpdateStmt, explainDeleteStmt,
    createVacIndexStmt, vacInsertStmt("/tmp/placeholder", 1), vacuumStmt,
    createSequenceStmt, "SELECT nextval('gate_seq') AS v",
    "SELECT setval('gate_seq', 100) AS v", "DROP SEQUENCE gate_seq",
    "SHOW ivfflat.probes", "SHOW TIME ZONE",
    createClusterIndexStmt, clusterStmtText,
    updatePlainStmt, updateFromStmt, deletePlainStmt, deleteUsingStmt,
    insertValuesStmt, insertColsStmt, insertSelectStmt,
    "TRUNCATE TABLE t_target",
    createModelStmt, predictStmt, timecapsuleStmt,
    dblinkStmt("jdbc:derby:/tmp/placeholder/db"),
    explainModelStmt, createKmeansStmt, predictKmeansStmt,
    matviewCreateStmt, matviewRefreshStmt,
    copyToStmt("/tmp/placeholder/copy"), copyFromStmt("/tmp/placeholder/copy"),
    createIvfIndexStmt, createHnswIndexStmt,
    "CREATE INDEX vidx_cos ON vidxc_emb USING ivfflat " +
      "(embedding vector_cosine_ops) WITH (lists = 16)",
    "CREATE INDEX vidx_ip ON vidxip_emb USING ivfflat " +
      "(embedding vector_ip_ops) WITH (lists = 16)",
    "CREATE INDEX vidx_hc ON vidxhc_emb USING hnsw " +
      "(embedding vector_cosine_ops) WITH (m = 8, ef_construction = 48, lists = 8)",
    "CREATE INDEX vidx_l1 ON vidxl1_emb USING hnsw " +
      "(embedding vector_l1_ops) WITH (m = 8, ef_construction = 48, lists = 8)",
    "CREATE INDEX vidx_hv ON vidxhv_emb USING ivfflat " +
      "(hv halfvec_l2_ops) WITH (lists = 16)",
    "CREATE INDEX vidx_bit ON vidxb_emb USING ivfflat " +
      "(code bit_hamming_ops) WITH (lists = 16)",
    "CREATE INDEX vidx_sp ON vidxsp_emb USING ivfflat " +
      "(sv sparsevec_l2_ops) WITH (lists = 16)",
    "ANALYZE an_target",
    "PREPARE pq (BIGINT, DOUBLE) AS SELECT c_custkey, c_name, c_acctbal " +
      "FROM p_target WHERE c_custkey % $1 = 0 AND c_acctbal > $2 " +
      "ORDER BY c_custkey",
    "EXECUTE pq (13, 100.0)",
    "DEALLOCATE PREPARE ALL",
    "REINDEX INDEX vidx_r",
    "REINDEX TABLE vidxr_emb",
    "DELETE FROM vidxr_emb WHERE vec_id % 97 = 0",
    "DROP INDEX IF EXISTS vidx_gate")

  private val wExprs: String =
    Ml.cramer3Exprs.take(3).map { case (nm, x) => s"$x AS $nm" }.mkString(", ")

  val gated: Seq[Gated] = Seq(
    // ---- C100: WITH RECURSIVE ... UNION as ONE statement. Same
    // transitive closure as C17's sql_recursive (the verified near-dup
    // graph), but routed by the PARSER: Spark's native recursive CTE
    // rejects distinct-union recursion, the statement router sends it
    // to the semi-naive fixpoint ----
    Gated("sql_with_recursive", (s, dir) => {
      val docs = Tables.spread(s, dir, "documents")
      Dedup.minhashPairs(docs, "text", "doc_id", 64, 16, tau = 0.7)
        .createOrReplaceTempView("stmt_pairs")
      s.sql(recursiveStmt)
    },
      // identical to C17 sql_recursive: DuckDB's native recursive CTE
      // over the SAME verified pair graph (3-gram Jaccard >= 0.7)
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

    // ---- C101: MERGE INTO statement (gram.y MergeStmt) replaying the
    // C35 scenario — +100 balance on %7 keys, DELETE on %11 keys,
    // INSERT of shifted %13 keys — against the temp-view target, then
    // reading the merged snapshot back ----
    Gated("sql_merge", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
      base.createOrReplaceTempView("m_target")
      // source snapshot built from the PARQUET scan (not the view —
      // a view-derived source would see the post-merge target)
      val upd = base.filter(pmod(col("c_custkey"), lit(7)) === 0 &&
          pmod(col("c_custkey"), lit(11)) =!= 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_nationkey"),
          lit("U").as("op"))
      val del = base.filter(pmod(col("c_custkey"), lit(11)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"), lit("D").as("op"))
      val ins = base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(col("c_name"), lit("_new")).as("c_name"),
          col("c_acctbal"), col("c_nationkey"), lit("I").as("op"))
      upd.unionByName(del).unionByName(ins).createOrReplaceTempView("m_source")
      s.sql(mergeStmt)
      s.sql("SELECT * FROM m_target").transform(Gate.ordered(_, "c_custkey"))
    },
      // the merged snapshot recomputed relationally: %11 keys deleted,
      // %7 (and not %11) keys updated, %13 keys spawn shifted inserts
      Some("""WITH b AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer)
        |SELECT c_custkey,
        |  c_name,
        |  CASE WHEN c_custkey % 7 = 0 AND c_custkey % 11 <> 0
        |       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
        |  c_nationkey
        |FROM b WHERE c_custkey % 11 <> 0
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name || '_new', c_acctbal, c_nationkey
        |FROM b WHERE c_custkey % 13 = 0
        |ORDER BY c_custkey""".stripMargin)),

    // ---- C109: UPDATE statements (gram.y UpdateStmt:23328) — the
    // plain WHERE form (one map-only CASE projection) then the PG
    // join form UPDATE ... FROM (one LEFT JOIN on the condition);
    // the oracle recomputes both layers relationally ----
    Gated("sql_update", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
      base.createOrReplaceTempView("u_target")
      // source from the PARQUET scan (not the view — the view mutates)
      base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select(col("c_custkey"), (col("c_acctbal") * 2.0).as("c_acctbal"),
          (col("c_nationkey") + 100).as("c_nationkey"))
        .createOrReplaceTempView("u_source")
      s.sql(updatePlainStmt)
      s.sql(updateFromStmt)
      s.sql("SELECT * FROM u_target").transform(Gate.ordered(_, "c_custkey"))
    },
      // both UPDATE layers recomputed relationally: %7 keys get the
      // plain-form bump, then %13 keys take the join-form assignments
      // (computed from the ORIGINAL rows, like the parquet-built source)
      Some("""WITH b AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer),
        |u1 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_name || '_u' ELSE c_name END AS c_name,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
        |  c_nationkey FROM b)
        |SELECT u1.c_custkey, u1.c_name,
        |  CASE WHEN u1.c_custkey % 13 = 0 THEN b.c_acctbal * 2.0
        |       ELSE u1.c_acctbal END AS c_acctbal,
        |  CASE WHEN u1.c_custkey % 13 = 0 THEN b.c_nationkey + 100
        |       ELSE u1.c_nationkey END AS c_nationkey
        |FROM u1 JOIN b ON u1.c_custkey = b.c_custkey
        |ORDER BY u1.c_custkey""".stripMargin)),

    // ---- C111: INSERT statements (gram.y InsertStmt) — VALUES rows,
    // a column list (unlisted columns arrive typed-NULL, PG assignment
    // casts), and INSERT ... SELECT (a lazy parallel append) ----
    Gated("sql_insert", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      base.createOrReplaceTempView("i_target")
      base.filter(pmod(col("c_custkey"), lit(17)) === 0)
        .createOrReplaceTempView("i_source")
      s.sql(insertValuesStmt)
      s.sql(insertColsStmt)
      s.sql(insertSelectStmt)
      s.sql("SELECT * FROM i_target").transform(Gate.ordered(_, "c_custkey"))
    },
      // the three INSERT layers replayed as UNION ALL
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |UNION ALL SELECT 9000001, 'ins_a', 111.5
        |UNION ALL SELECT 9000002, 'ins_b', -2.25
        |UNION ALL SELECT 9000003, CAST(NULL AS VARCHAR), 7.0
        |UNION ALL SELECT c_custkey + 2000000, c_name || '_dup', c_acctbal
        |FROM customer WHERE c_custkey % 17 = 0
        |ORDER BY c_custkey""".stripMargin)),

    // ---- C111b: TRUNCATE statement (gram.y TruncateStmt) — empties
    // the view schema-preserving; the follow-up INSERT proves the
    // truncated view stays writable ----
    Gated("sql_truncate", (s, dir) => {
      Tables(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        .createOrReplaceTempView("t_target")
      s.sql("TRUNCATE TABLE t_target")
      s.sql("INSERT INTO t_target VALUES (1, 'after_truncate'), (2, 'second')")
      s.sql("SELECT * FROM t_target").transform(Gate.ordered(_, "c_custkey"))
    },
      // everything pre-TRUNCATE is gone; only the inserted rows remain
      Some("""SELECT CAST(1 AS BIGINT) AS c_custkey, 'after_truncate' AS c_name
        |UNION ALL SELECT CAST(2 AS BIGINT), 'second'
        |ORDER BY c_custkey""".stripMargin)),

    // ---- C109b: DELETE statements (gram.y DeleteStmt:23218) — plain
    // WHERE (3VL: NULL keeps the row) then DELETE ... USING (one LEFT
    // ANTI join); survivors recomputed relationally by the oracle ----
    Gated("sql_delete", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      base.createOrReplaceTempView("d_target")
      base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select(col("c_custkey")).createOrReplaceTempView("d_keys")
      s.sql(deletePlainStmt)
      s.sql(deleteUsingStmt)
      s.sql("SELECT * FROM d_target").transform(Gate.ordered(_, "c_custkey"))
    },
      // survivors of both DELETE layers
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 11 <> 0 AND c_custkey % 13 <> 0
        |ORDER BY c_custkey""".stripMargin)),

    // ---- C102: START WITH / CONNECT BY statement over the C52 digit
    // forest, with all four pseudo-columns in openGauss spelling ----
    Gated("sql_connect_by", (s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"), expr(
          "CASE WHEN c_custkey <= 9 THEN -1 ELSE c_custkey DIV 10 END")
          .as("c_parent"))
        .createOrReplaceTempView("cb_nodes")
      s.sql(connectByStmt).transform(Gate.ordered(_, "id"))
    },
      // identical to C52 connect_by: the recursive CTE mirrors the
      // frontier expansion; is_leaf = nothing in the RESULT attaches
      Some("""WITH RECURSIVE h AS (
        |  SELECT c_custkey AS id, 1 AS level, c_custkey AS root_id,
        |         '/' || c_custkey AS path
        |  FROM customer WHERE c_custkey <= 9
        |  UNION ALL
        |  SELECT c.c_custkey, h.level + 1, h.root_id,
        |         h.path || '/' || c.c_custkey
        |  FROM customer c JOIN h ON c.c_custkey // 10 = h.id
        |  WHERE c.c_custkey > 9
        |)
        |SELECT h.id, h.level, h.root_id, h.path,
        |  NOT EXISTS (SELECT 1 FROM h h2
        |              WHERE h2.level > 1 AND h2.id // 10 = h.id) AS is_leaf
        |FROM h ORDER BY h.id""".stripMargin)),

    // ---- C104: CREATE MODEL + PREDICT BY as statements. Training is
    // the F1 exact kernel (Gram sums + the shared Cramer IEEE tree);
    // PREDICT BY splices the stored weights as literals, so scoring is
    // one map-only projection — the oracle retrains from the same
    // moments and scores with the same expression shape ----
    Gated("sql_predict_by", (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("pm_events")
      s.sql(createModelStmt)
      s.sql(predictStmt)
    },
      // retrain from the same exact moments (the shared Cramer text)
      // and score with the same expression tree the splice emits
      Some(s"""WITH pts AS (SELECT user_id % 50 AS x1, event_id % 31 AS x2,
         |  CAST(floor(value * 100) AS BIGINT) AS y FROM events),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1 * x1) AS BIGINT) AS sx11, CAST(sum(x1 * x2) AS BIGINT) AS sx12,
         |  CAST(sum(x2 * x2) AS BIGINT) AS sx22, CAST(sum(x1 * y) AS BIGINT) AS sx1y,
         |  CAST(sum(x2 * y) AS BIGINT) AS sx2y, CAST(sum(y * y) AS BIGINT) AS syy
         |FROM pts),
         |w AS (SELECT $wExprs FROM s)
         |SELECT event_id,
         |  (w.b0 + w.b1 * CAST((user_id % 50) AS DOUBLE)
         |        + w.b2 * CAST((event_id % 31) AS DOUBLE)) AS yhat
         |FROM events, w WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin)),

    // ---- C103: TIMECAPSULE query form over the C78 change log (the
    // same log convention as timecapsule_asof: k, ts, csn, op,
    // payload); ONE map-side-combined max_by per key ----
    Gated("sql_timecapsule", (s, dir) => {
      Tables(s, dir, "events").selectExpr(
          "user_id % 101 AS k", "ts", "event_id AS csn",
          "CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op",
          "value AS val", "event_type AS etype")
        .createOrReplaceTempView("tc_log")
      s.sql(timecapsuleStmt)
    },
      // identical to C78 timecapsule_asof: per-key last version at the
      // flashback point, tombstones drop the key
      Some("""WITH log AS (SELECT user_id % 101 AS k, ts, event_id AS csn,
        |    CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
        |    value AS val, event_type AS etype FROM events),
        |v AS (SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY ts DESC, csn DESC) AS rn
        |  FROM log WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
        |SELECT k, ts, csn, val, etype FROM v
        |WHERE rn = 1 AND op = 'U' ORDER BY k""".stripMargin)),

    // ---- C105: dblink table function (contrib/dblink) — the remote
    // query ships WHOLE to the live Derby engine (C85/C94's FDW), the
    // result set lands in the FROM clause, local predicates compose ----
    Gated("sql_dblink", (s, dir) => {
      val url = RelationalSuite4.JdbcGateDb.url(s, dir)
      s.sql(dblinkStmt(url)).transform(Gate.ordered(_, "c_custkey"))
    },
      // the remote Derby table is the customer parquet written through
      // the FDW (C94's fixture): recompute the shipped query + the
      // local predicate straight from parquet
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 10 = 0 AND c_acctbal > 1000
        |ORDER BY c_custkey""".stripMargin)),

    // ---- C104c: kmeans CREATE MODEL (no TARGET — unsupervised) +
    // PREDICT BY: training is the F2 production Lloyd loop (pinned
    // bitwise to the shared SQL chain), prediction the nearest-
    // centroid CASE with the converged centroids as literals; the
    // oracle retrains through the SHARED chain text and scores with
    // the SAME assign tree ----
    Gated("sql_predict_kmeans", (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("pm_events")
      s.sql(createKmeansStmt)
      s.sql(predictKmeansStmt)
    },
      // retrain through the SHARED Lloyd chain (bitwise equal to the
      // production loop — the F2 parity guarantee), then score each row
      // with the SAME nearest-centroid CASE tree the splice emits
      Some(s"""WITH pts AS (SELECT event_id, CAST(user_id % 97 AS BIGINT) AS x,
         |  CAST(floor(value) AS BIGINT) % 89 AS y FROM events),
         |${Ml.kmeansChainSql(4, 3)}
         |SELECT event_id, ${Ml.assignExpr(4)} AS cluster
         |FROM pts, c3 WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin)),

    // ---- C104b: EXPLAIN MODEL statement (db4ai explain_model.h) —
    // the trained relation: one typed row per parameter, weights from
    // the same exact Cramer tree the oracle recomputes ----
    Gated("sql_explain_model", (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("pm_events")
      s.sql(createModelStmt)
      s.sql(explainModelStmt).transform(Gate.ordered(_, "idx"))
    },
      // retrain from the same moments; the feature column carries the
      // CREATE MODEL expression TEXT (what EXPLAIN MODEL renders)
      Some(s"""WITH pts AS (SELECT user_id % 50 AS x1, event_id % 31 AS x2,
         |  CAST(floor(value * 100) AS BIGINT) AS y FROM events),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1 * x1) AS BIGINT) AS sx11, CAST(sum(x1 * x2) AS BIGINT) AS sx12,
         |  CAST(sum(x2 * x2) AS BIGINT) AS sx22, CAST(sum(x1 * y) AS BIGINT) AS sx1y,
         |  CAST(sum(x2 * y) AS BIGINT) AS sx2y, CAST(sum(y * y) AS BIGINT) AS syy
         |FROM pts),
         |w AS (SELECT $wExprs FROM s)
         |SELECT 'stmt_linreg' AS model, 0 AS idx, 'intercept' AS feature,
         |  b0 AS weight, abs(b0) AS abs_weight FROM w
         |UNION ALL SELECT 'stmt_linreg', 1, 'user_id % 50', b1, abs(b1) FROM w
         |UNION ALL SELECT 'stmt_linreg', 2, 'event_id % 31', b2, abs(b2) FROM w
         |ORDER BY idx""".stripMargin)),

    // ---- C106: CREATE INCREMENTAL MATERIALIZED VIEW + mlog-driven
    // REFRESH (commands/matview) replaying the C54 scenario — H1-1997
    // inserts and %97 deletes fold into the pre-1997 state,
    // O(|view|+|delta|), the base is never re-read ----
    Gated("sql_matview", (s, dir) => {
      val cents = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
      val ord = Tables(s, dir, "orders")
      ord.createOrReplaceTempView("mv_orders")
      s.sql(matviewCreateStmt)
      val base = ord.filter(col("o_orderdate") < "1997-01-01")
      val inserts = ord.filter(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1997-07-01")
        .select(col("o_custkey"), expr(cents).as("cents"), lit(1).as("op"))
      val deletes = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_custkey"), expr(cents).as("cents"), lit(-1).as("op"))
      inserts.unionByName(deletes).createOrReplaceTempView("mlog_mv_sales")
      s.sql(matviewRefreshStmt)
      s.sql("SELECT o_custkey, n, cents FROM mv_sales")
        .transform(Gate.ordered(_, "o_custkey"))
    },
      // C54's IVM algebra recomputed relationally: survivors = pre-1997
      // rows minus the %97 deletes, plus the H1-1997 inserts
      Some("""WITH survivors AS (
        |  SELECT o_custkey, o_totalprice FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-07-01'
        |)
        |SELECT o_custkey, count(*)::BIGINT AS n,
        |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
        |FROM survivors GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ---- C108: CREATE INDEX USING ivfflat — the datavec DDL — plus
    // the KNN ACCESS PATH: the pgvector idiom over the indexed
    // relation routes through the probe-pruned postings (here with a
    // full probe budget, so the routed path must be EXACT and the
    // DuckDB oracle recomputes it closed-form; the probes=1 pruning
    // semantics are spec-gated against Ivf.search) ----
    Gated("sql_create_index", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidx_emb")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_gate")
      s.sql(createIvfIndexStmt)
      s.conf.set("graft.ivfflat.probes", "16") // full probe: exact
      val out = s.sql(knnIdiomStmt("vidx_emb", q, 10))
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // full-probe IVF == the exact scan: DuckDB recomputes the top-10
      // closed-form (the sql_pg_vector l2 shape)
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM embeddings e, q ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- C108c: vector_cosine_ops — the embedding-workload opclass:
    // the quantizer lives in unit space (cosine order ≡ L2 order on
    // normalized vectors), the pruned relation carries ORIGINAL rows,
    // and the statement's own <=> reranks exactly; full probe budget
    // again makes the routed path exact for the hash gate ----
    Gated("sql_cosine_index", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidxc_emb")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_cos")
      s.sql("CREATE INDEX vidx_cos ON vidxc_emb USING ivfflat " +
        "(embedding vector_cosine_ops) WITH (lists = 16)")
      s.conf.set("graft.ivfflat.probes", "16") // full probe: exact
      val out = s.sql(
        s"""SELECT vec_id, round(embedding <=> '$q'::vector, 6) AS cosd
           |FROM vidxc_emb ORDER BY embedding <=> '$q'::vector, vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // full-probe cosine == the exact scan (sql_pg_vector's cosd shape)
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(1.0 - greatest(-1.0, least(1.0,
        |    list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |    sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |       * list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))), 6) AS cosd
        |FROM embeddings e, q ORDER BY cosd, vec_id LIMIT 10""".stripMargin)),

    // ---- C108b: CREATE INDEX USING hnsw — the clustered NSW access
    // path; approximate by nature, so gated on exactly-k results +
    // recall vs the in-query exact top-k (the B-family gate shape) ----
    Gated("sql_hnsw_index", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidxh_emb")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      val q = qv.mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_hnsw")
      s.sql(createHnswIndexStmt)
      s.conf.set("graft.hnsw.nprobe", "8") // all shards
      val found = s.sql(knnIdiomStmt("vidxh_emb", q, 10))
      s.conf.unset("graft.hnsw.nprobe")
      val exact = graft.operators.Knn.exactTopK(emb, "embedding", "vec_id", qv, 10)
      found.join(exact.select(col("vec_id"), lit(1).as("hit")),
          Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_results"),
          (coalesce(sum(col("hit")), lit(0)) >= 5).as("recall_ok"))
    },
      // approximate by nature: constants like the other ANN gates
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // ---- C108d: vector_ip_ops (ivfflat) — `<#>` through the
    // MIPS→L2-augmented quantizer (x' = [x, sqrt(M²−‖x‖²)], q' =
    // [q, 0] — the order-preserving reduction); full probe budget
    // makes the routed path exact, DuckDB recomputes closed-form ----
    Gated("sql_ip_index", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidxip_emb")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_ip")
      s.sql("CREATE INDEX vidx_ip ON vidxip_emb USING ivfflat " +
        "(embedding vector_ip_ops) WITH (lists = 16)")
      s.conf.set("graft.ivfflat.probes", "16") // full probe: exact
      val out = s.sql(
        s"""SELECT vec_id, round(embedding <#> '$q'::vector, 6) AS nip
           |FROM vidxip_emb ORDER BY embedding <#> '$q'::vector, vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // full-probe ip == the exact scan: negative inner product closed-form
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(-list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS nip
        |FROM embeddings e, q ORDER BY nip, vec_id LIMIT 10""".stripMargin)),

    // ---- C108e: hnsw vector_cosine_ops — the L2 beam over
    // NORMALIZED graph vectors (cosine ≡ L2 on unit vectors);
    // approximate by nature → the B-family recall gate shape ----
    Gated("sql_hnsw_cosine", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidxhc_emb")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      val q = qv.mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_hc")
      s.sql("CREATE INDEX vidx_hc ON vidxhc_emb USING hnsw " +
        "(embedding vector_cosine_ops) WITH (m = 8, ef_construction = 48, lists = 8)")
      s.conf.set("graft.hnsw.nprobe", "8") // all shards
      val found = s.sql(
        s"""SELECT vec_id FROM vidxhc_emb
           |ORDER BY embedding <=> '$q'::vector, vec_id LIMIT 10""".stripMargin)
      s.conf.unset("graft.hnsw.nprobe")
      s.sql("DROP INDEX vidx_hc")
      val exact = s.sql(
        s"""SELECT vec_id FROM vidxhc_emb
           |ORDER BY embedding <=> '$q'::vector, vec_id LIMIT 10""".stripMargin)
      found.join(exact.select(col("vec_id"), lit(1).as("hit")),
          Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_results"),
          (coalesce(sum(col("hit")), lit(0)) >= 5).as("recall_ok"))
    },
      // approximate by nature (beamed): constants
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // ---- C108f: hnsw vector_l1_ops — `<+>` beams NATIVELY in L1
    // (Params.metric = l1, datavec sql 0.7.2:399); recall-gated ----
    Gated("sql_l1_index", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidxl1_emb")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      val q = qv.mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_l1")
      s.sql("CREATE INDEX vidx_l1 ON vidxl1_emb USING hnsw " +
        "(embedding vector_l1_ops) WITH (m = 8, ef_construction = 48, lists = 8)")
      s.conf.set("graft.hnsw.nprobe", "8")
      val found = s.sql(
        s"""SELECT vec_id FROM vidxl1_emb
           |ORDER BY embedding <+> '$q'::vector, vec_id LIMIT 10""".stripMargin)
      s.conf.unset("graft.hnsw.nprobe")
      s.sql("DROP INDEX vidx_l1")
      val exact = s.sql(
        s"""SELECT vec_id FROM vidxl1_emb
           |ORDER BY embedding <+> '$q'::vector, vec_id LIMIT 10""".stripMargin)
      found.join(exact.select(col("vec_id"), lit(1).as("hit")),
          Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_results"),
          (coalesce(sum(col("hit")), lit(0)) >= 5).as("recall_ok"))
    },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok")),

    // ---- C108g: halfvec_l2_ops — the B15 storage tier at the DDL:
    // postings persist PACKED fp16 (2 bytes/elem), the view unpacks
    // (lossless on the halfvec grid), full probe == exact. DuckDB
    // has no fp16 grid, so the gate compares routed vs unrouted
    // IN-ENGINE (both over the same fp16-rounded view) and ships the
    // deterministic verdict (the fuzzy_phonetic gate shape) ----
    Gated("sql_halfvec_index", (s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val emb = Tables(s, dir, "embeddings")
      emb.select(col("vec_id"), VF.halfvec(col("embedding")).as("hv"))
        .createOrReplaceTempView("vidxhv_emb")
      val q = s.table("vidxhv_emb").filter(col("vec_id") === 0)
        .select("hv").head.getSeq[Float](0).mkString("[", ",", "]")
      def knn() = s.sql(
        s"""SELECT vec_id, round(hv <-> '$q'::halfvec, 6) AS d
           |FROM vidxhv_emb ORDER BY hv <-> '$q'::halfvec, vec_id
           |LIMIT 10""".stripMargin)
      s.sql("DROP INDEX IF EXISTS vidx_hv")
      s.sql("CREATE INDEX vidx_hv ON vidxhv_emb USING ivfflat " +
        "(hv halfvec_l2_ops) WITH (lists = 16)")
      s.conf.set("graft.ivfflat.probes", "16")
      val routed = knn().collect().toSeq
      s.conf.unset("graft.ivfflat.probes")
      s.sql("DROP INDEX vidx_hv")
      val exact = knn().collect().toSeq
      val spark2 = s
      import spark2.implicits._
      Seq((routed.size.toLong, routed == exact)).toDF("n_results", "match_ok")
    },
      // fp16 grid lives only in-engine: the gate ships the in-engine
      // routed-vs-exact verdict (full probe — must match bitwise)
      Some("SELECT CAST(10 AS BIGINT) AS n_results, TRUE AS match_ok")),

    // ---- C108h: bit_hamming_ops — `<~>` over packed bit codes
    // through the IvfBit Hamming quantizer (B16 at the DDL); integer-
    // exact popcount distances, full probe == exact, and DuckDB
    // recomputes the sign-quantized Hamming closed-form ----
    Gated("sql_bit_index", (s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val emb = Tables(s, dir, "embeddings")
      emb.select(col("vec_id"), VF.binaryQuantize(col("embedding")).as("code"))
        .createOrReplaceTempView("vidxb_emb")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_bit")
      s.sql("CREATE INDEX vidx_bit ON vidxb_emb USING ivfflat " +
        "(code bit_hamming_ops) WITH (lists = 16)")
      s.conf.set("graft.ivfflat.probes", "16")
      val out = s.sql(
        s"""SELECT vec_id,
           |  CAST(code <~> binary_quantize('$q'::vector) AS BIGINT) AS hd
           |FROM vidxb_emb
           |ORDER BY code <~> binary_quantize('$q'::vector), vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // sign-quantized Hamming closed-form (BinaryQuantize: bit = v > 0)
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(len(list_filter(range(1, len(e.embedding) + 1),
        |    i -> (e.embedding[i] > 0) <> (q.qv[i] > 0))) AS BIGINT) AS hd
        |FROM embeddings e, q ORDER BY hd, vec_id LIMIT 10""".stripMargin)),

    // ---- C108i: sparsevec_l2_ops — sparse structs pruned through a
    // feature-hashed 64-dim dense proxy quantizer (candidates only;
    // the statement's own sparse merge-scan reranks exact). Full
    // probe == exact; DuckDB recomputes dense L2 (identical to the
    // sparse merge-scan: dropped zeros contribute +0.0 terms) ----
    Gated("sql_sparsevec_index", (s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val emb = Tables(s, dir, "embeddings")
      emb.select(col("vec_id"), VF.toSparse(col("embedding")).as("sv"))
        .createOrReplaceTempView("vidxsp_emb")
      val qTxt = s.table("vidxsp_emb").filter(col("vec_id") === 0)
        .select(VF.sparsevecToString(col("sv.indices"), col("sv.values"),
          col("sv.dim"))).head.getString(0)
      s.sql("DROP INDEX IF EXISTS vidx_sp")
      s.sql("CREATE INDEX vidx_sp ON vidxsp_emb USING ivfflat " +
        "(sv sparsevec_l2_ops) WITH (lists = 16)")
      s.conf.set("graft.ivfflat.probes", "16")
      val out = s.sql(
        s"""SELECT vec_id, round(sv <-> '$qTxt'::sparsevec, 6) AS dist
           |FROM vidxsp_emb ORDER BY sv <-> '$qTxt'::sparsevec, vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // sparse merge-scan L2 == dense L2 (dropped zeros add +0.0 terms)
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM embeddings e, q ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- C119: CLUSTER (gram.y ClusterStmt) — PG rewrites the table
    // on disk in index order; here the view's rows are rewritten to
    // parquet co-located by the IVF index's coarse lists (the index's
    // own geometry), content-invariant — the full-probe KNN after
    // CLUSTER must be exact, recomputed closed-form ----
    Gated("sql_cluster", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      emb.createOrReplaceTempView("cl_emb")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_cl")
      s.sql(createClusterIndexStmt)
      s.sql(clusterStmtText)
      s.conf.set("graft.ivfflat.probes", "16") // full probe: exact
      val out = s.sql(
        s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS dist
           |FROM cl_emb ORDER BY embedding <-> '$q'::vector, vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // CLUSTER is content-invariant: the post-CLUSTER full-probe KNN
      // equals the closed-form exact scan (the sql_create_index shape)
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM embeddings e, q ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- C118: SHOW (gram.y VariableShowStmt) — the read half of
    // the GUC surface whose write half (SET ivfflat.probes) already
    // lands verbatim in the session conf; SHOW TIME ZONE maps to the
    // session timezone ----
    Gated("sql_show", (s, dir) => {
      s.sql("SET ivfflat.probes = 7")
      val probes = s.sql("SHOW ivfflat.probes").head().getString(0)
      s.conf.unset("ivfflat.probes")
      val tz = s.sql("SHOW TIME ZONE").head().getString(0)
      val spark2 = s
      import spark2.implicits._
      Seq(("probes", probes), ("timezone", tz)).toDF("tag", "setting")
        .transform(Gate.ordered(_, "tag"))
    },
      // the set knob read back + the session timezone every gate runs
      // under — constants by construction
      Some("""SELECT * FROM (VALUES ('probes', '7'), ('timezone', 'UTC'))
        |AS t(tag, setting) ORDER BY tag""".stripMargin)),

    // ---- C117: sequences (gram.y CreateSeqStmt; nextval/currval/
    // setval) — session counters spliced as literals, deterministic
    // by construction; the expected values are pure arithmetic over
    // START/INCREMENT, so the oracle pins them as constants ----
    Gated("sql_sequence", (s, dir) => {
      s.sql("DROP SEQUENCE IF EXISTS gate_seq")
      s.sql(createSequenceStmt)
      def one(q: String): Long = s.sql(q).head().getLong(0)
      val rows = Seq(
        ("n1", one("SELECT nextval('gate_seq') AS v")),
        ("n2", one("SELECT nextval('gate_seq') AS v")),
        ("n3_currval", one("SELECT currval('gate_seq') AS v")),
        ("n4_setval", one("SELECT setval('gate_seq', 100) AS v")),
        ("n5", one("SELECT nextval('gate_seq') AS v")))
      s.sql("DROP SEQUENCE gate_seq")
      val spark2 = s
      import spark2.implicits._
      rows.toDF("tag", "val").transform(Gate.ordered(_, "tag"))
    },
      // pure START/INCREMENT arithmetic: 5, 8, currval 8, setval 100,
      // then 103 — pinned as constants (what any PG engine returns for
      // this exact statement sequence)
      Some("""SELECT * FROM (VALUES
        |  ('n1', CAST(5 AS BIGINT)), ('n2', CAST(8 AS BIGINT)),
        |  ('n3_currval', CAST(8 AS BIGINT)), ('n4_setval', CAST(100 AS BIGINT)),
        |  ('n5', CAST(103 AS BIGINT))) AS t(tag, val)
        |ORDER BY tag""".stripMargin)),

    // ---- C116: VACUUM as small-file compaction (gram.y VacuumStmt) —
    // three INSERT batches grow the IVF index's partitioned parquet
    // with small per-list appends, VACUUM rewrites it coalesced (one
    // file per list directory, reader pruning intact, no retrain) and
    // re-materializes the view; the full-probe KNN after VACUUM must
    // be EXACT over base + all appended rows, recomputed closed-form ----
    Gated("sql_vacuum", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      emb.createOrReplaceTempView("vac_emb")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_vac")
      s.sql(createVacIndexStmt)
      (1 to 3).foreach(i => s.sql(vacInsertStmt(dir, i)))
      s.sql(vacuumStmt)
      s.conf.set("graft.ivfflat.probes", "16") // full probe: exact
      val out = s.sql(
        s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS dist
           |FROM vac_emb ORDER BY embedding <-> '$q'::vector, vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // post-VACUUM full probe == exact over base + the three appended
      // batches, recomputed closed-form (the sql_create_index shape)
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |allr AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 100 = 1
        |  UNION ALL SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id % 100 = 2
        |  UNION ALL SELECT vec_id + 3000000, embedding FROM embeddings WHERE vec_id % 100 = 3)
        |SELECT r.vec_id,
        |  round(list_distance(r.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM allr r, q ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- C115: EXPLAIN over routed statements (gram.y ExplainStmt;
    // auto_explain renders the ANALYZE form) — the plain form plans
    // the DML WITHOUT executing it (target row count unchanged, the
    // rendered plan shows the one fused join); EXPLAIN ANALYZE
    // EXECUTES (PG semantics) and reports the actual output rows, so
    // the post-statement survivor count is relationally checkable ----
    Gated("sql_explain_dml", (s, dir) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      base.createOrReplaceTempView("exp_target")
      base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select(col("c_custkey"), (col("c_acctbal") * 2.0).as("c_acctbal"))
        .createOrReplaceTempView("exp_source")
      val before = s.table("exp_target").count()
      val upd = s.sql(explainUpdateStmt)
        .collect().map(_.getString(0)).mkString("\n")
      val after = s.table("exp_target").count()
      val del = s.sql(explainDeleteStmt)
        .collect().map(_.getString(0)).mkString("\n")
      val survivors = s.table("exp_target").count()
      val spark2 = s
      import spark2.implicits._
      Seq((upd.toLowerCase(java.util.Locale.ROOT).contains("join"),
          before == after, del.contains("Actual Rows"), survivors))
        .toDF("upd_has_join", "upd_not_executed", "del_has_actuals",
          "survivors")
    },
      // EXPLAIN's verdict booleans are in-engine by nature (a Spark plan
      // rendering has no DuckDB analogue); the survivor count after the
      // EXECUTED EXPLAIN ANALYZE DELETE is recomputed relationally
      Some("""SELECT TRUE AS upd_has_join, TRUE AS upd_not_executed,
        |  TRUE AS del_has_actuals,
        |  (SELECT count(*) FROM customer WHERE c_custkey % 11 <> 0)
        |    AS survivors""".stripMargin)),

    // ---- C114: PREPARE / EXECUTE (gram.y PrepareStmt/ExecuteStmt) —
    // positional $n substitution at the token level, the full
    // pipeline re-entered on EXECUTE ----
    Gated("sql_prepare", (s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("p_target")
      s.sql("DEALLOCATE PREPARE ALL")
      s.sql("PREPARE pq (BIGINT, DOUBLE) AS " +
        "SELECT c_custkey, c_name, c_acctbal FROM p_target " +
        "WHERE c_custkey % $1 = 0 AND c_acctbal > $2 ORDER BY c_custkey")
      s.sql("EXECUTE pq (13, 100.0)")
    },
      // the substituted statement recomputed directly
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 13 = 0 AND c_acctbal > 100.0
        |ORDER BY c_custkey""".stripMargin)),

    // ---- C113: ANALYZE (gram.y AnalyzeStmt) — the pg_stats-shaped
    // relation (row_cnt / n_distinct / n_nulls per column), ONE
    // multi-distinct aggregate pass; exact counts where PG samples ----
    Gated("sql_analyze", (s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"))
        .createOrReplaceTempView("an_target")
      s.sql("ANALYZE an_target").transform(Gate.ordered(_, "column_name"))
    },
      // the same four column profiles recomputed closed-form
      Some("""SELECT 'c_custkey' AS column_name, count(*)::BIGINT AS row_cnt,
        |  count(DISTINCT c_custkey)::BIGINT AS n_distinct,
        |  (count(*) - count(c_custkey))::BIGINT AS n_nulls FROM customer
        |UNION ALL SELECT 'c_name', count(*)::BIGINT,
        |  count(DISTINCT c_name)::BIGINT,
        |  (count(*) - count(c_name))::BIGINT FROM customer
        |UNION ALL SELECT 'c_nationkey', count(*)::BIGINT,
        |  count(DISTINCT c_nationkey)::BIGINT,
        |  (count(*) - count(c_nationkey))::BIGINT FROM customer
        |UNION ALL SELECT 'c_mktsegment', count(*)::BIGINT,
        |  count(DISTINCT c_mktsegment)::BIGINT,
        |  (count(*) - count(c_mktsegment))::BIGINT FROM customer
        |ORDER BY column_name""".stripMargin)),

    // ---- C112: REINDEX (gram.y ReindexStmt) — the recovery path
    // after mutating DML invalidated an index: DELETE drops the
    // index, REINDEX re-runs the saved DDL over the CURRENT rows,
    // and the full-probe idiom must be exact over the survivors ----
    Gated("sql_reindex", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.createOrReplaceTempView("vidxr_emb")
      val q = emb.filter(col("vec_id") === 1)
        .select(col("embedding")).head.getSeq[Float](0).mkString("[", ",", "]")
      s.sql("DROP INDEX IF EXISTS vidx_r")
      s.sql("CREATE INDEX vidx_r ON vidxr_emb USING ivfflat " +
        "(embedding vector_l2_ops) WITH (lists = 16)")
      s.sql("DELETE FROM vidxr_emb WHERE vec_id % 97 = 0") // invalidates
      s.sql("REINDEX INDEX vidx_r") // rebuilds over survivors
      s.conf.set("graft.ivfflat.probes", "16") // full probe: exact
      val out = s.sql(
        s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS dist
           |FROM vidxr_emb ORDER BY embedding <-> '$q'::vector, vec_id
           |LIMIT 10""".stripMargin)
      s.conf.unset("graft.ivfflat.probes")
      out
    },
      // post-REINDEX the index holds exactly the survivors: the top-10
      // recomputed closed-form over the non-deleted rows
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT e.vec_id,
        |  round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM embeddings e, q WHERE e.vec_id % 97 <> 0
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ---- C107: COPY statements (gram.y CopyStmt over the C86/C95
    // file_fdw option set): COPY (query) TO a GB18030 csv, COPY FROM
    // appends it back under the target view's declared schema —
    // the scan stays lazy and splittable ----
    Gated("sql_copy", (s, dir) => {
      val scratch = Gate.scratchDir("graft-sqlcopy")
      val p = new java.io.File(scratch, "data").getPath
      Tables(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .createOrReplaceTempView("cp_src")
      s.sql(copyToStmt(p))
      s.sql("CREATE OR REPLACE TEMPORARY VIEW cp_tgt AS " +
        "SELECT * FROM cp_src WHERE 1 = 0")
      s.sql(copyFromStmt(p))
      s.sql("SELECT * FROM cp_tgt").transform(Gate.ordered(_, "c_custkey"))
    },
      // the csv round trip is lossless (shortest-round-trip doubles,
      // GB18030 is ASCII-transparent): recompute straight from parquet
      Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |WHERE c_custkey % 10 = 0 ORDER BY c_custkey""".stripMargin))
  )
}
