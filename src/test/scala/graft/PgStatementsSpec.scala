package graft

import graft.operators.{Flashback, Hierarchy, Ml, ModelCatalog, RecursiveSql}
import graft.plans.PgStatements
import org.apache.spark.sql.functions._

/**
 * Statement-level openGauss SQL end-to-end through spark.sql (the
 * injected parser routes onto the gated engines — gram.y:23994 WITH
 * RECURSIVE, MergeStmt, start_with/connect_by_clause, :6416
 * TIMECAPSULE, :11597/:27180 CREATE MODEL / PREDICT BY). Every routed
 * statement is pinned EQUAL to its engine's direct Scala call — the
 * SQL spelling must be a spelling, never a second implementation.
 */
class PgStatementsSpec extends SparkSpec {
  import spark.implicits._

  // ---- WITH RECURSIVE (distinct-union — Spark's native CTE rejects) ----

  test("WITH RECURSIVE ... UNION routes to the fixpoint via spark.sql") {
    // cyclic triangle + pendant: UNION ALL would never terminate
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
      .createOrReplaceTempView("stmt_edges")
    val q =
      """WITH RECURSIVE reach(a, b) AS (
        |  SELECT a, b FROM stmt_edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN stmt_edges e ON r.b = e.a)
        |SELECT a, b FROM reach ORDER BY a, b""".stripMargin
    val viaSql = spark.sql(q).as[(Long, Long)].collect().toSeq
    val direct = RecursiveSql.sql(spark, q).as[(Long, Long)].collect().toSeq
    assert(viaSql == direct)
    // nodes 1,2,3 are on the cycle: each reaches all of {1,2,3,4}
    assert(viaSql.count(_._1 == 1L) == 4)
    assert(viaSql.contains((1L, 1L)) && viaSql.contains((3L, 4L)))
  }

  test("WITH RECURSIVE ... UNION ALL still takes Spark's native executor") {
    Seq((1L, 2L), (2L, 3L)).toDF("a", "b") // acyclic: ALL terminates
      .createOrReplaceTempView("stmt_dag")
    val rows = spark.sql(
      """WITH RECURSIVE r(a, b) AS (
        |  SELECT a, b FROM stmt_dag
        |  UNION ALL
        |  SELECT r.a, e.b FROM r JOIN stmt_dag e ON r.b = e.a)
        |SELECT count(*) FROM r""".stripMargin).as[Long].head()
    assert(rows == 3L) // (1,2) (2,3) (1,3)
  }

  // ---- MERGE INTO ----

  private def mergeFixture(): Unit = {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal").createOrReplaceTempView("stmt_tgt")
    Seq((2L, "b2", 22.0, "U"), (3L, "c", 0.0, "D"), (9L, "i", 90.0, "I"))
      .toDF("k", "name", "bal", "op").createOrReplaceTempView("stmt_src")
  }

  test("MERGE INTO applies update, delete and insert clauses in order") {
    mergeFixture()
    spark.sql(
      """MERGE INTO stmt_tgt t USING stmt_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, name, bal)
        |  VALUES (s.k, s.name, s.bal)""".stripMargin)
    val out = spark.table("stmt_tgt").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 22.0), (4L, "d", 40.0),
      (9L, "i", 90.0)))
  }

  test("MERGE clause ORDER is semantic: first true WHEN wins") {
    mergeFixture()
    // reversed order: the unconditioned UPDATE now shadows the DELETE
    spark.sql(
      """MERGE INTO stmt_tgt t USING stmt_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.name, s.bal)""".stripMargin)
    val out = spark.table("stmt_tgt").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    // k=3 updated (not deleted); k=9 inserted positionally
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 9L))
    assert(out.find(_._1 == 3L).get._2 == "c") // name = s.name = "c"
  }

  test("MERGE UPDATE without a SET column keeps the target value; " +
      "INSERT with a column list nulls unlisted columns") {
    mergeFixture()
    spark.sql(
      """MERGE INTO stmt_tgt t USING stmt_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET bal = s.bal + 1
        |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, bal) VALUES (s.k, s.bal)""".stripMargin)
    val out = spark.table("stmt_tgt").orderBy("k").collect()
    val k2 = out.find(_.getLong(0) == 2L).get
    assert(k2.getString(1) == "b" && k2.getDouble(2) == 23.0) // name kept
    val k3 = out.find(_.getLong(0) == 3L).get
    assert(k3.getDouble(2) == 30.0) // op='D' matches no clause: unchanged
    val k9 = out.find(_.getLong(0) == 9L).get
    assert(k9.isNullAt(1) && k9.getDouble(2) == 90.0) // name unlisted -> NULL
  }

  test("MERGE result matches Upsert.merge on the plain upsert shape") {
    mergeFixture()
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal")
    val delta = Seq((2L, "b2", 22.0), (9L, "i", 90.0)).toDF("k", "name", "bal")
    base.createOrReplaceTempView("stmt_tgt2")
    delta.createOrReplaceTempView("stmt_src2")
    spark.sql(
      """MERGE INTO stmt_tgt2 t USING stmt_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.name, s.bal)""".stripMargin)
    val viaSql = spark.table("stmt_tgt2").orderBy("k").collect().toSeq
    val direct = graft.operators.Upsert.merge(base, delta, "k")
      .orderBy("k").collect().toSeq
    assert(viaSql == direct)
  }

  test("MERGE with unaliased target and source resolves by relation name") {
    mergeFixture() // the packaged-jar drive caught this: no-alias USING
    spark.sql(
      """MERGE INTO stmt_tgt USING stmt_src ON stmt_tgt.k = stmt_src.k
        |WHEN MATCHED AND stmt_src.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = stmt_src.bal""".stripMargin)
    val out = spark.table("stmt_tgt").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b", 22.0), (4L, "d", 40.0)))
  }

  test("MERGE raises when one target row is matched by two acting source rows") {
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
      .createOrReplaceTempView("stmt_dup_tgt")
    Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("k", "v")
      .createOrReplaceTempView("stmt_dup_src")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO stmt_dup_tgt t USING stmt_dup_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET bal = s.v""".stripMargin))
    assert(e.getMessage.contains("affect row a second time"))
    // the target view is untouched by the failed MERGE
    assert(spark.table("stmt_dup_tgt").orderBy("k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 10.0), (2L, 20.0)))
    // duplicate matches where only ONE source row ACTS do not raise
    // (PG counts acting pairs, not joining pairs)
    spark.sql(
      """MERGE INTO stmt_dup_tgt t USING stmt_dup_src s ON t.k = s.k
        |WHEN MATCHED AND s.v >= 2.0 THEN UPDATE SET bal = s.v""".stripMargin)
    assert(spark.table("stmt_dup_tgt").orderBy("k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.0), (2L, 3.0)))
    // duplicate matches where NO pair acts emit the target row exactly
    // ONCE, unchanged (the pair-wise join would emit one per pair)
    spark.sql(
      """MERGE INTO stmt_dup_tgt t USING stmt_dup_src s ON t.k = s.k
        |WHEN MATCHED AND s.v > 99.0 THEN UPDATE SET bal = s.v""".stripMargin)
    assert(spark.table("stmt_dup_tgt").orderBy("k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.0), (2L, 3.0)))
  }

  test("MERGE SET with an unparenthesized CASE ... WHEN ... END parses") {
    mergeFixture()
    spark.sql(
      """MERGE INTO stmt_tgt t USING stmt_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET
        |  bal = CASE WHEN s.op = 'D' THEN 0.0 ELSE s.bal END,
        |  name = s.name""".stripMargin)
    val out = spark.table("stmt_tgt").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 22.0), (3L, "c", 0.0),
      (4L, "d", 40.0)))
    // a CASE inside a WHEN ... AND condition doesn't cut the clause
    mergeFixture()
    spark.sql(
      """MERGE INTO stmt_tgt t USING stmt_src s ON t.k = s.k
        |WHEN MATCHED AND CASE WHEN s.op = 'U' THEN true ELSE false END
        |  THEN UPDATE SET bal = s.bal""".stripMargin)
    val out2 = spark.table("stmt_tgt").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out2.map(_._3) == Seq(10.0, 22.0, 30.0, 40.0))
  }

  test("MERGE INTO a non-temp-view delegates to Spark untouched") {
    val e = intercept[Exception](spark.sql(
      "MERGE INTO no_such_table USING stmt_src s ON 1=1 WHEN MATCHED THEN DELETE"))
    // Spark's own resolution error, not a graft: message
    assert(!e.getMessage.contains("graft:"))
  }

  // ---- UPDATE / DELETE ----

  private def dmlFixture(): Unit = {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal").createOrReplaceTempView("stmt_upd")
  }

  test("UPDATE ... SET ... WHERE rewrites as a map-only projection") {
    dmlFixture()
    spark.sql("UPDATE stmt_upd SET bal = bal + 1.0, name = upper(name) " +
      "WHERE k % 2 = 0")
    val out = spark.table("stmt_upd").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "B", 21.0), (3L, "c", 30.0),
      (4L, "D", 41.0)))
    // no WHERE: every row updates; CASE in SET parses
    spark.sql("UPDATE stmt_upd SET bal = CASE WHEN bal > 30.0 THEN 0.0 ELSE bal END")
    val out2 = spark.table("stmt_upd").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out2.map(_._3) == Seq(10.0, 21.0, 30.0, 0.0))
  }

  test("UPDATE ... FROM joins the source; only matched rows update") {
    dmlFixture()
    Seq((2L, 200.0), (4L, 400.0), (9L, 900.0)).toDF("k", "nb")
      .createOrReplaceTempView("stmt_upd_src")
    spark.sql(
      """UPDATE stmt_upd t SET bal = s.nb FROM stmt_upd_src s
        |WHERE t.k = s.k AND s.nb < 300.0""".stripMargin)
    val out = spark.table("stmt_upd").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b", 200.0), (3L, "c", 30.0),
      (4L, "d", 40.0))) // k=4 filtered by s.nb < 300, k=9 matches nothing
    // multi-match: the hash-least source tuple wins (PG: "unspecified
    // which"; the batch pick is a VALUE function of the row — stable
    // across runs and repartitioning, and a narrow sort key however
    // wide the source row is), exactly one row out
    Seq((2L, 7.0), (2L, 5.0)).toDF("k", "nb")
      .createOrReplaceTempView("stmt_upd_multi")
    val expectPick = spark.sql(
      "SELECT nb FROM stmt_upd_multi ORDER BY xxhash64(k, nb), hash(k, nb) LIMIT 1")
      .as[Double].head()
    spark.sql("UPDATE stmt_upd t SET bal = s.nb FROM stmt_upd_multi s " +
      "WHERE t.k = s.k")
    val out2 = spark.table("stmt_upd").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out2.count(_._1 == 2L) == 1)
    assert(out2.find(_._1 == 2L).get._3 == expectPick)
    // and the pick is stable when the update replays from the same state
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("stmt_upd")
    spark.sql("UPDATE stmt_upd t SET bal = s.nb FROM stmt_upd_multi s " +
      "WHERE t.k = s.k")
    assert(spark.table("stmt_upd").filter(col("k") === 2L)
      .as[(Long, String, Double)].head()._3 == expectPick)
    // a parenthesized subquery source works (its columns feed the
    // fused hash pick through schema-only resolution)
    spark.sql("UPDATE stmt_upd t SET bal = s.nb * 10 FROM " +
      "(SELECT k, nb FROM stmt_upd_multi WHERE nb > 6.0) s WHERE t.k = s.k")
    assert(spark.table("stmt_upd").filter(col("k") === 2L)
      .as[(Long, String, Double)].head()._3 == 70.0)
  }

  test("UPDATE matches Upsert-style recomputation and keeps temp-view " +
      "delegation + RETURNING rejection") {
    dmlFixture()
    // equivalent recomputation through the Scala API
    val want = spark.table("stmt_upd")
      .withColumn("bal", when(pmod(col("k"), lit(3)) === 0, col("bal") * 2)
        .otherwise(col("bal")))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    spark.sql("UPDATE stmt_upd SET bal = bal * 2 WHERE k % 3 = 0")
    val got = spark.table("stmt_upd").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == want)
    val e1 = intercept[Exception](spark.sql(
      "UPDATE stmt_upd SET bal = 0 WHERE k = 1 RETURNING k"))
    assert(e1.getMessage.contains("RETURNING"))
    val e2 = intercept[Exception](spark.sql(
      "UPDATE no_such_view_xyz SET a = 1"))
    assert(!e2.getMessage.contains("graft:")) // delegated to Spark
  }

  test("DELETE FROM ... WHERE keeps NULL-condition rows (3VL) and " +
      "DELETE ... USING anti-joins") {
    Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)), (4L, Some(4.0)))
      .toDF("k", "v").createOrReplaceTempView("stmt_del")
    spark.sql("DELETE FROM stmt_del WHERE v > 3.0")
    val out = spark.table("stmt_del").orderBy("k")
      .as[(Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0))))
    Seq(1L, 3L).toDF("dk").createOrReplaceTempView("stmt_del_keys")
    spark.sql("DELETE FROM stmt_del t USING stmt_del_keys s WHERE t.k = s.dk")
    assert(spark.table("stmt_del").orderBy("k").as[(Long, Option[Double])]
      .collect().toSeq == Seq((2L, None)))
    // no WHERE deletes everything
    spark.sql("DELETE FROM stmt_del")
    assert(spark.table("stmt_del").count() == 0)
  }

  test("INSERT INTO appends VALUES rows and SELECT results positionally") {
    dmlFixture()
    spark.sql("INSERT INTO stmt_upd VALUES (9, 'i', 90.0), (10, 'j', 100.0)")
    assert(spark.table("stmt_upd").count() == 6)
    // column list: unlisted columns arrive as typed NULLs; the
    // assignment cast coerces the int literal to DOUBLE
    spark.sql("INSERT INTO stmt_upd (k, bal) VALUES (11, 110)")
    val r11 = spark.table("stmt_upd").filter(col("k") === 11L).head()
    assert(r11.isNullAt(1) && r11.getDouble(2) == 110.0)
    // INSERT ... SELECT stays a lazy parallel append
    spark.sql("INSERT INTO stmt_upd SELECT k + 100, upper(name), bal * 2 " +
      "FROM stmt_upd WHERE k <= 2")
    val got = spark.table("stmt_upd").orderBy("k").as[(Long, String, Double)]
      .collect().toSeq
    assert(got.size == 9)
    assert(got.contains((101L, "A", 20.0)) && got.contains((102L, "B", 40.0)))
    // errors: arity, unknown column, upsert clause, RETURNING
    val e1 = intercept[Exception](spark.sql(
      "INSERT INTO stmt_upd (k) VALUES (1, 2)"))
    assert(e1.getMessage.contains("column"))
    val e2 = intercept[Exception](spark.sql(
      "INSERT INTO stmt_upd (nope) VALUES (1)"))
    assert(e2.getMessage.contains("nope"))
    val e3 = intercept[Exception](spark.sql(
      "INSERT INTO stmt_upd VALUES (1, 'x', 0.0) " +
        "ON DUPLICATE KEY UPDATE bal = 0"))
    assert(e3.getMessage.contains("MERGE INTO"))
    val e4 = intercept[Exception](spark.sql(
      "INSERT INTO stmt_upd VALUES (1, 'x', 0.0) RETURNING k"))
    assert(e4.getMessage.contains("RETURNING"))
    // non-temp-view targets delegate to Spark untouched
    val e5 = intercept[Exception](spark.sql(
      "INSERT INTO no_such_view_xyz VALUES (1)"))
    assert(!e5.getMessage.contains("graft:"))
  }

  test("append DML (INSERT) GROWS an IVF index in place — frozen " +
      "centroids, reader pruning intact; NSW invalidates instead") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.select("embedding").head.getSeq[Float](0)
    val qTxt = q.mkString("[", ",", "]")
    // drop the NEAREST row (vec_id 0, the query itself) from the view,
    // index the remainder, then INSERT it back as id 999999
    emb.filter(col("vec_id") =!= 0).createOrReplaceTempView("stmt_app_emb")
    spark.sql("CREATE INDEX stmt_app_ivf ON stmt_app_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      spark.sql("INSERT INTO stmt_app_emb (vec_id, embedding) " +
        "SELECT 999999, embedding " +
        s"FROM parquet.`$sfDir/embeddings.parquet` WHERE vec_id = 0")
      spark.conf.set("graft.ivfflat.probes", "4") // full probe
      val df = spark.sql(
        s"""SELECT vec_id FROM stmt_app_emb
           |ORDER BY embedding <-> '$qTxt'::vector, vec_id LIMIT 3""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      val got = df.as[Long].collect().toSeq
      // the appended row is SERVED BY THE INDEX (the plan still reads
      // the pruned index parquet — not the exact-scan fallback)
      assert(got.contains(999999L), s"index missed the appended row: $got")
      assert(plan.contains("_graft_vindex") && plan.contains("PartitionFilters"),
        plan)
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_app_ivf")
      ()
    }
    // NSW graph indexes invalidate on append (re-CREATE compacts)
    emb.filter(col("vec_id") =!= 0).createOrReplaceTempView("stmt_app_emb")
    spark.sql("CREATE INDEX stmt_app_hnsw ON stmt_app_emb USING hnsw " +
      "(embedding vector_l2_ops) WITH (m = 4, ef_construction = 16, lists = 2)")
    try {
      spark.sql("INSERT INTO stmt_app_emb (vec_id, embedding) " +
        "SELECT 999999, embedding " +
        s"FROM parquet.`$sfDir/embeddings.parquet` WHERE vec_id = 0")
      spark.conf.set("graft.hnsw.nprobe", "2")
      val got = spark.sql(
        s"""SELECT vec_id FROM stmt_app_emb
           |ORDER BY embedding <-> '$qTxt'::vector, vec_id LIMIT 3""".stripMargin)
        .as[Long].collect().toSeq
      // invalidated → exact scan → the appended row is found
      assert(got.contains(999999L), s"exact fallback missed the row: $got")
    } finally {
      spark.conf.unset("graft.hnsw.nprobe")
      spark.sql("DROP INDEX IF EXISTS stmt_app_hnsw")
      ()
    }
  }

  test("DML statements CHAIN: UPDATE...FROM then INSERT then MERGE then " +
      "DELETE then TRUNCATE then INSERT (checkpoint constraints must " +
      "not leak into later unions)") {
    // regression: the UPDATE's checkpointed state carried origin
    // constraints referencing pre-checkpoint attribute ids; the next
    // INSERT's union blew up with "key not found: attr#n"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal").createOrReplaceTempView("stmt_chain")
    Seq((2L, 99.0), (9L, 90.0)).toDF("k", "nb")
      .createOrReplaceTempView("stmt_chain_src")
    spark.sql("UPDATE stmt_chain t SET bal = s.nb FROM stmt_chain_src s " +
      "WHERE t.k = s.k")
    spark.sql("INSERT INTO stmt_chain (k, bal) VALUES (4, 40.0)")
    assert(spark.table("stmt_chain").count() == 4)
    Seq((4L, "dd", 44.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("stmt_chain_m")
    spark.sql(
      """MERGE INTO stmt_chain t USING stmt_chain_m s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal""".stripMargin)
    spark.sql("DELETE FROM stmt_chain WHERE bal > 95.0")
    val got = spark.table("stmt_chain").orderBy("k")
      .as[(Long, Option[String], Double)].collect().toSeq
    assert(got == Seq((1L, Some("a"), 10.0), (3L, Some("c"), 30.0),
      (4L, Some("dd"), 44.0)))
    // TRUNCATE then refill — the emptied view must union cleanly too
    spark.sql("TRUNCATE stmt_chain")
    spark.sql("INSERT INTO stmt_chain VALUES (7, 'z', 70.0)")
    assert(spark.table("stmt_chain").as[(Long, String, Double)]
      .collect().toSeq == Seq((7L, "z", 70.0)))
    // and COPY FROM appends onto the chained state without blowing up
    val dirF = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stmt-chain-${ProcessHandle.current().pid()}")
    Sessions.rmTree(dirF); dirF.mkdirs()
    try {
      val pth = new java.io.File(dirF, "c").getPath
      spark.sql(s"COPY (SELECT * FROM stmt_chain) TO '$pth' (FORMAT csv, HEADER)")
      spark.sql(s"COPY stmt_chain FROM '$pth' (FORMAT csv, HEADER)")
      assert(spark.table("stmt_chain").count() == 2)
    } finally Sessions.rmTree(dirF)
  }

  test("TRUNCATE TABLE empties the view, keeps the schema, and a " +
      "later INSERT refills it") {
    dmlFixture()
    spark.sql("TRUNCATE TABLE stmt_upd")
    assert(spark.table("stmt_upd").count() == 0)
    assert(spark.table("stmt_upd").columns.toSeq == Seq("k", "name", "bal"))
    spark.sql("INSERT INTO stmt_upd VALUES (1, 'z', 1.5)")
    assert(spark.table("stmt_upd").as[(Long, String, Double)].collect()
      .toSeq == Seq((1L, "z", 1.5)))
    // bare form without TABLE; unknown targets delegate
    spark.sql("TRUNCATE stmt_upd")
    assert(spark.table("stmt_upd").count() == 0)
    val e = intercept[Exception](spark.sql("TRUNCATE TABLE no_such_view_xyz"))
    assert(!e.getMessage.contains("graft:"))
  }

  test("UPDATE / DELETE through the router invalidate vector indexes") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.createOrReplaceTempView("stmt_ud_emb")
    val q = emb.select("embedding").head.getSeq[Float](0)
      .mkString("[", ",", "]")
    spark.sql("CREATE INDEX stmt_ud_ivf ON stmt_ud_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      spark.sql("DELETE FROM stmt_ud_emb WHERE vec_id = 0")
      spark.conf.set("graft.ivfflat.probes", "1")
      val got = spark.sql(
        s"""SELECT vec_id FROM stmt_ud_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3""".stripMargin)
        .as[Long].collect().toSeq
      assert(!got.contains(0L), s"stale index served deleted row: $got")
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_ud_ivf")
      ()
    }
  }

  // ---- START WITH / CONNECT BY ----

  private def cbFixture(): Unit = {
    // forest: 1 -> {10, 11}, 10 -> {100}; 2 -> {}  (parent = id DIV 10)
    Seq((1L, -1L), (2L, -1L), (10L, 1L), (11L, 1L), (100L, 10L))
      .toDF("id_", "parent_").createOrReplaceTempView("stmt_tree")
  }

  test("START WITH / CONNECT BY matches Hierarchy.connectBy exactly") {
    cbFixture()
    val viaSql = spark.sql(
      """SELECT id_ AS id, LEVEL AS level, CONNECT_BY_ROOT id_ AS root_id,
        |  SYS_CONNECT_BY_PATH(id_, '/') AS path, CONNECT_BY_ISLEAF AS is_leaf
        |FROM stmt_tree
        |START WITH parent_ = -1
        |CONNECT BY PRIOR id_ = parent_
        |ORDER BY id""".stripMargin).collect().toSeq
    val direct = Hierarchy.connectBy(spark.table("stmt_tree"), "id_", "parent_",
        col("parent_") === -1L)
      .orderBy("id").collect().toSeq
    assert(viaSql == direct)
    assert(viaSql.map(_.getLong(0)) == Seq(1L, 2L, 10L, 11L, 100L))
  }

  test("CONNECT BY with PRIOR on the right side and source columns kept") {
    cbFixture()
    val r = spark.sql(
      """SELECT id_, parent_, LEVEL AS lvl FROM stmt_tree
        |START WITH parent_ = -1 CONNECT BY parent_ = PRIOR id_
        |ORDER BY id_""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getInt(2))).toSeq ==
      Seq((1L, 1), (2L, 1), (10L, 2), (11L, 2), (100L, 3)))
  }

  test("CONNECT BY without START WITH roots every row (row-per-path)") {
    cbFixture()
    val n = spark.sql(
      "SELECT LEVEL FROM stmt_tree CONNECT BY PRIOR id_ = parent_").count()
    // paths: from 1 (3 nodes +100 = 4? enumerate): roots {1,2,10,11,100}:
    // 1: 1,10,11,100 (4)  2: 1  10: 10,100 (2)  11: 1  100: 1  => 9 rows
    assert(n == 9L)
  }

  test("CONNECT BY NOCYCLE and non-id SYS_CONNECT_BY_PATH are rejected") {
    cbFixture()
    val e1 = intercept[Exception](spark.sql(
      "SELECT 1 FROM stmt_tree START WITH parent_ = -1 " +
        "CONNECT BY NOCYCLE PRIOR id_ = parent_"))
    assert(e1.getMessage.contains("NOCYCLE"))
    val e2 = intercept[Exception](spark.sql(
      "SELECT SYS_CONNECT_BY_PATH(parent_, '/') FROM stmt_tree " +
        "START WITH parent_ = -1 CONNECT BY PRIOR id_ = parent_"))
    assert(e2.getMessage.contains("SYS_CONNECT_BY_PATH"))
  }

  // ---- TIMECAPSULE ----

  private def tcFixture(): Unit = {
    Seq(
      (1L, 100L, 1L, "U", "v1"), (1L, 200L, 2L, "U", "v2"),
      (2L, 100L, 3L, "U", "w1"), (2L, 300L, 4L, "D", "w1"),
      (3L, 400L, 5L, "U", "x1"))
      .toDF("k", "ts", "csn", "op", "val")
      .createOrReplaceTempView("stmt_log")
  }

  test("FROM t TIMECAPSULE TIMESTAMP matches Flashback.asOf") {
    tcFixture()
    val viaSql = spark.sql(
      "SELECT * FROM stmt_log TIMECAPSULE TIMESTAMP 250 ORDER BY k")
      .collect().toSeq
    val direct = Flashback.asOf(spark.table("stmt_log"), "k", Seq("ts", "csn"),
        "op", col("ts") <= 250)
      .orderBy("k").collect().toSeq
    assert(viaSql == direct)
    // at ts<=250: k=1 is at v2, k=2 alive at w1, k=3 not yet born
    assert(viaSql.map(r => (r.getLong(0), r.getString(3))) ==
      Seq((1L, "v2"), (2L, "w1")))
  }

  test("TIMECAPSULE CSN form orders by csn alone; delete tombstones win") {
    tcFixture()
    val r = spark.sql(
      "SELECT k, val FROM stmt_log TIMECAPSULE CSN 4 ORDER BY k").collect()
    // csn<=4: k=1 at v2, k=2 deleted (csn 4 tombstone), k=3 unborn
    assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((1L, "v2")))
  }

  test("TIMECAPSULE TABLE ... TO TIMESTAMP rewinds the log view") {
    tcFixture()
    spark.sql("TIMECAPSULE TABLE stmt_log TO TIMESTAMP 250")
    assert(spark.table("stmt_log").count() == 3) // versions at ts<=250
    // the rewound log still answers TIMECAPSULE queries
    val r = spark.sql(
      "SELECT k FROM stmt_log TIMECAPSULE CSN 99 ORDER BY k")
      .as[Long].collect().toSeq
    assert(r == Seq(1L, 2L))
  }

  test("TIMECAPSULE TABLE ... TO CSN rewinds by sequence number") {
    tcFixture()
    spark.sql("TIMECAPSULE TABLE stmt_log TO CSN 3")
    assert(spark.table("stmt_log").count() == 3) // csn 1..3 survive
    val r = spark.sql("SELECT k, val FROM stmt_log TIMECAPSULE CSN 99 ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(r == Seq((1L, "v2"), (2L, "w1"))) // the csn-4 tombstone is gone
  }

  test("MERGE accepts a parenthesized subquery source") {
    mergeFixture()
    spark.sql(
      """MERGE INTO stmt_tgt t
        |USING (SELECT k, bal FROM stmt_src WHERE op = 'U') s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET bal = s.bal * 2""".stripMargin)
    val out = spark.table("stmt_tgt").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b", 44.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  // ---- CREATE MODEL / PREDICT BY / DROP MODEL ----

  private def mlFixture(): Unit = {
    val df = spark.range(200).selectExpr("id",
      "CAST(id % 13 AS BIGINT) AS x1", "CAST(id % 7 AS BIGINT) AS x2",
      "CAST(3 * (id % 13) + 2 * (id % 7) + 5 AS BIGINT) AS y")
    df.createOrReplaceTempView("stmt_pts")
  }

  test("CREATE MODEL linear_regression + PREDICT BY recovers the plane") {
    mlFixture()
    spark.sql("CREATE MODEL stmt_lin USING linear_regression " +
      "FEATURES x1, x2 TARGET y FROM stmt_pts")
    val m = ModelCatalog.get("stmt_lin")
      .asInstanceOf[ModelCatalog.LinearModel]
    assert(math.abs(m.weights(0) - 5.0) < 1e-9)
    assert(math.abs(m.weights(1) - 3.0) < 1e-9)
    assert(math.abs(m.weights(2) - 2.0) < 1e-9)
    val bad = spark.sql(
      """SELECT max(abs(PREDICT BY stmt_lin (FEATURES x1, x2) - y)) AS e
        |FROM stmt_pts""".stripMargin).as[Double].head()
    assert(bad < 1e-8)
    // and PREDICT BY equals the direct ModelStore column
    val viaSql = spark.sql(
      "SELECT PREDICT BY stmt_lin (FEATURES x1, x2) AS p FROM stmt_pts ORDER BY id")
      .as[Double].collect().toSeq
    val direct = spark.table("stmt_pts").orderBy("id")
      .select(graft.operators.ModelStore.predictLinear(m.weights,
        Seq(col("x1"), col("x2"))).as("p")).as[Double].collect().toSeq
    assert(viaSql == direct)
  }

  test("CREATE MODEL logistic_regression matches the shared GD chain") {
    mlFixture()
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW stmt_cls AS " +
      "SELECT x1, x2, CASE WHEN x1 + x2 > 9 THEN 1 ELSE 0 END AS y FROM stmt_pts")
    spark.sql("CREATE MODEL stmt_log USING logistic_regression " +
      "FEATURES x1, x2 TARGET y FROM stmt_cls " +
      "WITH (max_iterations = 3, learning_rate = 0.5)")
    val m = ModelCatalog.get("stmt_log").asInstanceOf[ModelCatalog.LinearModel]
    // the chain, run directly over the same pts view
    spark.table("stmt_cls").selectExpr("CAST(x1 AS DOUBLE) AS x1",
      "CAST(x2 AS DOUBLE) AS x2", "y").createOrReplaceTempView("pts")
    val w = spark.sql(Ml.logregrSql(3, 0.5)).collect()(0)
    assert(m.weights.toSeq == Seq(w.getDouble(0), w.getDouble(1), w.getDouble(2)))
    assert(m.classify)
    // PREDICT BY emits the thresholded class
    val classes = spark.sql(
      "SELECT DISTINCT PREDICT BY stmt_log (FEATURES x1, x2) FROM stmt_cls")
      .as[Int].collect().toSet
    assert(classes.subsetOf(Set(0, 1)))
  }

  test("CREATE MODEL kmeans (no TARGET) + PREDICT BY matches the engine") {
    mlFixture()
    spark.sql("CREATE MODEL stmt_km USING kmeans FEATURES x1, x2 " +
      "FROM stmt_pts WITH (k = 3, max_iterations = 2)")
    val m = ModelCatalog.get("stmt_km").asInstanceOf[ModelCatalog.KmeansModel]
    assert(m.cents.length == 3 && m.counts.values.sum == 200)
    val viaSql = spark.sql(
      "SELECT PREDICT BY stmt_km (FEATURES x1, x2) AS cl FROM stmt_pts ORDER BY id")
      .as[Int].collect().toSeq
    val direct = spark.table("stmt_pts").orderBy("id")
      .select(graft.operators.ModelStore.predictKmeans(m.cents,
        col("x1"), col("x2")).as("cl")).as[Int].collect().toSeq
    assert(viaSql == direct)
    // EXPLAIN MODEL renders the centroid relation with training sizes
    val exp = spark.sql("EXPLAIN MODEL stmt_km").orderBy("cluster").collect()
    assert(exp.length == 3 && exp.map(_.getLong(4)).sum == 200L)
    // a supervised algorithm without TARGET, and kmeans WITH one, error
    val e1 = intercept[Exception](spark.sql(
      "CREATE MODEL bad USING linear_regression FEATURES x1, x2 FROM stmt_pts"))
    assert(e1.getMessage.contains("TARGET"))
    val e2 = intercept[Exception](spark.sql(
      "CREATE MODEL bad USING kmeans FEATURES x1, x2 TARGET y FROM stmt_pts"))
    assert(e2.getMessage.contains("unsupervised"))
    spark.sql("DROP MODEL stmt_km")
  }

  test("model statement errors: unknown model/algo, arity, hyperparams") {
    mlFixture()
    val e1 = intercept[Exception](spark.sql(
      "SELECT PREDICT BY no_such_model (FEATURES x1) FROM stmt_pts"))
    assert(e1.getMessage.contains("does not exist"))
    val e2 = intercept[Exception](spark.sql(
      "CREATE MODEL m USING random_forest FEATURES x1, x2 TARGET y FROM stmt_pts"))
    assert(e2.getMessage.contains("random_forest"))
    val e3 = intercept[Exception](spark.sql(
      "CREATE MODEL m USING logistic_regression FEATURES x1, x2 TARGET y " +
        "FROM stmt_pts WITH (depth = 3)"))
    assert(e3.getMessage.contains("depth"))
    spark.sql("CREATE MODEL stmt_tmp USING linear_regression " +
      "FEATURES x1, x2 TARGET y FROM stmt_pts")
    val e4 = intercept[Exception](spark.sql(
      "SELECT PREDICT BY stmt_tmp (FEATURES x1) FROM stmt_pts"))
    assert(e4.getMessage.contains("features"))
    spark.sql("DROP MODEL stmt_tmp")
    val e5 = intercept[Exception](spark.sql("DROP MODEL stmt_tmp"))
    assert(e5.getMessage.contains("does not exist"))
    spark.sql("DROP MODEL IF EXISTS stmt_tmp") // no throw
  }

  // ---- EXPLAIN MODEL ----

  test("EXPLAIN MODEL renders the trained relation with feature texts") {
    mlFixture()
    spark.sql("CREATE MODEL stmt_exp USING linear_regression " +
      "FEATURES x1, x2 TARGET y FROM stmt_pts")
    val r = spark.sql("EXPLAIN MODEL stmt_exp").orderBy("idx").collect()
    assert(r.map(_.getString(2)).toSeq == Seq("intercept", "x1", "x2"))
    assert(math.abs(r(1).getDouble(3) - 3.0) < 1e-9)
    assert(r.forall(_.getString(0) == "stmt_exp"))
    spark.sql("DROP MODEL stmt_exp")
  }

  // ---- CREATE / REFRESH / DROP MATERIALIZED VIEW ----

  test("INCREMENTAL MATERIALIZED VIEW refreshes from the mlog delta " +
      "and matches Matview.applyDelta") {
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L)).toDF("k", "v")
      .createOrReplaceTempView("stmt_base")
    spark.sql("CREATE INCREMENTAL MATERIALIZED VIEW stmt_mv AS " +
      "SELECT k, count(*) AS n, sum(v) AS s FROM stmt_base GROUP BY k")
    assert(spark.table("stmt_mv").count() == 3)
    // delta: insert (2, 8), delete one (1, 10), delete ALL of k=3
    val delta = Seq((2L, 8L, 1), (1L, 10L, -1), (3L, 7L, -1))
      .toDF("k", "s", "op")
    delta.createOrReplaceTempView("mlog_stmt_mv")
    spark.sql("REFRESH INCREMENTAL MATERIALIZED VIEW stmt_mv")
    val got = spark.table("stmt_mv").orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    val want = graft.operators.Matview.applyDelta(
        spark.table("stmt_base").groupBy("k")
          .agg(count(lit(1)).as("n"), sum("v").as("s")),
        delta.withColumnRenamed("s", "s"), Seq("k"), "n", Seq("s"), "op")
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got == Seq((1L, 1L, 20L), (2L, 2L, 13L))) // k=3 dropped at zero
    // the mlog is CONSUMED by the refresh
    assert(!spark.catalog.tableExists("mlog_stmt_mv"))
    spark.sql("DROP MATERIALIZED VIEW stmt_mv")
    assert(!spark.catalog.tableExists("stmt_mv"))
    spark.sql("DROP MATERIALIZED VIEW IF EXISTS stmt_mv") // no throw
  }

  test("plain REFRESH re-runs the definition; matview shape errors") {
    Seq((1L, 10L)).toDF("k", "v").createOrReplaceTempView("stmt_base2")
    spark.sql("CREATE MATERIALIZED VIEW stmt_mv2 AS " +
      "SELECT k, count(*) AS n FROM stmt_base2 GROUP BY k")
    // the matview is a SNAPSHOT: base changes don't show until REFRESH
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("stmt_base2")
    assert(spark.table("stmt_mv2").count() == 1)
    spark.sql("REFRESH MATERIALIZED VIEW stmt_mv2")
    assert(spark.table("stmt_mv2").count() == 2)
    // INCREMENTAL refresh of a non-incremental view is rejected
    val e1 = intercept[Exception](spark.sql(
      "REFRESH INCREMENTAL MATERIALIZED VIEW stmt_mv2"))
    assert(e1.getMessage.contains("INCREMENTAL"))
    spark.sql("DROP MATERIALIZED VIEW stmt_mv2")
    // IVM needs GROUP BY + count(*)
    val e2 = intercept[Exception](spark.sql(
      "CREATE INCREMENTAL MATERIALIZED VIEW bad_mv AS SELECT k FROM stmt_base2"))
    assert(e2.getMessage.contains("GROUP BY"))
    val e3 = intercept[Exception](spark.sql(
      "CREATE INCREMENTAL MATERIALIZED VIEW bad_mv AS " +
        "SELECT k, sum(v) AS s FROM stmt_base2 GROUP BY k"))
    assert(e3.getMessage.contains("count(*)"))
  }

  // ---- COPY ----

  test("COPY TO / COPY FROM round-trips through file_fdw options") {
    val dirF = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stmt-copy-${ProcessHandle.current().pid()}")
    Sessions.rmTree(dirF); dirF.mkdirs()
    val p = new java.io.File(dirF, "out").getPath
    try {
      Seq((1L, "ab,c", 1.5), (2L, null.asInstanceOf[String], -2.25),
        (3L, "x'y\"z", 0.0))
        .toDF("k", "s", "v").createOrReplaceTempView("stmt_cp_src")
      spark.sql(s"COPY (SELECT * FROM stmt_cp_src) TO '$p' " +
        "WITH (FORMAT csv, HEADER, ENCODING 'GB18030')")
      // target view declares the schema; COPY FROM APPENDS
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW stmt_cp_tgt AS " +
        "SELECT * FROM stmt_cp_src WHERE 1 = 0")
      spark.sql(s"COPY stmt_cp_tgt FROM '$p' " +
        "WITH (FORMAT csv, HEADER, ENCODING 'GB18030')")
      val got = spark.table("stmt_cp_tgt").orderBy("k")
        .as[(Long, Option[String], Double)].collect().toSeq
      assert(got == Seq((1L, Some("ab,c"), 1.5), (2L, None, -2.25),
        (3L, Some("x'y\"z"), 0.0)))
      // append semantics: a second COPY FROM doubles the rows
      spark.sql(s"COPY stmt_cp_tgt FROM '$p' WITH (FORMAT csv, HEADER, " +
        "ENCODING 'GB18030')")
      assert(spark.table("stmt_cp_tgt").count() == 6)
      // column-list COPY FROM: unlisted columns arrive NULL
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW stmt_cp_t2 AS " +
        "SELECT k, v, s FROM stmt_cp_src WHERE 1 = 0")
      val p2 = new java.io.File(dirF, "out2").getPath
      spark.sql(s"COPY stmt_cp_src (k) TO '$p2' WITH (FORMAT csv)")
      spark.sql(s"COPY stmt_cp_t2 (k) FROM '$p2' WITH (FORMAT csv)")
      val t2 = spark.table("stmt_cp_t2").orderBy("k").collect()
      assert(t2.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(t2.forall(r => r.isNullAt(1) && r.isNullAt(2)))
      val e = intercept[Exception](spark.sql(
        s"COPY stmt_cp_tgt FROM '$p' WITH (COMPRESSION gzip)"))
      assert(e.getMessage.contains("COPY option"))
    } finally Sessions.rmTree(dirF)
  }

  test("COPY TEXT format: tab delimiter, backslash-N nulls, no quoting") {
    val dirF = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stmt-copytext-${ProcessHandle.current().pid()}")
    Sessions.rmTree(dirF); dirF.mkdirs()
    val p = new java.io.File(dirF, "t").getPath
    try {
      Seq((1L, "plain"), (2L, null.asInstanceOf[String]))
        .toDF("k", "s").createOrReplaceTempView("stmt_cpt_src")
      spark.sql(s"COPY stmt_cpt_src TO '$p' (FORMAT text)")
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW stmt_cpt_tgt AS " +
        "SELECT * FROM stmt_cpt_src WHERE 1 = 0")
      spark.sql(s"COPY stmt_cpt_tgt FROM '$p' (FORMAT text)")
      val got = spark.table("stmt_cpt_tgt").orderBy("k")
        .as[(Long, Option[String])].collect().toSeq
      assert(got == Seq((1L, Some("plain")), (2L, None)))
      // the on-disk form really is TEXT format: tab-separated, \N null
      val part = Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".csv"))
      val lines = part.flatMap(f =>
        scala.io.Source.fromFile(f).getLines().toList).sorted
      assert(lines.exists(_ == "1\tplain"))
      assert(lines.exists(_ == "2\t\\N"))
    } finally Sessions.rmTree(dirF)
  }

  test("INCREMENTAL matview with several sum columns and composite keys") {
    Seq(("a", 1L, 10L, 100L), ("a", 1L, 20L, 200L), ("b", 2L, 5L, 50L))
      .toDF("g1", "g2", "v", "w").createOrReplaceTempView("stmt_base3")
    spark.sql("CREATE INCREMENTAL MATERIALIZED VIEW stmt_mv3 AS " +
      "SELECT g1, g2, count(*) AS n, sum(v) AS sv, sum(w) AS sw " +
      "FROM stmt_base3 GROUP BY g1, g2")
    Seq(("a", 1L, 30L, 300L, 1), ("b", 2L, 5L, 50L, -1))
      .toDF("g1", "g2", "sv", "sw", "op")
      .createOrReplaceTempView("mlog_stmt_mv3")
    spark.sql("REFRESH INCREMENTAL MATERIALIZED VIEW stmt_mv3")
    val got = spark.table("stmt_mv3").orderBy("g1")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 3L, 60L, 600L))) // b-group count hit zero
    spark.sql("DROP MATERIALIZED VIEW stmt_mv3")
  }

  // ---- dblink ----

  test("dblink('url', 'query') ships SQL to the remote engine") {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stmt-derby-${ProcessHandle.current().pid()}")
    root.mkdirs()
    System.setProperty("derby.stream.error.file",
      new java.io.File(root, "derby.log").getPath)
    val url = s"jdbc:derby:${root.getPath}/db;create=true"
    try {
      graft.sources.JdbcSource.writeTable(
        Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v"), url, "T",
        Some("v VARCHAR(16)"))
      val r = spark.sql(
        s"""SELECT k, v FROM dblink('$url', 'SELECT "k", "v" FROM T WHERE "k" > 1')
           |ORDER BY k""".stripMargin).as[(Long, String)].collect().toSeq
      assert(r == Seq((2L, "y"), (3L, "z")))
    } finally Sessions.rmTree(root)
  }

  // ---- CREATE INDEX USING ivfflat/hnsw + the KNN access path ----

  private def idxFixture(): String = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.createOrReplaceTempView("stmt_emb")
    emb.select("embedding").head.getSeq[Float](0).mkString("[", ",", "]")
  }

  test("CREATE INDEX USING ivfflat routes the KNN idiom; full probe == exact") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_ivf ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 8)")
    def knn(): Seq[(Long, Double)] = spark.sql(
      s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS d
         |FROM stmt_emb ORDER BY embedding <-> '$q'::vector, vec_id
         |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
    val exact = spark.sql(
      s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS d
         |FROM stmt_emb ORDER BY embedding <-> '$q'::vector, vec_id
         |LIMIT 7""".stripMargin) // same text — routed; see below
    // full probe: index path must equal the exact scan bitwise
    spark.conf.set("graft.ivfflat.probes", "8")
    val full = knn()
    spark.sql("DROP INDEX stmt_ivf")
    val noIdx = knn() // no index: the untouched exact path
    assert(full == noIdx)
    // probes=1 equals the engine's own pruned search on the SAME model
    spark.sql("CREATE INDEX stmt_ivf ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 8)")
    spark.conf.set("graft.ivfflat.probes", "1")
    val pruned = knn()
    assert(pruned.size == 7)
    assert(pruned.map(_._2) == pruned.map(_._2).sorted)
    // pruned results are a subset of the corpus and superset-safe:
    // every pruned hit at distance d must appear in exact results
    // whenever d <= exact max (probe pruning never invents rows)
    val exactSet = noIdx.toMap
    pruned.filter { case (id, d) => exactSet.contains(id) }
      .foreach { case (id, d) => assert(exactSet(id) == d) }
    // plan shape: the routed statement keeps the shuffle-free bounded
    // heap (TakeOrderedAndProject, no Exchange) over the pruned scan
    spark.conf.set("graft.ivfflat.probes", "2")
    val plan = spark.sql(
      s"""SELECT vec_id FROM stmt_emb
         |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 7""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), plan)
    spark.sql("DROP INDEX stmt_ivf")
    spark.conf.unset("graft.ivfflat.probes")
    assert(exact != null)
  }

  test("CREATE INDEX USING hnsw routes through the clustered NSW graphs") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_hnsw ON stmt_emb USING hnsw " +
      "(embedding vector_l2_ops) WITH (m = 8, ef_construction = 48, lists = 4)")
    spark.conf.set("graft.hnsw.nprobe", "4") // all shards: candidates ⊇ true top
    val got = spark.sql(
      s"""SELECT vec_id FROM stmt_emb
         |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 5""".stripMargin)
      .as[Long].collect().toSeq
    assert(got.size == 5)
    spark.sql("DROP INDEX stmt_hnsw")
    val exact = spark.sql(
      s"""SELECT vec_id FROM stmt_emb
         |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 5""".stripMargin)
      .as[Long].collect().toSeq
    // full-shard beam + exact rerank over its top-k: high agreement by
    // construction (deterministic build; assert ≥ 4/5 overlap)
    assert(got.toSet.intersect(exact.toSet).size >= 4)
    spark.conf.unset("graft.hnsw.nprobe")
  }

  test("vector_cosine_ops index serves <=> (and only <=>); full probe == exact") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_cos ON stmt_emb USING ivfflat " +
      "(embedding vector_cosine_ops) WITH (lists = 8)")
    try {
      def cosKnn(): Seq[(Long, Double)] = spark.sql(
        s"""SELECT vec_id, round(embedding <=> '$q'::vector, 6) AS d
           |FROM stmt_emb ORDER BY embedding <=> '$q'::vector, vec_id
           |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
      spark.conf.set("graft.ivfflat.probes", "8")
      val viaIdx = cosKnn()
      spark.sql("DROP INDEX stmt_cos")
      val exact = cosKnn()
      assert(viaIdx == exact) // full probe: the routed path is exact
      // a cosine index must NOT serve the <-> idiom: with only the
      // cosine index registered, the L2 statement stays an exact scan
      spark.sql("CREATE INDEX stmt_cos ON stmt_emb USING ivfflat " +
        "(embedding vector_cosine_ops) WITH (lists = 8)")
      spark.conf.set("graft.ivfflat.probes", "1")
      val l2a = spark.sql(
        s"""SELECT vec_id FROM stmt_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 7""".stripMargin)
        .as[Long].collect().toSeq
      spark.sql("DROP INDEX stmt_cos")
      val l2b = spark.sql(
        s"""SELECT vec_id FROM stmt_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 7""".stripMargin)
        .as[Long].collect().toSeq
      assert(l2a == l2b) // untouched: opclass mismatch delegates
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_cos")
      ()
    }
  }

  test("vector_ip_ops index serves <#> (ivfflat, full probe == exact) " +
      "and only <#>") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_ip ON stmt_emb USING ivfflat " +
      "(embedding vector_ip_ops) WITH (lists = 8)")
    try {
      def ipKnn(): Seq[(Long, Double)] = spark.sql(
        s"""SELECT vec_id, round(embedding <#> '$q'::vector, 6) AS d
           |FROM stmt_emb ORDER BY embedding <#> '$q'::vector, vec_id
           |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
      spark.conf.set("graft.ivfflat.probes", "8")
      val viaIdx = ipKnn()
      spark.sql("DROP INDEX stmt_ip")
      val exact = ipKnn()
      assert(viaIdx == exact) // MIPS→L2 augmentation + full probe: exact
      // the ip index must NOT serve <-> (opclass strictness)
      spark.sql("CREATE INDEX stmt_ip ON stmt_emb USING ivfflat " +
        "(embedding vector_ip_ops) WITH (lists = 8)")
      val routed = PgStatements.route(graft.plans.PgSqlRewrite.rewrite(
        s"SELECT vec_id FROM stmt_emb ORDER BY embedding <-> '$q'::vector LIMIT 5"))
      assert(routed.isEmpty, "<-> must not ride a vector_ip_ops index")
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_ip")
      ()
    }
  }

  test("hnsw vector_cosine_ops / vector_ip_ops / vector_l1_ops route " +
      "with high recall vs the exact scan") {
    val q = idxFixture()
    val cases = Seq(
      ("stmt_hc", "vector_cosine_ops", "<=>"),
      ("stmt_hi", "vector_ip_ops", "<#>"),
      ("stmt_hl", "vector_l1_ops", "<+>"))
    try {
      spark.conf.set("graft.hnsw.nprobe", "4") // all shards
      cases.foreach { case (idxName, opclass, op) =>
        spark.sql(s"CREATE INDEX $idxName ON stmt_emb USING hnsw " +
          s"(embedding $opclass) WITH (m = 8, ef_construction = 48, lists = 4)")
        def knn(): Seq[Long] = spark.sql(
          s"""SELECT vec_id FROM stmt_emb
             |ORDER BY embedding $op '$q'::vector, vec_id LIMIT 5""".stripMargin)
          .as[Long].collect().toSeq
        val got = knn()
        spark.sql(s"DROP INDEX $idxName")
        val exact = knn()
        assert(got.size == 5, s"$opclass returned ${got.size} rows")
        assert(got.toSet.intersect(exact.toSet).size >= 4,
          s"$opclass recall too low: $got vs $exact")
      }
    } finally {
      spark.conf.unset("graft.hnsw.nprobe")
      cases.foreach { case (n, _, _) => spark.sql(s"DROP INDEX IF EXISTS $n") }
      ()
    }
  }

  test("halfvec_l2_ops stores packed fp16 postings; full probe == exact") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.select(col("vec_id"), VF.halfvec(col("embedding")).as("hv"))
      .createOrReplaceTempView("stmt_hvemb")
    val q = spark.table("stmt_hvemb").filter(col("vec_id") === 0)
      .select("hv").head.getSeq[Float](0).mkString("[", ",", "]")
    spark.sql("CREATE INDEX stmt_hv ON stmt_hvemb USING ivfflat " +
      "(hv halfvec_l2_ops) WITH (lists = 8)")
    try {
      def knn(): Seq[(Long, Double)] = spark.sql(
        s"""SELECT vec_id, round(hv <-> '$q'::halfvec, 6) AS d
           |FROM stmt_hvemb ORDER BY hv <-> '$q'::halfvec, vec_id
           |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
      spark.conf.set("graft.ivfflat.probes", "8")
      val viaIdx = knn()
      spark.sql("DROP INDEX stmt_hv")
      val exact = knn()
      assert(viaIdx == exact) // fp16 grid values survive pack/unpack bitwise
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_hv")
      ()
    }
  }

  test("bit_hamming_ops serves <~> through the IvfBit tier; full probe == exact") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.select(col("vec_id"), VF.binaryQuantize(col("embedding")).as("code"))
      .createOrReplaceTempView("stmt_bitemb")
    val q = idxFixture() // dense literal; quantized on both sides below
    spark.sql("CREATE INDEX stmt_bit ON stmt_bitemb USING ivfflat " +
      "(code bit_hamming_ops) WITH (lists = 8)")
    try {
      def knn(): Seq[(Long, Long)] = spark.sql(
        s"""SELECT vec_id, CAST(code <~> binary_quantize('$q'::vector) AS BIGINT) AS d
           |FROM stmt_bitemb
           |ORDER BY code <~> binary_quantize('$q'::vector), vec_id
           |LIMIT 7""".stripMargin).as[(Long, Long)].collect().toSeq
      spark.conf.set("graft.ivfflat.probes", "8")
      val viaIdx = knn()
      spark.sql("DROP INDEX stmt_bit")
      val exact = knn()
      assert(viaIdx == exact)
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_bit")
      ()
    }
  }

  test("sparsevec_l2_ops rides the dense-proxy quantizer; full probe == exact") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.select(col("vec_id"), VF.toSparse(col("embedding")).as("sv"))
      .createOrReplaceTempView("stmt_spemb")
    val qTxt = spark.table("stmt_spemb").filter(col("vec_id") === 0)
      .select(VF.sparsevecToString(col("sv.indices"), col("sv.values"),
        col("sv.dim"))).head.getString(0)
    spark.sql("CREATE INDEX stmt_sp ON stmt_spemb USING ivfflat " +
      "(sv sparsevec_l2_ops) WITH (lists = 8)")
    try {
      def knn(): Seq[(Long, Double)] = spark.sql(
        s"""SELECT vec_id, round(sv <-> '$qTxt'::sparsevec, 6) AS d
           |FROM stmt_spemb ORDER BY sv <-> '$qTxt'::sparsevec, vec_id
           |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
      spark.conf.set("graft.ivfflat.probes", "8")
      val viaIdx = knn()
      spark.sql("DROP INDEX stmt_sp")
      val exact = knn()
      assert(viaIdx == exact)
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_sp")
      ()
    }
  }

  test("the reference's remaining opclass matrix routes — sparse/bit " +
      "hnsw spellings, halfvec ip/cosine/l1 — full probe == exact") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // sparsevec: the reference's ONLY sparse spelling is USING hnsw
    // (datavec sql 0.7.2:939-963) — all four operators
    emb.select(col("vec_id"), VF.toSparse(col("embedding")).as("sv"))
      .createOrReplaceTempView("stmt_spm_emb")
    val qTxt = spark.table("stmt_spm_emb").filter(col("vec_id") === 0)
      .select(VF.sparsevecToString(col("sv.indices"), col("sv.values"),
        col("sv.dim"))).head.getString(0)
    Seq(("sparsevec_l2_ops", "<->"), ("sparsevec_ip_ops", "<#>"),
        ("sparsevec_cosine_ops", "<=>"), ("sparsevec_l1_ops", "<+>"))
      .foreach { case (opclass, op) =>
        spark.sql("CREATE INDEX stmt_spm ON stmt_spm_emb USING hnsw " +
          s"(sv $opclass) WITH (m = 8, ef_construction = 48, lists = 8)")
        try {
          def knn(): Seq[(Long, Double)] = spark.sql(
            s"""SELECT vec_id, round(sv $op '$qTxt'::sparsevec, 6) AS d
               |FROM stmt_spm_emb ORDER BY sv $op '$qTxt'::sparsevec, vec_id
               |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
          spark.conf.set("graft.ivfflat.probes", "8")
          val routed = knn()
          spark.sql("DROP INDEX stmt_spm")
          val exact = knn()
          assert(routed == exact, s"$opclass full probe diverged")
        } finally {
          spark.conf.unset("graft.ivfflat.probes")
          spark.sql("DROP INDEX IF EXISTS stmt_spm")
          ()
        }
      }
    // bit: hnsw hamming + jaccard spellings over packed codes
    emb.select(col("vec_id"), VF.binaryQuantize(col("embedding")).as("code"))
      .createOrReplaceTempView("stmt_bm_emb")
    val qd = emb.select("embedding").head.getSeq[Float](0)
      .mkString("[", ",", "]")
    Seq(("bit_hamming_ops", "<~>"), ("bit_jaccard_ops", "<%>"))
      .foreach { case (opclass, op) =>
        spark.sql("CREATE INDEX stmt_bm ON stmt_bm_emb USING hnsw " +
          s"(code $opclass) WITH (m = 8, lists = 8)")
        try {
          def knn(): Seq[(Long, Double)] = spark.sql(
            s"""SELECT vec_id,
               |  round(CAST(code $op binary_quantize('$qd'::vector) AS DOUBLE), 6) AS d
               |FROM stmt_bm_emb
               |ORDER BY code $op binary_quantize('$qd'::vector), vec_id
               |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
          spark.conf.set("hnsw.nprobe", "8") // the hnsw-spelled knob
          val routed = knn()
          spark.sql("DROP INDEX stmt_bm")
          val exact = knn()
          assert(routed == exact, s"$opclass full probe diverged")
        } finally {
          spark.conf.unset("hnsw.nprobe")
          spark.sql("DROP INDEX IF EXISTS stmt_bm")
          ()
        }
      }
    // halfvec: ip + cosine on the packed ivfflat tier, l1 on hnsw
    emb.select(col("vec_id"), VF.halfvec(col("embedding")).as("hv"))
      .createOrReplaceTempView("stmt_hm_emb")
    val qh = spark.table("stmt_hm_emb").filter(col("vec_id") === 0)
      .select("hv").head.getSeq[Float](0).mkString("[", ",", "]")
    Seq(("ivfflat", "halfvec_ip_ops", "<#>", "8"),
        ("ivfflat", "halfvec_cosine_ops", "<=>", "8"))
      .foreach { case (method, opclass, op, probes) =>
        spark.sql(s"CREATE INDEX stmt_hm ON stmt_hm_emb USING $method " +
          s"(hv $opclass) WITH (lists = 8)")
        try {
          def knn(): Seq[(Long, Double)] = spark.sql(
            s"""SELECT vec_id, round(hv $op '$qh'::halfvec, 6) AS d
               |FROM stmt_hm_emb ORDER BY hv $op '$qh'::halfvec, vec_id
               |LIMIT 7""".stripMargin).as[(Long, Double)].collect().toSeq
          spark.conf.set("graft.ivfflat.probes", probes)
          val routed = knn()
          spark.sql("DROP INDEX stmt_hm")
          val exact = knn()
          assert(routed == exact, s"$opclass full probe diverged")
        } finally {
          spark.conf.unset("graft.ivfflat.probes")
          spark.sql("DROP INDEX IF EXISTS stmt_hm")
          ()
        }
      }
    // halfvec l1 rides the native-L1 hnsw beams: recall-gated
    spark.sql("CREATE INDEX stmt_hl1 ON stmt_hm_emb USING hnsw " +
      "(hv halfvec_l1_ops) WITH (m = 8, ef_construction = 48, lists = 4)")
    try {
      spark.conf.set("graft.hnsw.nprobe", "4")
      def knn(): Seq[Long] = spark.sql(
        s"""SELECT vec_id FROM stmt_hm_emb
           |ORDER BY hv <+> '$qh'::halfvec, vec_id LIMIT 5""".stripMargin)
        .as[Long].collect().toSeq
      val routed = knn()
      spark.sql("DROP INDEX stmt_hl1")
      val exact = knn()
      assert(routed.toSet.intersect(exact.toSet).size >= 4)
    } finally {
      spark.conf.unset("graft.hnsw.nprobe")
      spark.sql("DROP INDEX IF EXISTS stmt_hl1")
      ()
    }
  }

  test("the SQL-built IVF index prunes list partitions AT THE READER " +
      "(PartitionFilters) and probes=1 provably consults the index") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_pf ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 8)")
    try {
      spark.conf.set("graft.ivfflat.probes", "2")
      val df = spark.sql(
        s"""SELECT vec_id FROM stmt_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 7""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      // the routed FROM is the partitionBy(list_id) parquet: the probe
      // isin must surface as PartitionFilters on the scan (B15's
      // assertion, now on the SQL path), and the scan must be the
      // index directory, proving the index was consulted (the r17
      // cosine bug passed all full-probe tests without ever routing)
      assert(plan.contains("PartitionFilters"), plan)
      assert(plan.contains("list_id"), plan)
      assert(plan.contains("_graft_vindex"), plan)
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_pf")
      ()
    }
  }

  test("SET ivfflat.probes — the reference GUC spelling — drives the knob") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_guc ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 8)")
    try {
      // Spark's native SET lands the GUC in the session conf verbatim
      spark.sql("SET ivfflat.probes = 8") // full probe via the PG spelling
      val viaGuc = spark.sql(
        s"""SELECT vec_id FROM stmt_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 7""".stripMargin)
        .as[Long].collect().toSeq
      spark.sql("DROP INDEX stmt_guc")
      val exact = spark.sql(
        s"""SELECT vec_id FROM stmt_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 7""".stripMargin)
        .as[Long].collect().toSeq
      assert(viaGuc == exact)
    } finally {
      spark.conf.unset("ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_guc")
      ()
    }
  }

  test("CREATE INDEX delegates non-vector methods and bad opclasses error") {
    // btree → not ours: Spark's own (unsupported) path raises ITS error
    val e1 = intercept[Exception](spark.sql(
      "CREATE INDEX i ON stmt_emb USING btree (vec_id)"))
    assert(!e1.getMessage.contains("graft:"))
    val e2 = intercept[Exception](spark.sql(
      "CREATE INDEX i ON stmt_emb USING ivfflat (embedding vector_foo_ops)"))
    assert(e2.getMessage.contains("opclass"))
    val e3 = intercept[Exception](spark.sql(
      "CREATE INDEX i ON stmt_emb USING ivfflat (embedding vector_l2_ops) " +
        "WITH (probes = 3)"))
    assert(e3.getMessage.contains("lists"))
    val e4 = intercept[Exception](spark.sql(
      "CREATE INDEX i ON stmt_emb USING hnsw (embedding halfvec_foo_ops)"))
    assert(e4.getMessage.contains("opclass"))
  }

  test("cosine KNN statements pass the route pre-gate (r17 regression)") {
    val q = idxFixture()
    // the statement contains NO other trigger word — only the
    // rewritten <=> spelling can reach knnThroughIndex
    val stmt = s"SELECT vec_id FROM stmt_emb " +
      s"ORDER BY embedding <=> '$q'::vector, vec_id LIMIT 5"
    spark.sql("CREATE INDEX stmt_gate_cos ON stmt_emb USING ivfflat " +
      "(embedding vector_cosine_ops) WITH (lists = 8)")
    try {
      spark.conf.set("graft.ivfflat.probes", "1")
      val routed = PgStatements.route(graft.plans.PgSqlRewrite.rewrite(stmt))
      assert(routed.isDefined, "cosine statement must route through the index")
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX stmt_gate_cos")
      ()
    }
  }

  test("DML through the router invalidates a stale vector index") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.createOrReplaceTempView("stmt_dml_emb")
    val q = emb.select("embedding").head.getSeq[Float](0)
      .mkString("[", ",", "]")
    spark.sql("CREATE INDEX stmt_dml_ivf ON stmt_dml_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      // MERGE deletes the nearest row (vec_id 0 — the query itself)
      Seq(0L).toDF("vec_id").createOrReplaceTempView("stmt_dml_del")
      spark.sql(
        """MERGE INTO stmt_dml_emb t USING stmt_dml_del s
          |ON t.vec_id = s.vec_id WHEN MATCHED THEN DELETE""".stripMargin)
      spark.conf.set("graft.ivfflat.probes", "1")
      val got = spark.sql(
        s"""SELECT vec_id FROM stmt_dml_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3""".stripMargin)
        .as[Long].collect().toSeq
      // a stale index would still serve vec_id 0 from pre-merge postings
      assert(!got.contains(0L), s"stale index served deleted row: $got")
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_dml_ivf")
      ()
    }
  }

  test("PREPARE / EXECUTE / DEALLOCATE: positional $n substitution, " +
      "routed-statement composition, literal opacity") {
    dmlFixture()
    spark.sql("PREPARE stmt_pq (BIGINT) AS " +
      "SELECT k, bal FROM stmt_upd WHERE k % $1 = 0 ORDER BY k")
    val got = spark.sql("EXECUTE stmt_pq (2)")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 20.0), (4L, 40.0)))
    // different argument, same plan text
    assert(spark.sql("EXECUTE stmt_pq (3)").as[(Long, Double)]
      .collect().toSeq == Seq((3L, 30.0)))
    // a prepared ROUTED statement (UPDATE) executes through the full
    // pipeline — the second rewrite pass is a no-op (idempotence)
    spark.sql("PREPARE stmt_pu AS UPDATE stmt_upd SET bal = bal + $1 " +
      "WHERE k = $2")
    spark.sql("EXECUTE stmt_pu (5.0, 1)")
    assert(spark.table("stmt_upd").filter(col("k") === 1L)
      .head().getDouble(2) == 15.0)
    // '$1' inside a string literal never substitutes
    spark.sql("PREPARE stmt_ps AS SELECT '$1 costs $2' AS s, $1 AS v")
    val r = spark.sql("EXECUTE stmt_ps (7)").head()
    assert(r.getString(0) == "$1 costs $2" && r.getInt(1) == 7)
    // arg-count error, DEALLOCATE lifecycle
    val e1 = intercept[Exception](spark.sql("EXECUTE stmt_pq ()"))
    assert(e1.getMessage.contains("parameter"))
    spark.sql("DEALLOCATE stmt_pq")
    val e2 = intercept[Exception](spark.sql("EXECUTE stmt_pq (2)"))
    assert(!e2.getMessage.contains("graft:")) // unknown: Spark's error
    spark.sql("DEALLOCATE PREPARE ALL") // no throw
  }

  test("ANALYZE returns the pg_stats-shaped relation per column") {
    Seq((1L, Some("a"), 1.0), (2L, None, 1.0), (3L, Some("a"), 2.0),
      (2L, Some("b"), 1.0))
      .toDF("k", "s", "v").createOrReplaceTempView("stmt_an")
    val got = spark.sql("ANALYZE stmt_an").orderBy("column_name")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("k", 4L, 3L, 0L), ("s", 4L, 2L, 1L), ("v", 4L, 2L, 0L)))
    // column list + VERBOSE + the ANALYSE spelling
    val one = spark.sql("ANALYSE VERBOSE stmt_an (s)")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(one == Seq(("s", 4L, 2L, 1L)))
    // Spark's own ANALYZE TABLE grammar delegates untouched
    val e = intercept[Exception](spark.sql(
      "ANALYZE TABLE stmt_an COMPUTE STATISTICS"))
    assert(!e.getMessage.contains("graft:")) // temp view: Spark's error
    val e2 = intercept[Exception](spark.sql("ANALYZE stmt_an (nope)"))
    assert(e2.getMessage.contains("nope"))
    // the 100 TB knob: a seeded sample makes stats estimates (PG's own
    // sampling posture); bounded by the exact counts, deterministic
    spark.conf.set("graft.analyze.fraction", "0.5")
    try {
      val s1 = spark.sql("ANALYZE stmt_an").orderBy("column_name").collect()
      val s2 = spark.sql("ANALYZE stmt_an").orderBy("column_name").collect()
      assert(s1.toSeq == s2.toSeq) // seeded: stable run-to-run
      assert(s1.forall(r => r.getLong(1) <= 4L && r.getLong(2) <= r.getLong(1)))
    } finally { spark.conf.unset("graft.analyze.fraction"); () }
  }

  test("REINDEX re-runs the saved DDL — the recovery path after " +
      "mutating DML invalidated an index") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.createOrReplaceTempView("stmt_ri_emb")
    val q = emb.select("embedding").head.getSeq[Float](0)
      .mkString("[", ",", "]")
    spark.sql("CREATE INDEX stmt_ri ON stmt_ri_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      // mutating DML invalidates the index...
      spark.sql("DELETE FROM stmt_ri_emb WHERE vec_id = 0")
      // ...REINDEX rebuilds it from the CURRENT rows
      spark.sql("REINDEX INDEX stmt_ri")
      spark.conf.set("graft.ivfflat.probes", "4") // full probe: exact
      val df = spark.sql(
        s"""SELECT vec_id FROM stmt_ri_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      val got = df.as[Long].collect().toSeq
      assert(!got.contains(0L)) // rebuilt over post-DELETE rows
      assert(plan.contains("_graft_vindex"), plan) // index consulted
      // TABLE form rebuilds everything on the table
      spark.sql("DELETE FROM stmt_ri_emb WHERE vec_id = 1")
      spark.sql("REINDEX TABLE stmt_ri_emb")
      val got2 = spark.sql(
        s"""SELECT vec_id FROM stmt_ri_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3""".stripMargin)
        .as[Long].collect().toSeq
      assert(!got2.contains(1L))
      // unknown names delegate to Spark's own error path
      val e = intercept[Exception](spark.sql("REINDEX INDEX no_such_idx"))
      assert(!e.getMessage.contains("graft:"))
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_ri")
      ()
    }
  }

  test("routed statements do not leak helper temp views across parses") {
    cbFixture()
    def viewCount(): Int = spark.catalog.listTables().count().toInt
    val stmt = "SELECT id_, LEVEL AS lvl FROM stmt_tree " +
      "START WITH parent_ = -1 CONNECT BY PRIOR id_ = parent_"
    spark.sql(stmt).collect() // warm: fixture views settled
    val before = viewCount()
    (1 to 3).foreach(_ => spark.sql(stmt).collect())
    assert(viewCount() == before, "CONNECT BY leaked helper views")
    // and the KNN access path
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_leak_ivf ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      val knn = s"SELECT vec_id FROM stmt_emb " +
        s"ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3"
      spark.sql(knn).collect()
      val b2 = viewCount()
      (1 to 3).foreach(_ => spark.sql(knn).collect())
      assert(viewCount() == b2, "KNN access path leaked helper views")
    } finally { spark.sql("DROP INDEX stmt_leak_ivf"); () }
  }

  // ---- splice/rewrite hygiene ----

  test("splicePredict is identity without PREDICT and never touches literals") {
    val plain = "SELECT 'PREDICT BY m (FEATURES x)' AS s FROM t WHERE a > 1"
    assert(PgStatements.splicePredict(plain) == plain)
    assert(PgStatements.splicePredict("SELECT 1") == "SELECT 1")
  }

  test("spliceSequences is identity without sequence calls, inside " +
      "literals, and on PREPARE bodies") {
    val plain = "SELECT a, b FROM t WHERE a > 1 ORDER BY b"
    assert(PgStatements.spliceSequences(plain) == plain)
    val lit = "SELECT 'use nextval(''s'') here' AS s FROM t"
    assert(PgStatements.spliceSequences(lit) == lit)
    val prep = "PREPARE p AS SELECT nextval('no_such_seq') AS v"
    assert(PgStatements.spliceSequences(prep) == prep) // deferred to EXECUTE
    // a column merely NAMED nextval_total (identifier, no call parens)
    // is untouched
    val named = "SELECT nextval_total, currval FROM t"
    assert(PgStatements.spliceSequences(named) == named)
  }

  test("route leaves ordinary statements alone") {
    assert(PgStatements.route("SELECT 1 AS connect_info").isEmpty)
    assert(PgStatements.route(
      "SELECT * FROM t WHERE note = 'merge into x'").isEmpty)
    assert(PgStatements.route(
      "WITH RECURSIVE r AS (SELECT 1 UNION ALL SELECT 2) SELECT * FROM r").isEmpty)
  }

  // ---- r19: ADVICE + verdict items ----

  test("UPDATE / MERGE SET to a nonexistent column raises (never a " +
      "silent no-op)") {
    dmlFixture()
    val e1 = intercept[Exception](spark.sql(
      "UPDATE stmt_upd SET typo_col = 1"))
    assert(e1.getMessage.contains("typo_col") &&
      e1.getMessage.contains("does not exist"))
    Seq((1L, 99.0)).toDF("k", "nb").createOrReplaceTempView("stmt_upd_s19")
    val e2 = intercept[Exception](spark.sql(
      """MERGE INTO stmt_upd t USING stmt_upd_s19 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET typo_col = s.nb""".stripMargin))
    assert(e2.getMessage.contains("typo_col"))
    val e3 = intercept[Exception](spark.sql(
      """MERGE INTO stmt_upd t USING stmt_upd_s19 s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (typo_col) VALUES (s.nb)""".stripMargin))
    assert(e3.getMessage.contains("typo_col"))
    // the failed statements left the view untouched
    assert(spark.table("stmt_upd").orderBy("k").as[(Long, String, Double)]
      .collect().toSeq.head == ((1L, "a", 10.0)))
  }

  test("PREPARE / EXECUTE / DEALLOCATE state is SESSION-scoped") {
    dmlFixture()
    spark.sql("DEALLOCATE PREPARE ALL")
    spark.sql("PREPARE stmt_sess AS SELECT k FROM stmt_upd WHERE k = $1")
    assert(spark.sql("EXECUTE stmt_sess (2)").as[Long].head() == 2L)
    val other = spark.newSession()
    // the other session neither sees the statement...
    val e = intercept[Exception](other.sql("EXECUTE stmt_sess (2)"))
    assert(!e.getMessage.contains("graft:")) // unknown → Spark's error
    // ...nor clears it with ITS DEALLOCATE ALL
    other.sql("PREPARE stmt_sess AS SELECT 42 AS v")
    other.sql("DEALLOCATE PREPARE ALL")
    assert(spark.sql("EXECUTE stmt_sess (3)").as[Long].head() == 3L)
    spark.sql("DEALLOCATE stmt_sess")
  }

  test("ANALYZE plans WITHOUT an Expand in both regimes (the C29 " +
      "Profile device; a wide multi-distinct aggregate replicates " +
      "every row (c+1)x through the shuffle)") {
    Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, Some("b"), 3.0))
      .toDF("k", "s", "v").createOrReplaceTempView("stmt_an19")
    val exact = spark.sql("ANALYZE stmt_an19")
      .queryExecution.executedPlan.toString
    assert(!exact.contains("Expand"),
      "exact ANALYZE must union per-column pruned branches, not Expand")
    spark.conf.set("graft.analyze.fraction", "0.9")
    try {
      val approx = spark.sql("ANALYZE stmt_an19")
        .queryExecution.executedPlan.toString
      assert(!approx.contains("Expand"),
        "estimate ANALYZE must be one approx_count_distinct pass")
    } finally { spark.conf.unset("graft.analyze.fraction"); () }
  }

  test("DML invalidation DELETES the orphaned index parquet directory") {
    val q = idxFixture()
    val root = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, "_graft_vindex")
    def dirs(): Set[String] =
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("stmt_orph")).map(_.getName).toSet
    spark.sql("CREATE INDEX stmt_orph ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    assert(dirs().nonEmpty, "index parquet dir was not created")
    spark.sql("DELETE FROM stmt_emb WHERE vec_id = 0") // invalidates
    assert(dirs().isEmpty,
      "invalidation must delete the persisted index parquet (ADVICE r18)")
    assert(q.nonEmpty)
  }

  test("bit_jaccard_ops indexes actually ROUTE <%> (non-vacuous: the " +
      "plan reads the pruned index parquet)") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.select(col("vec_id"), VF.binaryQuantize(col("embedding")).as("code"))
      .createOrReplaceTempView("stmt_jac_emb")
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_jac ON stmt_jac_emb USING hnsw " +
      "(code bit_jaccard_ops) WITH (lists = 8)")
    try {
      def knn() = spark.sql(
        s"""SELECT vec_id, round(code <%> binary_quantize('$q'::vector), 6) AS d
           |FROM stmt_jac_emb
           |ORDER BY code <%> binary_quantize('$q'::vector), vec_id
           |LIMIT 7""".stripMargin)
      spark.conf.set("graft.ivfflat.probes", "8")
      val routedDf = knn()
      // the route ENGAGED: the executed plan reads the partitioned
      // index parquet with a list_id partition filter — an exact-scan
      // fallback (the r18 bug: jaccard_distance missing from knnFns)
      // has neither
      val plan = routedDf.queryExecution.executedPlan.toString
      assert(plan.contains("_graft_vindex"), plan)
      assert(plan.contains("PartitionFilters"), plan)
      val routed = routedDf.as[(Long, Double)].collect().toSeq
      spark.sql("DROP INDEX stmt_jac")
      val exact = knn().as[(Long, Double)].collect().toSeq
      assert(routed == exact, "full probe must equal the exact scan")
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_jac")
      ()
    }
  }

  test("sequences: CREATE/ALTER/DROP SEQUENCE + nextval/currval/" +
      "setval/lastval splice as session counters") {
    spark.sql("DROP SEQUENCE IF EXISTS stmt_seq")
    spark.sql("CREATE SEQUENCE stmt_seq START WITH 5 INCREMENT BY 3")
    assert(spark.sql("SELECT nextval('stmt_seq') AS v").as[Long].head() == 5L)
    assert(spark.sql("SELECT nextval('stmt_seq') AS v").as[Long].head() == 8L)
    assert(spark.sql("SELECT currval('stmt_seq') AS v").as[Long].head() == 8L)
    assert(spark.sql("SELECT lastval() AS v").as[Long].head() == 8L)
    // setval: is_called=true default (next = v + inc); false (next = v)
    assert(spark.sql("SELECT setval('stmt_seq', 100) AS v").as[Long].head() == 100L)
    assert(spark.sql("SELECT nextval('stmt_seq') AS v").as[Long].head() == 103L)
    spark.sql("SELECT setval('stmt_seq', 50, false)")
    assert(spark.sql("SELECT nextval('stmt_seq') AS v").as[Long].head() == 50L)
    // several occurrences in ONE statement advance left-to-right
    val two = spark.sql(
      "SELECT nextval('stmt_seq') AS a, nextval('stmt_seq') AS b").head()
    assert(two.getLong(0) == 53L && two.getLong(1) == 56L)
    // VALUES rows: one occurrence each, distinct ids
    Seq((0L, "seed")).toDF("id", "s").createOrReplaceTempView("stmt_seq_t")
    spark.sql("INSERT INTO stmt_seq_t VALUES (nextval('stmt_seq'), 'x'), " +
      "(nextval('stmt_seq'), 'y')")
    assert(spark.table("stmt_seq_t").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((0L, "seed"), (59L, "x"), (62L, "y")))
    // multi-row contexts REJECT nextval (a literal would clone the id)
    val e1 = intercept[Exception](spark.sql(
      "SELECT nextval('stmt_seq') FROM stmt_seq_t"))
    assert(e1.getMessage.contains("row_number"))
    val e2 = intercept[Exception](spark.sql(
      "UPDATE stmt_seq_t SET id = nextval('stmt_seq')"))
    assert(e2.getMessage.contains("row_number"))
    // ALTER ... RESTART; cycle + overrun semantics
    spark.sql("ALTER SEQUENCE stmt_seq RESTART WITH 7")
    assert(spark.sql("SELECT nextval('stmt_seq') AS v").as[Long].head() == 7L)
    spark.sql("CREATE SEQUENCE stmt_cyc MAXVALUE 2 CYCLE")
    assert(spark.sql("SELECT nextval('stmt_cyc') AS v").as[Long].head() == 1L)
    assert(spark.sql("SELECT nextval('stmt_cyc') AS v").as[Long].head() == 2L)
    assert(spark.sql("SELECT nextval('stmt_cyc') AS v").as[Long].head() == 1L)
    spark.sql("CREATE SEQUENCE stmt_lim MAXVALUE 1")
    spark.sql("SELECT nextval('stmt_lim')")
    val e3 = intercept[Exception](spark.sql("SELECT nextval('stmt_lim')"))
    assert(e3.getMessage.contains("maximum"))
    // PREPARE bodies evaluate at EXECUTE time (fresh value per EXECUTE)
    spark.sql("PREPARE stmt_seq_p AS SELECT nextval('stmt_seq') AS v")
    val x1 = spark.sql("EXECUTE stmt_seq_p").as[Long].head()
    val x2 = spark.sql("EXECUTE stmt_seq_p").as[Long].head()
    assert(x2 == x1 + 3)
    spark.sql("DEALLOCATE stmt_seq_p")
    // session scoping: a new session sees neither the sequence nor
    // lastval; unknown names error with PG's wording
    val other = spark.newSession()
    val e4 = intercept[Exception](other.sql("SELECT nextval('stmt_seq')"))
    assert(e4.getMessage.contains("does not exist"))
    val e5 = intercept[Exception](other.sql("SELECT lastval()"))
    assert(e5.getMessage.contains("not yet defined"))
    // lifecycle
    spark.sql("DROP SEQUENCE stmt_cyc")
    spark.sql("DROP SEQUENCE IF EXISTS stmt_cyc") // no throw
    val e6 = intercept[Exception](spark.sql("DROP SEQUENCE stmt_cyc"))
    assert(e6.getMessage.contains("does not exist"))
    spark.sql("DROP SEQUENCE stmt_seq")
    spark.sql("DROP SEQUENCE stmt_lim")
    // a 'nextval' inside a string literal never splices
    assert(spark.sql("SELECT 'call nextval(''s'')' AS s").as[String].head()
      == "call nextval('s')")
  }

  test("VACUUM compacts append-grown index parquet: file count drops, " +
      "results bit-identical, reader pruning intact") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("stmt_vac")
    val q = emb.select("embedding").head.getSeq[Float](0)
      .mkString("[", ",", "]")
    val root = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, "_graft_vindex")
    def files(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("stmt_vacidx")).map(walk).sum
    }
    spark.sql("CREATE INDEX stmt_vacidx ON stmt_vac USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      (1 to 3).foreach { i =>
        spark.sql(s"INSERT INTO stmt_vac SELECT vec_id + ${i}00000, " +
          s"embedding FROM parquet.`$sfDir/embeddings.parquet` " +
          s"WHERE vec_id % 50 = $i")
      }
      def knn() = spark.sql(
        s"""SELECT vec_id, round(embedding <-> '$q'::vector, 6) AS d
           |FROM stmt_vac ORDER BY embedding <-> '$q'::vector, vec_id
           |LIMIT 7""".stripMargin)
      spark.conf.set("graft.ivfflat.probes", "4")
      val before = files()
      val resBefore = knn().as[(Long, Double)].collect().toSeq
      spark.sql("VACUUM stmt_vac")
      assert(files() < before,
        s"VACUUM must coalesce the appended small files (was $before, " +
          s"now ${files()})")
      val df = knn()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("_graft_vindex") && plan.contains("PartitionFilters"),
        plan) // pruning survives the rewrite
      assert(df.as[(Long, Double)].collect().toSeq == resBefore,
        "VACUUM must be result-invariant")
      // the ANALYZE arm composes: VACUUM ANALYZE returns the stats
      val stats = spark.sql("VACUUM ANALYZE stmt_vac")
      assert(stats.columns.toSeq ==
        Seq("column_name", "row_cnt", "n_distinct", "n_nulls"))
      assert(stats.count() == 2)
      // options: accepted flags + unknown raises; unknown table delegates
      spark.sql("VACUUM (FULL, VERBOSE) stmt_vac")
      val e = intercept[Exception](spark.sql("VACUUM (NOPE) stmt_vac"))
      assert(e.getMessage.contains("NOPE") || e.getMessage.contains("nope"))
      val e2 = intercept[Exception](spark.sql("VACUUM no_such_view_xyz"))
      assert(!e2.getMessage.contains("graft:"))
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_vacidx")
      ()
    }
  }

  test("CLUSTER rewrites the view physically co-located by the " +
      "index's coarse lists; results identical, indexes stay valid") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("stmt_cl")
    val q = emb.select("embedding").head.getSeq[Float](0)
      .mkString("[", ",", "]")
    spark.sql("CREATE INDEX stmt_clidx ON stmt_cl USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      val before = spark.table("stmt_cl").orderBy("vec_id")
        .collect().toSeq
      spark.sql("CLUSTER stmt_cl USING stmt_clidx")
      // the view now reads the clustered parquet rewrite
      val plan = spark.table("stmt_cl").queryExecution.executedPlan.toString
      assert(plan.contains("_graft_cluster"), plan)
      assert(spark.table("stmt_cl").orderBy("vec_id").collect().toSeq
        == before, "CLUSTER must be content-invariant")
      // the index stays VALID (content unchanged — PG semantics): the
      // KNN idiom still routes through the pruned index scan
      spark.conf.set("graft.ivfflat.probes", "1")
      val knn = spark.sql(
        s"""SELECT vec_id FROM stmt_cl
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3""".stripMargin)
      assert(knn.queryExecution.executedPlan.toString.contains("_graft_vindex"))
      assert(knn.count() == 3)
      spark.conf.unset("graft.ivfflat.probes")
      // bare CLUSTER re-uses the remembered index (PG semantics)
      spark.sql("CLUSTER stmt_cl")
      assert(spark.table("stmt_cl").orderBy("vec_id").collect().toSeq
        == before)
      // errors: unknown index; a never-clustered table without USING
      val e1 = intercept[Exception](spark.sql(
        "CLUSTER stmt_cl USING no_such_idx"))
      assert(e1.getMessage.contains("does not exist"))
      emb.createOrReplaceTempView("stmt_cl_fresh")
      val e2 = intercept[Exception](spark.sql("CLUSTER stmt_cl_fresh"))
      assert(e2.getMessage.contains("no previously clustered index"))
      // unknown targets delegate to Spark's own error path
      val e3 = intercept[Exception](spark.sql("CLUSTER no_such_view_xyz"))
      assert(!e3.getMessage.contains("graft:"))
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX IF EXISTS stmt_clidx")
      ()
    }
  }

  test("SHOW reads the GUC surface whose SET half already works " +
      "verbatim; Spark's own SHOW forms delegate") {
    spark.sql("SET ivfflat.probes = 7")
    try {
      val df = spark.sql("SHOW ivfflat.probes")
      assert(df.columns.toSeq == Seq("ivfflat.probes"))
      assert(df.head().getString(0) == "7")
      assert(spark.sql("SHOW TIME ZONE").head().getString(0) == "UTC")
      val all = spark.sql("SHOW ALL")
      assert(all.columns.toSeq == Seq("name", "setting", "description"))
      assert(all.filter(col("name") === "ivfflat.probes")
        .head().getString(1) == "7")
    } finally { spark.conf.unset("ivfflat.probes"); () }
    // Spark's own SHOW surface is untouched
    assert(spark.sql("SHOW TABLES").columns.contains("tableName"))
    // a DOTTED unknown is unambiguously GUC-shaped → PG's error; an
    // un-dotted unknown delegates to Spark's parser
    val e = intercept[Exception](spark.sql("SHOW graft.no_such_knob"))
    assert(e.getMessage.contains("unrecognized configuration parameter"))
    val e2 = intercept[Exception](spark.sql("SHOW wibble_zzz"))
    assert(!e2.getMessage.contains("graft:"))
  }

  test("EXPLAIN over routed DML renders the rewritten plan WITHOUT " +
      "executing; EXPLAIN ANALYZE executes and reports actual rows") {
    dmlFixture()
    Seq((2L, 200.0)).toDF("k", "nb").createOrReplaceTempView("stmt_exp_src")
    val updPlan = spark.sql(
      "EXPLAIN UPDATE stmt_upd t SET bal = s.nb FROM stmt_exp_src s " +
        "WHERE t.k = s.k").as[String].collect().mkString("\n")
    assert(updPlan.toLowerCase.contains("join"), updPlan)
    val mrgPlan = spark.sql(
      """EXPLAIN MERGE INTO stmt_upd t USING stmt_exp_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET bal = s.nb""".stripMargin)
      .as[String].collect().mkString("\n")
    assert(mrgPlan.toLowerCase.contains("join"), mrgPlan)
    val insPlan = spark.sql(
      "EXPLAIN INSERT INTO stmt_upd VALUES (9, 'i', 90.0)")
      .as[String].collect().mkString("\n")
    assert(insPlan.toLowerCase.contains("union"), insPlan)
    // none of the above EXECUTED (PG: EXPLAIN never runs the DML)
    assert(spark.table("stmt_upd").orderBy("k").as[(Long, String, Double)]
      .collect().toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    // EXPLAIN ANALYZE executes (PG semantics) and carries actuals
    val delPlan = spark.sql(
      "EXPLAIN ANALYZE DELETE FROM stmt_upd WHERE k >= 3")
      .as[String].collect().mkString("\n")
    assert(delPlan.contains("Actual Rows: 2"), delPlan)
    assert(spark.table("stmt_upd").count() == 2)
    // VERBOSE widens to the extended rendering
    val v = spark.sql("EXPLAIN VERBOSE UPDATE stmt_upd SET bal = 0")
      .as[String].collect().mkString("\n")
    assert(v.contains("== Physical Plan ==") && v.contains("== Analyzed"), v)
    // the (options) spelling parses; unknown options raise
    spark.sql("EXPLAIN (VERBOSE, COSTS) DELETE FROM stmt_upd WHERE k = 0")
    val e = intercept[Exception](spark.sql(
      "EXPLAIN (WIBBLE) DELETE FROM stmt_upd WHERE k = 0"))
    assert(e.getMessage.contains("WIBBLE") || e.getMessage.contains("wibble"))
    // EXPLAIN EXECUTE plans the substituted body; a prepared DML body
    // takes the no-execute path like a direct one
    dmlFixture()
    spark.sql("PREPARE stmt_exp_pu AS UPDATE stmt_upd SET bal = bal + $1")
    val pe = spark.sql("EXPLAIN EXECUTE stmt_exp_pu (5.0)")
      .as[String].collect().mkString("\n")
    assert(pe.contains("== Physical Plan =="), pe)
    assert(spark.table("stmt_upd").filter(col("k") === 1L)
      .head().getDouble(2) == 10.0) // NOT executed
    spark.sql("DEALLOCATE stmt_exp_pu")
  }

  test("EXPLAIN on the KNN idiom shows the index-pruned routed plan; " +
      "Spark's own EXPLAIN surface delegates untouched") {
    val q = idxFixture()
    spark.sql("CREATE INDEX stmt_expidx ON stmt_emb USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      spark.conf.set("graft.ivfflat.probes", "2")
      val knnPlan = spark.sql(
        s"""EXPLAIN SELECT vec_id FROM stmt_emb
           |ORDER BY embedding <-> '$q'::vector, vec_id LIMIT 3""".stripMargin)
        .as[String].collect().mkString("\n")
      assert(knnPlan.contains("_graft_vindex"), knnPlan)
      assert(knnPlan.contains("TakeOrderedAndProject"), knnPlan)
    } finally {
      spark.conf.unset("graft.ivfflat.probes")
      spark.sql("DROP INDEX stmt_expidx")
      ()
    }
    // plain EXPLAIN SELECT: Spark's native relation (column "plan")
    val native = spark.sql("EXPLAIN SELECT 1 AS x")
    assert(native.columns.toSeq == Seq("plan"))
    // EXPLAIN ANALYZE <plain select> is ADDED syntax (Spark has none)
    val pa = spark.sql("EXPLAIN ANALYZE SELECT 1 AS x")
    assert(pa.columns.toSeq == Seq("query_plan"))
    assert(pa.as[String].collect().mkString("\n").contains("Actual Rows: 1"))
  }

  test("EXPLAIN matches PG's ExplainableStmt set: non-explainable " +
      "verbs delegate WITHOUT executing") {
    dmlFixture()
    // TRUNCATE is not explainable in PG — and must NOT execute
    val e1 = intercept[Exception](spark.sql("EXPLAIN TRUNCATE stmt_upd"))
    assert(!e1.getMessage.contains("graft:"))
    assert(spark.table("stmt_upd").count() == 4, "EXPLAIN ran the TRUNCATE")
    val e2 = intercept[Exception](spark.sql(
      "EXPLAIN ANALYZE TRUNCATE stmt_upd"))
    assert(!e2.getMessage.contains("graft:"))
    assert(spark.table("stmt_upd").count() == 4)
    // VACUUM / DDL verbs likewise never execute under EXPLAIN
    val e3 = intercept[Exception](spark.sql("EXPLAIN VACUUM stmt_upd"))
    assert(!e3.getMessage.contains("graft:"))
    val e4 = intercept[Exception](spark.sql(
      "EXPLAIN DROP SEQUENCE stmt_never_made"))
    assert(!e4.getMessage.contains("graft:")) // not executed → no
    // "does not exist" from the router, just Spark's parse error
  }

  test("EXPLAIN EXECUTE renders a prepared plain SELECT; sequence " +
      "calls under EXPLAIN peek without advancing") {
    dmlFixture()
    spark.sql("PREPARE stmt_pe19 AS SELECT k, bal FROM stmt_upd WHERE k = $1")
    val pe = spark.sql("EXPLAIN EXECUTE stmt_pe19 (2)")
      .as[String].collect().mkString("\n")
    assert(pe.contains("== Physical Plan =="), pe)
    val pa = spark.sql("EXPLAIN ANALYZE EXECUTE stmt_pe19 (2)")
      .as[String].collect().mkString("\n")
    assert(pa.contains("Actual Rows: 1"), pa)
    spark.sql("DEALLOCATE stmt_pe19")
    // plain EXPLAIN never EVALUATES sequence calls (PG's posture):
    // the plan shows the peeked value, the counter does not move
    spark.sql("DROP SEQUENCE IF EXISTS stmt_eseq")
    spark.sql("CREATE SEQUENCE stmt_eseq START WITH 5")
    spark.sql("EXPLAIN INSERT INTO stmt_upd VALUES (nextval('stmt_eseq'), 'x', 0.0)")
    assert(spark.sql("SELECT nextval('stmt_eseq') AS v").as[Long].head() == 5L)
    // EXPLAIN ANALYZE executes — and therefore rejects multi-row
    // nextval exactly like the bare statement (the head-bypass fix)
    val e = intercept[Exception](spark.sql(
      "EXPLAIN ANALYZE UPDATE stmt_upd SET k = nextval('stmt_eseq')"))
    assert(e.getMessage.contains("row_number"))
    // ...and advances when it legitimately runs
    spark.sql("EXPLAIN ANALYZE INSERT INTO stmt_upd VALUES " +
      "(nextval('stmt_eseq'), 'y', 1.0)")
    assert(spark.sql("SELECT currval('stmt_eseq') AS v").as[Long].head() == 6L)
    spark.sql("DROP SEQUENCE stmt_eseq")
  }

  test("UPDATE ... FROM tolerates unhashable (map-typed) source " +
      "columns in the fused pick key") {
    dmlFixture()
    Seq((2L, 200.0, Map("a" -> "b")), (9L, 900.0, Map.empty[String, String]))
      .toDF("k", "nb", "m").createOrReplaceTempView("stmt_upd_map")
    spark.sql("UPDATE stmt_upd t SET bal = s.nb FROM stmt_upd_map s " +
      "WHERE t.k = s.k")
    val out = spark.table("stmt_upd").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b", 200.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  test("DROP SEQUENCE takes a name list; ALTER RESTART validates the " +
      "range; trailing junk is rejected") {
    spark.sql("CREATE SEQUENCE stmt_dsa")
    spark.sql("CREATE SEQUENCE stmt_dsb MAXVALUE 10")
    val e1 = intercept[Exception](spark.sql(
      "ALTER SEQUENCE stmt_dsb RESTART WITH 99"))
    assert(e1.getMessage.contains("outside"))
    val e2 = intercept[Exception](spark.sql(
      "DROP SEQUENCE stmt_dsa extra junk"))
    assert(e2.getMessage.contains("unexpected"))
    spark.sql("DROP SEQUENCE stmt_dsa, stmt_dsb")
    // both really dropped
    val e3 = intercept[Exception](spark.sql("SELECT nextval('stmt_dsb')"))
    assert(e3.getMessage.contains("does not exist"))
  }

  test("re-CLUSTER keeps prior rewrite generations readable until " +
      "VACUUM reclaims them; VACUUM ANALYZE takes a column list") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("stmt_cl2")
    spark.sql("CREATE INDEX stmt_cl2idx ON stmt_cl2 USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      spark.sql("CLUSTER stmt_cl2 USING stmt_cl2idx")
      // a view captured BETWEEN two CLUSTERs reads the first rewrite
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW stmt_cl2_snap AS " +
        "SELECT count(*) AS n FROM stmt_cl2")
      spark.sql("CLUSTER stmt_cl2")
      // the old generation must still be readable (PG: old tuples
      // survive the rewrite until VACUUM)
      val snapN = spark.table("stmt_cl2_snap").as[Long].head()
      assert(snapN == emb.count())
      // VACUUM reclaims every tracked generation
      val root = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, "_graft_cluster")
      def gens(): Int = Option(root.listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("stmt_cl2_"))
      assert(gens() >= 2)
      spark.sql("VACUUM stmt_cl2")
      assert(gens() == 0, "VACUUM must reclaim superseded cluster rewrites")
      assert(spark.table("stmt_cl2").count() == emb.count())
      // per-column VACUUM ANALYZE; column list without ANALYZE errors;
      // trailing junk errors
      val stats = spark.sql("VACUUM ANALYZE stmt_cl2 (vec_id)")
      assert(stats.count() == 1)
      val e1 = intercept[Exception](spark.sql("VACUUM stmt_cl2 (vec_id)"))
      assert(e1.getMessage.contains("ANALYZE"))
      val e2 = intercept[Exception](spark.sql("VACUUM stmt_cl2 junk"))
      assert(e2.getMessage.contains("unexpected"))
    } finally {
      spark.sql("DROP INDEX IF EXISTS stmt_cl2idx")
      ()
    }
  }

  test("fused multi-match detection: MERGE and UPDATE...FROM run NO " +
      "extra plan-time probe job (one pass per statement)") {
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // the listener bus is asynchronous: wait for the count to settle
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(50)
          val cur = n.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        n.get()
      } finally { spark.sparkContext.removeSparkListener(l); () }
    }
    dmlFixture()
    Seq((2L, 200.0), (4L, 400.0)).toDF("k", "nb")
      .createOrReplaceTempView("stmt_jc_src")
    // reference: the SAME fused select materialized through the same
    // truncation — what the statement costs with zero router overhead
    val refJobs = countJobs {
      val df = spark.sql(
        """SELECT t.k, t.name,
          |  CASE WHEN s.__graft_ms IS NOT NULL THEN s.nb ELSE t.bal END AS bal
          |FROM (SELECT *, monotonically_increasing_id() AS __graft_tid
          |      FROM stmt_upd) t
          |LEFT JOIN (SELECT *, true AS __graft_ms FROM stmt_jc_src) s
          |ON t.k = s.k""".stripMargin)
      graft.operators.Iterate.truncate(df).count()
      ()
    }
    dmlFixture()
    val updJobs = countJobs {
      spark.sql("UPDATE stmt_upd t SET bal = s.nb FROM stmt_jc_src s " +
        "WHERE t.k = s.k")
      ()
    }
    // the window adds at most a couple of AQE stage jobs; the r18 eager
    // detection join added a whole extra pass (its own join + agg +
    // head()) — a regression re-adding it lands well past this bound
    assert(updJobs <= refJobs + 3,
      s"UPDATE...FROM ran $updJobs jobs vs $refJobs for the bare fused select")
    dmlFixture()
    val mrgJobs = countJobs {
      spark.sql(
        """MERGE INTO stmt_upd t USING stmt_jc_src s ON t.k = s.nb / 100.0
          |WHEN MATCHED THEN UPDATE SET bal = s.nb""".stripMargin)
      ()
    }
    assert(mrgJobs <= refJobs + 4,
      s"MERGE ran $mrgJobs jobs vs $refJobs for the bare fused select")
  }

  test("SHOW reads case-preserved conf keys the write half stored " +
      "verbatim") {
    spark.sql("SET MyExt.Flag = 17")
    assert(spark.sql("SHOW MyExt.Flag").as[String].head() == "17")
    // the folded spelling reads the same parameter when only one form
    // is set with a lowercase key
    spark.sql("SET myext.lower = 3")
    assert(spark.sql("SHOW MYEXT.LOWER").as[String].head() == "3")
  }

  test("EXPLAIN (SELECT 1) is a parenthesized QUERY, not an option " +
      "list — stock Spark's surface is preserved") {
    assert(spark.sql("EXPLAIN (SELECT 1)").count() >= 1)
    // a real option list still parses, and an unknown option inside a
    // recognized list still raises OUR error; a paren opening with an
    // unknown word is treated as a query and lands on Spark's own
    // parse error (never silently accepted either way)
    assert(spark.sql("EXPLAIN (VERBOSE) SELECT 1").count() >= 1)
    val e = intercept[Exception](spark.sql(
      "EXPLAIN (VERBOSE, FROBNICATE) SELECT 1"))
    assert(e.getMessage.contains("unknown EXPLAIN option"))
    val e2 = intercept[Exception](spark.sql(
      "EXPLAIN (FROBNICATE) SELECT 1"))
    assert(!e2.getMessage.contains("graft:"))
  }

  test("sequence calls in CREATE VIEW bodies are rejected, not frozen " +
      "at definition time; plain EXPLAIN of undefined currval peeks") {
    spark.sql("DROP SEQUENCE IF EXISTS stmt_cvseq")
    spark.sql("CREATE SEQUENCE stmt_cvseq START WITH 5")
    val e = intercept[Exception](spark.sql(
      "CREATE OR REPLACE TEMPORARY VIEW stmt_cv AS " +
        "SELECT nextval('stmt_cvseq') AS id"))
    assert(e.getMessage.contains("CREATE VIEW"))
    // ...and the rejected CREATE advanced nothing
    assert(spark.sql("SELECT nextval('stmt_cvseq') AS v")
      .as[Long].head() == 5L)
    // plain EXPLAIN of currval/lastval before any nextval: PG plans
    // without evaluating — must not raise "not yet defined"
    spark.sql("DROP SEQUENCE stmt_cvseq")
    spark.sql("CREATE SEQUENCE stmt_cvseq2")
    try {
      assert(spark.sql("EXPLAIN SELECT currval('stmt_cvseq2') AS v")
        .count() >= 1)
      assert(spark.sql("EXPLAIN SELECT lastval() AS v").count() >= 1)
      // the executed form still raises
      val e2 = intercept[Exception](
        spark.sql("SELECT currval('stmt_cvseq2') AS v").collect())
      assert(e2.getMessage.contains("not yet defined"))
    } finally {
      spark.sql("DROP SEQUENCE stmt_cvseq2")
      ()
    }
  }

  test("setval to a CYCLE boundary wraps on the next nextval instead " +
      "of raising the non-CYCLE error") {
    spark.sql("DROP SEQUENCE IF EXISTS stmt_cyc")
    spark.sql("CREATE SEQUENCE stmt_cyc MAXVALUE 10 CYCLE")
    try {
      spark.sql("SELECT setval('stmt_cyc', 10) AS v").collect()
      assert(spark.sql("SELECT nextval('stmt_cyc') AS v")
        .as[Long].head() == 1L)
    } finally { spark.sql("DROP SEQUENCE stmt_cyc"); () }
    // non-CYCLE near Long.MaxValue: the overflow raises rather than
    // silently wrapping into range
    spark.sql("CREATE SEQUENCE stmt_ovf")
    try {
      spark.sql(s"SELECT setval('stmt_ovf', ${Long.MaxValue}) AS v")
        .collect()
      val e = intercept[Exception](
        spark.sql("SELECT nextval('stmt_ovf') AS v").collect())
      assert(e.getMessage.contains("maximum"))
    } finally { spark.sql("DROP SEQUENCE stmt_ovf"); () }
  }

  test("UPDATE ... FROM tolerates duplicate-named source columns in " +
      "the pick key; nextval inside a FROM-subquery is rejected") {
    dmlFixture()
    spark.sql("UPDATE stmt_upd t SET bal = s.nb FROM " +
      "(SELECT a.k AS k, b.k AS k, a.nb FROM " +
      "(SELECT 2L AS k, 222.0 AS nb) a JOIN (SELECT 2L AS k) b " +
      "ON a.k = b.k) s WHERE t.k = s.nb / 111.0")
    assert(spark.table("stmt_upd").filter($"k" === 2L)
      .select("bal").as[Double].head() == 222.0)
    // nextval under a subquery that scans a relation is per-row in PG
    spark.sql("DROP SEQUENCE IF EXISTS stmt_sq")
    spark.sql("CREATE SEQUENCE stmt_sq")
    try {
      val e = intercept[Exception](spark.sql(
        "SELECT (SELECT count(*) FROM stmt_upd WHERE k < nextval('stmt_sq')) AS n"))
      assert(e.getMessage.contains("row_number"))
      // a FROM-less scalar subquery stays single-row and splices fine
      assert(spark.sql("SELECT (SELECT nextval('stmt_sq')) AS v")
        .as[Long].head() == 1L)
    } finally { spark.sql("DROP SEQUENCE stmt_sq"); () }
  }

  test("SHOW redacts secretive keys; ALTER SEQUENCE RESTART rejects " +
      "trailing clauses; CLUSTER state is session-scoped") {
    spark.sql("SET my.fake.password = hunter2")
    assert(spark.sql("SHOW my.fake.password").as[String].head()
      .contains("redacted"))
    val all = spark.sql("SHOW ALL")
      .filter($"name" === "my.fake.password")
      .select("setting").as[String].head()
    assert(all.contains("redacted"))
    spark.sql("DROP SEQUENCE IF EXISTS stmt_arj")
    spark.sql("CREATE SEQUENCE stmt_arj")
    try {
      val e = intercept[Exception](spark.sql(
        "ALTER SEQUENCE stmt_arj RESTART WITH 5 CYCLE"))
      assert(e.getMessage.contains("unexpected"))
    } finally { spark.sql("DROP SEQUENCE stmt_arj"); () }
    // CLUSTER bookkeeping must not leak across sessions: the sibling
    // session neither remembers this session's clustering index nor
    // can its VACUUM reclaim parquet this session still reads
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("stmt_cl3")
    spark.sql("CREATE INDEX stmt_cl3idx ON stmt_cl3 USING ivfflat " +
      "(embedding vector_l2_ops) WITH (lists = 4)")
    try {
      spark.sql("CLUSTER stmt_cl3 USING stmt_cl3idx")
      val other = spark.newSession()
      // the sibling gets its OWN same-named view through ITS catalog
      other.sql("CREATE OR REPLACE TEMPORARY VIEW stmt_cl3 AS SELECT 1 AS x")
      val e2 = intercept[Exception](other.sql("CLUSTER stmt_cl3"))
      assert(e2.getMessage.contains("no previously clustered"))
      other.sql("VACUUM stmt_cl3")
      // this session's clustered view still reads its cluster parquet
      // (a JVM-global map would have let the sibling's VACUUM delete it)
      assert(spark.table("stmt_cl3").count() == emb.count())
    } finally {
      spark.sql("DROP INDEX IF EXISTS stmt_cl3idx")
      ()
    }
  }

  test("ANALYZE handles dotted column names in the sampled regime and " +
      "zero-column relations in the exact one") {
    Seq((1L, "x"), (2L, null: String), (3L, "z"))
      .toDF("id", "a.b").createOrReplaceTempView("stmt_an_dot")
    spark.conf.set("graft.analyze.fraction", "0.9999")
    try {
      val est = spark.sql("ANALYZE stmt_an_dot").collect()
      assert(est.map(_.getString(0)).toSet == Set("id", "a.b"))
    } finally spark.conf.unset("graft.analyze.fraction")
    spark.emptyDataFrame.createOrReplaceTempView("stmt_an_empty")
    val out = spark.sql("ANALYZE stmt_an_empty")
    assert(out.columns.toSeq ==
      Seq("column_name", "row_cnt", "n_distinct", "n_nulls"))
    assert(out.count() == 0)
  }
}
