package graft

import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/**
 * The PG operator SPELLINGS end-to-end through spark.sql — the test
 * session builds with spark.sql.extensions=graft.GraftExtensions, so
 * these statements run exactly as a reference user would write them
 * (vector_op.cpp / jsonb_op.cpp / ltree / intarray / hstore /
 * tsvector_op.cpp operator tables; regex per PG's `~` family).
 * Values are pinned against PG's own documented examples and against
 * the Column kernels the operators dispatch to.
 */
class PgOperatorSpec extends SparkSpec {
  import spark.implicits._

  private def one(sql: String): Any = spark.sql(sql).collect()(0).get(0)
  private def oneRow(sql: String): org.apache.spark.sql.Row =
    spark.sql(sql).collect()(0)

  private lazy val emb = {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    df.createOrReplaceTempView("pgop_emb")
    df
  }

  private lazy val qvecLit: String = {
    val v = emb.select("embedding").head.getSeq[Float](0)
    v.mkString("[", ",", "]")
  }

  // ---- vector operators ----

  test("emb <-> '[...]'::vector orders exactly like the l2 kernel") {
    val sql = spark.sql(
      s"""SELECT vec_id FROM pgop_emb
         |ORDER BY embedding <-> '$qvecLit'::vector, vec_id LIMIT 7""".stripMargin)
      .as[Long].collect()
    val q = lit(qvecLit)
    val api = emb
      .orderBy(VF.l2Distance(col("embedding"), VF.parseVector(q)), col("vec_id"))
      .select("vec_id").as[Long].take(7)
    assert(sql.toSeq == api.toSeq)
  }

  test("<#> and <=> dispatch to inner-product / cosine kernels") {
    val r = oneRow(
      s"""SELECT embedding <#> '$qvecLit'::vector,
         |       embedding <=> '$qvecLit'::vector
         |FROM pgop_emb ORDER BY vec_id LIMIT 1""".stripMargin)
    val e = emb.orderBy("vec_id").select(
      VF.negInnerProduct(col("embedding"), VF.parseVector(lit(qvecLit))),
      VF.cosineDistance(col("embedding"), VF.parseVector(lit(qvecLit))))
      .collect()(0)
    assert(r.getDouble(0) == e.getDouble(0))
    assert(r.getDouble(1) == e.getDouble(1))
  }

  test("ORDER BY <=> / <-> ranks on the raw distance inside a rounding tie") {
    // PG semantics: selecting round(d, 6) but ordering by the operator
    // ranks on the RAW distance. Rows 1 and 2 round to the same six
    // places; row 2 is nearer, so it comes first, although a
    // (rounded distance, vec_id) order would put it second.
    def ranked(op: String, q: String, rows: Seq[(Long, Array[Float])]) = {
      rows.toDF("vec_id", "embedding").createOrReplaceTempView("pgop_tie")
      spark.sql(
        s"""SELECT vec_id, round(embedding $op '$q'::vector, 6),
           |       embedding $op '$q'::vector
           |FROM pgop_tie ORDER BY embedding $op '$q'::vector, vec_id LIMIT 2""".stripMargin)
        .as[(Long, Double, Double)].collect().toSeq
    }
    for (r <- Seq(
        ranked("<=>", "[1,0]", Seq(1L -> Array(1f, 0.850002f),
          2L -> Array(1f, 0.8500001f), 3L -> Array(1f, 0.95f))),
        ranked("<->", "[0,0]", Seq(1L -> Array(0.2372612f, 0f),
          2L -> Array(0.2372611f, 0f), 3L -> Array(0.3f, 0f))))) {
      assert(r(0)._2 == r(1)._2 && r(0)._3 < r(1)._3, r) // a real tie
      assert(r.map(_._1) == Seq(2L, 1L), r)
    }
  }

  test("operator KNN keeps the shuffle-free TakeOrderedAndProject plan") {
    val df = spark.sql(
      s"""SELECT vec_id FROM pgop_emb
         |ORDER BY embedding <-> '$qvecLit'::vector LIMIT 5""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("<=> on non-vectors stays Spark's null-safe equality") {
    assert(one("SELECT 1 <=> 1") == true)
    assert(one("SELECT cast(null as int) <=> cast(null as int)") == true)
    assert(one("SELECT 1 <=> 2") == false)
  }

  test("text <-> text is the pg_trgm distance (1 - similarity)") {
    val d = one("SELECT 'word' <-> 'two words'").asInstanceOf[Double]
    val s = one("SELECT similarity('word', 'two words')")
      .toString.toDouble
    assert(math.abs(d - (1.0 - s)) < 1e-12)
    assert(one("SELECT 'same' <-> 'same'") == 0.0)
  }

  // ---- jsonb operators (PG doc examples) ----

  test("-> selects fields and elements as canonical jsonb") {
    assert(one("""SELECT '{"a": {"b":"foo"}}'::jsonb -> 'a'""") == """{"b": "foo"}""")
    assert(one("SELECT '[1,2,3]'::jsonb -> 2") == "3")
    assert(one("SELECT '[1,2,3]'::jsonb -> -3") == "1")
    assert(oneRow("SELECT '[1,2,3]'::jsonb -> 5").isNullAt(0))
    assert(oneRow("""SELECT '{"a":1}'::jsonb -> 'x'""").isNullAt(0))
    assert(oneRow("""SELECT '{"a":1}'::jsonb -> 0""").isNullAt(0))
    assert(oneRow("SELECT '5'::jsonb -> 'a'").isNullAt(0))
  }

  test("->> renders text: unquoted strings, SQL NULL for json null") {
    assert(one("""SELECT '{"a":1,"b":2}'::jsonb ->> 'b'""") == "2")
    assert(one("""SELECT '{"a":"xy"}'::jsonb ->> 'a'""") == "xy")
    assert(oneRow("""SELECT '{"a":null}'::jsonb ->> 'a'""").isNullAt(0))
    assert(one("""SELECT '{"a":[1,2]}'::jsonb ->> 'a'""") == "[1, 2]")
  }

  test("#> / #>> walk paths; empty path returns the document") {
    assert(one("""SELECT '{"a": {"b": ["x","y"]}}'::jsonb #> '{a,b,1}'""") == "\"y\"")
    assert(one("""SELECT '{"a": {"b": ["x","y"]}}'::jsonb #>> '{a,b,1}'""") == "y")
    assert(oneRow("""SELECT '{"a":1}'::jsonb #> '{a,b}'""").isNullAt(0))
    assert(one("""SELECT '{"b":2,"a":1}'::jsonb #> '{}'""") == """{"a": 1, "b": 2}""")
    assert(one("""SELECT jsonb_extract_path('{"a": {"b":7}}', 'a', 'b')""") == "7")
    assert(one("""SELECT jsonb_extract_path_text('{"a": {"b":7}}', 'a', 'b')""") == "7")
  }

  test("arrows chain left-associatively") {
    assert(one("""SELECT '{"a": {"b": {"c": 9}}}'::jsonb -> 'a' -> 'b' ->> 'c'""") == "9")
  }

  test("? / ?| / ?& existence") {
    assert(one("""SELECT '{"a":1, "b":2}'::jsonb ? 'b'""") == true)
    assert(one("""SELECT '{"a":1}'::jsonb ? 'x'""") == false)
    assert(one("""SELECT '{"a":1, "b":2}'::jsonb ?| array['x','b']""") == true)
    assert(one("""SELECT '{"a":1, "b":2}'::jsonb ?& array['a','b']""") == true)
    assert(one("""SELECT '{"a":1, "b":2}'::jsonb ?& array['a','x']""") == false)
  }

  test("@> / <@ jsonb containment") {
    assert(one("""SELECT '{"a":1, "b":2}'::jsonb @> '{"b":2}'::jsonb""") == true)
    assert(one("""SELECT '{"b":2}'::jsonb <@ '{"a":1, "b":2}'::jsonb""") == true)
    assert(one("""SELECT '[1,2,3]'::jsonb @> '[3,1]'::jsonb""") == true)
    assert(one("""SELECT '{"a":1}'::jsonb @> '{"a":2}'::jsonb""") == false)
  }

  // ---- ltree (string-typed: dotted-label literals dispatch) ----

  test("@> / <@ on dotted labels is ltree ancestry") {
    assert(one("SELECT 'Top' @> 'Top.Science'") == true)
    assert(one("SELECT 'Top.Science' <@ 'Top'") == true)
    assert(one("SELECT 'Top.Science' @> 'Top'") == false)
    assert(one("SELECT 'Top'::ltree @> 'Top.Science'::ltree") == true)
  }

  // ---- hstore ----

  test("hstore literals parse; -> and ? dispatch on the map type") {
    assert(one("""SELECT 'a=>1, "b c"=>NULL'::hstore -> 'a'""") == "1")
    assert(oneRow("""SELECT 'a=>1, "b c"=>NULL'::hstore -> 'b c'""").isNullAt(0))
    assert(one("""SELECT 'a=>1, "b c"=>NULL'::hstore ? 'b c'""") == true)
    assert(one("""SELECT 'a=>1'::hstore ? 'x'""") == false)
    assert(one("""SELECT 'a=>1, a=>2'::hstore -> 'a'""") == "2")
    assert(one("""SELECT 'k=>"NULL"'::hstore -> 'k'""") == "NULL")
    assert(one("""SELECT 'a=>1, b=>2'::hstore ?& array['a','b']""") == true)
  }

  // ---- intarray ----

  test("int[] casts, && overlap, @> containment") {
    assert(one("SELECT '{1,2,3}'::int[] && '{3,5}'::int[]") == true)
    assert(one("SELECT '{1,2}'::int[] && '{3,5}'::int[]") == false)
    assert(one("SELECT '{1,2,3}'::int[] @> '{1,1}'::int[]") == true)
    assert(one("SELECT '{1,1}'::int[] <@ '{1,2,3}'::int[]") == true)
    assert(one("SELECT size('{}'::int[])") == 0)
  }

  // ---- text search ----

  test("text @@ tsquery matches the ts_match kernel") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("pgop_docs")
    val viaOp = spark.sql(
      "SELECT count(*) FROM pgop_docs WHERE text @@ 'data & model'::tsquery")
      .collect()(0).getLong(0)
    val viaFn = spark.sql(
      "SELECT count(*) FROM pgop_docs WHERE ts_match(text, 'data & model')")
      .collect()(0).getLong(0)
    assert(viaOp == viaFn)
    // the PG idiom: to_tsvector(t) @@ to_tsquery(q) — wrapper peeled
    val viaTsv = spark.sql(
      "SELECT count(*) FROM pgop_docs WHERE to_tsvector(text) @@ to_tsquery('data & model')")
      .collect()(0).getLong(0)
    assert(viaTsv == viaFn)
  }

  // ---- regex family ----

  test("~ / ~* / !~ / !~* regex operators") {
    assert(one("SELECT 'Thomas' ~ 'oma'") == true)
    assert(one("SELECT 'Thomas' ~ '^oma'") == false)
    assert(one("SELECT 'Thomas' ~* 'THOMAS'") == true)
    assert(one("SELECT 'Thomas' !~ 'xyz'") == true)
    assert(one("SELECT 'Thomas' !~* 'tho'") == false)
  }

  test("~ falls back to the ltree lquery match on non-regex literals") {
    assert(one("SELECT 'Top.Science.Astro' ~ '*.Science.*'") == true)
    assert(one("SELECT 'Top.Arts.Paint' ~ '*.Science.*'") == false)
    assert(one("SELECT 'Top.Science' ~ 'Top.*'") == true) // valid regex too
  }

  test("::jsonb canonicalizes like jsonb_in; delete and concat operators") {
    assert(one("""SELECT '{"b":2,"a":1}'::jsonb""") == """{"a": 1, "b": 2}""")
    assert(one("""SELECT '{"a":1,"b":2}'::jsonb - 'a'""") == """{"b": 2}""")
    assert(one("""SELECT '{"a":{"b":1},"c":2}'::jsonb #- '{a,b}'""") ==
      """{"a": {}, "c": 2}""")
    assert(one("""SELECT '{"a":1}'::jsonb || '{"b":2}'::jsonb""") ==
      """{"a": 1, "b": 2}""")
    assert(one("""SELECT ('a=>1,b=>2'::hstore - 'a') ? 'a'""") == false)
    assert(one("""SELECT 'a=>1'::hstore || 'b=>2'::hstore -> 'b'""") == "2")
  }

  test("trgm % threshold and jsonpath @?") {
    assert(one("SELECT 'word' % 'word'") == true)
    assert(one("SELECT 'abcdef' % 'xyzzyq'") == false)
    assert(one("SELECT 7 % 5") == 2)
    assert(one("""SELECT '{"a":[1,2]}'::jsonb @? '$.a'""") == true)
    assert(one("""SELECT '{"a":[1,2]}'::jsonb @? '$.b'""") == false)
  }

  test("intarray arithmetic operators keep contrib semantics") {
    def aj(sql: String) = one(s"SELECT array_join($sql, ',')")
    assert(aj("'{1,1,2}'::int[] - '{2}'::int[]") == "1,1") // keeps dups
    assert(aj("'{2,1}'::int[] | '{3,1}'::int[]") == "1,2,3") // sorted distinct
    assert(aj("'{1,2,3}'::int[] & '{3,2,5}'::int[]") == "2,3")
    assert(aj("'{1,2}'::int[] + '{2,3}'::int[]") == "1,2,2,3")
    assert(aj("'{1}'::int[] + 7") == "1,7")
    assert(one("SELECT 'a.b'::ltree || 'c.d'") == "a.b.c.d")
    assert(one("SELECT nlevel('a.b'::ltree || 'c.d')") == 4)
  }

  test("int[] @@ query_int boolean queries") {
    assert(one("SELECT '{1,2,7}'::int[] @@ '7 & (10 | 2)'::query_int") == true)
    assert(one("SELECT '{1,2,7}'::int[] @@ '7 & 10'::query_int") == false)
    assert(one("SELECT '{5}'::int[] @@ '!3 & 5'::query_int") == true)
  }

  test("::tsvector literals parse, manipulate, and match") {
    assert(one("SELECT tsvector_length('cat:1,3 dog:2'::tsvector)") == 2)
    assert(one("SELECT array_join(tsvector_to_array('b:2 a:1'::tsvector), ',')") == "a,b")
    assert(one("SELECT 'cat:1 dog:2'::tsvector @@ 'cat & dog'") == true)
    assert(one("SELECT 'cat:1 dog:2'::tsvector @@ 'cat <-> dog'::tsquery") == true)
    assert(one("SELECT 'cat:1 dog:3'::tsvector @@ 'cat <-> dog'::tsquery") == false)
    assert(one("SELECT 'cat dog'::tsvector @@ 'cat'") == true)
    // a stripped vector answers false to phrase queries
    assert(one("SELECT 'cat dog'::tsvector @@ 'cat <-> dog'") == false)
    // quoted lexemes, weight letters dropped, duplicate merge, sorting
    assert(one("SELECT array_join(tsvector_to_array('\\'fat rat\\':2 cat:1A,2B cat:9'::tsvector), '|')") ==
      "cat|fat rat")
    assert(one("SELECT array_join(transform('cat:9,1A,2 cat:2'::tsvector, e -> concat(e.lex, ':', array_join(e.positions, ','))), '|')") ==
      "cat:1,2,9")
  }

  test("tsvector || shifts positions; tsquery algebra composes") {
    assert(one("""SELECT array_join(transform('a:1 b:2'::tsvector || 'c:1'::tsvector,
                 |  e -> concat(e.lex, ':', array_join(e.positions, ','))), '|')""".stripMargin) ==
      "a:1|b:2|c:3")
    // the shifted positions make the cross-boundary phrase real
    assert(one("SELECT ('cat:1'::tsvector || 'dog:1'::tsvector) @@ 'cat <-> dog'") == true)
    assert(one("SELECT 'cat:1'::tsvector @@ ('cat'::tsquery && 'dog'::tsquery)") == false)
    assert(one("SELECT 'cat:1'::tsvector @@ ('cat'::tsquery || 'dog'::tsquery)") == true)
    assert(one("SELECT 'cat:1'::tsvector @@ (!! 'dog'::tsquery)") == true)
    assert(one("SELECT 'cat:1'::tsvector @@@ 'cat'") == true)
  }

  test("ts_rank over a materialized tsvector equals the text path") {
    // 'cat dog cat' lexizes to exactly cat:1,3 dog:2
    for (norm <- Seq(0, 2, 8)) {
      val viaTsv = one(s"SELECT ts_rank('cat:1,3 dog:2'::tsvector, 'cat & dog', $norm)")
      val viaText = one(s"SELECT ts_rank('cat dog cat', 'cat & dog', $norm)")
      assert(viaTsv == viaText, s"norm=$norm: $viaTsv != $viaText")
    }
    // a missing term contributes nothing; stripped entries count tf=1
    assert(one("SELECT ts_rank('cat dog'::tsvector, 'cat')") ==
      one("SELECT ts_rank('cat dog', 'cat')"))
  }

  // ---- casts through the session parser ----

  test("bytea hex literal and scalar PG type names") {
    assert(one("SELECT hex('\\xDEAD'::bytea)") == "DEAD")
    assert(one("SELECT 1::int8") == 1L)
    assert(one("SELECT '3.5'::float8") == 3.5d)
    assert(one("SELECT 42::text") == "42")
  }
}
