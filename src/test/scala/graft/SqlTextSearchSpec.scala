package graft

import org.apache.spark.sql.functions._

/**
 * SQL-name parity for the text-search / ltree / crypt registrations
 * (SqlTextSearch): every registered name must produce, through
 * spark.sql TEXT, exactly what the Column/Expression surface produces
 * — plus the PG-documented example values and the literal-argument
 * error contracts. The composite driver gate is `sql_fts`
 * (hash-exact vs DuckDB at both SFs); these specs pin each name
 * individually.
 */
class SqlTextSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    val d = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    d.createOrReplaceTempView("sqlts_docs")
    d
  }

  private def one(sql: String): org.apache.spark.sql.Row =
    spark.sql(sql).collect()(0)

  /** SQL text vs Column API over the whole documents table. */
  private def parity(sqlExpr: String, c0: org.apache.spark.sql.Column): Unit = {
    val s = spark.sql(
      s"SELECT doc_id, $sqlExpr AS v FROM sqlts_docs ORDER BY doc_id")
    val c = docs.select(col("doc_id"), c0.as("v")).orderBy("doc_id")
    val (sr, cr) = (s.collect(), c.collect())
    assert(sr.length == cr.length && sr.length > 0)
    sr.zip(cr).foreach { case (a, b) => assert(a == b, s"$sqlExpr: $a != $b") }
  }

  test("to_tsvector: SQL == Column, config prefix accepted, bad config rejected") {
    docs
    parity("to_tsvector(text)", graft.operators.Lexize.tsvector(col("text")))
    parity("to_tsvector('english', text)",
      graft.operators.Lexize.tsvector(col("text")))
    val e = intercept[Exception](
      spark.sql("SELECT to_tsvector('french', text) FROM sqlts_docs").collect())
    assert(e.getMessage.contains("unsupported text search configuration"))
  }

  test("tsvector manipulation: length/to_array/delete/strip/array_to_tsvector") {
    docs
    val LX = graft.operators.Lexize
    parity("tsvector_length(to_tsvector(text))",
      LX.tsvectorLength(LX.tsvector(col("text"))))
    parity("tsvector_to_array(to_tsvector(text))",
      LX.tsvectorToArray(LX.tsvector(col("text"))))
    parity("ts_delete(to_tsvector(text), 'spark')",
      LX.tsDelete(LX.tsvector(col("text")), "spark"))
    // strip: every positions array empties, lexemes unchanged
    val r = one("SELECT strip(to_tsvector('spark keys spark')) v")
      .getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(_.getString(0)) == Seq("kei", "spark"))
    assert(r.forall(_.getSeq[Int](1).isEmpty))
    val a = one("SELECT array_to_tsvector(array('b','a','b')) v")
      .getSeq[org.apache.spark.sql.Row](0)
    assert(a.map(_.getString(0)) == Seq("a", "b"))
  }

  test("tsquery constructors render the engine's normalized form") {
    val P = graft.functions.Porter
    assert(one("SELECT to_tsquery('sparks & keys') v").getString(0) ==
      s"(${P.stem("sparks")}) & (${P.stem("keys")})")
    assert(one("SELECT plainto_tsquery('The Merging Tables') v").getString(0)
      == "(merg) & (tabl)")
    // stopword drop folds the gap (PG: big <-> the <-> table ≡ big <2> table)
    assert(one("SELECT phraseto_tsquery('merging the tables') v").getString(0)
      == "merg <2> tabl")
    assert(one(
      """SELECT websearch_to_tsquery('"spark key" OR dup -"slow query"') v""")
      .getString(0) == "(spark <1> kei) | ((dup) & (!(slow <1> queri)))")
    // config prefix form
    assert(one("SELECT to_tsquery('english', 'merging') v").getString(0)
      == "merg")
    val e = intercept[Exception](
      spark.sql("SELECT plainto_tsquery('the a') v").collect())
    assert(e.getMessage.contains("stop words"))
  }

  test("numnode / querytree (tsquery introspection)") {
    // merg(1) &(1) !(1) small(1) = 4; <-> counts like PG's operators
    assert(one("SELECT numnode('merging & !small') v").getInt(0) == 4)
    assert(one("SELECT numnode('big <-> table') v").getInt(0) == 3)
    assert(one("SELECT querytree('merging & !small') v").getString(0) == "merg")
    // a pure-negation query has no index-usable part
    assert(one("SELECT querytree('!small') v").getString(0) == "T")
    // OR with a negated arm is unusable as a whole
    assert(one("SELECT querytree('merging | !small') v").getString(0) == "T")
  }

  test("ts_match: SQL == Column, and composes with to_tsquery's output") {
    docs
    parity("ts_match(text, 'spark & key')",
      graft.operators.Lexize.tsMatch(col("text"), "spark & key"))
    // to_tsquery folds to a normalized literal during analysis, so the
    // PG spelling to_tsvector(t) @@ to_tsquery(q) maps to
    // ts_match(t, to_tsquery(q)) — normalization is idempotent on its
    // own rendering
    val direct = spark.sql(
      "SELECT doc_id FROM sqlts_docs WHERE ts_match(text, 'sparks & keys') ORDER BY doc_id")
    val nested = spark.sql(
      "SELECT doc_id FROM sqlts_docs WHERE ts_match(text, to_tsquery('sparks & keys')) ORDER BY doc_id")
    assert(direct.collect().toSeq == nested.collect().toSeq)
    assert(direct.count() > 0)
  }

  test("ts_rank family: SQL == Column, literal-query contract enforced") {
    docs
    val FT = graft.operators.FullText
    parity("ts_rank(text, 'spark & key')", FT.tsRank(col("text"), "spark & key"))
    parity("ts_rank(text, 'spark & key', 2)",
      FT.tsRank(col("text"), "spark & key", norm = 2))
    parity("ts_rank_cd(text, 'spark & key')",
      FT.tsRankCd(col("text"), "spark & key"))
    parity("ts_rank_weighted(text, 'spark', 3)",
      FT.tsRankWeighted(col("text"), "spark", titleTokens = 3))
    val e = intercept[Exception](
      spark.sql("SELECT ts_rank(text, text) FROM sqlts_docs").collect())
    assert(e.getMessage.contains("must be a string literal"))
  }

  test("ts_headline: SQL == Column; full option surface") {
    docs
    val HD = graft.operators.HeadlineDefault
    parity("ts_headline(text, 'spark', 'MaxWords=10, MinWords=5, ShortWord=0')",
      HD.headlineCol(col("text"), "spark", maxWords = 10, minWords = 5,
        shortWord = 0))
    parity("ts_headline('english', text, 'spark')",
      HD.headlineCol(col("text"), "spark"))
    // StartSel/StopSel, quoted FragmentDelimiter holding a comma,
    // MaxFragments>0 — against the direct kernel call
    val got = one("SELECT ts_headline('spark a b c d e f g h spark x', " +
      "'spark', 'MaxFragments=2, MaxWords=4, MinWords=2, ShortWord=0, " +
      "StartSel=<<, StopSel=>>, FragmentDelimiter=\", \"') v").getString(0)
    assert(got == HD.headline("spark a b c d e f g h spark x", "spark",
      maxWords = 4, minWords = 2, shortWord = 0, maxFragments = 2,
      startSel = "<<", stopSel = ">>", fragDelim = ", "))
    assert(got.contains("<<spark>>"))
    assert(one("SELECT ts_headline('a spark b', 'spark', 'HighlightAll=on') v")
      .getString(0) == "a <b>spark</b> b")
    val e = intercept[Exception](spark.sql(
      "SELECT ts_headline('t', 'q', 'MaxWord=3') v").collect())
    assert(e.getMessage.contains("unrecognized option"))
  }

  test("ts_parse / ts_token_type / ts_lexize") {
    docs
    parity("ts_parse('default', text)",
      graft.functions.TsDefaultParser.parseCol(col("text")))
    val tt = spark.sql(
      "SELECT t.tokid, t.alias FROM (SELECT explode(ts_token_type('default')) t)")
      .collect().map(r => r.getInt(0) -> r.getString(1))
    assert(tt.toSeq == graft.functions.TsDefaultParser.tokenTypes
      .map(t => t._1 -> t._2))
    assert(one("SELECT ts_lexize('english_stem', 'stars') v")
      .getSeq[String](0) == Seq("star"))
    assert(one("SELECT ts_lexize('english_stem', 'the') v")
      .getSeq[String](0).isEmpty)
    assert(one("SELECT ts_lexize('simple', 'The') v")
      .getSeq[String](0) == Seq("the"))
    val e = intercept[Exception](
      spark.sql("SELECT ts_lexize('german_stem', 'x') v").collect())
    assert(e.getMessage.contains("unknown dictionary"))
  }

  test("ltree names: PG-documented examples + SQL == Column") {
    // PG ltree docs: index('0.1.2.3.5.4.5.6.8.5.6.8','5.6') = 6
    assert(one("SELECT index('0.1.2.3.5.4.5.6.8.5.6.8','5.6') v").getInt(0) == 6)
    assert(one("SELECT ltree_index('a.b.c','x') v").getInt(0) == -1)
    assert(one("SELECT nlevel('Top.Child1.Child2') v").getInt(0) == 3)
    assert(one("SELECT subpath('Top.Child1.Child2', 0, 2) v").getString(0)
      == "Top.Child1")
    assert(one("SELECT subpath('Top.Child1.Child2', 1) v").getString(0)
      == "Child1.Child2")
    assert(one("SELECT subltree('Top.Child1.Child2', 1, 2) v").getString(0)
      == "Child1")
    assert(one("SELECT ltree_isparent('a.b', 'a.b.c') v").getBoolean(0))
    assert(!one("SELECT ltree_isparent('a.bx', 'a.b.c') v").getBoolean(0))
    assert(one("SELECT ltree_risparent('a.b.c', 'a.b') v").getBoolean(0))
    assert(one("SELECT lquery_match('a.b.c', 'a.*{1}.c') v").getBoolean(0))
    assert(!one("SELECT lquery_match('a.b.x.c', 'a.*{1}.c') v").getBoolean(0))
    assert(one("SELECT ltxt_match('a.b.c', 'b & !z') v").getBoolean(0))
    assert(one("SELECT text2ltree('a.b') v").getString(0) == "a.b")
    // lca as the distributed aggregate form
    val lca = spark.sql(
      "SELECT lca(p) v FROM VALUES ('1.2.3'), ('1.2.5.3') AS t(p)")
    assert(lca.collect()(0).getString(0) == "1.2")
  }

  test("fuzzystrmatch names: SQL == Column, PG examples") {
    docs
    val P = graft.functions.Phonetic
    // per-word (metaphone caps input at 255 bytes, reference-faithful)
    val w0 = split(col("text"), " ")(0)
    parity("metaphone(split(text, ' ')[0], 10)", P.metaphoneCol(w0, 10))
    parity("dmetaphone(split(text, ' ')[0])", P.dmetaphoneCol(w0))
    parity("soundex(split(text, ' ')[0])", P.soundexCol(w0))
    // PG fuzzystrmatch docs: metaphone('GUMBO', 4) = KM;
    // soundex('Anne') = A500, difference('Anne','Ann') = 4;
    // dmetaphone('gumbo') = KMP
    assert(one("SELECT metaphone('GUMBO', 4) v").getString(0) == "KM")
    assert(one("SELECT soundex('Anne') v").getString(0) == "A500")
    assert(one("SELECT difference('Anne', 'Ann') v").getInt(0) == 4)
    assert(one("SELECT dmetaphone('gumbo') v").getString(0) == "KMP")
    assert(one("SELECT dmetaphone_alt('gumbo') v").getString(0) == "KMP")
    // levenshtein: 2-arg unit costs, 5-arg costed, less_equal clamps
    assert(one("SELECT levenshtein('GUMBO', 'GAMBOL') v").getInt(0) == 2)
    assert(one("SELECT levenshtein('GUMBO', 'GAMBOL', 2, 1, 1) v")
      .getInt(0) == 3)
    assert(one(
      "SELECT levenshtein_less_equal('extensive', 'exhaustive', 2) v")
      .getInt(0) == 3)
    assert(one(
      "SELECT levenshtein_less_equal('extensive', 'exhaustive', 4) v")
      .getInt(0) == 4)
  }

  test("digest(data, type) returns the binary digest") {
    val r = one("SELECT digest('abc', 'sha256') v").getAs[Array[Byte]](0)
    // FIPS-180 test vector for SHA-256("abc")
    assert(r.map("%02x".format(_)).mkString ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(one("SELECT digest('', 'md5') v").getAs[Array[Byte]](0)
      .map("%02x".format(_)).mkString == "d41d8cd98f00b204e9800998ecf8427e")
    val e = intercept[Exception](
      spark.sql("SELECT digest('x', 'crc32') v").collect())
    assert(e.getMessage.contains("unknown algorithm"))
  }

  test("tsearch SRFs in the FROM clause: ts_parse/ts_token_type/ts_debug") {
    // regress spelling: SELECT * FROM ts_parse('default', ...)
    val toks = spark.sql(
      "SELECT * FROM ts_parse('default', 'a http://x.org/p b')")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
    assert(toks == graft.functions.TsDefaultParser
      .parse("a http://x.org/p b").toSeq)
    assert(spark.sql("SELECT * FROM ts_token_type('default')").count() == 23)
    val dbg = spark.sql(
      "SELECT * FROM ts_debug('english', 'The Sparks 42')").collect()
    assert(dbg.length == 5)
    // 'The' is a stopword: english_stem consumed it, zero lexemes
    assert(dbg(0).getString(0) == "asciiword" &&
      dbg(0).getString(3) == "english_stem" &&
      dbg(0).getSeq[String](4).isEmpty)
    assert(dbg(2).getSeq[String](4) == Seq("spark"))
    assert(dbg(4).getString(0) == "uint" && dbg(4).getString(3) == "simple")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM ts_parse('zh', 'x')").collect())
    assert(e.getMessage.contains("unknown parser"))
  }

  test("crypt / gen_salt: SQL == kernel, deterministic seeded salts") {
    val P = graft.functions.PxCrypt
    assert(one("SELECT crypt('foo', '$1$abcdefgh') v").getString(0) ==
      P.crypt("foo", "$1$abcdefgh"))
    assert(one("SELECT gen_salt('bf', 6, 42) v").getString(0) ==
      P.genSaltSeeded("bf", 6, 42L))
    assert(one("SELECT gen_salt('md5') v").getString(0) ==
      P.genSaltSeeded("md5", 0, 0L))
    // round-trip through the SQL spelling, exactly the pgcrypto idiom
    val rt = one("SELECT crypt('secret', gen_salt('bf', 6, 7)) v").getString(0)
    assert(rt == one(
      s"SELECT crypt('secret', '${rt}') v").getString(0))
    val e = intercept[Exception](
      spark.sql("SELECT gen_salt('bf', 99) v").collect())
    assert(e.getMessage.contains("incorrect number of rounds"))
  }
}
