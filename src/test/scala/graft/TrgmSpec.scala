package graft

import graft.operators.Trgm
import org.apache.spark.sql.functions._

/**
 * pg_trgm compatibility: trigram extraction and similarity() reproduce
 * PostgreSQL's documented values, and the pair-search form agrees with
 * the brute-force cross product on a corpus with genuinely distinct
 * vocabularies.
 */
class TrgmSpec extends SparkSpec {
  import spark.implicits._

  private def sim(a: String, b: String): Double =
    Seq((a, b)).toDF("a", "b")
      .select(Trgm.similarity(col("a"), col("b")).as("s"))
      .as[Double].head()

  test("trigram set matches PG show_trgm semantics") {
    val tg = Seq("word").toDF("t")
      .select(Trgm.trigrams(col("t")).as("tg")).as[Seq[String]].head()
    assert(tg.toSet == Set("  w", " wo", "wor", "ord", "rd "))
    // one-char word: two trigrams, like show_trgm('a')
    val tg1 = Seq("a").toDF("t")
      .select(Trgm.trigrams(col("t")).as("tg")).as[Seq[String]].head()
    assert(tg1.toSet == Set("  a", " a "))
    // punctuation splits words; case folds; duplicates collapse
    val tg2 = Seq("Word, word!").toDF("t")
      .select(Trgm.trigrams(col("t")).as("tg")).as[Seq[String]].head()
    assert(tg2.toSet == Set("  w", " wo", "wor", "ord", "rd "))
  }

  test("similarity matches PG documented values") {
    // PG docs: similarity('word', 'two words') = 4/11
    assert(math.abs(sim("word", "two words") - 4.0 / 11.0) < 1e-12)
    assert(math.abs(sim("boat", "boats") - 4.0 / 7.0) < 1e-12)
    assert(sim("word", "word") == 1.0)
    assert(sim("", "word") == 0.0)   // PG: empty side → 0, not NULL/NaN
    assert(sim("", "") == 0.0)
  }

  test("fuzzystrmatch: soundex matches PG's documented values") {
    // PG fuzzystrmatch docs: soundex('Anne')=A500, soundex('Andrew')=A536,
    // soundex('Margaret')=M626; plus the classic Robert/Rupert pair
    val got = Seq(("Anne", "Andrew", "Margaret", "Robert", "Rupert"))
      .toDF("a", "b", "c", "d", "e")
      .select(soundex(col("a")), soundex(col("b")), soundex(col("c")),
        soundex(col("d")), soundex(col("e")))
      .head()
    assert(got.toSeq == Seq("A500", "A536", "M626", "R163", "R163"))
    // levenshtein agrees with the PG/DuckDB definition
    val lev = Seq(("kitten", "sitting")).toDF("x", "y")
      .select(levenshtein(col("x"), col("y"))).head().getInt(0)
    assert(lev == 3)
  }

  test("SQL surface: similarity()/show_trgm() match the Column API") {
    val r = spark.sql(
      "SELECT similarity('word', 'two words') AS s, show_trgm('word') AS t")
      .head()
    assert(math.abs(r.getDouble(0) - 4.0 / 11.0) < 1e-12)
    assert(r.getSeq[String](1).toSet ==
      Set("  w", " wo", "wor", "ord", "rd "))
  }

  test("similarPairs equals brute force on a distinct-vocab corpus") {
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    // doc i = a sliding window of 4 words → neighbors overlap 3/4
    val docs = (0 until 7).map { i =>
      (i.toLong, (0 until 4).map(j => words((i + j) % words.length)).mkString(" "))
    }.toDF("id", "text")
    val tau = 0.4
    val got = Trgm.similarPairs(docs, "id", "text", tau, maxDf = Int.MaxValue)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = docs.select(col("id"), Trgm.trigrams(col("text")).as("tg"))
    val brute = base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Trgm.similarityOfSets(col("a.tg"), col("b.tg")), 6).as("sim"))
      .filter(col("sim") >= tau).orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == brute)
    assert(brute.nonEmpty, "overlapping windows should clear tau")
    // default maxDf (no gram here is heavy) gives the same answer
    val dflt = Trgm.similarPairs(docs, "id", "text", tau)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(dflt == brute)
  }

  test("single-query search equals per-row similarity() filter") {
    val names = (0 until 50).map(i => (i.toLong, f"Customer#$i%09d")).toDF("id", "name")
    val q = "Customer#000000012"
    val tau = 0.6
    val got = Trgm.search(names, "id", "name", q, tau)
      .select("id", "sim").as[(Long, Double)].collect().toMap
    val want = names
      .select(col("id"), round(Trgm.similarity(col("name"), lit(q)), 6).as("s"))
      .as[(Long, Double)].collect().filter(_._2 >= tau).toMap
    assert(got == want && want.nonEmpty)
    // the query matches itself at exactly 1.0
    assert(got(12L) == 1.0)
    // queryGrams equals the Spark-side trigrams() of the same string
    val sparkGrams = Seq(q).toDF("t")
      .select(Trgm.trigrams(col("t")).as("g")).as[Seq[String]].head().toSet
    assert(Trgm.queryGrams(q).toSet == sparkGrams)
  }

  test("query-table searchMany equals per-query single search") {
    val names = (0 until 60).map(i => (i.toLong, f"Customer#$i%09d")).toDF("id", "name")
    val qs = Seq((1L, "Customer#000000012"), (2L, "Custmer#00000004"))
    val tau = 0.6
    val got = Trgm.searchMany(names, "id", "name",
        qs.toDF("qid", "qtext"), "qid", "qtext", tau)
      .select("qid", "id", "sim").as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, qt) =>
      Trgm.search(names, "id", "name", qt, tau)
        .select("id", "sim").as[(Long, Double)].collect()
        .map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(got == want && want.nonEmpty)
  }

  test("query_int boolean matching with precedence") {
    import graft.operators.IntArrays
    def m(a: Seq[Int], q: String): Boolean =
      Seq(Tuple1(a)).toDF("a")
        .select(IntArrays.queryIntMatch(col("a"), q).as("r")).as[Boolean].head()
    assert(m(Seq(1, 2), "1 & 2"))
    assert(!m(Seq(1), "1 & 2"))
    assert(m(Seq(1, 3), "1 & (2 | 3)"))
    assert(!m(Seq(1, 4), "1 & (2 | 3)"))
    assert(m(Seq(5), "!3 & 5"))
    assert(!m(Seq(3, 5), "!3 & 5"))
    // precedence: | lowest, ! tightest
    assert(m(Seq(9), "9 | 1 & 2"))
    assert(m(Seq(1, 2), "9 | 1 & 2"))
    assert(!m(Seq(1), "9 | 1 & 2"))
  }
}
