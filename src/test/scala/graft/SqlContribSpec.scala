package graft

import org.apache.spark.sql.functions._

/**
 * Wave-2 SQL-name parity (SqlContrib): jsonb / hstore / intarray /
 * earthdistance names callable from spark.sql produce exactly what
 * the Column kernels produce, with the PG-documented example values.
 * The composite driver gate is `sql_contrib`.
 */
class SqlContribSpec extends SparkSpec {
  import spark.implicits._

  private def one(sql: String): org.apache.spark.sql.Row =
    spark.sql(sql).collect()(0)

  test("jsonb names: containment, existence, mutation, paths") {
    val J = graft.functions.Jsonb
    assert(one("""SELECT jsonb_contains('{"a":1,"b":2}', '{"a":1}') v""")
      .getBoolean(0))
    assert(!one("""SELECT jsonb_contains('{"a":1}', '{"a":2}') v""")
      .getBoolean(0))
    assert(one("""SELECT jsonb_contained('{"a":1}', '{"a":1,"b":2}') v""")
      .getBoolean(0))
    assert(one("""SELECT jsonb_exists('{"a":1}', 'a') v""").getBoolean(0))
    assert(one("""SELECT jsonb_exists_any('{"a":1}', array('x','a')) v""")
      .getBoolean(0))
    assert(!one("""SELECT jsonb_exists_all('{"a":1}', array('x','a')) v""")
      .getBoolean(0))
    // mutation parity against the Column kernels on a per-row doc
    val df = Seq((1L, """{"o":1,"tags":["p","x"]}""")).toDF("id", "doc")
    df.createOrReplaceTempView("sqlcontrib_doc")
    val viaSql = spark.sql(
      """SELECT jsonb_concat(doc, '{"z":1}') a,
        |  jsonb_delete(doc, 'tags') b,
        |  jsonb_delete_path(doc, '{tags,0}') c,
        |  jsonb_set(doc, '{o}', '7') d,
        |  jsonb_insert(doc, '{tags,0}', '"n"') e,
        |  jsonb_path_exists(doc, '$.tags[1]') f,
        |  jsonb_path_query_first(doc, '$.tags[0]') g
        |FROM sqlcontrib_doc""".stripMargin).collect()(0)
    val viaCol = df.select(
      J.concatJson(col("doc"), """{"z":1}"""),
      Bridge2.c(graft.functions.JsonbDelete(Bridge2.e(col("doc")),
        graft.functions.JsonbDelete.DelKey("tags"))),
      Bridge2.c(graft.functions.JsonbDelete(Bridge2.e(col("doc")),
        graft.functions.JsonbDelete.DelPath(Seq("tags", "0")))),
      J.setJson(col("doc"), Seq("o"), "7"),
      J.insertJson(col("doc"), Seq("tags", "0"), lit("\"n\"")),
      graft.functions.JsonPath.pathExists(col("doc"), "$.tags[1]"),
      graft.functions.JsonPath.pathQueryFirst(col("doc"), "$.tags[0]"))
      .collect()(0)
    (0 until 7).foreach(i => assert(viaSql.get(i) == viaCol.get(i), s"col $i"))
  }

  test("hstore names: PG storage order, concat right-wins, slice") {
    // akeys order is hstore's physical order: length first, then bytes
    assert(one("SELECT akeys(map('bb','1','a','2','ab','3')) v")
      .getSeq[String](0) == Seq("a", "ab", "bb"))
    assert(one("SELECT avals(map('bb','1','a','2')) v")
      .getSeq[String](0) == Seq("2", "1"))
    assert(one("SELECT exist(map('a','1'), 'a') v").getBoolean(0))
    assert(!one("SELECT defined(map('a',CAST(NULL AS STRING)), 'a') v")
      .getBoolean(0))
    assert(one("SELECT akeys(delete(map('a','1','b','2'), 'a')) v")
      .getSeq[String](0) == Seq("b"))
    assert(one(
      "SELECT element_at(hs_concat(map('a','1'), map('a','9','b','2')), 'a') v")
      .getString(0) == "9")
    assert(one(
      "SELECT akeys(hstore_slice(map('a','1','b','2','c','3'), array('a','c'))) v")
      .getSeq[String](0) == Seq("a", "c"))
    assert(one("SELECT element_at(hstore(array('k'), array('v')), 'k') v")
      .getString(0) == "v")
    assert(one("SELECT element_at(hstore('k', 'v'), 'k') v")
      .getString(0) == "v")
  }

  test("intarray names: PG examples") {
    assert(one("SELECT icount(array(1,2,3)) v").getInt(0) == 3)
    // PG docs: uniq removes adjacent duplicates only
    assert(one("SELECT uniq(array(1,2,2,3,1,1)) v")
      .getSeq[Int](0) == Seq(1, 2, 3, 1))
    assert(one("SELECT uniq(sort(array(1,2,3,2,1))) v")
      .getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT sort_desc(array(1,3,2)) v")
      .getSeq[Int](0) == Seq(3, 2, 1))
    assert(one("SELECT sort(array(1,3,2), 'desc') v")
      .getSeq[Int](0) == Seq(3, 2, 1))
    // PG docs: idx('{1,2,3,4,5,6}', 4) = 4; 0 when absent
    assert(one("SELECT idx(array(1,2,3,4,5,6), 4) v").getInt(0) == 4)
    assert(one("SELECT idx(array(1,2,3), 9) v").getInt(0) == 0)
    // PG docs: subarray('{1,2,3,2,1}', 2, 3) = {3,2,1}; 2-arg to end
    assert(one("SELECT subarray(array(1,2,3,2,1), 2, 3) v")
      .getSeq[Int](0) == Seq(3, 2, 1))
    assert(one("SELECT subarray(array(1,2,3,2,1), 3) v")
      .getSeq[Int](0) == Seq(2, 1))
    assert(one("SELECT intset(42) v").getSeq[Int](0) == Seq(42))
  }

  test("pgp SQL names: sym round-trip, cipher-algo options, armor") {
    val pt = one("SELECT pgp_sym_decrypt(pgp_sym_encrypt('secret msg', 'pw', 42), 'pw') v")
      .getString(0)
    assert(pt == "secret msg")
    // seed determinism: same seed = same ciphertext, different differs
    val c = spark.sql(
      "SELECT pgp_sym_encrypt('m', 'p', 1) a, pgp_sym_encrypt('m', 'p', 1) b, " +
        "pgp_sym_encrypt('m', 'p', 2) c").collect()(0)
    assert(java.util.Arrays.equals(c.getAs[Array[Byte]](0),
      c.getAs[Array[Byte]](1)))
    assert(!java.util.Arrays.equals(c.getAs[Array[Byte]](0),
      c.getAs[Array[Byte]](2)))
    // cipher-algo option changes the message, decrypt still works
    val aes256 = one("SELECT pgp_sym_decrypt(pgp_sym_encrypt('x', 'p', 7, " +
      "'cipher-algo=aes256'), 'p') v").getString(0)
    assert(aes256 == "x")
    // armor/dearmor round-trip with the RFC 4880 framing
    val arm = one("SELECT armor(pgp_sym_encrypt('y', 'p', 3)) v").getString(0)
    assert(arm.startsWith("-----BEGIN PGP MESSAGE-----"))
    assert(one("SELECT pgp_sym_decrypt(dearmor(armor(" +
      "pgp_sym_encrypt('y', 'p', 3))), 'p') v").getString(0) == "y")
    val e = intercept[Exception](spark.sql(
      "SELECT pgp_sym_encrypt('x', 'p', 1, 'cipher-algo=3des') v").collect())
    assert(e.getMessage.contains("unsupported cipher-algo"))
  }

  test("uuid-ossp names are RFC 4122 exact (python-uuid vectors)") {
    // uuid.uuid3(NAMESPACE_DNS, 'www.widgets.com') et al.
    assert(one(
      "SELECT uuid_generate_v3(uuid_ns_dns(), 'www.widgets.com') v")
      .getString(0) == "3d813cbb-47fb-32ba-91df-831e1593ac29")
    assert(one(
      "SELECT uuid_generate_v5(uuid_ns_dns(), 'www.widgets.com') v")
      .getString(0) == "21f7f8de-8051-5b89-8680-0195ef798b6a")
    assert(one(
      "SELECT uuid_generate_v3(uuid_ns_url(), 'http://x.org/p') v")
      .getString(0) == "716cd620-4e5a-3984-99b8-cbd0717ad27f")
    assert(one(
      "SELECT uuid_generate_v5(uuid_ns_url(), 'http://x.org/p') v")
      .getString(0) == "b6eb3596-a606-5808-bad7-55063975bc85")
  }

  test("earthdistance: great-circle metres on the earthdistance sphere") {
    // same point -> 0; the pole-to-equator quarter-circle = pi*R/2
    assert(one(
      "SELECT earth_distance(ll_to_earth(49.0, 2.0), ll_to_earth(49.0, 2.0)) v")
      .getDouble(0) == 0.0)
    val quarter = one(
      "SELECT earth_distance(ll_to_earth(90.0, 0.0), ll_to_earth(0.0, 0.0)) v")
      .getDouble(0)
    assert(math.abs(quarter - math.Pi * 6378168.0 / 2) < 1e-3)
    // agrees with the haversine kernel within float tolerance (the
    // sphere radii differ: earthdistance pins 6378168)
    val d = one(
      "SELECT earth_distance(ll_to_earth(48.8566, 2.3522), ll_to_earth(51.5074, -0.1278)) v")
      .getDouble(0)
    assert(d > 33e4 && d < 35e4) // Paris-London ~344 km
  }
}

/** Tiny local alias to keep the jsonb parity block readable. */
private object Bridge2 {
  def c(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graft.Bridge.column(e)
  def e(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.Bridge.expression(c)
}
