package graft

import graft.functions.CipherExpressions
import org.apache.spark.sql.functions._

/**
 * pgcrypto encrypt/decrypt contracts: the AES core pinned to NIST SP
 * 800-38A vectors (explicit IV, pad:none — byte-for-byte), the
 * reference's key zero-padding rule (internal.cpp:274-292), and the
 * round-trip law for every supported algo/mode/padding combination.
 */
class CipherSpec extends SparkSpec {
  import spark.implicits._

  private def hexb(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val nistKey128 = hexb("2b7e151628aed2a6abf7158809cf4f3c")
  private val nistKey256 =
    hexb("603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4")
  private val nistIv = hexb("000102030405060708090a0b0c0d0e0f")
  private val nistPt = hexb("6bc1bee22e409f96e93d7e117393172a")

  private def one(c: org.apache.spark.sql.Column): Array[Byte] =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).getAs[Array[Byte]]("r")

  test("NIST SP 800-38A AES-CBC and AES-ECB vectors") {
    // F.2.1 CBCEnc128 block 1
    assert(one(CipherExpressions.encryptIv(lit(nistPt), lit(nistKey128),
      lit(nistIv), "aes-cbc/pad:none")).map("%02x".format(_)).mkString ===
      "7649abac8119b246cee98e9b12e9197d")
    // F.2.5 CBCEnc256 block 1
    assert(one(CipherExpressions.encryptIv(lit(nistPt), lit(nistKey256),
      lit(nistIv), "aes-cbc/pad:none")).map("%02x".format(_)).mkString ===
      "f58c4c04d6e5f1ba779eabfb5f7bfbd6")
    // F.1.1 ECBEnc128 block 1
    assert(one(CipherExpressions.encryptIv(lit(nistPt), lit(nistKey128),
      lit(Array.empty[Byte]), "aes-ecb/pad:none"))
      .map("%02x".format(_)).mkString ===
      "3ad77bb40d7a3660a89ecaf32466ef97")
  }

  test("reference key rule: short keys zero-pad to the next AES size") {
    val short = "secret".getBytes("UTF-8")
    val padded = java.util.Arrays.copyOf(short, 16)
    val a = one(CipherExpressions.encrypt(lit("payload"), lit(short), "aes"))
    val b = one(CipherExpressions.encrypt(lit("payload"), lit(padded), "aes"))
    assert(a.toSeq === b.toSeq)
  }

  test("round-trip law across algos, modes, paddings, and lengths") {
    val msgs = Seq("", "x", "exactly sixteen!", "a longer message spanning blocks",
      "unicode: café über")
    for (spec <- Seq("aes", "aes-ecb", "aes-cbc/pad:pkcs", "bf", "bf-ecb");
         m <- msgs) {
      val rt = one(CipherExpressions.decrypt(
        CipherExpressions.encrypt(lit(m), lit("k3y"), spec), lit("k3y"), spec))
      assert(new String(rt, "UTF-8") === m, s"round-trip failed for $spec / '$m'")
    }
    // pad:none round-trips only block multiples
    val rt = one(CipherExpressions.decrypt(
      CipherExpressions.encrypt(lit("exactly sixteen!"), lit("k"), "aes/pad:none"),
      lit("k"), "aes/pad:none"))
    assert(new String(rt, "UTF-8") === "exactly sixteen!")
  }

  test("default IV is all-zero (pgcrypto encrypt == encrypt_iv with zero iv)") {
    val a = one(CipherExpressions.encrypt(lit("msg msg"), lit("k"), "aes"))
    val b = one(CipherExpressions.encryptIv(lit("msg msg"), lit("k"),
      lit(new Array[Byte](16)), "aes"))
    assert(a.toSeq === b.toSeq)
  }

  test("distributed determinism: per-partition cipher reuse yields one answer") {
    val df = spark.range(0, 2000, 1, 8).toDF("i")
      .withColumn("msg", concat(lit("row:"), col("i")))
      .withColumn("ct", CipherExpressions.encrypt(col("msg"), lit("graft-key"), "aes"))
      .withColumn("rt", CipherExpressions.decrypt(col("ct"), lit("graft-key"), "aes"))
    assert(df.filter(col("rt").cast("string") =!= col("msg")).count() === 0L)
    // same plaintext+key → same ciphertext regardless of partition
    val distinct = df.filter(col("i") === 7).select(col("ct"))
      .union(spark.range(1).toDF("z").select(
        CipherExpressions.encrypt(lit("row:7"), lit("graft-key"), "aes").as("ct")))
      .distinct().count()
    assert(distinct === 1L)
  }

  test("SQL surface: encrypt/decrypt registered and round-trip in spark.sql") {
    val r = spark.sql(
      """SELECT CAST(decrypt(encrypt('hello graft', 'k3y', 'aes'),
        |  'k3y', 'aes') AS STRING) AS rt""".stripMargin).collect()(0).getString(0)
    assert(r === "hello graft")
  }

  test("invalid specs and oversized keys throw") {
    intercept[IllegalArgumentException] { CipherExpressions.parse("des") }
    intercept[IllegalArgumentException] { CipherExpressions.parse("aes-gcm") }
    intercept[IllegalArgumentException] { CipherExpressions.parse("aes/wat:x") }
    intercept[Exception] {
      one(CipherExpressions.encrypt(lit("m"), lit(new Array[Byte](33)), "aes"))
    }
  }
}
