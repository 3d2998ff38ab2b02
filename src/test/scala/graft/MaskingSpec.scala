package graft

import graft.operators.Masking
import org.apache.spark.sql.functions._

/**
 * Pins the security_plugin masking semantics to the reference's own
 * plpgsql bodies (contrib/security_plugin/security_plugin--1.0.sql) —
 * including the quirks: the digit class is literally `[\d+]` (digit OR
 * plus), creditcardmasking keeps the last 4 chars even when they are
 * digits, fullemailmasking passes through when no dot follows the '@',
 * and regexpmasking clamps its window exactly like the plpgsql IF
 * ladder.
 */
class MaskingSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect()(0).getString(0)
  }

  test("creditcardmasking: digits and '+' masked, last 4 kept, short passthrough") {
    assert(one(Masking.creditcardmasking(lit("4096-1234-5678-9012"))) ===
      "xxxx-xxxx-xxxx-9012")
    // the reference class [\d+] also masks '+'
    assert(one(Masking.creditcardmasking(lit("+4096 1234 9012"))) ===
      "xxxxx xxxx 9012")
    // length < 4 → CASE falls through to the raw column
    assert(one(Masking.creditcardmasking(lit("123"))) === "123")
    assert(one(Masking.creditcardmasking(lit("1234"))) === "1234")
  }

  test("basicemailmasking: local part masked; no '@' or '@' first → passthrough") {
    assert(one(Masking.basicemailmasking(lit("alice@example.org"))) ===
      "xxxxx@example.org")
    assert(one(Masking.basicemailmasking(lit("no-at-here"))) === "no-at-here")
    assert(one(Masking.basicemailmasking(lit("@leading"))) === "@leading")
  }

  test("fullemailmasking: local+domain masked up to LAST dot; guards") {
    assert(one(Masking.fullemailmasking(lit("alice@mail.example.org"))) ===
      "xxxxx@xxxxxxxxxxxx.org")
    // pos <= 2 → passthrough (reference: pos > 2, i.e. '@' at 1-based
    // position 3+, so a 1-char local part is NOT masked but 2 chars are)
    assert(one(Masking.fullemailmasking(lit("a@x.org"))) === "a@x.org")
    assert(one(Masking.fullemailmasking(lit("ab@x.org"))) === "xx@x.org")
    // no dot after the '@' → dot_pos < pos → passthrough
    assert(one(Masking.fullemailmasking(lit("a.bc@nodot"))) === "a.bc@nodot")
  }

  test("alldigitsmasking + maskall") {
    assert(one(Masking.alldigitsmasking(lit("a1b2+c3"))) === "a0b00c0")
    assert(one(Masking.maskall(lit("secret"))) === "xxxxxx")
    assert(one(Masking.maskall(lit(""))) === "")
  }

  test("SQL surface: registered masking/unaccent/hmac/hilbert match the APIs") {
    import spark.implicits._
    val df = Seq(
      ("4096-1234-5678-9012", "alice@mail.example.org", "Pay 12 to +49"),
      ("123", "no-at-here", "größe łódź œuvre")).toDF("card", "email", "txt")
    df.createOrReplaceTempView("mask_in")
    val got = spark.sql(
      """SELECT creditcardmasking(card) AS c, basicemailmasking(email) AS b,
        |  fullemailmasking(email) AS f, alldigitsmasking(txt) AS d,
        |  maskall(card) AS m, regexpmasking(email, '[a-z]', '*', 2, 6) AS r,
        |  unaccent(txt) AS u,
        |  hex(hmac(txt, 'k', 'sha256')) AS h,
        |  hilbert_index(length(card), length(email), 8) AS hi
        |FROM mask_in""".stripMargin).collect()
    val want = df.select(
      Masking.creditcardmasking(col("card")).as("c"),
      Masking.basicemailmasking(col("email")).as("b"),
      Masking.fullemailmasking(col("email")).as("f"),
      Masking.alldigitsmasking(col("txt")).as("d"),
      Masking.maskall(col("card")).as("m"),
      Masking.regexpmasking(col("email"), "[a-z]", "*", 2, 6).as("r"),
      graft.functions.Unaccent.unaccent(col("txt")).as("u"),
      hex(graft.functions.HmacExpression.hmac(col("txt"), lit("k"), "sha256")).as("h"),
      graft.operators.Layout.hilbertValue(length(col("card")),
        length(col("email")), 8).as("hi")).collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("plan contract: a masking/redaction/unaccent pass is map-only") {
    for (name <- Seq("masking_fns", "pii_redact", "unaccent_fns", "crypto_hmac")) {
      // strip the gate's ordering device (repartition(1)+sort) — the
      // operator pass underneath must be one codegen'd scan, no shuffle
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 1, // exactly the gate's own repartition(1)
        s"$name: expected only the gate exchange, got $exchanges:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("SortMergeJoin"),
        s"$name plan regressed:\n$plan")
    }
  }

  test("regexpmasking: positional window with the reference clamps") {
    // pos=0, len<0 → whole string
    assert(one(Masking.regexpmasking(lit("abc123"), "[a-z]", "*")) === "***123")
    // window [2, 2+3): 'c12' → only that slice rewritten
    assert(one(Masking.regexpmasking(lit("abc123xyz"), "[a-z0-9]", "*", 2, 3)) ===
      "ab***3xyz")
    // pos beyond end → startpos=size, empty target, string unchanged
    assert(one(Masking.regexpmasking(lit("abc"), ".", "*", 10, 2)) === "abc")
    // len overruns the end → clamped to size-1
    assert(one(Masking.regexpmasking(lit("abcd"), "[a-z]", "*", 2, 99)) === "ab**")
    // negative pos → startpos=0
    assert(one(Masking.regexpmasking(lit("abcd"), "[a-z]", "*", -5, 2)) === "**cd")
  }
}
