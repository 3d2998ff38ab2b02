package graft.queries

import graft.SparkEntry.Gated
import graft.Tables
import graft.operators.{Flashback, Masking, QueryStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Round-12 surface: the openGauss security_plugin dynamic-masking
 * function pack (reference: contrib/security_plugin/
 * security_plugin--1.0.sql, masking.cpp) and its training-pipeline
 * sibling — PII redaction over the documents corpus.
 *
 * Both are pure map-only column rewrites: at 100 TB a masking /
 * redaction pass is a single scan with zero shuffle, exactly the
 * reference's per-row function call shape.
 */
object RelationalSuite5 {
  // PII patterns — RE2-safe (no lookaround/backrefs) so the DuckDB
  // oracle compiles the IDENTICAL pattern. Order of application
  // matters: SSN before phone (the phone pattern matches an SSN tail).
  private val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val SsnRx   = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private val PhoneRx = "\\b[0-9]{3}-[0-9]{4}\\b"
  private val IpRx    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  private def changeLog(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").selectExpr(
      "user_id % 101 AS k", "ts", "event_id AS csn",
      "CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op",
      "value AS val", "event_type AS etype")

  private val LogSql =
    "SELECT user_id % 101 AS k, ts, event_id AS csn, " +
      "CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op, " +
      "value AS val, event_type AS etype FROM events"

  // synthetic query-log text — 15 templates (3 shapes × 5 tables),
  // identical SQL in both engines (|| concat, implicit int → string)
  private val QtextSql =
    "CASE CAST(event_id % 3 AS INT) " +
      "WHEN 0 THEN 'SELECT * FROM t' || (user_id % 5) || '  WHERE k = ' || user_id " +
      "WHEN 1 THEN 'UPDATE t' || (user_id % 5) || ' SET v = ' || event_id || " +
      "' WHERE tag = ''' || event_type || '''' " +
      "ELSE 'INSERT INTO logs VALUES (' || event_id || ', ''' || event_type || ''')' " +
      "END AS qtext"

  // regex constant → SQL string literal (quotes double; backslashes
  // pass through — DuckDB standard strings are not C-escaped)
  private def sq(rx: String): String = "'" + rx.replace("'", "''") + "'"

  val gated: Seq[Gated] = Seq(
    // ---- security_plugin masking functions (C74): each gate column
    // is one reference function applied to a deterministically built
    // value, so the oracle reconstructs byte-identical inputs ----
    Gated("masking_fns", (s, dir) => {
      val c = Tables(s, dir, "customer")
        .withColumn("email", concat(lit("user"), col("c_custkey"), lit("@"),
          lower(col("c_mktsegment")), lit(".example.com")))
        .withColumn("card", concat(lit("4"),
          lpad(col("c_custkey").cast("string"), 15, "0")))
      c.select(col("c_custkey"),
          Masking.creditcardmasking(col("card")).as("card_masked"),
          Masking.basicemailmasking(col("email")).as("email_basic"),
          Masking.fullemailmasking(col("email")).as("email_full"),
          Masking.alldigitsmasking(col("c_name")).as("digits_masked"),
          Masking.maskall(col("c_mktsegment")).as("seg_masked"),
          Masking.regexpmasking(col("email"), "[a-z]", "*", 2, 6).as("email_rx"),
          Masking.regexpmasking(col("c_name"), "[0-9]", "#", 9, -1).as("name_rx"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some("""WITH m AS (SELECT c_custkey, c_name, c_mktsegment,
        |  'user' || c_custkey || '@' || lower(c_mktsegment) || '.example.com'
        |    AS email,
        |  '4' || lpad(c_custkey::VARCHAR, 15, '0') AS card
        |FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN length(card) >= 4 THEN
        |    regexp_replace(substr(card, 1, length(card) - 4), '[0-9+]', 'x', 'g')
        |      || right(card, 4)
        |  ELSE card END AS card_masked,
        |  CASE WHEN strpos(email, '@') > 1 THEN
        |    repeat('x', strpos(email, '@') - 1)
        |      || substr(email, strpos(email, '@'),
        |           length(email) - strpos(email, '@') + 1)
        |  ELSE email END AS email_basic,
        |  CASE WHEN strpos(email, '@') > 2
        |        AND length(email) - strpos(reverse(email), '.') + 1
        |              > strpos(email, '@') THEN
        |    repeat('x', strpos(email, '@') - 1) || '@'
        |      || repeat('x', length(email) - strpos(reverse(email), '.') + 1
        |                       - strpos(email, '@') - 1)
        |      || substr(email, length(email) - strpos(reverse(email), '.') + 1)
        |  ELSE email END AS email_full,
        |  regexp_replace(c_name, '[0-9+]', '0', 'g') AS digits_masked,
        |  repeat('x', length(c_mktsegment)) AS seg_masked,
        |  substr(email, 1, 2)
        |    || regexp_replace(substr(email, 3, 6), '[a-z]', '*', 'g')
        |    || substr(email, 9) AS email_rx,
        |  substr(c_name, 1, 9)
        |    || regexp_replace(substr(c_name, 10), '[0-9]', '#', 'g') AS name_rx
        |FROM m ORDER BY c_custkey""".stripMargin)),

    // ---- unaccent (C75, contrib/unaccent): the diacritic dictionary
    // as a compiled substitution expression, composed into the text-
    // normalization pipeline (unaccent → lower → match). The oracle is
    // a REAL cross-engine check: DuckDB strips the NFD-decomposable
    // accents with its own ICU path (strip_accents), plus the explicit
    // rules-file expansions (ø æ ß œ ł) ICU leaves alone ----
    Gated("unaccent_fns", (s, dir) => {
      val words = array(
        lit("café crème"), lit("naïve déjà vu"), lit("über größe"),
        lit("smörgåsbord ångström"), lit("señor piñata"),
        lit("hôtel français"), lit("øre fjord æsir"), lit("łódź œuvre"))
      val c = Tables(s, dir, "customer")
        .withColumn("accented", concat(
          element_at(words, (col("c_custkey") % 8 + 1).cast("int")),
          lit(" #"), col("c_custkey")))
      c.select(col("c_custkey"), col("accented"),
          graft.functions.Unaccent.unaccent(col("accented")).as("plain"),
          lower(graft.functions.Unaccent.unaccent(col("accented")))
            .as("norm"),
          (instr(graft.functions.Unaccent.unaccent(col("accented")),
            "cafe") > 0).as("has_cafe"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      Some("""WITH w AS (SELECT c_custkey,
        |  ['café crème','naïve déjà vu','über größe','smörgåsbord ångström',
        |   'señor piñata','hôtel français','øre fjord æsir','łódź œuvre']
        |    [(c_custkey % 8 + 1)::INTEGER] || ' #' || c_custkey AS accented
        |FROM customer),
        |u AS (SELECT c_custkey, accented,
        |  replace(replace(replace(replace(replace(replace(replace(replace(
        |    strip_accents(accented),
        |    'ø', 'o'), 'Ø', 'O'), 'æ', 'ae'), 'Æ', 'AE'),
        |    'ß', 'ss'), 'œ', 'oe'), 'Œ', 'OE'), 'ł', 'l') AS plain
        |FROM w)
        |SELECT c_custkey, accented, plain, lower(plain) AS norm,
        |  strpos(plain, 'cafe') > 0 AS has_cafe
        |FROM u ORDER BY c_custkey""".stripMargin)),

    // ---- pgcrypto hmac (C76): keyed digests for integrity-stamped
    // exports / stable keyed pseudonymization. rows-only gate (DuckDB
    // cannot hash raw bytes, so no SQL oracle exists); the algorithm
    // itself is pinned to the RFC 4231/2202 vectors in CryptoSpec ----
    Gated("crypto_hmac", (s, dir) => {
      import graft.functions.HmacExpression.hmac
      val o = Tables(s, dir, "orders")
        .withColumn("msg", concat(lit("order:"), col("o_orderkey")))
      o.select(col("o_orderkey"),
          hex(hmac(col("msg"), lit("graft-key"), "sha256")).as("mac_sha256"),
          hex(hmac(col("msg"), lit("graft-key"), "sha1")).as("mac_sha1"),
          hex(hmac(col("msg"), lit("graft-key"), "md5")).as("mac_md5"),
          hex(hmac(col("msg"), col("o_orderstatus"), "sha256"))
            .as("mac_rowkey"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      None),

    // ---- within-doc word entropy (D47): the Shannon-entropy /
    // type-token-ratio quality filter; log2 via a driver-built table
    // shared bit-identically with the oracle (libm log is not
    // cross-engine reproducible), per-doc sums exact LONG ----
    Gated("text_entropy", (s, dir) =>
      graft.operators.TextAnalysis.entropyStats(
          Tables(s, dir, "documents"), "doc_id", "text")
        .transform(Gate.ordered(_, "doc_id")),
      Some(s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |FROM documents),
        |c AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |FROM w GROUP BY 1, 2),
        |lg AS (SELECT * FROM (VALUES ${graft.operators.TextAnalysis.log2ValuesSql}) t(v, l)),
        |p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS nt, CAST(max(c) AS BIGINT) AS mx,
        |  CAST(sum(CAST(floor(CAST(c AS DOUBLE) * l * 1e6) AS BIGINT)) AS BIGINT) AS s
        |FROM c JOIN lg ON lg.v = c.c GROUP BY 1)
        |SELECT doc_id, n AS n_words, nt AS n_types, mx AS max_freq,
        |  CAST(nt AS DOUBLE) / CAST(n AS DOUBLE) AS ttr,
        |  lgn.l - (CAST(s AS DOUBLE) / 1e6) / CAST(n AS DOUBLE) AS entropy
        |FROM p JOIN lg lgn ON lgn.v = p.n
        |ORDER BY doc_id""".stripMargin)),

    // ---- readability features (D48): Flesch reading-ease / FK grade
    // over vowel-run syllables + hard-word ratio, 15-word pseudo-
    // sentences (the corpus has no punctuation); exact LONG counts,
    // shared formula trees ----
    Gated("text_readability", (s, dir) =>
      graft.operators.TextAnalysis.readabilityStats(
          Tables(s, dir, "documents"), "doc_id", "text")
        .transform(Gate.ordered(_, "doc_id")),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |FROM documents),
        |y AS (SELECT doc_id,
        |  greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1) AS syl FROM t),
        |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS w,
        |  CAST(sum(syl) AS BIGINT) AS syl,
        |  CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hard
        |FROM y GROUP BY 1)
        |SELECT doc_id, w AS n_words, syl AS n_syllables, hard AS n_hard,
        |  CAST(floor((CAST(w AS DOUBLE) + 14e0) / 15e0) AS BIGINT) AS n_sentences,
        |  206.835e0 - 1.015e0 * (CAST(w AS DOUBLE)
        |      / floor((CAST(w AS DOUBLE) + 14e0) / 15e0))
        |    - 84.6e0 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) AS fre,
        |  0.39e0 * (CAST(w AS DOUBLE)
        |      / floor((CAST(w AS DOUBLE) + 14e0) / 15e0))
        |    + 11.8e0 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59e0
        |    AS fk_grade
        |FROM p ORDER BY doc_id""".stripMargin)),

    // ---- PII redaction over documents (D46): the masking policy as
    // a corpus pass — emails / SSNs / phones / IPv4s planted
    // deterministically inside real document text, then redacted by
    // the regex battery with per-class match counts ----
    Gated("pii_redact", (s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("k", col("doc_id"))
        .withColumn("pii_text", concat(
          substring(col("text"), 1, 40),
          lit(" contact user"), col("k"), lit("@host"), col("k") % 7,
          lit(".example.org now"),
          lit(" ssn "), lpad((col("k") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((col("k") % 100).cast("string"), 2, "0"),
          lit("-"), lpad((col("k") % 10000).cast("string"), 4, "0"),
          lit(" call 555-"), lpad((col("k") % 10000).cast("string"), 4, "0"),
          lit(" from "), (col("k") % 256).cast("string"), lit("."),
          (col("k") % 199).cast("string"), lit("."),
          (col("k") % 97).cast("string"), lit("."),
          (col("k") % 251).cast("string"), lit(" end")))
      d.select(col("doc_id"),
          size(regexp_extract_all(col("pii_text"), lit(EmailRx), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("pii_text"), lit(SsnRx), lit(0)))
            .cast("long").as("n_ssn"),
          size(regexp_extract_all(col("pii_text"), lit(IpRx), lit(0)))
            .cast("long").as("n_ip"),
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(col("pii_text"), EmailRx, "<EMAIL>"),
                SsnRx, "<SSN>"),
              PhoneRx, "<PHONE>"),
            IpRx, "<IP>").as("redacted"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      Some("""WITH d AS (SELECT doc_id,
        |  substr(text, 1, 40)
        |    || ' contact user' || doc_id || '@host' || (doc_id % 7)
        |    || '.example.org now'
        |    || ' ssn ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
        |    || '-' || lpad((doc_id % 100)::VARCHAR, 2, '0')
        |    || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |    || ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |    || ' from ' || (doc_id % 256) || '.' || (doc_id % 199)
        |    || '.' || (doc_id % 97) || '.' || (doc_id % 251) || ' end'
        |    AS pii_text
        |FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |  len(regexp_extract_all(pii_text,
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))::BIGINT AS n_ssn,
        |  len(regexp_extract_all(pii_text,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ip,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(pii_text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |      '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |    AS redacted
        |FROM d ORDER BY doc_id""".stripMargin)),

    // ---- pg_stat_statements (C80): query-log texts normalize to
    // fingerprints (constants → '?', shared regex text), then ONE
    // map-side-combined groupBy per template; times are exact LONG,
    // mean/stddev from shared formula trees ----
    Gated("stat_statements", (s, dir) => {
      val log = Tables(s, dir, "events").selectExpr(
        QtextSql, "CAST(floor(value * 1e3) AS BIGINT) AS t_us",
        "user_id % 100 AS nrows")
      QueryStats.statStatements(log, col("qtext"), col("t_us"), col("nrows"))
        .transform(Gate.ordered(_, "queryid"))
    },
      Some({
        val derived = QueryStats.derivedExprs
          .map { case (nm, x) => s"$x AS $nm" }.mkString(", ")
        s"""WITH log AS (SELECT $QtextSql,
        |  CAST(floor(value * 1e3) AS BIGINT) AS t_us,
        |  user_id % 100 AS nrows FROM events),
        |n AS (SELECT trim(regexp_replace(regexp_replace(regexp_replace(
        |    qtext, ${sq(QueryStats.StringLitRx)}, '?', 'g'),
        |    ${sq(QueryStats.NumberRx)}, '?', 'g'),
        |    ${sq(QueryStats.WsRx)}, ' ', 'g')) AS query_norm,
        |  t_us, nrows FROM log),
        |g AS (SELECT query_norm, CAST(count(*) AS BIGINT) AS calls,
        |  CAST(sum(t_us) AS BIGINT) AS total_time_us,
        |  CAST(min(t_us) AS BIGINT) AS min_time_us,
        |  CAST(max(t_us) AS BIGINT) AS max_time_us,
        |  CAST(sum(t_us * t_us) AS BIGINT) AS sumsq_time,
        |  CAST(sum(nrows) AS BIGINT) AS rows_returned
        |FROM n GROUP BY 1)
        |SELECT md5(query_norm) AS queryid, query_norm, calls,
        |  total_time_us, min_time_us, max_time_us, sumsq_time,
        |  rows_returned, $derived
        |FROM g ORDER BY queryid""".stripMargin
      })),

    // ---- auto_explain (C82): automatic plan capture for statements
    // crossing log_min_duration — a QueryExecutionListener on an
    // ISOLATED child session (listener managers are session-scoped);
    // log_analyze row counts come from the executed plan's own
    // metrics, which the oracle recomputes as plain SQL counts ----
    Gated("auto_explain", (s, dir) => {
      val AE = graft.operators.AutoExplain
      val sess = s.newSession()
      val ae = AE.install(sess, minDurationUs = 0L)
      try {
        Tables(sess, dir, "region").collect()
        Tables(sess, dir, "nation").filter(col("n_regionkey") < 2).collect()
        Tables(sess, dir, "customer")
          .filter(col("c_custkey") % 7 === 0).collect()
        require(AE.awaitEntries(ae, 3),
          "graft: auto_explain capture timed out")
      } finally AE.uninstall(sess, ae)
      import s.implicits._
      ae.entries.sortBy(_.seq).map(e => ((e.seq + 1).toInt,
          e.outRows.getOrElse(-1L), e.plan.contains("Scan"),
          e.durationUs >= 0L))
        .toDF("qid", "out_rows", "scanned", "timed")
        .orderBy("qid")
    },
      Some("""SELECT 1 AS qid,
        |  (SELECT CAST(count(*) AS BIGINT) FROM region) AS out_rows,
        |  true AS scanned, true AS timed
        |UNION ALL SELECT 2,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation WHERE n_regionkey < 2),
        |  true, true
        |UNION ALL SELECT 3,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey % 7 = 0),
        |  true, true
        |ORDER BY qid""".stripMargin)),

    // ---- pgcrypto raw ciphers (C79): encrypt/decrypt over order keys
    // (keyed storage / reproducible pseudonymization). rows-only gate
    // BY NATURE like crypto_hmac (no SQL engine runs AES); the cipher
    // core is pinned to the NIST SP 800-38A vectors in CipherSpec ----
    Gated("crypto_cipher", (s, dir) => {
      import graft.functions.CipherExpressions._
      val o = Tables(s, dir, "orders")
        .withColumn("msg", concat(lit("order:"), col("o_orderkey")))
      o.select(col("o_orderkey"),
          hex(encrypt(col("msg"), lit("graft-key"), "aes")).as("ct_aes"),
          hex(encrypt(col("msg"), lit("graft-key"), "aes-ecb")).as("ct_ecb"),
          hex(encrypt(col("msg"), lit("graft-key"), "bf")).as("ct_bf"),
          (decrypt(encrypt(col("msg"), lit("graft-key"), "aes"),
            lit("graft-key"), "aes").cast("string") === col("msg"))
            .as("roundtrip_ok"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      None),

    // ---- file_fdw (r15, contrib/file_fdw): foreign tables over CSV
    // files with the COPY options. The gate round-trips customers
    // through the PG csv dialect (comma delimiter, doubled-quote
    // escaping, \N nulls) — a planted note column forces quoting and
    // a nullable column forces the null marker; the oracle reads the
    // same rows straight from the table, so the whole option mapping
    // must be value-exact ----
    Gated("file_fdw", (s, dir) => {
      val c = Tables(s, dir, "customer")
        .withColumn("note", concat(col("c_name"),
          lit(", \"segment\" = "), col("c_mktsegment")))
        .withColumn("opt_seg",
          when(pmod(col("c_custkey"), lit(5)) === 0, lit(null))
            .otherwise(col("c_mktsegment")))
        .select("c_custkey", "c_name", "c_acctbal", "note", "opt_seg")
      val out = new java.io.File(Gate.scratchDir("graft-filefdw"),
        "customer_csv").getAbsolutePath
      graft.sources.FileFdw.write(c, out, header = true,
        nullStr = Some("\\N"))
      graft.sources.FileFdw.read(s, out, c.schema, header = true,
          nullStr = Some("\\N"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      // the CSV round-trip must reproduce the table exactly
      Some("""SELECT c_custkey, c_name, c_acctbal,
        |  c_name || ', "segment" = ' || c_mktsegment AS note,
        |  CASE WHEN c_custkey % 5 = 0 THEN NULL
        |       ELSE c_mktsegment END AS opt_seg
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- file_fdw NON-UTF-8 ingest (r16; the reference regresses
    // server-side encoding conversion in ts_gb18030_utf8.source): a
    // multilingual corpus (accented Latin + CJK planted onto every
    // doc) round-trips through a GB18030 file — written in GB18030
    // bytes, read back with the encoding option, then TOKENIZED by the
    // D54 default parser (café is one `word`, 数据 is one `word` —
    // code points > 0x7F are letters under the reference's C-locale
    // UTF-8 build). A mishandled byte anywhere garbles text_rt or
    // splits tokens; the oracle recomputes both columns from parquet,
    // so the conversion must be value-exact. GB18030 is
    // ASCII-transparent, so line splits stay safe and reads stay
    // splittable — the 100 TB multilingual path is not UTF-8-only ----
    Gated("file_fdw_encoding", (s, dir) => {
      val c = Tables.spread(s, dir, "documents")
        .withColumn("t2", concat(col("text"), lit(" café 数据")))
        .select("doc_id", "t2")
      val out = new java.io.File(Gate.scratchDir("graft-filefdw-gb"),
        "docs_gb18030").getAbsolutePath
      graft.sources.FileFdw.write(c, out, header = true,
        encoding = "GB18030")
      graft.sources.FileFdw.read(s, out, c.schema, header = true,
          encoding = "GB18030")
        .select(col("doc_id"), col("t2").as("text_rt"),
          size(graft.functions.TsDefaultParser.parseCol(col("t2")))
            .as("n_tokens"))
        .transform(Gate.ordered(_, "doc_id"))
    },
      // the GB18030 round-trip must reproduce the multilingual text
      // byte-for-byte; tokens = 2·words−1 for the corpus + 4 for the
      // planted ' café 数据' (blank, word, blank, word)
      Some("""SELECT doc_id, text || ' café 数据' AS text_rt,
        |  (2 * len(string_split(text, ' ')) + 3)::INTEGER AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- passwordcheck policy + chkpass (r15, passwordcheck.cpp
    // check_password / chkpass.cpp): the account-password policy as a
    // verdict kernel over per-customer candidates exercising every
    // branch (too short / contains username / letters-only /
    // nonletters-only / md5-of-username / ok). Pure string logic, so
    // the oracle recomputes each verdict — hash-exact. chkpass's DES
    // hashing itself is pinned in PasswordsSpec (no SQL crypt) ----
    Gated("password_policy", (s, dir) => {
      import graft.functions.Passwords
      val c = Tables(s, dir, "customer")
        .withColumn("u", concat(lit("user"), col("c_custkey")))
        .withColumn("pw",
          when(pmod(col("c_custkey"), lit(6)) === 0, lit("ab1"))
            .when(pmod(col("c_custkey"), lit(6)) === 1,
              concat(lit("Z"), col("u"), lit("!9")))
            .when(pmod(col("c_custkey"), lit(6)) === 2, lit("onlyletters"))
            .when(pmod(col("c_custkey"), lit(6)) === 3, lit("12345678"))
            .when(pmod(col("c_custkey"), lit(6)) === 4,
              concat(lit("md5"), md5(concat(col("u"), col("u")))))
            .otherwise(concat(lit("G00d!pw"), col("c_custkey"))))
      c.select(col("c_custkey"),
          Passwords.checkPasswordCol(col("u"), col("pw")).as("verdict"))
        .transform(Gate.ordered(_, "c_custkey"))
    },
      // every check_password branch as a CASE mirror, in the hook's
      // branch order (md5 first, then length / username / letter mix)
      Some("""WITH c AS (SELECT c_custkey, 'user' || c_custkey AS u,
        |  CASE c_custkey % 6
        |    WHEN 0 THEN 'ab1'
        |    WHEN 1 THEN 'Z' || 'user' || c_custkey || '!9'
        |    WHEN 2 THEN 'onlyletters'
        |    WHEN 3 THEN '12345678'
        |    WHEN 4 THEN 'md5' || md5('user' || c_custkey || 'user' || c_custkey)
        |    ELSE 'G00d!pw' || c_custkey END AS pw
        |FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN pw LIKE 'md5%' AND length(pw) = 35 THEN
        |    CASE WHEN pw = 'md5' || md5(u || u)
        |         THEN 'password must not contain user name' ELSE 'ok' END
        |  WHEN length(pw) < 8 THEN 'password is too short'
        |  WHEN position(u IN pw) > 0
        |    THEN 'password must not contain user name'
        |  WHEN NOT regexp_matches(pw, '[A-Za-z]')
        |       OR NOT regexp_matches(pw, '[^A-Za-z]')
        |    THEN 'password must contain both letters and nonletters'
        |  ELSE 'ok' END AS verdict
        |FROM c ORDER BY c_custkey""".stripMargin)),

    // ---- SET-RETURNING SQL functions (r16): generate_series +
    // normal_rand callable in the FROM clause — the PG spelling —
    // through the TableFunctionRegistry, compiling to Catalyst Range
    // scans (distributed, splittable; no driver materialization). The
    // whole statement is spark.sql TEXT; DuckDB ships generate_series
    // with the same inclusive bounds, and normal_rand's oracle is the
    // C90 shared formula text ----
    Gated("sql_series", (s, dir) => {
      graft.GraftExtensions.install(s)
      s.sql(
        """SELECT s.generate_series AS n, r.val_micro
          |FROM generate_series(1, 500) s
          |JOIN normal_rand(500, 10.0, 5.0, 42) r
          |  ON r.id = s.generate_series - 1
          |ORDER BY n""".stripMargin)
    },
      // DuckDB's generate_series is inclusive like PG's; the gaussian
      // column is the C90 shared formula over id = n - 1
      Some(("SELECT n, " +
          graft.operators.TableFunc.normalRandSql("1e1", "5e0", 42L)
            .replace("(id ", "((n - 1) ") +
          " AS val_micro FROM generate_series(1, 500) t(n) ORDER BY n"))),

    // ---- tablefunc normal_rand (r15, tablefunc.cpp:137): Gaussian
    // deviates as a deterministic table function — Lehmer-LCG uniforms
    // keyed by (seed + id), Box–Muller, micro-quantized; the oracle
    // runs the IDENTICAL formula text (TableFunc.normalRandSql) ----
    Gated("normal_rand", (s, dir) =>
      graft.operators.TableFunc.normalRand(s, 2000, 10.0, 5.0, 42L)
        .transform(Gate.ordered(_, "id")),
      // the SAME formula text the Spark side compiles (shared IEEE trees)
      Some(("SELECT id, " +
          graft.operators.TableFunc.normalRandSql("1e1", "5e0", 42L) +
          " AS val_micro FROM range(0, 2000) t(id) ORDER BY id"))),

    // ---- parquet storage introspection (r15, pgstattuple analogue):
    // files / row groups / sizes / per-column footer statistics as a
    // relation, METADATA READS ONLY (one footer per task — megabytes
    // on a 100 TB table). The gate keeps exactly the SQL-recomputable
    // columns: per-table row counts and the key column's min/max/null
    // count, which the oracle recomputes by scanning the data ----
    Gated("storage_stats", (s, dir) => {
      val specs = Seq(
        "region" -> "r_regionkey", "nation" -> "n_nationkey",
        "customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey",
        "lineitem" -> "l_orderkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id")
      graft.operators.StorageStats.tableStats(s, dir, specs)
        .select(col("tbl"), col("row_cnt"), col("key_min"), col("key_max"),
          col("key_nulls"))
        .transform(Gate.ordered(_, "tbl"))
    },
      // footer metadata vs the data itself: row counts + key min/max +
      // null counts per table
      Some("""SELECT * FROM (
        |SELECT 'region' AS tbl, count(*)::BIGINT AS row_cnt,
        |  min(r_regionkey)::BIGINT AS key_min, max(r_regionkey)::BIGINT AS key_max,
        |  (count(*) - count(r_regionkey))::BIGINT AS key_nulls FROM region
        |UNION ALL SELECT 'nation', count(*), min(n_nationkey)::BIGINT,
        |  max(n_nationkey)::BIGINT, count(*) - count(n_nationkey) FROM nation
        |UNION ALL SELECT 'customer', count(*), min(c_custkey)::BIGINT,
        |  max(c_custkey)::BIGINT, count(*) - count(c_custkey) FROM customer
        |UNION ALL SELECT 'supplier', count(*), min(s_suppkey)::BIGINT,
        |  max(s_suppkey)::BIGINT, count(*) - count(s_suppkey) FROM supplier
        |UNION ALL SELECT 'part', count(*), min(p_partkey)::BIGINT,
        |  max(p_partkey)::BIGINT, count(*) - count(p_partkey) FROM part
        |UNION ALL SELECT 'orders', count(*), min(o_orderkey)::BIGINT,
        |  max(o_orderkey)::BIGINT, count(*) - count(o_orderkey) FROM orders
        |UNION ALL SELECT 'lineitem', count(*), min(l_orderkey)::BIGINT,
        |  max(l_orderkey)::BIGINT, count(*) - count(l_orderkey) FROM lineitem
        |UNION ALL SELECT 'events', count(*), min(event_id)::BIGINT,
        |  max(event_id)::BIGINT, count(*) - count(event_id) FROM events
        |UNION ALL SELECT 'documents', count(*), min(doc_id)::BIGINT,
        |  max(doc_id)::BIGINT, count(*) - count(doc_id) FROM documents
        |UNION ALL SELECT 'embeddings', count(*), min(vec_id)::BIGINT,
        |  max(vec_id)::BIGINT, count(*) - count(vec_id) FROM embeddings
        |) ORDER BY tbl""".stripMargin)),

    // ---- pgcrypto crypt()/gen_salt() (r15, px-crypt.cpp): password
    // hashing over per-order passwords in all four schemes (bcrypt,
    // md5-crypt, traditional DES, extended DES). rows-only BY NATURE
    // like crypto_hmac (no SQL engine computes crypt(3)); the kernels
    // are pinned to the reference's own crypt-*.out vectors in
    // PxCryptSpec. bcrypt at cost 4 and 1-in-50 sampling keep the
    // DELIBERATELY-expensive KDF inside gate budget; the operator is
    // map-only and scales like any per-row kernel ----
    Gated("crypto_crypt", (s, dir) => {
      import graft.functions.PxCrypt.cryptCol
      val o = Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(50)) === 0)
        .withColumn("pw", concat(lit("pw"), col("o_custkey")))
      val bf = cryptCol(col("pw"), lit("$2a$04$RQiOJ.3ELirrXwxIZY8q0O"))
      o.select(col("o_orderkey"),
          bf.as("h_bf"),
          cryptCol(col("pw"), lit("$1$Szzz0yzz")).as("h_md5"),
          cryptCol(col("pw"), lit("NB")).as("h_des"),
          cryptCol(col("pw"), lit("_J9..j2zz")).as("h_xdes"),
          (cryptCol(col("pw"), bf) === bf).as("verify_ok"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      None),

    // ---- pgcrypto PGP symmetric framing (r14): pgp_sym_encrypt /
    // decrypt / armor / dearmor over per-order payloads. rows-only BY
    // NATURE like crypto_cipher (no SQL engine speaks RFC 4880); the
    // framing is pinned to the reference's own 45-message armored
    // battery in PgpSpec. The seed makes salt+prefix deterministic
    // (the reference draws them from fortuna — see Pgp doc) ----
    Gated("crypto_pgp", (s, dir) => {
      import graft.operators.Pgp
      // every row costs FOUR iterated-S2K derivations (encrypt + two
      // decrypts; 64 KiB hashed each BY DESIGN — that's what S2K is
      // for), so the gate samples 1-in-5 orders; the operator itself
      // is map-only and scales like any per-row kernel
      val o = Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("msg", concat(lit("order:"), col("o_orderkey")))
        .withColumn("psw", concat(lit("k"), col("o_custkey")))
      val ct = Pgp.pgpSymEncrypt(col("msg"), col("psw"), col("o_orderkey"))
      o.select(col("o_orderkey"),
          sha2(ct, 256).as("ct_sha"),
          length(ct).as("ct_len"),
          (Pgp.pgpSymDecrypt(ct, col("psw")) === col("msg"))
            .as("roundtrip_ok"),
          (Pgp.pgpSymDecryptBytea(Pgp.dearmorCol(Pgp.armorCol(ct)),
            col("psw")).cast("string") === col("msg"))
            .as("armor_roundtrip_ok"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      None),

    // ---- PGP public-key encryption (r15, pgp-pubenc/pubdec.cpp):
    // pgp_pub_encrypt/_decrypt + pgp_key_id against the reference's
    // own rsaenc2048 regress fixture ring. rows-only BY NATURE (no
    // SQL engine speaks RFC 4880); the packet formats, the fixture
    // battery and live GnuPG interop are pinned in PgpPubSpec.
    // RSA-2048 modPow per row -> 1-in-50 sampling like crypto_pgp ----
    Gated("crypto_pgp_pub", (s, dir) => {
      import graft.operators.{Pgp, PgpPub, PgpFixtureKeys => FK}
      val o = Tables(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(50)) === 0)
        .withColumn("msg", concat(lit("order:"), col("o_orderkey")))
      val pub = Pgp.dearmor(FK.rsaPub)
      val sec = Pgp.dearmor(FK.rsaSec)
      val ct = PgpPub.pgpPubEncrypt(col("msg"), lit(pub), col("o_orderkey"))
      o.select(col("o_orderkey"),
          sha2(ct, 256).as("ct_sha"),
          length(ct).as("ct_len"),
          PgpPub.keyIdCol(lit(pub)).as("key_id"),
          (PgpPub.pgpPubDecrypt(ct, lit(sec)).cast("string") === col("msg"))
            .as("roundtrip_ok"))
        .transform(Gate.ordered(_, "o_orderkey"))
    },
      None),

    // ---- TIMECAPSULE flashback (C78, gram.y:6416-6453): the events
    // stream as a change log (key, commit ts, csn, op, payload) —
    // csn = event_id is globally unique, so (ts, csn) orders versions
    // totally per key exactly like the reference's snapshot→CSN map.
    // asOf is ONE map-side-combined max_by aggregate ----
    Gated("timecapsule_asof", (s, dir) =>
      Flashback.asOf(changeLog(s, dir), "k", Seq("ts", "csn"), "op",
          col("ts") <= expr("TIMESTAMP '2024-01-20 00:00:00'"))
        .transform(Gate.ordered(_, "k")),
      Some(s"""WITH log AS ($LogSql),
        |v AS (SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY ts DESC, csn DESC) AS rn
        |  FROM log WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
        |SELECT k, ts, csn, val, etype FROM v
        |WHERE rn = 1 AND op = 'U' ORDER BY k""".stripMargin)),

    // ---- TIMECAPSULE VERSIONS (C78): validity intervals per version;
    // a delete closes its predecessor's interval like any update ----
    Gated("timecapsule_versions", (s, dir) =>
      Flashback.versionsBetween(changeLog(s, dir), "k", Seq("ts", "csn"),
          "op", "ts", expr("TIMESTAMP '2024-01-10 00:00:00'"),
          expr("TIMESTAMP '2024-01-20 00:00:00'"))
        .transform(Gate.ordered(_, "k", "valid_from", "csn")),
      Some(s"""WITH log AS ($LogSql),
        |v AS (SELECT *, lead(ts) OVER (PARTITION BY k
        |    ORDER BY ts, csn) AS valid_to FROM log)
        |SELECT k, ts AS valid_from, csn, val, etype, valid_to
        |FROM v WHERE op = 'U' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-10 00:00:00')
        |ORDER BY k, valid_from, csn""".stripMargin)),

    // ---- TIMECAPSULE TABLE ... TO TIMESTAMP (C78) as a compensation
    // set: the minimal I/U/D delta rewriting today's snapshot into the
    // flashback target — restoring 100 TB rewrites only changed keys ----
    Gated("timecapsule_restore", (s, dir) => {
      val log = changeLog(s, dir)
      val cur = Flashback.asOf(log, "k", Seq("ts", "csn"), "op", lit(true))
        .select("k", "val", "etype")
      val tgt = Flashback.asOf(log, "k", Seq("ts", "csn"), "op",
          col("ts") <= expr("TIMESTAMP '2024-01-20 00:00:00'"))
        .select("k", "val", "etype")
      Flashback.restoreDelta(cur, tgt, "k")
        .transform(Gate.ordered(_, "k"))
    },
      Some(s"""WITH log AS ($LogSql),
        |cur AS (SELECT k, val, etype FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY ts DESC, csn DESC) AS rn FROM log)
        |  WHERE rn = 1 AND op = 'U'),
        |tgt AS (SELECT k, val, etype FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY ts DESC, csn DESC) AS rn FROM log
        |    WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1 AND op = 'U')
        |SELECT CASE WHEN c.k IS NULL THEN 'I'
        |         WHEN t.k IS NULL THEN 'D' ELSE 'U' END AS op2,
        |  coalesce(c.k, t.k) AS k,
        |  CASE WHEN t.k IS NULL THEN NULL ELSE t.val END AS val,
        |  CASE WHEN t.k IS NULL THEN NULL ELSE t.etype END AS etype
        |FROM cur c FULL OUTER JOIN tgt t ON c.k = t.k
        |WHERE c.k IS NULL OR t.k IS NULL
        |  OR NOT (c.val IS NOT DISTINCT FROM t.val
        |          AND c.etype IS NOT DISTINCT FROM t.etype)
        |ORDER BY k""".stripMargin)),

    // ---- PG OPERATOR spellings (r16, PgSqlRewrite/PgOps): the whole
    // statement is PG syntax — `->`/`->>`/`#>>`/`?`/`?|`/`@>` jsonb
    // operators (jsonb_op.cpp), `::hstore`/`::int[]`/`::tsquery` input
    // casts, hstore `->`/`?` over the parsed map, intarray `&&`/`@>`,
    // and the `~*` regex family — rewritten at PLAN time into the
    // registered kernels (map-only row work; the rewrite itself costs
    // nothing per row). The oracle recomputes every column closed-form
    // from the planted shapes ----
    Gated("sql_pg_ops", (s, dir) => {
      graft.GraftExtensions.install(s)
      // spread (r19): 26 per-row jsonb/hstore/intarray kernels on a
      // single-row-group file serialized ~1.1 s of map work behind one
      // task (Tables.spread rationale); the barrier repays 10x here
      Tables.spread(s, dir, "orders").createOrReplaceTempView("orders_pgops")
      s.sql(graft.plans.PgSqlRewrite.rewrite(
        """WITH d AS (SELECT o_orderkey AS k, o_orderpriority AS pri,
          |    concat('{"o":', o_orderkey, ',"tags":["p', o_orderkey % 3,
          |           '","x"],"m":{"q":', o_orderkey % 5, '}}') AS doc,
          |    concat('status=>', o_orderstatus,
          |           ', "k w"=>v', o_orderkey % 4) AS hst,
          |    concat('{', o_orderkey % 50, ',', o_orderkey % 7, '}') AS il
          |  FROM orders_pgops WHERE o_orderkey % 10 = 0)
          |SELECT k,
          |  doc -> 'tags' ->> 0 AS t0,
          |  doc -> 'tags' ->> -1 AS tl,
          |  doc ->> 'o' AS o_txt,
          |  doc #>> '{m,q}' AS q_txt,
          |  (doc ? 'm') AS has_m,
          |  (doc ?| array['z','tags']) AS any_k,
          |  (doc @> '{"tags":["x"]}') AS has_x,
          |  (doc @> '{"tags":["z"]}') AS has_z,
          |  (hst::hstore -> 'status') AS st,
          |  (hst::hstore -> 'k w') AS kw,
          |  (hst::hstore ? 'status') AS has_st,
          |  (il::int[] && '{1,2,3}'::int[]) AS ovl,
          |  ('{3,4}'::int[] @> il::int[]) AS cont34,
          |  (pri ~* 'urgent') AS urgent,
          |  ((doc - 'm') ? 'm') AS del_m,
          |  (doc || concat('{"z":', k % 9, '}')::jsonb) ->> 'z' AS cat_z,
          |  (doc #- '{m,q}') #>> '{m}' AS delp,
          |  (il::int[] @@ '2 | 7'::query_int) AS qi27,
          |  (il::int[] @@ '!3'::query_int) AS qin3,
          |  (concat('w', k % 3, ':1 x:2')::tsvector @@ 'w1 <-> x') AS tsv31,
          |  ((concat('w', k % 3, ':1')::tsvector || 'x:1'::tsvector)
          |    @@ ('w1 <-> x'::tsquery && 'x'::tsquery)) AS tsv_alg,
          |  array_join(il::int[] | '{1}'::int[], ',') AS iun,
          |  array_join(il::int[] - concat('{', k % 7, '}')::int[], ',') AS idf,
          |  ('Top.S'::ltree || concat('n', k % 4)) AS ltc
          |FROM d ORDER BY k""".stripMargin))
    },
      // every operator column recomputed closed-form from the planted
      // shapes (jsonb doc, hstore literal, int-array literal, priority)
      Some("""SELECT o_orderkey AS k,
        |  'p' || (o_orderkey % 3)::VARCHAR AS t0,
        |  'x' AS tl,
        |  o_orderkey::VARCHAR AS o_txt,
        |  (o_orderkey % 5)::VARCHAR AS q_txt,
        |  true AS has_m,
        |  true AS any_k,
        |  true AS has_x,
        |  false AS has_z,
        |  o_orderstatus AS st,
        |  'v' || (o_orderkey % 4)::VARCHAR AS kw,
        |  true AS has_st,
        |  ((o_orderkey % 50) IN (1,2,3) OR (o_orderkey % 7) IN (1,2,3)) AS ovl,
        |  ((o_orderkey % 50) IN (3,4) AND (o_orderkey % 7) IN (3,4)) AS cont34,
        |  (o_orderpriority ILIKE '%urgent%') AS urgent,
        |  false AS del_m,
        |  (o_orderkey % 9)::VARCHAR AS cat_z,
        |  '{}' AS delp,
        |  ((o_orderkey % 50) IN (2,7) OR (o_orderkey % 7) IN (2,7)) AS qi27,
        |  NOT ((o_orderkey % 50) = 3 OR (o_orderkey % 7) = 3) AS qin3,
        |  (o_orderkey % 3 = 1) AS tsv31,
        |  (o_orderkey % 3 = 1) AS tsv_alg,
        |  array_to_string(list_sort(list_distinct(
        |    [o_orderkey % 50, o_orderkey % 7, 1])), ',') AS iun,
        |  CASE WHEN o_orderkey % 50 = o_orderkey % 7 THEN ''
        |       ELSE (o_orderkey % 50)::VARCHAR END AS idf,
        |  'Top.S.n' || (o_orderkey % 4)::VARCHAR AS ltc
        |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY k""".stripMargin)),

    // ---- the rest of the jsonb SQL surface (r16, builtin_funcs.ini:
    // typeof/array_length/object_keys/array_elements/each as arrays,
    // the jsonb_cmp btree family with PG's type-rank + count-first +
    // raw-scalar rules, build_object/array, delete_array) — all
    // map-only per-row kernels over the planted doc; oracle
    // closed-form ----
    Gated("sql_jsonb_surface", (s, dir) => {
      graft.GraftExtensions.install(s)
      Tables.spread(s, dir, "orders").createOrReplaceTempView("orders_jsurf")
      s.sql(graft.plans.PgSqlRewrite.rewrite(
        """WITH d AS (SELECT o_orderkey AS k,
          |    concat('{"o":', o_orderkey, ',"tags":["p', o_orderkey % 3,
          |           '","x"],"m":{"q":', o_orderkey % 5, '}}') AS doc
          |  FROM orders_jsurf WHERE o_orderkey % 10 = 0)
          |SELECT k,
          |  jsonb_typeof(doc -> 'tags') AS t_tags,
          |  jsonb_typeof(doc -> 'o') AS t_o,
          |  jsonb_array_length(doc -> 'tags') AS n_tags,
          |  array_join(jsonb_object_keys(doc), ',') AS ks,
          |  array_join(jsonb_array_elements_text(doc -> 'tags'), '|') AS el,
          |  array_join(transform(jsonb_each_text(doc -> 'm'),
          |    e -> concat(e.key, ':', e.value)), ',') AS ea,
          |  jsonb_cmp(jsonb_build_array(k % 3), '[1]'::jsonb) AS cmp31,
          |  jsonb_eq(doc, doc) AS self_eq,
          |  jsonb_build_object('k', k, 'p', concat('p', k % 3)) AS built,
          |  jsonb_delete_array(doc, array['m','tags']) ->> 'o' AS del_o
          |FROM d ORDER BY k""".stripMargin))
    },
      // the jsonb-surface columns in closed form: type names, (len,
      // bytes) key order m<o<tags, canonical build rendering, the
      // sign(k%3 - 1) comparison
      Some("""SELECT o_orderkey AS k,
        |  'array' AS t_tags,
        |  'number' AS t_o,
        |  2 AS n_tags,
        |  'm,o,tags' AS ks,
        |  'p' || (o_orderkey % 3)::VARCHAR || '|x' AS el,
        |  'q:' || (o_orderkey % 5)::VARCHAR AS ea,
        |  (CASE WHEN o_orderkey % 3 < 1 THEN -1
        |        WHEN o_orderkey % 3 = 1 THEN 0 ELSE 1 END) AS cmp31,
        |  true AS self_eq,
        |  '{"k": ' || o_orderkey::VARCHAR || ', "p": "p'
        |    || (o_orderkey % 3)::VARCHAR || '"}' AS built,
        |  o_orderkey::VARCHAR AS del_o
        |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY k""".stripMargin)),

    // ---- PG vector operators (r16; datavec vector_op.cpp `<->`,
    // `<#>`, `<=>`): the pgvector KNN idiom as ONE SQL text —
    // ORDER BY embedding <-> query LIMIT k — the operators dispatch
    // to the A1 distance kernels (codegen'd, map-only) and the topk
    // is the same bounded heap every other KNN gate runs ----
    Gated("sql_pg_vector", (s, dir) => {
      graft.GraftExtensions.install(s)
      Tables(s, dir, "embeddings").createOrReplaceTempView("emb_pgops")
      s.sql(graft.plans.PgSqlRewrite.rewrite(
        """WITH q AS (SELECT embedding AS qv FROM emb_pgops WHERE vec_id = 0)
          |SELECT e.vec_id,
          |  round(e.embedding <-> q.qv, 6) AS dist,
          |  round(e.embedding <#> q.qv, 6) AS nip,
          |  round(e.embedding <=> q.qv, 6) AS cosd,
          |  round('[3,4]'::vector <-> '[0,0]'::vector, 6) AS c5
          |FROM emb_pgops e CROSS JOIN q
          |ORDER BY dist, vec_id LIMIT 10""".stripMargin))
    },
      // the same list arithmetic every A-series topk oracle runs, plus
      // the constant [3,4]↔[0,0] distance pinning the ::vector cast
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  round(-list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS nip,
        |  round(1.0 - greatest(-1.0, least(1.0,
        |    list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |    sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |       * list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))), 6) AS cosd,
        |  5.0::DOUBLE AS c5
        |FROM embeddings e, q ORDER BY dist, vec_id LIMIT 10""".stripMargin))
  )
}
