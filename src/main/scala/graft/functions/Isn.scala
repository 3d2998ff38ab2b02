package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * contrib/isn product-number family (reference: contrib/isn/isn.cpp,
 * ISBN.h/ISSN.h/UPC.h): ISBN-10, ISSN and UPC check-digit math,
 * validation, and the conversions onto the shared EAN-13 backbone
 * (isn.h: every short type is stored as its EAN-13 expansion —
 * ISBN-10 ↔ 978·payload, ISSN ↔ 977·payload·"00", UPC ↔ 0·upc).
 *
 * Every helper is a pure Column tree over substring/ascii arithmetic,
 * UNROLLED over literal digit positions — the transform/aggregate HOF
 * formulation is CodegenFallback (the isn_ean13 r12 lesson: 2.3 s →
 * 0.4 s at sf0.1 after unrolling), so these stay inside whole-stage
 * codegen and are map-only at any scale.
 *
 * Check-digit laws (ISBN.h header worked examples):
 *  - EAN-13: weights 1,3 repeating over 12 digits, mod 10.
 *  - ISBN-10: weights 10..2 over 9 digits, mod 11, remainder 10 → 'X'.
 *  - ISSN: weights 8..2 over 7 digits, mod 11, remainder 10 → 'X'.
 *  - UPC: weights 3,1 repeating over 11 digits, mod 10. Prepending the
 *    EAN country '0' shifts every digit one position — exactly
 *    swapping the 1/3 weight phase — so a UPC's check digit IS its
 *    EAN-13 check digit (isn.h UPC ↔ EAN13 cast is a pure relabel).
 */
object Isn {

  @inline private def digit(s: Column, pos1: Int): Column =
    ascii(substring(s, pos1, 1)) - 48

  /** EAN-13 check digit from the 12 payload digits. */
  def ean13CheckDigit(s12: Column): Column = {
    val sum = (1 to 12).map(i =>
      digit(s12, i) * lit(if (i % 2 == 1) 1 else 3)).reduce(_ + _)
    (lit(10) - pmod(sum, lit(10))) % 10
  }

  /** Full 13-digit EAN from a 12-digit payload. */
  def ean13(s12: Column): Column = concat(s12, ean13CheckDigit(s12))

  /** Is a 13-digit code a valid EAN-13? */
  def ean13Valid(s13: Column): Column =
    length(s13) === 13 &&
      ean13CheckDigit(substring(s13, 1, 12)) === digit(s13, 13)

  private def mod11Check(s: Column, nDigits: Int): Column = {
    // weights n+1 .. 2 over the payload digits
    val sum = (1 to nDigits).map(i =>
      digit(s, i) * lit(nDigits + 2 - i)).reduce(_ + _)
    pmod(lit(11) - pmod(sum, lit(11)), lit(11))
  }
  private def checkChar(v: Column): Column =
    when(v === 10, lit("X")).otherwise(v.cast("string"))

  /** ISBN-10 check character ('0'-'9' or 'X') from the 9 payload digits. */
  def isbn10CheckChar(s9: Column): Column = checkChar(mod11Check(s9, 9))

  /** Full ISBN-10 from a 9-digit payload. */
  def isbn10(s9: Column): Column = concat(s9, isbn10CheckChar(s9))

  /** Is a 10-char code a valid ISBN-10 (last char may be X)? */
  def isbn10Valid(s10: Column): Column =
    length(s10) === 10 &&
      isbn10CheckChar(substring(s10, 1, 9)) === upper(substring(s10, 10, 1))

  /** ISSN check character from the 7 payload digits. */
  def issnCheckChar(s7: Column): Column = checkChar(mod11Check(s7, 7))

  /** Hyphenated ISSN 'NNNN-NNNC' from a 7-digit payload (the ISSN
    * display form is always one fixed hyphen — ISSN.h). */
  def issn(s7: Column): Column =
    concat(substring(s7, 1, 4), lit("-"), substring(s7, 5, 3), issnCheckChar(s7))

  /** Is an 8-char (unhyphenated) code a valid ISSN? */
  def issnValid(s8: Column): Column =
    length(s8) === 8 &&
      issnCheckChar(substring(s8, 1, 7)) === upper(substring(s8, 8, 1))

  /** UPC check digit from the 11 payload digits. */
  def upcCheckDigit(s11: Column): Column = {
    val sum = (1 to 11).map(i =>
      digit(s11, i) * lit(if (i % 2 == 1) 3 else 1)).reduce(_ + _)
    (lit(10) - pmod(sum, lit(10))) % 10
  }

  /** Full 12-digit UPC from an 11-digit payload. */
  def upc(s11: Column): Column = concat(s11, upcCheckDigit(s11))

  /** Is a 12-digit code a valid UPC? */
  def upcValid(s12: Column): Column =
    length(s12) === 12 &&
      upcCheckDigit(substring(s12, 1, 11)) === digit(s12, 12)

  /** ISMN check digit from the 8 payload digits: 'M' counts as 3 with
    * weight 3, so the digit equals the EAN-13 check of '9790'+payload
    * (ISMN.h's worked identity: mod10(9·1+7·3+9·1+0·3) = mod10(M·3)). */
  def ismnCheckDigit(s8: Column): Column =
    ean13CheckDigit(concat(lit("9790"), s8))

  /** Full ISMN-10 'M<8 digits><check>' from an 8-digit payload. */
  def ismn10(s8: Column): Column = concat(lit("M"), s8, ismnCheckDigit(s8))

  /** Is a 10-char 'M…' code a valid ISMN-10? */
  def ismn10Valid(s10: Column): Column =
    length(s10) === 10 && substring(s10, 1, 1) === "M" &&
      ismnCheckDigit(substring(s10, 2, 8)) === digit(s10, 10)

  // ------------------------------------------------- EAN-13 conversions

  /** ISBN-10 → EAN-13 ('978' + payload, EAN check recomputed). */
  def isbn10ToEan13(s10: Column): Column =
    ean13(concat(lit("978"), substring(s10, 1, 9)))

  /** EAN-13 → ISBN-10 (defined for the 978 bookland prefix; NULL
    * otherwise, like the reference's cast error surface). */
  def ean13ToIsbn10(s13: Column): Column =
    when(substring(s13, 1, 3) === "978", isbn10(substring(s13, 4, 9)))

  /** ISSN (8 unhyphenated chars) → EAN-13 ('977' + 7 payload + '00'
    * price code + EAN check — ISSN.h expansion). */
  def issnToEan13(s8: Column): Column =
    ean13(concat(lit("977"), substring(s8, 1, 7), lit("00")))

  /** EAN-13 → ISSN display form (977 prefix; NULL otherwise). */
  def ean13ToIssn(s13: Column): Column =
    when(substring(s13, 1, 3) === "977", issn(substring(s13, 4, 7)))

  /** ISMN-10 → EAN-13: '9790' + payload; the check digit carries over
    * unchanged (the M≡3 identity). */
  def ismn10ToEan13(m10: Column): Column =
    concat(lit("9790"), substring(m10, 2, 9))

  /** EAN-13 → ISMN-10 (9790 music-land prefix; NULL otherwise). */
  def ean13ToIsmn10(s13: Column): Column =
    when(substring(s13, 1, 4) === "9790",
      concat(lit("M"), substring(s13, 5, 9)))

  /** UPC → EAN-13: prepend the '0' country code; the check digit is
    * unchanged (weight phase swap — see object doc). */
  def upcToEan13(s12: Column): Column = concat(lit("0"), s12)

  /** EAN-13 → UPC (leading-0 codes only; NULL otherwise). */
  def ean13ToUpc(s13: Column): Column =
    when(substring(s13, 1, 1) === "0", substring(s13, 2, 12))

  // ---------------------------------------------------- hyphenation

  /**
   * Hyphenate an unhyphenated ISBN-13 for the 978 English groups 0
   * and 1 — the publisher-range rows from the reference's table
   * (ISBN.h ISBN_range rows for group 0: 00–19, 200–699, 7000–8499,
   * 85000–89999, 900000–949999, 9500000–9999999; group 1: 00–09,
   * 100–399, 4000–5499, 55000–86979, 869800–998999, 9990000–9999999).
   * Codes outside the embedded groups render unhyphenated, the same
   * fall-through the reference applies when its range search misses
   * (isn.cpp hyphenate → "just compress the string"). The full
   * 700-row international table plugs into the same CASE shape.
   */
  def hyphenateIsbn13(s13: Column): Column =
    hyphenateIsbn13(s13, isbn13PublisherLen(s13))

  /** [[hyphenateIsbn13]] given the code's [[isbn13PublisherLen]], which
    * the hyphenation reads four times: a query that stages it in its own
    * projection keeps the range tree out of the hyphenating one. */
  def hyphenateIsbn13(s13: Column, n: Column): Column = {
    val group = substring(s13, 4, 1)
    val rest = substring(s13, 5, 8) // 8 payload digits after the group
    when(n > 0,
      concat(substring(s13, 1, 3), lit("-"), group, lit("-"),
        rest.substr(lit(1), n), lit("-"),
        rest.substr(n + 1, lit(8) - n), lit("-"), substring(s13, 13, 1)))
      .otherwise(s13)
  }

  /** Publisher-segment length of an unhyphenated ISBN-13 from the
    * embedded range table; 0 when the code is outside those groups. */
  def isbn13PublisherLen(s13: Column): Column = {
    val group = substring(s13, 4, 1)
    val rest = substring(s13, 5, 8)
    def pubLen(bounds: Seq[(String, String, Int)]): Column =
      bounds.foldRight(lit(0)) { case ((lo, hi, n), els) =>
        when(substring(rest, 1, n).between(lo, hi), lit(n)).otherwise(els)
      }
    val g0 = Seq(("00", "19", 2), ("200", "699", 3), ("7000", "8499", 4),
      ("85000", "89999", 5), ("900000", "949999", 6), ("9500000", "9999999", 7))
    val g1 = Seq(("00", "09", 2), ("100", "399", 3), ("4000", "5499", 4),
      ("55000", "86979", 5), ("869800", "998999", 6), ("9990000", "9999999", 7))
    when(group === "0", pubLen(g0))
      .when(group === "1", pubLen(g1)).otherwise(lit(0))
  }

  /** Hyphenate an ISBN-10 with the same embedded group-0/1 ranges —
    * the 13-form's layout minus the '978-' prefix ('0-393-04002-X';
    * the trailing char 13 of the padded code IS the ISBN-10 check
    * char, so the hyphen positions carry over unchanged). */
  def hyphenateIsbn10(s10: Column): Column =
    hyphenateIsbn10(s10, isbn10PublisherLen(s10))

  /** [[hyphenateIsbn10]] given the code's [[isbn10PublisherLen]]. */
  def hyphenateIsbn10(s10: Column, n: Column): Column = {
    val h13 = hyphenateIsbn13(concat(lit("978"), s10), n)
    // drop the '978-' prefix (4 chars); 20 > any hyphenated remainder
    when(h13.contains("-"), substring(h13, 5, 20)).otherwise(s10)
  }

  /** Publisher-segment length of an ISBN-10 (that of its '978' form). */
  def isbn10PublisherLen(s10: Column): Column =
    isbn13PublisherLen(concat(lit("978"), s10))
}
