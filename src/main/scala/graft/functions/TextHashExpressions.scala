package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass hash expressions for the dedup family. The higher-order-
 * function formulations (transform/aggregate lambdas) are interpreted
 * per element by Spark; at 64 hashes × hundreds of shingles per doc that
 * dominated the benchmark, so these run the loops in compiled code
 * (reference semantics: MinHash/SimHash as in the standard near-dup
 * literature; hashing reuses Spark's XXH64 with the builtin seed).
 */

/** xxhash64 of each string element (same values as the builtin xxhash64). */
case class HashShingles(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hash_shingles"
  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
         |    $a.getUTF8String($i), org.apache.spark.sql.types.DataTypes.StringType, 42L);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Fused shingle pipeline: text → lower-case → split on single spaces →
 * distinct w-gram strings → xxhash64 of each, in one compiled pass.
 * Same values as HashShingles(Dedup.shingles(text)) — lowercasing uses
 * UTF8String.toLowerCase (the builtin `lower`), split keeps empty
 * tokens (Java split limit -1, like the builtin `split`), distinct
 * preserves first-occurrence order (like array_distinct; dedup runs on
 * the hash, which differs from string-distinct only on a 64-bit
 * collision inside one doc — probability ~n²/2^64, negligible).
 *
 * The HOF formulation (transform(sequence(...), concat_ws∘element_at))
 * evaluates an interpreted lambda per shingle; measured ~10s for a
 * 5000-doc corpus vs <0.3s compiled.
 */
case class WordShingleHashes(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(w >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingle_hashes"
  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[UTF8String].toLowerCase.toString.split(" ", -1)
    val n = toks.length - w + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long](n * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Gopher repetition stats in ONE compiled pass:
 * struct<n_tokens, dup2_ratio, dup3_ratio> where dupN =
 * round(1 − distinct_ngrams/ngrams, 6) over the non-empty lowercased
 * space tokens (0.0 when the doc has no N-gram). Same values as the
 * declarative filter/transform/array_distinct chain it replaces —
 * that chain's lambda-captured token array was re-evaluated per gram
 * position (O(tokens²) per document, ~24 CPU-seconds at sf0.1; ~1
 * compiled). Distinctness is exact string-set distinctness, and the
 * rounding is Spark round()'s HALF_UP.
 */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("dup2_ratio", DoubleType, nullable = false),
    StructField("dup3_ratio", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[UTF8String].toLowerCase.toString
      .split(" ", -1).filter(_.nonEmpty)
    val n = toks.length
    def dup(w: Int): Double = {
      val m = n - w + 1
      if (m <= 0) 0.0
      else {
        val seen = new java.util.HashSet[String](m * 2)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var j = 0
          while (j < w) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        round6(1.0 - seen.size.toDouble / m.toDouble)
      }
    }
    InternalRow(n.toLong, dup(2), dup(3))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * MinHash signature over pre-hashed shingles: min_j of (a_j*h + b_j) mod
 * 2^31-1 per hash function. Params derive from `seed` exactly like
 * graft.operators.Dedup.minhashSignature.
 */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  @transient private lazy val params: Array[(Long, Long)] = {
    val p = 2147483647L
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((math.abs(rnd.nextLong()) % (p - 1) + 1,
      math.abs(rnd.nextLong()) % p))
  }

  override def nullSafeEval(a: Any): Any = {
    val p = 2147483647L
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h0 = arr.getLong(i)
      // same value as SQL pmod(h, p): sign-safe modulo
      val h = ((h0 % p) + p) % p
      var j = 0
      while (j < numHashes) {
        val v = (params(j)._1 * h + params(j)._2) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) new GenericArrayData(Array.fill(numHashes)(0L))
    else new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over string tokens, packed into one long. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Polynomial rolling-hash fingerprint: h = (h*31 + codepoint) mod 1e9+7
 * over the string's characters — single compiled pass, same values as
 * the SQL list_reduce/ord oracle (TextSuite.text_fingerprint).
 */
case class RollingHash(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_hash"
  override def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Pack an fp32 vector into fp16 bytes (2 per element, little-endian) —
 * the storage layout of the reference's halfvec type
 * (contrib/datavec/src/halfvec.cpp): half the bytes of fp32 on disk.
 */
case class PackHalf(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pack_half"
  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val h = HalfFloat.fromFloat(arr.getFloat(i))
      out(2 * i) = (h & 0xff).toByte
      out(2 * i + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Decode a packed-fp16 binary column back to array<float> (exact:
 * every binary16 value is representable in fp32) — the read side of
 * the halfvec column codec. unpack_half(pack_half(v)) equals the
 * fp16 round-trip of v.
 */
case class UnpackHalf(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unpack_half"
  override def nullSafeEval(a: Any): Any = {
    val bytes = a.asInstanceOf[Array[Byte]]
    val n = bytes.length / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val h = ((bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)).toShort
      out(i) = HalfFloat.toFloat(h)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Distance between two packed-fp16 vectors, decoded on the fly with
 * double accumulation (same values as round-tripping through
 * HalfVecRoundTrip then VectorDistance). metric: l2|l2sq|ip|negip|cosine|l1.
 */
case class PackedHalfDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression with CodegenFallback {
  require(Seq("l2", "l2sq", "ip", "negip", "cosine", "l1").contains(metric))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"half_packed_${metric}_distance"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"graft: halfvec byte lengths differ: ${x.length} vs ${y.length}")
    val n = x.length / 2
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0; var l1 = 0.0
    var i = 0
    while (i < n) {
      val ha = ((x(2 * i) & 0xff) | ((x(2 * i + 1) & 0xff) << 8)).toShort
      val hb = ((y(2 * i) & 0xff) | ((y(2 * i + 1) & 0xff) << 8)).toShort
      val va = HalfFloat.toFloat(ha).toDouble
      val vb = HalfFloat.toFloat(hb).toDouble
      dot += va * vb; na += va * va; nb += vb * vb
      val d = va - vb; l2 += d * d; l1 += math.abs(d)
      i += 1
    }
    metric match {
      case "l2" => math.sqrt(l2)
      case "l2sq" => l2
      case "ip" => dot
      case "negip" => -dot
      case "cosine" =>
        val sim = dot / math.sqrt(na * nb)
        1.0 - math.max(-1.0, math.min(1.0, sim))
      case "l1" => l1
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * The trigram-LM probe tuple per trigram position, one compiled pass:
 * array<struct<h123, h12, h23, h2, h3>> where h123 keys the trigram
 * table, h12/h23 the bigram table, h2/h3 the unigram table — the five
 * lookups [[graft.operators.TextAnalysis.trigramBackoffNll]] joins.
 * Emitting the five aligned keys as one struct array keeps the
 * explode payload at 40 bytes/gram instead of carrying three whole
 * hash arrays through the generator.
 */
case class TrigramProbeHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h123", LongType, nullable = false),
    StructField("h12", LongType, nullable = false),
    StructField("h23", LongType, nullable = false),
    StructField("h2", LongType, nullable = false),
    StructField("h3", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "trigram_probe_xxhash64"
  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[UTF8String].toLowerCase.toString.split(" ", -1)
    val m = toks.length - 2
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    // per-token hashes once, then chain forward for bigrams/trigrams
    val u = new Array[Long](toks.length)
    val h1 = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = UTF8String.fromString(toks(i))
      u(i) = XxHash64Function.hash(t, StringType, 42L)
      h1(i) = u(i)
      i += 1
    }
    def chain(seed: Long, tok: String): Long =
      XxHash64Function.hash(UTF8String.fromString(tok), StringType, seed)
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      val h12 = chain(u(i), toks(i + 1))
      val h23 = chain(u(i + 1), toks(i + 2))
      val h123 = chain(h12, toks(i + 2))
      out(i) = InternalRow(h123, h12, h23, h1(i + 1), h1(i + 2))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Every 1-, 2- and 3-gram hash key of a document, class-tagged, in
 * one compiled pass: array<struct<cls, h>> with cls ∈ {1,2,3}. Lets
 * the trigram-LM count tables build from ONE corpus scan + ONE
 * shuffle (groupBy(cls, h), branches filter their class and reuse the
 * exchange) instead of three scans — at 100 TB the corpus passes are
 * the cost, not the count tables.
 */
case class TaggedGramHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cls", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tagged_gram_xxhash64"
  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[UTF8String].toLowerCase.toString.split(" ", -1)
    val n = toks.length
    val m = n + math.max(0, n - 1) + math.max(0, n - 2)
    val out = new Array[Any](m)
    var k = 0
    var i = 0
    val u = new Array[Long](n)
    while (i < n) { // unigrams
      u(i) = XxHash64Function.hash(UTF8String.fromString(toks(i)), StringType, 42L)
      out(k) = InternalRow(1, u(i)); k += 1
      i += 1
    }
    i = 0
    val b = new Array[Long](math.max(0, n - 1))
    while (i < n - 1) { // bigrams chain from the unigram seeds
      b(i) = XxHash64Function.hash(UTF8String.fromString(toks(i + 1)), StringType, u(i))
      out(k) = InternalRow(2, b(i)); k += 1
      i += 1
    }
    i = 0
    while (i < n - 2) { // trigrams chain from the bigram seeds
      val t = XxHash64Function.hash(UTF8String.fromString(toks(i + 2)), StringType, b(i))
      out(k) = InternalRow(3, t); k += 1
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
