package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{ArrayType, FloatType}

/**
 * SQL-name builders for the vector kernel, mirroring the reference's
 * SQL surface (contrib/datavec/sql/datavec--0.7.2.sql): in a session
 * with graft installed (`graft.GraftExtensions`), `spark.sql` queries
 * can call l2_distance, cosine_distance, inner_product, l1_distance,
 * vector_norm, l2_normalize, binary_quantize, hamming_distance,
 * jaccard_distance, vector_dims, simhash64, rolling_hash.
 */
object SqlFunctions {

  private def vec(e: Expression): Expression =
    if (e.dataType == ArrayType(FloatType)) e
    else Cast(e, ArrayType(FloatType))

  private def isSparseStruct(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fieldNames.count(n => n == "indices" || n == "values") == 2
      case _ => false
    }

  private def dist(metric: String)(args: Seq[Expression]): Expression =
    // sparsevec structs (parse_sparsevec's shape) dispatch to the
    // merge-scan kernel — PG resolves <->/<#>/<+> per operand type
    // (sparsevec_l2_distance etc., datavec sql 0.7.2:939-960)
    if (isSparseStruct(args(0).dataType) && isSparseStruct(args(1).dataType) &&
        Seq("l2", "l2sq", "ip", "negip", "cosine", "l1").contains(metric)) {
      def f(e: Expression, n: String, t: org.apache.spark.sql.types.DataType) = {
        val s = e.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        Cast(org.apache.spark.sql.catalyst.expressions.GetStructField(
          e, s.fieldIndex(n), Some(n)), t)
      }
      val ia = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)
      val fa = org.apache.spark.sql.types.ArrayType(FloatType)
      SparseVectorDistance(f(args(0), "indices", ia), f(args(0), "values", fa),
        f(args(1), "indices", ia), f(args(1), "values", fa), metric)
    } else VectorDistance(vec(args(0)), vec(args(1)), metric)

  val all: Map[String, Seq[Expression] => Expression] = Map(
    "l2_distance" -> dist(VectorMetrics.L2),
    "l2_squared_distance" -> dist(VectorMetrics.L2Sq),
    "inner_product" -> dist(VectorMetrics.Ip),
    "negative_inner_product" -> dist(VectorMetrics.NegIp),
    "cosine_distance" -> dist(VectorMetrics.Cosine),
    "l1_distance" -> dist(VectorMetrics.L1),
    "spherical_distance" -> dist(VectorMetrics.Spherical),
    "vector_norm" -> (args => VectorL2Norm(vec(args.head))),
    "l2_normalize" -> (args => VectorL2Normalize(vec(args.head))),
    "binary_quantize" -> (args => BinaryQuantize(vec(args.head))),
    "hamming_distance" -> (args => BitDistance(args(0), args(1), "hamming")),
    "jaccard_distance" -> (args => BitDistance(args(0), args(1), "jaccard")),
    "vector_cmp" -> (args => VectorCompare(vec(args(0)), vec(args(1)))),
    "halfvec" -> (args => HalfVecRoundTrip(vec(args.head))),
    "simhash64" -> (args => SimHash64(args.head)),
    "rolling_hash" -> (args => RollingHash(args.head)),
    // pg_trgm surface (PG contrib the openGauss kernel ships) — raw
    // Catalyst trees (a Column round-trip through the Bridge leaves a
    // ColumnNodeExpression the registry path cannot codegen; same
    // constraint as the theta estimators below)
    "similarity" -> (args => TrgmSql.similarity(args(0), args(1))),
    "show_trgm" -> (args => TrgmSql.trigrams(args.head)),
    // z-order key (bits must be a literal, like PG's fixed-width ops)
    "zvalue" -> (args => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      val bits = args(2) match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"graft: zvalue bits must be an integer literal, got $other")
      }
      TrgmSql.zValue(args(0), args(1), bits)
    }),
    // security_plugin masking surface (mirrors graft.operators.Masking;
    // optional 2nd arg = mask letter, as in the reference defaults)
    "creditcardmasking" -> (args => MaskSql.creditcard(args.head, MaskSql.letter(args, "x"))),
    "basicemailmasking" -> (args => MaskSql.basicEmail(args.head, MaskSql.letter(args, "x"))),
    "fullemailmasking" -> (args => MaskSql.fullEmail(args.head, MaskSql.letter(args, "x"))),
    "alldigitsmasking" -> (args => MaskSql.allDigits(args.head, MaskSql.letter(args, "0"))),
    "maskall" -> (args => MaskSql.maskAll(args.head)),
    "regexpmasking" -> (args => MaskSql.regexpMask(args)),
    // unaccent + keyed digest + hilbert clustering key
    "unaccent" -> (args => MaskSql.unaccent(args.head)),
    "hmac" -> (args => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      val algo = args(2) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case other => throw new IllegalArgumentException(
          s"graft: hmac algo must be a string literal, got $other")
      }
      HmacExpression(args(0), args(1), algo)
    }),
    // pgcrypto raw ciphers: encrypt/decrypt(data, key, 'aes[-mode][/pad:p]')
    "encrypt" -> (args => cipherExpr(args, encrypt = true)),
    "decrypt" -> (args => cipherExpr(args, encrypt = false)),
    "hilbert_index" -> (args => {
      import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, Literal}
      val bits = args(2) match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"graft: hilbert_index bits must be an integer literal, got $other")
      }
      HilbertIndex(CCast(args(0), org.apache.spark.sql.types.LongType),
        CCast(args(1), org.apache.spark.sql.types.LongType), bits)
    }),
    "parse_vector" -> (args => ParseVector(args.head)),
    "vector_to_string" -> (args => VectorToString(vec(args.head))),
    "parse_sparsevec" -> (args => ParseSparseVector(args.head)),
    "sparsevec_to_string" -> (args => SparseVectorToString(
      Cast(args(0), ArrayType(org.apache.spark.sql.types.IntegerType)),
      vec(args(1)), Cast(args(2), org.apache.spark.sql.types.IntegerType))),
    "sparsevec_l2_norm" -> (args => VectorL2Norm(vec(args.head))),
    "sparsevec_l2_normalize" -> (args => VectorL2Normalize(vec(args.head))),
    "sparsevec_to_vector" -> (args => SparseToDense(
      Cast(args(0), ArrayType(org.apache.spark.sql.types.IntegerType)),
      vec(args(1)), Cast(args(2), org.apache.spark.sql.types.IntegerType))),
    // halfvec distances: quantize both sides to the fp16 grid, then the
    // shared kernels (ref: sql 0.7.2 halfvec_l2_squared_distance etc.)
    "halfvec_l2_distance" -> halfDist(VectorMetrics.L2),
    "halfvec_l2_squared_distance" -> halfDist(VectorMetrics.L2Sq),
    "halfvec_inner_product" -> halfDist(VectorMetrics.Ip),
    "halfvec_negative_inner_product" -> halfDist(VectorMetrics.NegIp),
    "halfvec_cosine_distance" -> halfDist(VectorMetrics.Cosine),
    "halfvec_l1_distance" -> halfDist(VectorMetrics.L1),
    "halfvec_spherical_distance" -> halfDist(VectorMetrics.Spherical),
    // sparsevec distances over (aIdx, aVal, bIdx, bVal)
    "sparsevec_l2_distance" -> sparseDist("l2"),
    "sparsevec_l2_squared_distance" -> sparseDist("l2sq"),
    "sparsevec_inner_product" -> sparseDist("ip"),
    "sparsevec_negative_inner_product" -> sparseDist("negip"),
    "sparsevec_cosine_distance" -> sparseDist("cosine"),
    "sparsevec_l1_distance" -> sparseDist("l1"),
    // typmod analogue: vector(n) dimension enforcement at ingest
    "assert_dims" -> (args => AssertDims(vec(args(0)),
      Cast(args(1), org.apache.spark.sql.types.IntegerType))),
    // theta/KMV sketch family for SQL users: theta_sketch(x[, k]) is an
    // AGGREGATE (an AggregateExpression is an Expression, so it rides
    // the same registry); estimators are scalar struct arithmetic.
    // Builders must emit RAW Catalyst nodes — a Column built through the
    // functions API wraps ColumnNodeExpressions the analyzer won't
    // resolve when they arrive via the FunctionRegistry.
    "theta_sketch" -> (args => {
      val k = if (args.length < 2) 4096 else args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          v.asInstanceOf[Number].intValue
        case other => throw new IllegalArgumentException(
          s"graft: theta_sketch k must be a literal, got $other")
      }
      // same hashing as ThetaSketch.sketch: xxhash64 seed 42, nulls out
      // (xxhash64 of null would return the seed, not null)
      import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal, XxHash64}
      val hashed = If(IsNull(args(0)),
        Literal(null, org.apache.spark.sql.types.LongType),
        XxHash64(Seq(args(0)), 42L))
      ThetaSketchAgg(hashed, k).toAggregateExpression()
    }),
    "theta_estimate" -> (args =>
      ThetaSql.est(ThetaSql.sizeOf(ThetaSql.hashes(args(0))),
        ThetaSql.theta(args(0)))),
    "theta_intersection" -> (args => {
      import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Least}
      val th = Least(Seq(ThetaSql.theta(args(0)), ThetaSql.theta(args(1))))
      ThetaSql.est(ThetaSql.sizeOf(ThetaSql.below(
        ArrayIntersect(ThetaSql.hashes(args(0)), ThetaSql.hashes(args(1))), th)), th)
    }),
    "theta_union" -> (args => {
      import org.apache.spark.sql.catalyst.expressions.{ArrayUnion, Least}
      val th = Least(Seq(ThetaSql.theta(args(0)), ThetaSql.theta(args(1))))
      ThetaSql.est(ThetaSql.sizeOf(ThetaSql.below(
        ArrayUnion(ThetaSql.hashes(args(0)), ThetaSql.hashes(args(1))), th)), th)
    })
  )

  /** Raw-Catalyst builders for the pg_trgm + z-order SQL surface —
    * mirrors graft.operators.{Trgm, Layout} exactly (PG padded word
    * trigrams; Morton interleave). */
  private object TrgmSql {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, LongType}

    def trigrams(t: Expression): Expression = {
      val w = UnresolvedNamedLambdaVariable(Seq("w"))
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      val words = ArrayFilter(
        StringSplit(Lower(t), Literal("[^a-z0-9]+"), Literal(-1)),
        LambdaFunction(GreaterThan(Length(w), Literal(0)), Seq(w)))
      val padded = Concat(Seq(Literal("  "), w, Literal(" ")))
      val grams = ArrayTransform(
        new Sequence(Literal(1), Add(Length(w), Literal(1)), None),
        LambdaFunction(Substring(padded, i, Literal(3)), Seq(i)))
      ArrayDistinct(Flatten(ArrayTransform(words, LambdaFunction(grams, Seq(w)))))
    }

    def similarity(a: Expression, b: Expression): Expression = {
      val ta = trigrams(a); val tb = trigrams(b)
      val shared = Size(ArrayIntersect(ta, tb), legacySizeOfNull = false)
      val uni = Subtract(
        Add(Size(ta, legacySizeOfNull = false), Size(tb, legacySizeOfNull = false)),
        shared)
      If(LessThanOrEqual(uni, Literal(0)), Literal(0.0),
        Divide(Cast(shared, DoubleType), Cast(uni, DoubleType)))
    }

    def zValue(x: Expression, y: Expression, bits: Int): Expression = {
      require(bits >= 1 && bits <= 31, "bits must be in [1,31]")
      val xs = Cast(x, LongType); val ys = Cast(y, LongType)
      (0 until bits).map { i =>
        Add(
          ShiftLeft(BitwiseAnd(ShiftRight(xs, Literal(i)), Literal(1L)), Literal(2 * i)),
          ShiftLeft(BitwiseAnd(ShiftRight(ys, Literal(i)), Literal(1L)), Literal(2 * i + 1)))
      }.reduce[Expression](Add(_, _))
    }
  }

  /** Raw-Catalyst builders for the security_plugin masking surface +
    * unaccent — mirrors graft.operators.Masking / functions.Unaccent
    * exactly (the registry path needs Expression builders, not the
    * Column API; parity pinned in MaskingSpec/UnaccentSpec). */
  private object MaskSql {
    import org.apache.spark.sql.catalyst.expressions._

    def letter(args: Seq[Expression], dflt: String): Expression =
      if (args.length >= 2) args(1) else Literal(dflt)

    private val DigitClass = Literal("[0-9+]")

    def creditcard(col: Expression, l: Expression): Expression = {
      val keep = Literal(4)
      If(GreaterThanOrEqual(Length(col), keep),
        Concat(Seq(
          RegExpReplace(Substring(col, Literal(1), Subtract(Length(col), keep)),
            DigitClass, l),
          Substring(col, Literal(-4), keep))),
        col)
    }

    def basicEmail(col: Expression, l: Expression): Expression = {
      val pos = StringInstr(col, Literal("@"))
      If(GreaterThan(pos, Literal(1)),
        Concat(Seq(StringRepeat(l, Subtract(pos, Literal(1))),
          Substring(col, pos, Add(Subtract(Length(col), pos), Literal(1))))),
        col)
    }

    def fullEmail(col: Expression, l: Expression): Expression = {
      val pos = StringInstr(col, Literal("@"))
      val dotPos = Add(Subtract(Length(col),
        StringInstr(Reverse(col), Literal("."))), Literal(1))
      If(And(GreaterThan(pos, Literal(2)), GreaterThan(dotPos, pos)),
        Concat(Seq(
          StringRepeat(l, Subtract(pos, Literal(1))), Literal("@"),
          StringRepeat(l, Subtract(Subtract(dotPos, pos), Literal(1))),
          Substring(col, dotPos, Add(Subtract(Length(col), dotPos), Literal(1))))),
        col)
    }

    def allDigits(col: Expression, l: Expression): Expression =
      RegExpReplace(col, DigitClass, l)

    def maskAll(col: Expression): Expression =
      StringRepeat(Literal("x"), Length(col))

    /** regexpmasking(col, reg, replace[, pos = 0, reg_len = -1]) with
      * the reference's window clamps; pos/reg_len may be any integer
      * expressions. */
    def regexpMask(args: Seq[Expression]): Expression = {
      val col = args(0); val reg = args(1); val rep = args(2)
      val pos = if (args.length >= 4) args(3) else Literal(0)
      val regLen = if (args.length >= 5) args(4) else Literal(-1)
      val size = Length(col)
      val startpos = Least(Seq(Greatest(Seq(pos, Literal(0))), size))
      val endpos = If(LessThan(regLen, Literal(0)),
        Subtract(size, Literal(1)),
        Least(Seq(Subtract(Add(startpos, regLen), Literal(1)),
          Subtract(size, Literal(1)))))
      val lstr = Substring(col, Literal(1), startpos)
      val rstr = Substring(col, Add(endpos, Literal(2)),
        Subtract(Subtract(size, endpos), Literal(1)))
      val target = Substring(col, Add(startpos, Literal(1)),
        Add(Subtract(endpos, startpos), Literal(1)))
      Concat(Seq(lstr, RegExpReplace(target, reg, rep), rstr))
    }

    def unaccent(col: Expression): Expression = {
      val expanded = Unaccent.Multi.foldLeft(col) { case (acc, (a, b)) =>
        StringReplace(acc, Literal(a), Literal(b))
      }
      StringTranslate(expanded, Literal(Unaccent.From), Literal(Unaccent.To))
    }
  }

  /** Raw-Catalyst builders for the theta estimators (see note above). */
  private object ThetaSql {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.DoubleType
    def theta(sk: Expression): Expression =
      UnresolvedExtractValue(sk, Literal("theta"))
    def hashes(sk: Expression): Expression =
      UnresolvedExtractValue(sk, Literal("hashes"))
    def sizeOf(arr: Expression): Expression = Size(arr, legacySizeOfNull = false)
    def below(arr: Expression, th: Expression): Expression = {
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      ArrayFilter(arr, LambdaFunction(LessThan(x, th), Seq(x)))
    }
    /** count / P(theta) — same formula as ThetaSketch.estimate. */
    def est(cnt: Expression, th: Expression): Expression =
      Divide(Cast(cnt, DoubleType),
        Divide(Add(Cast(th, DoubleType), Literal(9.223372036854776e18)),
          Literal(1.8446744073709552e19)))
  }

  private def cipherExpr(args: Seq[Expression], encrypt: Boolean): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val spec = args(2) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft: cipher type must be a string literal, got $other")
    }
    CipherExpression(args(0), args(1),
      Literal(Array.empty[Byte], org.apache.spark.sql.types.BinaryType),
      spec, encrypt)
  }

  private def halfDist(metric: String)(args: Seq[Expression]): Expression =
    VectorDistance(HalfVecRoundTrip(vec(args(0))),
      HalfVecRoundTrip(vec(args(1))), metric)

  private def sparseDist(metric: String)(args: Seq[Expression]): Expression =
    SparseVectorDistance(
      Cast(args(0), ArrayType(org.apache.spark.sql.types.IntegerType)), vec(args(1)),
      Cast(args(2), ArrayType(org.apache.spark.sql.types.IntegerType)), vec(args(3)),
      metric)

  /** The full SQL-name surface: the vector/masking/sketch builders
    * here plus [[SqlTextSearch]] (tsearch/ltree/crypt/fuzzystrmatch)
    * and [[SqlContrib]] (jsonb/hstore/intarray/earthdistance). */
  def allBuilders: Map[String, Seq[Expression] => Expression] =
    all ++ SqlTextSearch.all ++ SqlContrib.all ++ PgOps.all
}
