package graft

import graft.functions.HalfFloat
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property-based checks of the numeric kernels — pure JVM logic, no
 * Spark session needed, so these run wide (hundreds of generated
 * cases per property) and fast. Raw ScalaCheck API (scalatestplus is
 * not in the offline dependency set).
 */
class KernelPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val finiteFloat: Gen[Float] =
    Gen.chooseNum(-3.4e38f, 3.4e38f).suchThat(java.lang.Float.isFinite(_))

  test("fp16 round-trip is idempotent (grid values are fixed points)") {
    check("fp16-idempotent", Prop.forAll(finiteFloat) { f =>
      val once = HalfFloat.toFloat(HalfFloat.fromFloat(f))
      val twice = HalfFloat.toFloat(HalfFloat.fromFloat(once))
      java.lang.Float.floatToIntBits(once) == java.lang.Float.floatToIntBits(twice)
    })
  }

  test("fp16 rounding error is within half the local grid spacing") {
    check("fp16-halfulp", Prop.forAll(Gen.chooseNum(-60000f, 60000f)) { f =>
      val q = HalfFloat.toFloat(HalfFloat.fromFloat(f)).toDouble
      val ulp = math.max(math.abs(f.toDouble) / 1024.0, math.pow(2, -24))
      math.abs(q - f.toDouble) <= ulp * 0.5 + 1e-12
    })
  }

  test("fp16 quantization is monotone") {
    check("fp16-monotone", Prop.forAll(
      Gen.chooseNum(-60000f, 60000f), Gen.chooseNum(-60000f, 60000f)) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      HalfFloat.toFloat(HalfFloat.fromFloat(lo)) <=
        HalfFloat.toFloat(HalfFloat.fromFloat(hi))
    })
  }

  test("float text round trip: parseFloat(toString(f)) == f") {
    // the property VectorToString/ParseVector rely on for the vec_io law
    check("float-roundtrip", Prop.forAll(finiteFloat) { f =>
      java.lang.Float.parseFloat(f.toString) == f
    })
  }

  test("rolling hash is a proper residue and deterministic") {
    def h(s: String): Long = {
      var acc = 0L
      s.codePoints().forEach(cp => acc = (acc * 31 + cp) % 1000000007L)
      acc
    }
    check("rolling-hash", Prop.forAll(Gen.asciiPrintableStr) { s =>
      val v = h(s)
      v >= 0 && v < 1000000007L && v == h(s)
    })
  }

  // ---- distance kernel: VectorDistance's two paths vs float[] forms ----

  test("VectorDistance: eval, generated code and float[] kernel agree bit for bit") {
    import graft.functions.{VectorDistance, VectorKernel, VectorMetrics => M}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val elem = Gen.frequency(8 -> Gen.chooseNum(-1e3f, 1e3f),
      1 -> Gen.oneOf(0f, -0f, Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MinPositiveValue))
    def vec(n: Int) = Gen.listOfN(n, elem).map(_.toArray)
    val sameDims = Gen.chooseNum(0, 48).flatMap(n => Gen.zip(vec(n), vec(n)))
    val otherDims = for {
      n <- Gen.chooseNum(0, 8); m <- Gen.chooseNum(0, 8).suchThat(_ != n)
      a <- vec(n); b <- vec(m)
    } yield (a, b)
    val viaFloats: Map[String, (Array[Float], Array[Float]) => Double] = Map(
      M.L2 -> ((a, b) => math.sqrt(VectorKernel.l2sq(a, b))),
      M.L2Sq -> ((a, b) => VectorKernel.l2sq(a, b)),
      M.Ip -> ((a, b) => VectorKernel.dot(a, b)),
      M.NegIp -> ((a, b) => -VectorKernel.dot(a, b)),
      M.Cosine -> ((a, b) => VectorKernel.cosineDistance(a, b)),
      M.L1 -> ((a, b) => VectorKernel.l1(a, b)),
      M.Spherical -> ((a, b) =>
        math.acos(math.max(-1.0, math.min(1.0, VectorKernel.dot(a, b)))) / math.Pi))
    assert(viaFloats.keySet == M.all.toSet)
    val t = ArrayType(FloatType, containsNull = false)
    // doubleToLongBits: bit equality with every NaN folded to one
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    for (m <- M.all) {
      val e = VectorDistance(BoundReference(0, t, nullable = false),
        BoundReference(1, t, nullable = false), m)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      // interpreted over GenericArrayData, generated over UnsafeArrayData
      def eval(a: Array[Float], b: Array[Float]) =
        e.eval(InternalRow(new GenericArrayData(a), new GenericArrayData(b)))
          .asInstanceOf[Double]
      def gen(a: Array[Float], b: Array[Float]) =
        proj(InternalRow(UnsafeArrayData.fromPrimitiveArray(a),
          UnsafeArrayData.fromPrimitiveArray(b))).getDouble(0)
      check(s"distance-$m", Prop.forAll(sameDims) { case (a, b) =>
        val want = bits(viaFloats(m)(a, b))
        bits(eval(a, b)) == want && bits(gen(a, b)) == want
      })
      check(s"distance-$m-dims", Prop.forAll(otherDims) { case (a, b) =>
        val msg = s"graft: vector dims differ: ${a.length} vs ${b.length}"
        Seq(() => eval(a, b), () => gen(a, b)).forall { f =>
          try { f(); false }
          catch { case x: IllegalArgumentException => x.getMessage == msg }
        }
      })
    }
  }

  test("norm, normalize and bit distances: eval, generated code and kernel agree bit for bit") {
    import graft.functions.{BitDistance, VectorKernel, VectorL2Norm, VectorL2Normalize}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val elem = Gen.frequency(8 -> Gen.chooseNum(-1e3f, 1e3f),
      1 -> Gen.oneOf(0f, -0f, Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MinPositiveValue))
    val vecs = Gen.chooseNum(0, 48).flatMap(n => Gen.listOfN(n, elem).map(_.toArray))
    val t = ArrayType(FloatType, containsNull = false)
    // interpreted over GenericArrayData, generated over UnsafeArrayData
    def paths(e: Expression, v: Array[Float]): (Any, Any) =
      (e.eval(InternalRow(new GenericArrayData(v))),
        GenerateUnsafeProjection.generate(Seq(e))(
          InternalRow(UnsafeArrayData.fromPrimitiveArray(v))).copy().get(0, e.dataType))
    val norm = VectorL2Norm(BoundReference(0, t, nullable = false))
    val unit = VectorL2Normalize(BoundReference(0, t, nullable = false))
    check("l2-norm", Prop.forAll(vecs) { v =>
      // the reference: the float[] dot of v with itself, then sqrt
      val want = bits(math.sqrt(VectorKernel.dot(v, v)))
      val (e, g) = paths(norm, v)
      bits(e.asInstanceOf[Double]) == want && bits(g.asInstanceOf[Double]) == want &&
        bits(VectorKernel.l2Norm(new GenericArrayData(v))) == want
    })
    check("l2-normalize", Prop.forAll(vecs) { v =>
      val n = math.sqrt(VectorKernel.dot(v, v))
      val want = v.map(x => bits(if (n > 0) x.toDouble / n else 0.0)).toSeq
      val (e, g) = paths(unit, v)
      Seq(e, g).forall(a => a.asInstanceOf[ArrayData].toDoubleArray().map(bits).toSeq == want) &&
        VectorKernel.l2Normalize(UnsafeArrayData.fromPrimitiveArray(v)).map(bits).toSeq == want
    })
    val codes = Gen.chooseNum(0, 16).flatMap(n =>
      Gen.zip(Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray),
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)))
    for (m <- Seq("hamming", "jaccard")) {
      val e = BitDistance(BoundReference(0, BinaryType, nullable = false),
        BoundReference(1, BinaryType, nullable = false), m)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      val kernel: (Array[Byte], Array[Byte]) => Double =
        if (m == "hamming") VectorKernel.hamming else VectorKernel.jaccard
      // the reference: java.util.BitSet cardinalities
      def want(a: Array[Byte], b: Array[Byte]): Double = {
        def set(x: Array[Byte]) = java.util.BitSet.valueOf(x)
        val x = set(a); x.xor(set(b))
        val and = set(a); and.and(set(b))
        val or = set(a); or.or(set(b))
        if (m == "hamming") x.cardinality.toDouble
        else if (or.cardinality == 0) Double.NaN
        else 1.0 - and.cardinality.toDouble / or.cardinality.toDouble
      }
      check(s"bit-$m", Prop.forAll(codes) { case (a, b) =>
        val w = bits(want(a, b))
        bits(e.eval(InternalRow(a, b)).asInstanceOf[Double]) == w &&
          bits(proj(InternalRow(a, b)).getDouble(0)) == w && bits(kernel(a, b)) == w
      })
      val msg = "graft: bit vector lengths differ: 2 vs 3"
      val (a, b) = (Array[Byte](1, 2), Array[Byte](1, 2, 3))
      Seq(() => e.eval(InternalRow(a, b)), () => proj(InternalRow(a, b)), () => kernel(a, b))
        .foreach { f =>
          val x = intercept[IllegalArgumentException](f())
          assert(x.getMessage == msg)
        }
    }
  }

  // ---- PQ kernel (pure JVM: encode/table math, no Spark) ----

  test("pq encode picks the argmin centroid; adc of own centroid is exact") {
    val gen = for {
      seed <- Gen.chooseNum(0L, 1000L)
    } yield {
      val rnd = new scala.util.Random(seed)
      val m = 4; val k = 8; val subDim = 4
      val books = Array.fill(m, k, subDim)(rnd.nextFloat() * 2 - 1)
      val v = Array.fill(m * subDim)(rnd.nextFloat() * 2 - 1)
      (graft.operators.Pq.Model(books), v)
    }
    check("pq-argmin", Prop.forAll(gen) { case (model, v) =>
      val code = model.encodeOne(v)
      val table = model.adcTable(v)
      // the chosen centroid's table entry is the minimum of its row
      // (ties excluded by construction of random floats)
      code.indices.forall { s =>
        val row = table(s)
        row(code(s) & 0xff) == row.min
      }
    })
  }

  private val ident: Gen[String] = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString

  // SQL-ish fragments: code tokens, literals with doubled quotes,
  // line/block comments, parens
  private val sqlFragment: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> ident,
    3 -> Gen.oneOf(" ", "\n", "(", ")", ",", "=", "<", "."),
    2 -> ident.map(w => s"'$w''x'"),
    1 -> ident.map(w => s"-- $w ) union (\n"),
    1 -> ident.map(w => s"/* $w ) union */"),
    1 -> ident.map(w => s""""$w""""),
    1 -> ident.map(w => s"`$w`"))).map(_.mkString(" "))

  test("replaceIdent is identity when the target is absent or equal") {
    import graft.operators.RecursiveSql.{countRefs, replaceIdent}
    check("replace-identity", Prop.forAll(sqlFragment, ident) { (s, name) =>
      replaceIdent(s, name, name) == s &&
        (countRefs(s, name) > 0 || replaceIdent(s, name, name + "_z") == s)
    })
  }

  test("replaceIdent eliminates every code-region reference") {
    import graft.operators.RecursiveSql.{countRefs, replaceIdent}
    check("replace-complete", Prop.forAll(sqlFragment, ident) { (s, name) =>
      // a fresh target that cannot collide with generated idents
      // (length 6 + suffix) nor swallow neighbours
      val to = name + "_graft9"
      countRefs(replaceIdent(s, name, to), name) == 0
    })
  }

  test("countRefs never counts occurrences inside literals or comments") {
    import graft.operators.RecursiveSql.countRefs
    check("refs-noncode", Prop.forAll(ident) { name =>
      val s = s"'$name' \"$name\" `$name` -- $name\n /* $name */ '$name''$name'"
      countRefs(s, name) == 0
    })
  }
}
