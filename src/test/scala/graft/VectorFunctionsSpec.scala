package graft

import graft.functions.{VectorFunctions => VF, VectorAggregates => VA, HalfFloat}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, Seq(1f, 2f, 3f), Seq(4f, 6f, 8f)),
    (2L, Seq(0f, 0f, 0f), Seq(1f, 0f, 0f)),
    (3L, Seq(-1.5f, 2.5f, 0.5f), Seq(0.5f, -0.5f, 2f))
  ).toDF("id", "a", "b")

  private def one(c: org.apache.spark.sql.Column): Double =
    df.filter($"id" === 1).select(c).as[Double].head()

  test("l2 / l2sq / l1 distances match closed form") {
    assert(math.abs(one(VF.l2Distance($"a", $"b")) - math.sqrt(9 + 16 + 25)) < 1e-12)
    assert(one(VF.l2SquaredDistance($"a", $"b")) == 50.0)
    assert(one(VF.l1Distance($"a", $"b")) == 12.0)
  }

  test("inner product / neg ip / cosine") {
    assert(one(VF.innerProduct($"a", $"b")) == 4 + 12 + 24)
    assert(one(VF.negInnerProduct($"a", $"b")) == -40.0)
    val cos = 40.0 / (math.sqrt(14.0) * math.sqrt(116.0))
    assert(math.abs(one(VF.cosineDistance($"a", $"b")) - (1 - cos)) < 1e-12)
  }

  test("norm, normalize, dims") {
    assert(math.abs(one(VF.l2Norm($"a")) - math.sqrt(14.0)) < 1e-12)
    val n = df.filter($"id" === 1).select(VF.l2Normalize($"a")).as[Seq[Double]].head()
    assert(math.abs(n.map(x => x * x).sum - 1.0) < 1e-12)
    // zero vector normalizes to zero vector (ref: vector.cpp l2_normalize)
    val z = df.filter($"id" === 2).select(VF.l2Normalize($"a")).as[Seq[Double]].head()
    assert(z.forall(_ == 0.0))
    assert(df.select(VF.vectorDims($"a")).as[Int].head() == 3)
  }

  test("arithmetic, concat, subvector") {
    val add = df.filter($"id" === 1).select(VF.vectorAdd($"a", $"b")).as[Seq[Float]].head()
    assert(add == Seq(5f, 8f, 11f))
    val sub = df.filter($"id" === 1).select(VF.vectorSub($"a", $"b")).as[Seq[Float]].head()
    assert(sub == Seq(-3f, -4f, -5f))
    val mul = df.filter($"id" === 1).select(VF.vectorMul($"a", $"b")).as[Seq[Float]].head()
    assert(mul == Seq(4f, 12f, 24f))
    val cc = df.filter($"id" === 1).select(VF.vectorConcat($"a", $"b")).as[Seq[Float]].head()
    assert(cc == Seq(1f, 2f, 3f, 4f, 6f, 8f))
    val sv = df.filter($"id" === 1).select(VF.subvector($"a", 2, 2)).as[Seq[Float]].head()
    assert(sv == Seq(2f, 3f))
    // reference admission (vector_type.out:183-208): dims mismatch
    // errors (zip_with would null-pad), finite inputs overflowing to
    // ±Inf error, nonzero products collapsing to 0 error
    val one = df.limit(1)
    intercept[Exception] {
      one.select(VF.vectorAdd(typedlit(Seq(1f, 2f)), typedlit(Seq(3f)))).collect()
    }
    intercept[Exception] {
      one.select(VF.vectorAdd(typedlit(Seq(3e38f)), typedlit(Seq(3e38f)))).collect()
    }
    intercept[Exception] {
      one.select(VF.vectorSub(typedlit(Seq(-3e38f)), typedlit(Seq(3e38f)))).collect()
    }
    intercept[Exception] {
      one.select(VF.vectorMul(typedlit(Seq(1e37f)), typedlit(Seq(1e37f)))).collect()
    }
    intercept[Exception] { // underflow, not silent zero
      one.select(VF.vectorMul(typedlit(Seq(1e-37f)), typedlit(Seq(1e-37f)))).collect()
    }
    // legitimate zeros pass the underflow gate
    assert(one.select(VF.vectorMul(typedlit(Seq(0f, 1f)), typedlit(Seq(5f, 0f))))
      .as[Seq[Float]].head() == Seq(0f, 0f))
  }

  test("binary quantize + hamming + jaccard") {
    val r = df.filter($"id" === 3).select(
      VF.hammingDistance(VF.binaryQuantize($"a"), VF.binaryQuantize($"b")).as("h"),
      VF.jaccardDistance(VF.binaryQuantize($"a"), VF.binaryQuantize($"b")).as("j")
    ).head()
    // a=(-1.5,2.5,0.5)->011, b=(0.5,-0.5,2)->101 : xor=110 -> hamming 2
    assert(r.getDouble(0) == 2.0)
    // and=001 (1 bit), or=111 (3 bits) -> jaccard dist = 1 - 1/3
    assert(math.abs(r.getDouble(1) - (1.0 - 1.0 / 3.0)) < 1e-12)
  }

  test("vector compare is lexicographic") {
    val c = df.filter($"id" === 1).select(VF.vectorCmp($"a", $"b")).as[Int].head()
    assert(c == -1)
    assert(df.filter($"id" === 1).select(VF.vectorCmp($"a", $"a")).as[Int].head() == 0)
  }

  test("halfvec round trip quantizes to fp16 grid") {
    assert(HalfFloat.toFloat(HalfFloat.fromFloat(1.0f)) == 1.0f)
    assert(HalfFloat.toFloat(HalfFloat.fromFloat(0.5f)) == 0.5f)
    // 0.1f is not representable in fp16; nearest is 0.0999755859375
    val q = HalfFloat.toFloat(HalfFloat.fromFloat(0.1f))
    assert(math.abs(q - 0.1f) < 1e-4 && q != 0.1f)
    assert(HalfFloat.fromFloat(65520f) == HalfFloat.fromFloat(Float.PositiveInfinity))
    val hv = df.filter($"id" === 1).select(VF.halfvec($"a")).as[Seq[Float]].head()
    assert(hv == Seq(1f, 2f, 3f))
    // halfvec ADMISSION (cast.out:99-100): a finite fp32 that rounds
    // to fp16 infinity is out of range — 65504 is the max half
    assert(HalfFloat.toFloat(HalfFloat.fromFloatChecked(65504f)) == 65504f)
    intercept[IllegalArgumentException] { HalfFloat.fromFloatChecked(65520f) }
    intercept[Exception] {
      df.select(VF.halfvec(typedlit(Seq(65520f)))).collect()
    }
    assert(df.limit(1).select(VF.halfvec(typedlit(Seq(65504f, 1e-8f))))
      .as[Seq[Float]].head() == Seq(65504f, 0f)) // underflow → 0, like the cast
  }

  test("halfvec composite arithmetic stays on the fp16 grid") {
    val r = df.filter($"id" === 3).select(
      VF.halfvecAdd($"a", $"b").as("ha"),
      VF.halfvecMul($"a", $"b").as("hm"),
      VF.halfvecConcat($"a", $"b").as("hc")).head()
    val ha = r.getSeq[Float](0)
    // every output value must be exactly representable in fp16
    def onGrid(x: Float) = HalfFloat.toFloat(HalfFloat.fromFloat(x)) == x
    assert(ha.forall(onGrid) && r.getSeq[Float](1).forall(onGrid))
    assert(ha == Seq(-1.0f, 2.0f, 2.5f))
    assert(r.getSeq[Float](2).length == 6)
  }

  test("sparse distance merge-scan") {
    val sp = Seq((Seq(0, 2, 5), Seq(1f, 2f, 3f), Seq(2, 3), Seq(4f, 5f)))
      .toDF("ai", "av", "bi", "bv")
    val l2sq = sp.select(VF.sparseDistance($"ai", $"av", $"bi", $"bv", "l2sq")).as[Double].head()
    // diffs: idx0: 1, idx2: 2-4=-2, idx3: -5, idx5: 3 -> 1+4+25+9 = 39
    assert(l2sq == 39.0)
    val ip = sp.select(VF.sparseDistance($"ai", $"av", $"bi", $"bv", "ip")).as[Double].head()
    assert(ip == 8.0)
  }

  test("vec avg / sum aggregates") {
    val r = df.groupBy().agg(VA.vecAvg($"a").as("avg"), VA.vecSum($"a").as("sum"))
      .head()
    val avg = r.getSeq[Float](0); val sum = r.getSeq[Float](1)
    assert(sum == Seq(1f - 1.5f, 4.5f, 3.5f))
    assert(math.abs(avg(1) - 4.5f / 3) < 1e-6)
    // sum's fp32 RESULT overflow errors (vector_type.out:686) — the
    // fp64 accumulator is fine, the emitted float4 is not; avg of the
    // same inputs stays finite and passes (:643-647)
    val big = Seq(Tuple1(Seq(3e38f)), Tuple1(Seq(3e38f))).toDF("v")
    intercept[Exception] {
      big.agg(VA.vecSum($"v")).collect()
    }
    assert(big.agg(VA.vecAvg($"v")).head().getSeq[Float](0) == Seq(3e38f))
  }

  test("vector text I/O: parse/format round trips and rejects malformed input") {
    val v = Seq(Tuple1(Seq(1.5f, -2.25f, 3e-4f))).toDF("v")
    val s = v.select(VF.vectorToString($"v")).as[String].head()
    assert(s.startsWith("[") && s.endsWith("]") && s.contains(","))
    assert(v.select(VF.parseVector(VF.vectorToString($"v")) === $"v").as[Boolean].head())
    // whitespace-tolerant input, like the reference's vector_in
    val p = v.select(VF.parseVector(lit(" [ 1, 2.5 ,3] "))).as[Seq[Float]].head()
    assert(p == Seq(1f, 2.5f, 3f))
    // the reference's admission battery (vector_type.out): literal
    // NaN/Infinity rejected, decimal overflow rejected, underflow
    // flushes to ±0, empty vectors rejected, Java-only float
    // spellings ("1f", hex) are syntax errors
    for (bad <- Seq("1,2,3", "[]", "[ ]", "[NaN,1]", "[Infinity,1]",
        "[-Infinity,1]", "[4e38,1]", "[-4e38,1]", "[1f]", "[0x1p3]",
        "[1,]", "[1,,3]", "[1,2,3", "[1,2,3]9", "[hello,1]"))
      intercept[Exception] {
        v.select(VF.parseVector(lit(bad))).collect()
      }
    assert(v.select(VF.parseVector(lit("[1e-46,-1e-46]")))
      .as[Seq[Float]].head() == Seq(0f, -0f))
    assert(v.select(VF.parseVector(lit("[1.5e+38,-1.5e38]")))
      .as[Seq[Float]].head() == Seq(1.5e38f, -1.5e38f))
    // sparsevec text form is 1-based; parsed struct is 0-based
    val sp = v.select(VF.parseSparsevec(lit("{1:1.5,3:2}/5")).as("s"))
      .select($"s.indices", $"s.values", $"s.dim").head()
    assert(sp.getSeq[Int](0) == Seq(0, 2) && sp.getSeq[Float](1) == Seq(1.5f, 2f)
      && sp.getInt(2) == 5)
    val rt = v.select(VF.parseSparsevec(VF.sparsevecToString(
        typedlit(Seq(0, 2)), typedlit(Seq(1.5f, 2f)), lit(5))).as("s"))
      .select($"s.indices", $"s.values", $"s.dim").head()
    assert(rt.getSeq[Int](0) == Seq(0, 2) && rt.getInt(2) == 5)
    intercept[Exception] { // unsorted indices rejected
      v.select(VF.parseSparsevec(lit("{3:1,1:2}/5"))).collect()
    }
    intercept[Exception] { // out-of-range index rejected
      v.select(VF.parseSparsevec(lit("{6:1}/5"))).collect()
    }
    for (bad <- Seq("{1:NaN}/5", "{1:Infinity}/5", "{1:4e38}/5",
        "{1:1}/0", "{1:1}/1000000001"))
      intercept[Exception] {
        v.select(VF.parseSparsevec(lit(bad))).collect()
      }
    // halfvec text form: fp16 admission applies at parse, and every
    // error NAMES halfvec with the original token text (halfvec.cpp
    // CheckElement — `"65520" is out of range`, never "65520.0")
    assert(v.select(VF.parseHalfvec(lit("[1,0.1,65504]")))
      .as[Seq[Float]].head().head == 1f)
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    val range = intercept[Exception] {
      v.select(VF.parseHalfvec(lit("[65520]"))).collect()
    }
    assert(rootMsg(range).contains("\"65520\" is out of range for type halfvec"),
      s"got: ${rootMsg(range)}")
    val nan = intercept[Exception] {
      v.select(VF.parseHalfvec(lit("[NaN]"))).collect()
    }
    assert(rootMsg(nan).contains("NaN not allowed in halfvec"))
    val mal = intercept[Exception] {
      v.select(VF.parseHalfvec(lit("[1,2"))).collect()
    }
    assert(rootMsg(mal).contains("halfvec"))
    // explicit zeros DROP at parse (sparsevec.out:160-164)
    val z = v.select(VF.parseSparsevec(lit("{1:0,2:1,3:0}/3")).as("s"))
      .select($"s.indices", $"s.values", $"s.dim").head()
    assert(z.getSeq[Int](0) == Seq(1) && z.getSeq[Float](1) == Seq(1f)
      && z.getInt(2) == 3)
  }

  test("vector I/O + sparse norms callable from SQL") {
    val r = spark.sql(
      """SELECT vector_to_string(parse_vector('[3,4]')) AS s,
        |  sparsevec_l2_norm(array(3.0F, 4.0F)) AS n,
        |  parse_sparsevec('{2:7}/9').dim AS d""".stripMargin).head()
    assert(r.getString(0) == "[3.0,4.0]" && r.getDouble(1) == 5.0 && r.getInt(2) == 9)
  }

  test("halfvec/sparsevec distances + dims enforcement callable from SQL") {
    val r = spark.sql(
      """SELECT halfvec_l2_squared_distance(array(1.0F, 2.0F), array(4.0F, 6.0F)) AS h,
        |  sparsevec_l2_squared_distance(array(0, 2), array(1.0F, 2.0F),
        |                                array(1), array(3.0F)) AS sp,
        |  size(assert_dims(array(1.0F, 2.0F, 3.0F), 3)) AS ok""".stripMargin).head()
    assert(r.getDouble(0) == 25.0) // fp16 grid holds small ints exactly
    assert(r.getDouble(1) == 1 + 9 + 4.0)
    assert(r.getInt(2) == 3)
    val err = intercept[Exception] {
      spark.sql("SELECT assert_dims(array(1.0F, 2.0F), 3)").collect()
    }
    def root(t: Throwable): Throwable = if (t.getCause == null) t else root(t.getCause)
    assert(root(err).getMessage.contains("expected vector(3)"))
  }

  test("sparse/dense conversions round-trip; sparse cmp equals dense cmp") {
    val v = Seq((Seq(0f, 1.5f, 0f, -2f), Seq(0f, 1.5f, 0f, -1f)),
        (Seq(1f, 0f, 0f, 0f), Seq(1f, 0f, 0f, 0f)),
        (Seq(0f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 0f)))
      .toDF("a", "b")
    val spA = VF.toSparse($"a"); val spB = VF.toSparse($"b")
    val checked = v.select(
      (VF.sparseToDense(spA.getField("indices"), spA.getField("values"),
        spA.getField("dim")) === $"a").as("rt"),
      VF.sparseCmp(spA.getField("indices"), spA.getField("values"),
        spB.getField("indices"), spB.getField("values"),
        spA.getField("dim"), spB.getField("dim")).as("sc"),
      VF.vectorCmp($"a", $"b").as("dc")).collect()
    assert(checked.forall(_.getBoolean(0)), "dense->sparse->dense must round-trip")
    assert(checked.forall(r => r.getInt(1) == r.getInt(2)),
      s"sparse cmp must equal dense cmp: ${checked.toSeq}")
    // different dims: prefix-equal → shorter sorts first
    val dims = Seq((Seq(1f, 2f), Seq(1f, 2f, 0f))).toDF("a", "b")
    val sA = VF.toSparse($"a"); val sB = VF.toSparse($"b")
    assert(dims.select(VF.sparseCmp(sA.getField("indices"), sA.getField("values"),
      sB.getField("indices"), sB.getField("values"),
      sA.getField("dim"), sB.getField("dim"))).as[Int].head() == -1)
  }

  test("halfvec aggregates stay on the fp16 grid") {
    val d = Seq(Tuple1(Seq(0.1f, 1000.5f)), Tuple1(Seq(0.2f, 2000.5f))).toDF("v")
    val r = d.agg(VF.halfvecAvg($"v").as("a"), VF.halfvecSum($"v").as("s")).head()
    val a = r.getSeq[Float](0); val s = r.getSeq[Float](1)
    // every output value must be exactly representable in binary16
    (a ++ s).foreach { x =>
      assert(graft.functions.HalfFloat.toFloat(graft.functions.HalfFloat.fromFloat(x)) == x,
        s"$x not on fp16 grid")
    }
  }

  test("distance works under whole-stage codegen on real parquet") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.orderBy("vec_id").limit(1).select($"embedding").as[Seq[Float]].head()
    val top = emb.select($"vec_id", VF.l2Distance($"embedding", lit(q.toArray)).as("d"))
      .orderBy($"d", $"vec_id").limit(5).collect()
    assert(top.length == 5)
    assert(top.head.getDouble(1) == 0.0) // itself
  }

  test("int8 quantization: codes in [-127,127], reconstruction within half a step") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
    val r = emb.agg(min(array_min($"embedding".cast("array<double>"))),
      max(array_max($"embedding".cast("array<double>")))).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val step = (hi - lo) / 254.0
    val rows = emb.select($"embedding".cast("array<double>").as("v"),
        VF.int8Quantize($"embedding", lit(lo), lit(hi)).as("c"))
      .as[(Seq[Double], Seq[Int])].collect()
    rows.foreach { case (v, c) =>
      assert(c.forall(q => q >= -127 && q <= 127), "code out of int8 range")
      v.zip(c).foreach { case (x, q) =>
        val recon = lo + (q + 127) * step
        assert(math.abs(recon - x) <= step / 2 + 1e-9,
          s"reconstruction error ${math.abs(recon - x)} exceeds step/2 $step")
      }
    }
    // quantized self-distance is zero; integer distance is symmetric
    val c0 = rows.head._2
    val d = VF.int8DistSq(lit(c0.toArray), lit(c0.toArray))
    assert(emb.select(d).head().getLong(0) == 0L)
  }
}
