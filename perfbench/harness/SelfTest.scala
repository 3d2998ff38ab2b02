package perfbench

/**
 * Checks of the benchmark's own answer key, generator and span
 * arithmetic; no Spark session. Exits non-zero on the first failure.
 * Run through perfbench/tests/test_checker.py.
 */
object SelfTest {
  private var failures = 0

  private def expect(what: String, cond: => Boolean): Unit =
    if (!cond) { failures += 1; println(s"FAIL $what") } else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val x = Array(1f, 2f, 3f)
    val q = Array(4f, 6f, 3f)
    expect("l2 of (1,2,3)-(4,6,3) is 5", Reference.dist("l2", x, q) == 5.0)
    expect("negative inner product is -25", Reference.dist("negip", x, q) == -25.0)
    expect("cosine distance is 1 - 25/sqrt(14*61)",
      Reference.dist("cosine", x, q) == 1.0 - 25.0 / math.sqrt(14.0 * 61.0))
    expect("cosine distance rounds to 0.144518",
      Reference.round6(Reference.dist("cosine", x, q)) == 0.144518)
    expect("l2 sums in double: fp32 0.1 - 0.2",
      Reference.dist("l2", Array(0.1f), Array(0.2f)) == math.abs(0.1f.toDouble - 0.2f.toDouble))
    expect("mismatched dims are refused",
      scala.util.Try(Reference.dist("l2", Array(1f), Array(1f, 2f))).isFailure)

    expect("round6 is half-up", Reference.round6(1.2345675) == 1.234568)
    expect("round6 of half a unit rounds up", Reference.round6(5e-7) == 1e-6)
    expect("round6 below half a unit rounds down", Reference.round6(4.9e-7) == 0.0)

    // ids 7 and 3 sit at the same distance 1 from the query: id 3 ranks first
    val ids = Array(7L, 3L, 9L, 5L)
    val vecs = Array(Array(1f, 0f), Array(0f, 1f), Array(3f, 0f), Array(2f, 0f))
    val origin = Array(0f, 0f)
    expect("exact tie breaks on id",
      Reference.topK(ids, vecs, origin, 2).toSeq == Seq((3L, 1.0), (7L, 1.0)))
    expect("k beyond the table returns every row in order",
      Reference.topK(ids, vecs, origin, 10).map(_._1).toSeq == Seq(3L, 7L, 5L, 9L))
    expect("row filter restricts the candidates",
      Reference.topK(ids, vecs, origin, 2, rows = Array(2, 3)).map(_._1).toSeq == Seq(5L, 9L))
    // id 10 is raw-farther, but both distances round to 1.0: id order decides
    val near = Reference.topK(Array(10L, 20L), Array(Array(1.0000004f), Array(1.0000001f)),
      Array(0f), 2)
    expect("rounded tie breaks on id, not on the raw distance",
      near.map(_._1).toSeq == Seq(10L, 20L) && near(0)._2 == near(1)._2)

    val vecOf = (id: Long) => ids.indexOf(id) match { case -1 => null; case i => vecs(i) }
    expect("a correct partial ANN answer passes",
      Reference.annError(Seq((3L, 1.0), (5L, 2.0)), vecOf, origin, 2).isEmpty)
    expect("a wrong distance is an error",
      Reference.annError(Seq((3L, 1.5)), vecOf, origin, 2).nonEmpty)
    expect("more than k rows is an error",
      Reference.annError(Seq((3L, 1.0), (7L, 1.0), (5L, 2.0)), vecOf, origin, 2).nonEmpty)
    expect("a repeated id is an error",
      Reference.annError(Seq((3L, 1.0), (3L, 1.0)), vecOf, origin, 2).nonEmpty)
    expect("an unknown id is an error",
      Reference.annError(Seq((42L, 1.0)), vecOf, origin, 2).nonEmpty)
    expect("rows out of (distance, id) order are an error",
      Reference.annError(Seq((7L, 1.0), (3L, 1.0)), vecOf, origin, 2).nonEmpty)
    expect("recall counts true neighbours found",
      Reference.recall(Seq(1L, 2L, 9L), Seq(1L, 2L, 3L, 4L)) == 0.5)

    val a = Mixture(11L, 100, 8, 4, 1.0, 0.5)
    val b = Mixture(11L, 100, 8, 4, 1.0, 0.5)
    val c = Mixture(12L, 100, 8, 4, 1.0, 0.5)
    def content(m: Mixture) = (0L until m.n).map(m.row).map(r => (r.id, r.vec.toSeq, r.label))
    expect("same seed gives the same rows", content(a) == content(b))
    expect("another seed gives other rows", content(a) != content(c))
    expect("rows do not depend on the order they are drawn in",
      (0L until a.n).reverse.map(a.row).map(_.vec.toSeq).reverse == content(b).map(_._2))
    expect("query batches are fresh and repeatable",
      a.queries(3, 4).map(_._2.toSeq).toSeq == b.queries(3, 4).map(_._2.toSeq).toSeq &&
        a.queries(3, 4).map(_._2.toSeq).toSeq != a.queries(4, 4).map(_._2.toSeq).toSeq)
    expect("query ids are unique across batches",
      (0 until 5).flatMap(i => a.queries(i, 4).map(_._1)).distinct.size == 20)
    expect("labels name the drawing cluster", content(a).map(_._3).forall(l => l >= 0 && l < 4))

    expect("interval union length", Intervals.length(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    expect("interval overlap length",
      Intervals.overlap(Seq((0.0, 4.0), (6.0, 8.0)), Seq((1.0, 2.0), (3.0, 7.0))) == 3.0)

    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
  }
}
