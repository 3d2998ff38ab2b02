package graft

import graft.operators.KnobAdvisor
import org.apache.spark.sql.functions._

/**
 * Knob-advisor contracts beyond the driver gate: the byte-estimate
 * width rules, the skew probe, and the clamp arithmetic on planted
 * shapes the tiny gate tables can't reach (a skewed key, the
 * core-count floor).
 */
class KnobAdvisorSpec extends SparkSpec {
  import spark.implicits._

  test("tableStats: fixed widths by type plus measured string lengths") {
    val df = Seq((1L, "ab", 1.5), (2L, "cdef", 2.5)).toDF("k", "s", "d")
    // 2 rows x (8 + 8) fixed + (2 + 4) measured string bytes
    assert(KnobAdvisor.tableStats(df) == (2L, 2L * 16 + 6))
    val noStr = Seq((1, 2), (3, 4)).toDF("a", "b")
    assert(KnobAdvisor.tableStats(noStr) == (2L, 16L))
  }

  test("skew probe and salting on a planted hot key") {
    val hot = (Seq.fill(90)(7) ++ (1 to 10)).toDF("k")
    // key 7 appears 91 times of 100 rows over 10 keys -> 91*10*100/100
    assert(KnobAdvisor.skewRatioX100(hot, "k") == 910L)
    val rec = KnobAdvisor.recommend(spark,
      Seq("t" -> hot), ("t", hot, "k"), cores = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rec("aqe.skew_ratio_x100.k") == 910L)
    assert(rec("skew.salt.k") == 10L) // ceil(910/100)
    // tiny workload: partitions floor at the core count, split size
    // floors at 4MB, the table broadcasts
    assert(rec("spark.sql.shuffle.partitions") == 8L)
    assert(rec("spark.sql.files.maxPartitionBytes") == 4194304L)
    assert(rec("broadcast.t") == 1L)
  }

  test("a uniform key does not trigger salting") {
    val uni = (1 to 100).toDF("k")
    assert(KnobAdvisor.skewRatioX100(uni, "k") == 100L)
    val rec = KnobAdvisor.recommend(spark,
      Seq("u" -> uni), ("u", uni, "k"), cores = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rec("skew.salt.k") == 1L)
  }

  test("profile rows are keyed by table position, not by table name") {
    // two distinct tables under one name, and a table named like the
    // skew probe's row: each keeps its own stats
    val big = spark.range(1400000).toDF("k") // 11.2MB: past the broadcast budget
    val small = Seq(1L, 2L).toDF("k")
    val hot = (Seq.fill(90)(7) ++ (1 to 10)).toDF("k")
    val rows = KnobAdvisor.recommend(spark,
      Seq("t" -> big, "t" -> small, "__skew__" -> big), ("h", hot, "k"), cores = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows.filter(_._1.startsWith("broadcast.")) ==
      Seq("broadcast.t" -> 0L, "broadcast.t" -> 1L, "broadcast.__skew__" -> 0L))
    // the largest table sets the split size (one core), and the skew
    // probe still reads its own row
    assert(rows.toMap.apply("spark.sql.files.maxPartitionBytes") == 11200000L)
    assert(rows.toMap.apply("aqe.skew_ratio_x100.k") == 910L)
  }
}
