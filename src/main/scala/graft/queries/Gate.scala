package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/**
 * Deterministic total ordering for gate outputs without the
 * double-execution tax of a global sort.
 *
 * `df.orderBy(...)` plans a range-partitioned exchange, and Spark
 * computes the range boundaries by running a separate SAMPLING JOB over
 * the child plan first. An uncached child therefore EXECUTES TWICE —
 * for a gate whose upstream is the expensive part (a gram self-join, a
 * per-row codec pipeline) the measured query costs ~2× the real
 * operator, and run-to-run spread doubles with it (root-caused in
 * round 8: sim_ngram_jaccard's pipeline runs in ~0.9s, the orderBy
 * gate measured 1.5-1.9s).
 *
 * Gate outputs are small by construction (verified pair sets, per-doc
 * feature rows), so the right plan is a single-partition exchange plus
 * one local sort: same total order, one upstream execution, no
 * sampling pass. This is a GATE device — production callers consume
 * the operators' unordered output directly.
 */
object Gate {
  def ordered(df: DataFrame, cols: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.map(col): _*)

  /** Column-expression form (desc orders, computed sort keys). */
  def orderedCols(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Fresh per-process scratch dir under java.io.tmpdir, recursively
    * wiped of any previous run's contents (deleteOnExit never fires
    * on a non-empty dir — the r12 /tmp parquet leak). The name is
    * suffixed with this JVM's pid so two concurrent processes running
    * the same gate can never wipe each other's scratch mid-read. One
    * shared helper: the wipe semantics must not drift between gates. */
  def scratchDir(name: String): java.io.File = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"$name-${ProcessHandle.current().pid()}")
    if (dir.exists()) graft.Sessions.rmTree(dir)
    dir
  }
}
