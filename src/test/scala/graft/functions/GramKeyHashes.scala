package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * All n-gram hash keys of a document, in position order, one compiled
 * pass: lower → split(' ', -1) → per position i the xxhash64 CHAIN
 * over tokens i..i+n-1 (seed 42, each token hashed with the previous
 * result as seed — exactly `xxhash64(w1, …, wn)`'s multi-child
 * semantics, so these keys join against any xxhash64-keyed table).
 * The HOF formulation (transform(sequence) over struct-of-strings +
 * xxhash64) is CodegenFallback and re-evaluated per count table —
 * the D45 trigram-LM count builds measured 2.8 s at sf0.1 vs ~1 s
 * compiled.
 */
case class GramKeyHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_xxhash64"
  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[UTF8String].toLowerCase.toString.split(" ", -1)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 42L
      var j = 0
      while (j < n) {
        h = XxHash64Function.hash(UTF8String.fromString(toks(i + j)), StringType, h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
