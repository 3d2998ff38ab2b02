package graft

import graft.functions.{SqlFunctions, SqlTableFunctions}
import graft.plans.{KnnJoin, ParamLiterals, RewriteWindowTopK, TopKPerKey}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.Bridge

/**
 * Session-extension entry point — the idiomatic deployment packaging
 * for a Spark extension library:
 *
 *   spark.sql.extensions=graft.GraftExtensions
 *
 * injects the PG parser, the optimizer rules + planning strategies, the
 * [[graft.plans.ParamLiterals]] codegen rule AND the whole SQL function
 * surface (vector/mask/sketch + tsearch/ltree/crypt/fuzzystrmatch +
 * jsonb/hstore/intarray/earthdistance) at
 * session build time, so `spark.sql("SELECT to_tsvector(t) ...")`
 * works with no per-session call — exactly how an openGauss user gets
 * the contrib names after CREATE EXTENSION. Sessions built without the
 * extension use [[GraftExtensions.install]].
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import GraftExtensions._
    ext.injectParser((_, delegate) => new graft.plans.PgSqlParser(delegate))
    rules.foreach(r => ext.injectOptimizerRule(_ => r))
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    ext.injectColumnar(_ => ParamLiterals)
    SqlFunctions.allBuilders.foreach { case (name, b) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), exprs => b(exprs)))
    }
    SqlTableFunctions.all.foreach { case (name, b) =>
      ext.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), exprs => b(exprs)))
    }
  }
}

object GraftExtensions {
  /** What graft adds to Catalyst, besides its SQL functions. */
  private val rules = Seq(RewriteWindowTopK, KnnJoin.pushQidFilter)
  private val strategies = Seq(TopKPerKey.strategy, KnnJoin.strategy)

  /** Sessions `install` has run on (weak keys: a dropped session is
    * not pinned). */
  private val installed =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /**
   * Install graft's optimizer rules, planning strategies, SQL functions
   * and table functions on an existing session (notebooks, sessions
   * built without the extension). Idempotent: after the first call on a
   * session, a call is one map lookup. It cannot add the PG operator
   * parser or the [[graft.plans.ParamLiterals]] codegen rule: Spark
   * fixes a session's parser and its columnar rules when the session is
   * built, so `<->`-style operator syntax, and filters that share one
   * compiled class across their constants, need the extension.
   */
  def install(spark: SparkSession): Unit = installed.synchronized {
    if (installed.put(spark, java.lang.Boolean.TRUE) == null) {
      val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      exp.extraOptimizations ++= rules
      exp.extraStrategies ++= strategies
      SqlFunctions.allBuilders.foreach { case (name, b) =>
        Bridge.registerFunction(spark, name, b)
      }
      SqlTableFunctions.all.foreach { case (name, b) =>
        Bridge.registerTableFunction(spark, name, b)
      }
    }
  }
}
