package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftSqlFunctions

/** SparkSessionExtensions hook exposing the engine's custom codegen
  * expressions (the [[GraftSqlFunctions.functions]] table) to SQL users of
  * a session built with `spark.sql.extensions=graft.GraftExtensions`:
  *
  * {{{
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  * }}}
  *
  * [[Sessions.local]] does not set it; a live session gets the same
  * functions from `GraftSqlFunctions.register`. The Scala Column API
  * ([[graft.functions.VectorFunctions]], [[graft.operators.Dedup.simhash]])
  * constructs these expressions directly and needs no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSqlFunctions.functions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
}
