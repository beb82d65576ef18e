package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Installable engine surface: `spark.sql.extensions=graft.GraftExtensions`
  * registers the native expression family at session BUILD time, so every
  * session of a deployment — spark-shell, thrift server, jobs — gets the
  * functions without calling `GraftFunctions.registerAll` first. The
  * builders construct the same Catalyst expressions as the Column API
  * (codegen'd / single-pass eval — never UDF-wrapped).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name,
          f.usage, ""),
        f.build))
    }
}
