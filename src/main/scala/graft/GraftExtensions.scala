package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.functions.NativeFunctions
import graft.osm.GeomUdfs

/** Session-extension entry point: lets a cluster opt into graft's native
  * expressions at session build time with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — no code changes
  * in the consuming application. Injects every function of
  * [[graft.functions.NativeFunctions]] (the table [[Graft.setup]] also
  * registers from) into the session's function registry, so pure-SQL
  * users see the same kernels, with the same argument casts, on either
  * route. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.inject(ext)
}

/** One-call runtime setup for an already-built session: registers the
  * native functions of [[graft.functions.NativeFunctions]] (each name the
  * session does not already resolve, so it is safe on a session built
  * with [[GraftExtensions]]) plus the st_* SQL UDF surface. */
object Graft {
  def setup(spark: SparkSession): SparkSession = {
    NativeFunctions.register(spark)
    GeomUdfs.register(spark)
    spark
  }
}
