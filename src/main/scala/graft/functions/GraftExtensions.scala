package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY §2 custom-operator ladder,
  * rung (c)): registers the library's native expressions into a session's
  * FunctionRegistry so plain SQL users get them too —
  * `spark.sql("SELECT graft_cosine(a, b) ...")`.
  *
  * Activate via `spark.sql.extensions=graft.functions.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      GraftExtensions.cosineInfo,
      GraftExtensions.cosineBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_dedup_map_keys"),
      GraftExtensions.dedupMapKeysInfo,
      GraftExtensions.dedupMapKeysBuilder))
  }
}

object GraftExtensions {
  private[graft] val cosineInfo =
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine")

  private[graft] val cosineBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_cosine(arrayA, arrayB) takes 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  private[graft] val dedupMapKeysInfo =
    new ExpressionInfo(classOf[MapDedupKeysFirstWins].getName, "graft_dedup_map_keys")

  private[graft] val dedupMapKeysBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 1, "graft_dedup_map_keys(map) takes 1 argument")
    MapDedupKeysFirstWins(children.head)
  }

  /** Register graft functions into an already-built session (idempotent) —
    * lets a declared query use `graft_cosine`/`graft_dedup_map_keys` from
    * plain `spark.sql` without controlling session construction.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.registerFunction(
      spark, "graft_cosine", cosineInfo, cosineBuilder)
    org.apache.spark.sql.graftbridge.Bridge.registerFunction(
      spark, "graft_dedup_map_keys", dedupMapKeysInfo, dedupMapKeysBuilder)
  }
}
