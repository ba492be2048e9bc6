package graft

import org.apache.spark.sql.SparkSession

/** The SparkSessionExtensions entry point must make the native expressions
  * usable from plain SQL in a session built with the extension installed.
  * The extension session shares the suite's SparkContext (never stopped);
  * only the session-level function registry differs.
  */
class ExtensionsSpec extends SparkSpec {

  test("graft_cosine is callable from SQL via GraftExtensions") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ext = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = ext.sql(
        """SELECT graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>),
          |                    CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>)) AS c""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      val r2 = ext.sql(
        """SELECT graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>),
          |                    CAST(array(0.0, 1.0) AS ARRAY<DOUBLE>)) AS c""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(r2) < 1e-12)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
