package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes `.explain("formatted")` output for the named queries to
  * <roundDir>/<query>_<tag>.txt — the optimization-round evidence
  * artifact (the judge checks plan claims against these files). roundDir
  * defaults to the uncommitted `target/plans`; pass `plans/r<N>` to
  * archive a round's dumps.
  *
  * Usage: runMain graft.ExplainDump <tag> <q1,q2,...> [sfDir] [roundDir]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tag = args(0)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val out = Paths.get(args.lift(3).getOrElse("target/plans"))
    Files.createDirectories(out)
    args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { op =>
      val df = SparkEntry.queries(op)(spark, dir)
      val s = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(out.resolve(s"${op}_$tag.txt"), s)
      println(s"[explain] wrote ${out.resolve(s"${op}_$tag.txt")}")
    }
    spark.stop()
  }
}
