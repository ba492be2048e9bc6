package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Diagnostic main (assertion-free, PlanDump-style): prints, for every
  * registry query, the set of parquet TABLES its analyzed plan reads.
  * Used to route ops to the right [[ScalingBench]] family (documents →
  * llm, events → events, embeddings → embeddings, TPC-H tables →
  * relational and its extra-replication arms) when extending
  * measured-growth coverage (VERDICT r16 #6). Plan-derived, not grep-derived: a query's footprint
  * is whatever its analyzed plan actually scans.
  *
  * Run: `sbt -batch "Test/runMain graft.OpTablesDump [sfDir] [op,op,…]"`.
  * One line per op: `[optables] name=<op> tables=<t1,t2,…>`.
  */
object OpTablesDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("op-tables-dump")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = Registry.all.map(_.name).filter(n => only.forall(_.contains(n))).sorted
    names.foreach { name =>
      val tables =
        try {
          val df = SparkEntry.queries(name)(spark, dir)
          // collectWithSubqueries, not collect: IN/EXISTS/scalar/lateral
          // subqueries live in EXPRESSION-embedded plans that plain
          // collect never visits — the first dump printed sub_in_filter /
          // sub_lateral / join_existence as customer-only and mis-routed
          // them to the customer replication arm, growing their scan but
          // not their per-order work (caught by the fixed-rows density
          // tell, round 17).
          df.queryExecution.analyzed.collectWithSubqueries {
            case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
              fs.location.rootPaths.map { p =>
                val s = p.toString
                s.substring(s.lastIndexOf('/') + 1).stripSuffix(".parquet")
              }
          }.flatten.distinct.sorted.mkString(",")
        } catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" }
      println(s"[optables] name=$name tables=$tables")
    }
    spark.stop()
  }
}
