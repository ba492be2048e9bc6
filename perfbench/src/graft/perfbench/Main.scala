package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, desc, row_number}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{QueryDef, Registry, Tables}
import graft.sources.{IncrementalPipeline, JdbcUpsert}

/** JVM half of the benchmark (`run.py` is the other half): runs one workload
  * against the generated inputs in `--data` and writes the raw timings,
  * row counts and (with `--trace 1`) spans and per-op Spark counters to
  * `--out` as JSON. `run.py` turns that record into metrics and checks it
  * against the DuckDB oracle.
  *
  * usage: Main --workload W --data DIR --work DIR --out FILE --trace 0|1 --seed N
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val cfg = Config(o("workload"), o("data"), o("work"), o("trace") == "1", o("seed").toLong)
    val record = cfg.workload match {
      case "queries" => Queries.run(cfg)
      case "etl_daily" => Etl.run(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(o("out")), record)
  }
}

final case class Config(workload: String, data: String, work: String, trace: Boolean,
    seed: Long)

object Session {
  /** Spark's local threads and shuffle partitions: the box's cores, at most 4. */
  val Cpus: Int = Runtime.getRuntime.availableProcessors min 4
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def start(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs `build` `Setups` times on fresh sessions and keeps the last
    * one; returns it with each set-up's wall seconds (the median of them is
    * `setup_s`, so a one-off cold JVM does not decide the figure alone).
    */
  def setUp[A](cfg: Config)(build: (SparkSession, Int) => A): (SparkSession, A, Seq[Double]) = {
    var last: Option[(SparkSession, A)] = None
    val secs = (1 to Setups).map { i =>
      last.foreach { case (s, _) => stop(s) }
      val t0 = System.nanoTime()
      val spark = start(cfg)
      spark.range(1000000).selectExpr("sum(id)").collect()
      val a = build(spark, i)
      last = Some((spark, a))
      (System.nanoTime() - t0) / 1e9
    }
    val (spark, a) = last.get
    (spark, a, secs)
  }

  /** Registers the scheduler listener and the JDBC tracer for a traced run. */
  def traced(spark: SparkSession, cfg: Config): Option[LayerListener] =
    if (!cfg.trace) None
    else {
      TracingDriver.install()
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }

  /** Runs `f` with the scheduler attribution property set, when traced. */
  def phase[A](spark: SparkSession, traced: Boolean, name: String, op: String)(f: => A): A =
    if (!traced) f
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(LayerListener.OpKey, s"$op/$name")
      try Trace.span(name, op)(f) finally sc.setLocalProperty(LayerListener.OpKey, null)
    }

  def listenerRecord(spark: SparkSession, l: Option[LayerListener]): Map[String, Any] =
    l.fold(Map.empty[String, Any]) { listener =>
      BusDrain(spark.sparkContext)
      val ops = listener.snapshot.map { case (op, a) =>
        op -> Map(
          "jobs" -> a.jobs, "file_scan_jobs" -> a.fileScanJobs.size, "stages" -> a.stages,
          "tasks" -> a.tasks, "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6,
          "task_gc_ms" -> a.gcMs, "spill_bytes" -> a.spill,
          "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
          "peak_exec_mem_bytes" -> a.peakMem, "input_bytes" -> a.inputBytes,
          "task_wait_ms" -> a.waitMs, "task_intervals" -> a.intervals.toList)
      }
      val spans = Trace.recorded.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start" -> s.startMs, "end" -> s.endMs,
        "attrs" -> s.attrs))
      Map("ops" -> ops, "spans" -> spans)
    }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process, all threads, in ms. */
  def processCpuMs: Double = osBean.getProcessCpuTime / 1e6

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}

/** The query workload: a fixed panel of declared queries, one client
  * thread, closed loop, rounds over a seed-permuted order.
  */
object Queries {
  /** The query panel, by name: seven relational queries and three from
    * `llm.LlmOps` (`dedup_components`, the eager-build case, among them).
    * Named here, not derived from `Registry.all`, so that adding or renaming
    * a declared query cannot change what the benchmark times; a run fails
    * when one of them is no longer declared. Sized so that a warm-up round
    * and five timed rounds fit one benchmark run.
    */
  val Panel = Seq("agg_approx_distinct", "agg_profile_nulls", "dedup_components",
    "fn_higher_order", "join_inner", "reshape_pivot", "sim_cosine_sql", "text_clean_pipeline",
    "ts_cumulative_users", "win_rolling_7d")
  val TimedRounds = 5

  def panel: Seq[QueryDef] = {
    val declared = Registry.all.map(q => q.name -> q).toMap
    val missing = Panel.filterNot(declared.contains)
    require(missing.isEmpty, s"panel queries not declared in Registry.all: ${missing.mkString(", ")}")
    Panel.map(declared)
  }

  /** What a plan computes, as far as the projection check needs: its output
    * columns, and whether it is the `count(1)` aggregate over an empty
    * `Project` that `Dataset.count()` optimizes to.
    */
  final case class Shape(columns: Seq[String], countOnly: Boolean)

  def shape(qe: QueryExecution): Shape =
    Shape(qe.executedPlan.output.map(_.name), countOverEmptyProject(qe.optimizedPlan))

  /** True when the plan that ran (`ran`) still computes the DataFrame's own
    * output (`own`): the same columns, and not a count over an empty
    * `Project` unless the query itself is that shape.
    */
  def keepsProjection(own: Shape, ran: Shape): Boolean =
    ran.columns == own.columns && (!ran.countOnly || own.countOnly)

  private def countOverEmptyProject(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.isEmpty && (a.child match {
      case pr: Project => pr.projectList.isEmpty
      case _ => false
    })
    case _ => false
  }

  /** Pins the check above on the case that motivated it: a lineitem
    * projection consumed the way the benchmark consumes queries keeps its
    * expressions, and the same DataFrame run through `count()` is pruned to
    * `count(1)` over an empty `Project`. Both shapes are the ones Spark
    * reports to `plans` for the executions that actually ran.
    */
  def selfCheck(spark: SparkSession, data: String, plans: ExecutedPlans): Boolean = {
    import org.apache.spark.sql.functions.{log, round, sqrt}
    val df = Tables.lineitem(spark, data)
      .select(round(sqrt(col("l_quantity")), 4), log(col("l_extendedprice")))
    val own = shape(df.queryExecution)
    consume(df.queryExecution, "self_check")
    df.count()
    BusDrain(spark.sparkContext)
    plans.ran("self_check").exists(keepsProjection(own, _)) &&
      plans.ran("count").exists(r => r.countOnly && !keepsProjection(own, r))
  }

  /** Consumes every row of the planned query through `toRdd`, inside a SQL
    * execution named `name` like any Dataset action, and returns the row
    * count.
    */
  def consume(qe: QueryExecution, name: String): Long =
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
    }

  def sqlMetricSum(plan: SparkPlan, metric: String): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).flatMap(_.metrics.get(metric)).map(_.value).sum
  }

  def run(cfg: Config): Map[String, Any] = {
    val defs = panel
    val (spark, _, setupSecs) = Session.setUp(cfg) { (s, _) =>
      Tables.names.foreach(t => Tables.t(s, cfg.data, t).schema)
    }
    val plans = new ExecutedPlans
    spark.listenerManager.register(plans)
    val selfOk = selfCheck(spark, cfg.data, plans)
    val listener = Session.traced(spark, cfg)
    Session.resetHeapPeak()
    val runs = Seq.newBuilder[Map[String, Any]]
    val t0 = System.nanoTime()
    // Round 0 warms the JIT and Spark's code caches and is not counted; the
    // timed rounds 1 to 5 follow. A fixed round count keeps the work, and so
    // the warmth of the medians, the same on fast and slow boxes. A traced
    // run traces rounds 2 and 4; rounds 1, 3 and 5, as warm on average, are
    // the untraced baseline for the tracing overhead.
    for (round <- 0 to TimedRounds) {
      val traced = cfg.trace && round > 0 && round % 2 == 0
      Trace.on = traced
      new Random(cfg.seed * 1000003L + round).shuffle(defs).foreach { q =>
        runs += runOne(spark, cfg, q, round, traced, plans)
      }
    }
    Trace.on = false
    val measured = (System.nanoTime() - t0) / 1e9
    val heap = Session.heapPeakMb
    BusDrain(spark.sparkContext)
    val checked = runs.result().map { r =>
      if (r("ok") == true) r + ("kept" -> plans.kept(r("op").toString)) else r
    }
    val rec = Map("workload" -> cfg.workload, "cpus" -> Session.Cpus, "setup_s" -> setupSecs,
      "self_check" -> selfOk, "rounds" -> (TimedRounds + 1), "measured_s" -> measured,
      "heap_peak_mb" -> heap,
      "runs" -> checked, "oracle" -> defs.flatMap(q => q.oracle.map(q.name -> _)).toMap) ++
      Session.listenerRecord(spark, listener)
    Session.stop(spark)
    rec
  }

  def runOne(spark: SparkSession, cfg: Config, q: QueryDef, round: Int,
      traced: Boolean, plans: ExecutedPlans): Map[String, Any] = {
    val op = s"${q.name}#$round"
    val base = Map[String, Any]("name" -> q.name, "round" -> round, "traced" -> traced, "op" -> op)
    def ms(a: Long, b: Long) = (b - a) / 1e6
    try Trace.span("query", op) {
      val cpu0 = Session.processCpuMs
      val t0 = System.nanoTime()
      val df = Session.phase(spark, traced, "build", op)(q.fn(spark, cfg.data))
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      Session.phase(spark, traced, "plan", op)(qe.executedPlan)
      val t2 = System.nanoTime()
      val rows = Session.phase(spark, traced, "exec", op)(consume(qe, op))
      val t3 = System.nanoTime()
      val cpu = Session.processCpuMs - cpu0
      plans.expect(op, shape(qe))
      val detail =
        if (!traced) Map.empty[String, Any]
        else {
          val ph = qe.tracker.phases
          def phaseMs(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
          Map("analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
            "planning_ms" -> phaseMs("planning"),
            "agg_fallbacks" -> sqlMetricSum(qe.executedPlan, "numTasksFallBacked"))
        }
      base ++ detail ++ Map("ok" -> true, "rows" -> rows,
        "wall_ms" -> ms(t0, t3), "build_ms" -> ms(t0, t1), "plan_ms" -> ms(t1, t2),
        "exec_ms" -> ms(t2, t3), "cpu_ms" -> cpu)
    } catch {
      case e: Throwable =>
        val error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] ${q.name} FAILED: $error")
        base ++ Map("ok" -> false, "error" -> error)
    }
  }
}

/** The shape of every plan Spark reports as executed, by SQL execution
  * name, next to the shape each timed query's own DataFrame expected. The
  * projection check compares the two, so it looks at what actually ran
  * rather than at the DataFrame the benchmark built.
  */
final class ExecutedPlans extends QueryExecutionListener {
  private val ranShapes = new ConcurrentHashMap[String, Queries.Shape]
  private val expected = new ConcurrentHashMap[String, Queries.Shape]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    ranShapes.put(funcName, Queries.shape(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def ran(name: String): Option[Queries.Shape] = Option(ranShapes.get(name))

  def expect(name: String, own: Queries.Shape): Unit = expected.put(name, own)

  /** Call after draining the listener bus. */
  def kept(name: String): Boolean =
    Option(expected.get(name)).exists(own => ran(name).exists(Queries.keepsProjection(own, _)))
}

/** The paper's daily update: `IncrementalPipeline.run` from a growing
  * parquet change log into one embedded Derby table, keyed on `o_orderkey`
  * with the BIGINT `upd_day` watermark. A full refresh loads the base
  * snapshot, then each generated day is appended to the source and
  * replayed, with a no-op rerun after every third day.
  */
object Etl {
  val Target = "orders_tgt"
  val OneShot = "orders_oneshot"
  val Keys = Seq("o_orderkey")
  val Watermark = "upd_day"
  val StagingTypes = Some("o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(16)")
  /** A no-op rerun (the job run again with no new data) after every third
    * day: an assumed cadence, not measured traffic, that gives six no-op
    * calls per run.
    */
  val NoopEvery = 3

  def ddl(table: String): String =
    s"""CREATE TABLE $table (
       |  o_orderkey BIGINT NOT NULL PRIMARY KEY,
       |  o_custkey BIGINT,
       |  o_orderstatus VARCHAR(1),
       |  o_totalprice DOUBLE,
       |  o_orderdate DATE,
       |  o_orderpriority VARCHAR(16),
       |  upd_day BIGINT NOT NULL)""".stripMargin

  /** Latest revision per key: how a one-shot refresh reads the whole log. */
  def latestPerKey(df: DataFrame): DataFrame =
    df.withColumn("rn",
      row_number().over(Window.partitionBy(Keys.map(col): _*).orderBy(desc(Watermark))))
      .filter(col("rn") === 1).drop("rn")

  def countRows(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  def run(cfg: Config): Map[String, Any] = {
    val logDir = Paths.get(cfg.data, "etl")
    val days = Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("day_")).toSeq.sorted
    val (spark, (url, src), setupSecs) = Session.setUp(cfg) { (s, i) =>
      val url = s"jdbc:derby:memory:perfbench_$i;create=true"
      JdbcUpsert.ensureTable(url, ddl(Target))
      JdbcUpsert.ensureTable(url, ddl(OneShot))
      val src = Paths.get(cfg.work, s"source_$i")
      Files.createDirectories(src)
      Files.copy(logDir.resolve("base.parquet"), src.resolve("base.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      s.read.parquet(src.toString).write.format("noop").mode("overwrite").save()
      (url, src)
    }
    val listener = Session.traced(spark, cfg)

    var n = 0
    def call(kind: String, day: String, traced: Boolean,
        table: String = Target,
        transform: DataFrame => DataFrame = identity): Map[String, Any] = {
      n += 1
      val op = s"$kind#$n"
      val before = if (traced) countRows(url, table) else -1L
      Trace.on = traced
      val t0 = System.nanoTime()
      val stats = Session.phase(spark, traced, "call", op) {
        IncrementalPipeline.run(spark, src.toString, url, table, Keys, Watermark,
          transform, StagingTypes)
      }
      val wall = (System.nanoTime() - t0) / 1e6
      Trace.on = false
      val after = if (traced) countRows(url, table) else -1L
      Map("kind" -> kind, "day" -> day, "op" -> op, "traced" -> traced, "ms" -> wall,
        "delta_rows" -> stats.deltaRows, "watermark" -> stats.watermark.getOrElse(-1L),
        "rows_before" -> before, "rows_after" -> after)
    }

    val calls = Seq.newBuilder[Map[String, Any]]
    val t0 = System.nanoTime()
    calls += call("refresh", "base", cfg.trace)
    days.zipWithIndex.foreach { case (day, i) =>
      Files.copy(logDir.resolve(day), src.resolve(day))
      // A traced run alternates untraced and traced days; the difference
      // between the two is the tracing overhead.
      val traced = cfg.trace && i % 2 == 1
      calls += call("delta", day, traced)
      if (i % NoopEvery == NoopEvery - 1) calls += call("noop", day, traced)
    }
    val measured = (System.nanoTime() - t0) / 1e9

    // Outside the timed region: the replayed target and a one-shot refresh
    // of the final log, dumped for run.py's oracle compare.
    val oneShot = call("oneshot", "all", traced = false, OneShot, latestPerKey)
    Seq(Target -> "target", OneShot -> "oneshot").foreach { case (t, name) =>
      val df = spark.read.format("jdbc").option("url", url).option("dbtable", t).load()
      df.toDF(df.columns.map(_.toLowerCase).toSeq: _*)
        .coalesce(1).write.mode("overwrite").parquet(s"${cfg.work}/$name.parquet")
    }
    val rec = Map("workload" -> cfg.workload, "cpus" -> Session.Cpus, "setup_s" -> setupSecs,
      "self_check" -> true,
      "measured_s" -> measured, "heap_peak_mb" -> Session.heapPeakMb,
      "calls" -> calls.result(), "oneshot" -> oneShot) ++
      Session.listenerRecord(spark, listener)
    Session.stop(spark)
    rec
  }
}
