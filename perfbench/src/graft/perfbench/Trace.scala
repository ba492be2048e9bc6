package graft.perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` names the query run or
  * pipeline call the span belongs to; `parent` is the id of the span that
  * was open on the client thread when this one started (0 = none).
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startMs: Double, endMs: Double, attrs: Map[String, Long])

/** In-memory span recorder for the traced run. Spans open and close on the
  * one client thread; JDBC statement spans also arrive from Spark task
  * threads and are parented to the client's innermost open span. Times are
  * epoch milliseconds so they line up with Spark's task launch/finish times.
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  @volatile private var open: List[(Int, String)] = Nil
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def span[A](name: String, op: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = open.headOption.fold(0)(_._1)
      open = (id, op) :: open
      val t0 = nowMs
      try f
      finally {
        spans.add(Span(id, parent, name, op, t0, nowMs, Map.empty))
        open = open.tail
      }
    }

  /** A leaf span timed by the caller, possibly on another thread. */
  def leaf(name: String, t0: Double, t1: Double, attrs: Map[String, Long]): Unit =
    if (on) {
      val (parent, op) = open.headOption.getOrElse((0, ""))
      spans.add(Span(ids.incrementAndGet(), parent, name, op, t0, t1, attrs))
    }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Per-op totals of the Spark scheduler layer. Jobs are attributed through
  * the `perfbench.op` local property the client thread sets before each
  * traced phase; stages and tasks through their job. Events without the
  * property (untraced phases, set-up) are ignored.
  */
final class LayerListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    /** Jobs that ran at least one stage reading files (skipped stages do
      * not count, so a result job over an already-run scan stage is not a
      * second scan).
      */
    val fileScanJobs = mutable.Set.empty[Int]
    var runMs, cpuNs, gcMs, spill, shuffleWrite, shuffleRead = 0L
    var peakMem, inputBytes, waitMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byOp = mutable.LinkedHashMap.empty[String, Agg]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]

  private def agg(op: String) = byOp.getOrElseUpdate(op, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.OpKey))).foreach { op =>
      val a = agg(op)
      a.jobs += 1
      e.stageIds.foreach { s =>
        stageOp(s) = op
        stageJob.getOrElseUpdate(s, e.jobId)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageOp.get(s.stageId).foreach { op =>
      agg(op).stages += 1
      if (s.rddInfos.exists(_.name == "FileScanRDD"))
        agg(op).fileScanJobs += stageJob(s.stageId)
      stageSubmit((s.stageId, s.attemptNumber())) =
        s.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = agg(op)
      val i = e.taskInfo
      a.tasks += 1
      a.intervals += ((i.launchTime, i.finishTime))
      a.waitMs += math.max(0L, i.launchTime -
        stageSubmit.getOrElse((e.stageId, e.stageAttemptId), i.launchTime))
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.spill += m.memoryBytesSpilled
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.peakMem += m.peakExecutionMemory
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def snapshot: Map[String, Agg] = synchronized(byOp.toMap)
}

object LayerListener {
  val OpKey = "perfbench.op"
}

/** JDBC statement tracer. It wraps Derby's embedded driver and is registered
  * AHEAD of it, so `jdbc:derby:` URLs keep their text: Spark picks its JDBC
  * dialect from the URL prefix, and a rewritten URL (a `jdbc:shim:` scheme)
  * would fall back to the no-op dialect and change the staging column
  * types — the traced run would then measure a different program.
  */
final class TracingDriver(inner: Driver) extends Driver {
  /** Spark's JDBC layer instantiates the driver class it resolved. */
  def this() = this(TracingDriver.derby)

  def connect(url: String, info: Properties): Connection = {
    val c = inner.connect(url, info)
    if (c == null || !Trace.on) c
    else {
      Trace.leaf("jdbc:connect", Trace.nowMs, Trace.nowMs, Map.empty)
      JdbcProxy.wrap(c, classOf[Connection], None)
    }
  }
  def acceptsURL(url: String): Boolean = inner.acceptsURL(url)
  def getPropertyInfo(url: String, info: Properties) = inner.getPropertyInfo(url, info)
  def getMajorVersion: Int = inner.getMajorVersion
  def getMinorVersion: Int = inner.getMinorVersion
  def jdbcCompliant(): Boolean = inner.jdbcCompliant()
  def getParentLogger = inner.getParentLogger
}

object TracingDriver {
  @volatile private var derby: Driver = _

  /** DriverManager tries drivers in registration order, so move Derby's
    * driver behind the wrapper. Idempotent.
    */
  def install(): Unit = synchronized {
    if (derby == null) {
      derby = DriverManager.getDriver("jdbc:derby:memory:perfbench_probe")
      DriverManager.deregisterDriver(derby)
      DriverManager.registerDriver(new TracingDriver(derby))
      DriverManager.registerDriver(derby)
    }
  }
}

object JdbcProxy {
  /** Statement class of one SQL text, by the pipeline step that issues it. */
  def classify(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.contains("MAX(")) "wm"
    else if (s.startsWith("MERGE")) "merge"
    else if (s.startsWith("DROP TABLE")) "cleanup"
    else if (s.matches("(?s)(CREATE TABLE|INSERT INTO) \\S+_STG_[0-9A-F]{12}_D\\b.*")) "dedup"
    else if (s.contains("_STG_")) "stage"
    else "other"
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  def wrap[T](target: T, iface: Class[T], sql: Option[String]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val t = target.asInstanceOf[AnyRef]
          val a = if (args == null) Array.empty[AnyRef] else args
          m.getName match {
            case "createStatement" =>
              wrap(call(t, m, a).asInstanceOf[Statement], classOf[Statement], None)
            case "prepareStatement" =>
              wrap(call(t, m, a).asInstanceOf[PreparedStatement],
                classOf[PreparedStatement], Some(a(0).asInstanceOf[String]))
            case n if n.startsWith("execute") =>
              val text = a.headOption.collect { case s: String => s }.orElse(sql).getOrElse("")
              val t0 = Trace.nowMs
              val r = call(t, m, a)
              val rows = r match {
                case i: java.lang.Integer => i.toLong
                case l: java.lang.Long => l.toLong
                case arr: Array[Int] => arr.map(x => math.max(x, 0).toLong).sum
                case arr: Array[Long] => arr.map(math.max(_, 0L)).sum
                case _ => 0L
              }
              Trace.leaf("jdbc:" + classify(text), t0, Trace.nowMs,
                Map("rows" -> rows, "batch" -> (if (n == "executeBatch") 1L else 0L)))
              r
            case _ => call(t, m, a)
          }
        }
      }).asInstanceOf[T]
}
