package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** In-memory spans. A span names the layer it times, its op id and
  * its parent; nothing is written until [[dump]] at the end of the run.
  * With tracing off, [[span]] only runs its body. Times are
  * `System.nanoTime`; intervals Spark reports in epoch milliseconds
  * (listener events, planning phases) are mapped onto that clock with
  * [[nsOfMs]].
  */
object Trace {
  @volatile var on = false

  final case class Span(id: Int, parent: Int, op: Long, layer: String,
      name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private final case class Frame(id: Int, parent: Int, op: Long, layer: String,
      name: String, startNs: Long, nested: Boolean)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Frame]](() => Nil)
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nsOfMs(epochMs: Long): Long = epochMs * 1000000L + epochOffsetNs

  def span[T](layer: String, name: String, op: Long = -1)(body: => T): T =
    if (!on) body
    else {
      open(layer, name, op, nested = false)
      try body
      finally exit()
    }

  /** Entry hook of a rewritten method (see [[TablesHook]]): opens a
    * `layer` span in the current op unless the thread is already inside
    * a span of the same layer (a Tables function calling another). */
  def enter(layer: String, name: String): Unit =
    if (on) {
      val top = stack.get.headOption
      open(layer, name, top.map(_.op).getOrElse(-1L), nested = top.exists(_.layer == layer))
    }

  /** Closes the innermost open span of this thread. */
  def exit(): Unit =
    if (on && stack.get.nonEmpty) {
      val f = stack.get.head
      stack.set(stack.get.tail)
      if (!f.nested) spans.add(Span(f.id, f.parent, f.op, f.layer, f.name, f.startNs, System.nanoTime()))
    }

  private def open(layer: String, name: String, op: Long, nested: Boolean): Unit = {
    val parent = stack.get.find(!_.nested).map(_.id).getOrElse(0)
    stack.set(Frame(ids.incrementAndGet(), parent, op, layer, name, System.nanoTime(), nested) ::
      stack.get)
  }

  /** A span measured elsewhere (listener, planning phases), attached to `parent`. */
  def add(parent: Int, op: Long, layer: String, name: String, startNs: Long, endNs: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, op, layer, name, startNs, endNs)
    if (on) spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to it). */
  def selfNs(ss: Seq[Span]): Map[Int, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      cs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  def dump(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Puts a "Tables" span around every public function of `graft.Tables`
  * (named after the table) by rewriting that class's bytecode before
  * the JVM first loads it, so the source-table resolution inside a
  * `SparkEntry` build is timed without changing the engine's sources.
  * Installed only in traced runs, before anything refers to `Tables`.
  */
object TablesHook {
  def install(): Unit = {
    val pool = javassist.ClassPool.getDefault
    val cc = pool.get("graft.Tables$")
    cc.getDeclaredMethods
      .filter(m => javassist.Modifier.isPublic(m.getModifiers) && !m.getName.contains("$"))
      .foreach { m =>
        // Tables.t(spark, dir, name) is the generic loader: its span is named by `name`
        val name = if (m.getName == "t") "$3" else "\"" + m.getName + "\""
        m.insertBefore(s"perfbench.Trace.enter(\"Tables\", $name);")
        m.insertAfter("perfbench.Trace.exit();", true)
      }
    cc.toClass(Class.forName("graft.GraftSession", false, getClass.getClassLoader))
  }
}

/** Benchmark-owned listener. Jobs are attributed to the op that ran
  * them through two local properties the benchmark sets on the calling
  * thread ([[Meter.OpKey]], [[Meter.PhaseKey]]); task and plan figures
  * then follow the job's stages and SQL execution id, so concurrent
  * ops never mix their counters. Executed plans come from each
  * execution-end event, the event that Spark's QueryExecutionListener
  * bus is fed from. Read only after [[settle]].
  */
final class Meter(spark: SparkSession) extends SparkListener with AdaptiveSparkPlanHelper {
  import Meter._

  final class Acc {
    val jobs, stages, tasks, busyMs, waitMs, gcMs, shuffleWrite, shuffleRead,
      spill, bytesWritten = new AtomicLong
  }
  /** An execution's plan: shuffle exchanges, scans, and the planning
    * phases of its query execution with their epoch-ms intervals. */
  final case class Plan(exchanges: Int, scans: Int, phases: Seq[(String, Long, Long)])

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentLinkedQueue[(Long, QueryExecution)]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, Long]()

  def attach(): Unit = spark.sparkContext.addSparkListener(this)
  def detach(): Unit = { settle(); spark.sparkContext.removeSparkListener(this) }
  def settle(): Unit = Internals.drain(spark.sparkContext)

  def acc(key: String): Acc = accs.computeIfAbsent(key, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    p.flatMap(x => Option(x.getProperty(OpKey))).foreach { op =>
      val key = op + "/" + p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
      acc(key).jobs.incrementAndGet()
      jobStart.put(e.jobId, (key, e.time))
      e.stageIds.foreach(stageKey.put(_, key))
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(id => execKey.put(id.toLong, key))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (key, t0) => jobSpans.add((key, t0, e.time)) }

  /** (start, end) in epoch ms of every job run under `key` (settled). */
  def jobsOf(key: String): Seq[(Long, Long)] =
    jobSpans.asScala.toSeq.collect { case (k, a, b) if k == key => (a, b) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    Option(stageKey.get(id)).foreach(k => acc(k).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val a = acc(k)
      a.tasks.incrementAndGet()
      Option(stageSubmit.get(e.stageId)).foreach(s =>
        a.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart => execStart.put(start.executionId, start.time)
    case end: SparkListenerSQLExecutionEnd =>
      execEnd.put(end.executionId, end.time)
      Option(Internals.qeOf(end)).foreach(qe => plans.add((end.executionId, qe)))
    case _ =>
  }

  private def count(p: SparkPlan): (Int, Int) = {
    val ex = collectWithSubqueries(p) { case s: ShuffleExchangeLike => s }.size
    val sc = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }.size
    (ex, sc)
  }

  /** (start, end) in epoch ms of each SQL execution that ran jobs
    * under `key` (settled). */
  def executionsOf(key: String): Seq[(Long, Long)] =
    execKey.asScala.toSeq.collect {
      case (id, k) if k == key && execStart.containsKey(id) && execEnd.containsKey(id) =>
        (execStart.get(id), execEnd.get(id))
    }

  /** Plans of the executions that ran jobs under `key` (settled). */
  def plansOf(key: String): Seq[Plan] =
    plans.asScala.toSeq.filter { case (id, _) => execKey.get(id) == key }.map {
      case (_, qe) =>
        val (ex, sc) = count(qe.executedPlan)
        Plan(ex, sc, qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) })
    }
}

object Meter {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Tag the jobs this thread starts in `body`. */
  def tagged[T](spark: SparkSession, op: String, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    try body
    finally { sc.setLocalProperty(OpKey, null); sc.setLocalProperty(PhaseKey, null) }
  }
}

/** Just enough JSON writing for flat result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
