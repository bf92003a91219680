package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One span: a call the benchmark made into one layer. `parent` is -1
  * for a root span. Times are `System.nanoTime` readings.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A physical-plan node's SQL metrics, read after its query ran.
  * `kind` is scan, write, join or generate; `detail` is the scanned or
  * written path, the join type, or the generator's output names.
  */
final case class PlanNode(kind: String, detail: String, cols: Set[String],
    metrics: Map[String, Long])

/** Spans around the benchmark's own calls into the engine, with Spark's
  * counters attributed to them.
  *
  * The caller thread sets a local property naming the innermost open
  * span; Spark copies local properties into every job it submits for
  * that thread (broadcasts included), so a [[SparkListener]] can charge
  * each job, stage and task to the span that caused it. A
  * [[QueryExecutionListener]] reads SQL metrics (rows per operator,
  * files and bytes scanned or written) from each executed plan; plans
  * are charged to spans through their SQL execution id. Spans stay in
  * memory until [[finish]].
  */
final class Tracer(spark: SparkSession, runId: String) extends Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  // listener-side state, guarded by `lock`
  private val lock = new Object
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSpan = mutable.Map[Long, Int]()
  private val ckptRdds = mutable.Map[Int, Int]()
  private val ckptExecs = mutable.Set[Long]()
  private val counters = mutable.Map[(Int, String), Double]()
  private val plans = mutable.ArrayBuffer[(AnyRef, Seq[PlanNode])]()
  private val execOfPlan = new java.util.IdentityHashMap[AnyRef, Long]()
  private var sqlEnds = 0L
  private var planEvents = 0L
  private var sentinelJob = -1
  private var sentinelDone = false

  private def add(span: Int, name: String, v: Double): Unit =
    counters((span, name)) = counters.getOrElse((span, name), 0.0) + v

  // span ids are tagged with the run id: two tracers may listen at once
  private val tag = runId + ":"
  private def spanOf(p: Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .filter(_.startsWith(tag)).map(_.stripPrefix(tag).toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      spanOf(e.properties).foreach { s =>
        if (s == Sentinel) sentinelJob = e.jobId
        else started(e, s)
      }
    }
    private def started(e: SparkListenerJobStart, s: Int): Unit = {
      e.stageIds.foreach(stageSpan(_) = s)
      add(s, "jobs", 1)
      Option(e.properties.getProperty(ExecIdKey)).map(_.toLong).foreach { id =>
        if (!execSpan.contains(id) && ckptExecs(id)) add(s, "checkpoints", 1)
        execSpan.getOrElseUpdate(id, s)
        // blocks stored by a checkpoint's jobs are the checkpoint's bytes
        if (ckptExecs(id))
          e.stageInfos.flatMap(_.rddInfos).foreach(r => ckptRdds.getOrElseUpdate(r.id, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobId == sentinelJob) { sentinelDone = true; lock.notifyAll() }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach { s =>
        add(s, "tasks", 1)
        add(s, "task_s", m.executorRunTime / 1e3)
        add(s, "gc_s", m.jvmGCTime / 1e3)
        add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) if info.storageLevel.isValid => lock.synchronized {
          ckptRdds.get(rdd).foreach(add(_, "checkpoint_bytes",
            (info.memSize + info.diskSize).toDouble))
        }
        case _ =>
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        // Dataset.localCheckpoint/checkpoint run as their own SQL execution
        if (st.description.startsWith("localCheckpoint") || st.description.startsWith("checkpoint"))
          lock.synchronized { ckptExecs += st.executionId }
      case end: SparkListenerSQLExecutionEnd =>
        val qe = executedQuery(end)
        lock.synchronized {
          sqlEnds += 1
          qe.foreach(execOfPlan.put(_, end.executionId))
        }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val nodes = planNodes(qe.executedPlan)
      lock.synchronized { plans += ((qe, nodes)); planEvents += 1; lock.notifyAll() }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
      lock.synchronized { planEvents += 1; lock.notifyAll() }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Run `body` inside a span named `name`, a child of the innermost
    * open span.
    */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spanBuf.size, name, open.headOption.fold(-1)(_.id), runId,
      System.nanoTime())
    spanBuf += s
    open = s :: open
    sc.setLocalProperty(SpanKey, tag + s.id)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(tag + _.id).orNull)
    }
  }

  /** Wait until the listeners have seen every event of the work done so
    * far, detach them and return what they recorded.
    */
  def finish(): TraceResult = {
    // listener-bus events are delivered in order: once the sentinel
    // job's end arrives, every earlier job's events have been handled
    sc.setLocalProperty(SpanKey, tag + Sentinel)
    try sc.parallelize(Seq(1), 1).foreach(_ => ())
    finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 10L * 1000000000L
    lock.synchronized {
      while (!sentinelDone && System.nanoTime() < deadline) lock.wait(100)
      // plan callbacks trail the SQL execution ends that trigger them
      while (planEvents < sqlEnds && System.nanoTime() < deadline) lock.wait(50)
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    lock.synchronized {
      val nodesBySpan = plans.toSeq.flatMap { case (qe, ns) =>
        Option(execOfPlan.get(qe)).flatMap(execSpan.get).map(s => s -> ns)
      }.groupMapReduce(_._1)(_._2)(_ ++ _)
      TraceResult(spanBuf.toSeq, counters.toMap, nodesBySpan)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val ExecIdKey = "spark.sql.execution.id"
  private val Sentinel = -2

  private object Plans extends AdaptiveSparkPlanHelper

  /** The query an execution-end event carries. Spark keeps the field
    * package-private, so it is read reflectively; without it the plan's
    * metrics are recorded but not charged to a span.
    */
  private def executedQuery(e: SparkListenerSQLExecutionEnd): Option[AnyRef] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.flatMap(Option(_))

  private def values(p: SparkPlan): Map[String, Long] =
    p.metrics.map { case (k, m) => k -> m.value }

  /** The scan, write, join and generate nodes of an executed plan, with
    * their metrics; adaptive stages and subqueries included.
    */
  def planNodes(plan: SparkPlan): Seq[PlanNode] = Plans.collectWithSubqueries(plan) {
    case s: FileSourceScanExec =>
      PlanNode("scan", s.relation.location.rootPaths.mkString(","),
        s.output.map(_.name).toSet, values(s))
    case w @ DataWritingCommandExec(cmd, _) =>
      val path = cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case other => other.nodeName
      }
      PlanNode("write", path, w.output.map(_.name).toSet,
        cmd.metrics.map { case (k, m) => k -> m.value })
    case j: BaseJoinExec =>
      PlanNode("join", j.joinType.toString, j.output.map(_.name).toSet, values(j))
    case g: GenerateExec =>
      PlanNode("generate", g.generatorOutput.map(_.name).mkString(","),
        g.output.map(_.name).toSet, values(g))
  }
}

/** What one traced run recorded. Counters are keyed by (span id, name);
  * a span's counters cover only the work charged to it, not to its
  * children.
  */
final case class TraceResult(spans: Seq[Span],
    counters: Map[(Int, String), Double],
    nodes: Map[Int, Seq[PlanNode]]) {

  private lazy val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Spans named `name` and everything under them. */
  def subtree(name: String): Seq[Span] = {
    def down(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(down)
    spans.filter(_.name == name).flatMap(down)
  }

  def self(name: String): Double = spans.filter(_.name == name).map(selfSeconds).sum

  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Counter `c` summed over `of` (every span when omitted). */
  def sum(c: String, of: Seq[Span] = spans): Double =
    of.map(s => counters.getOrElse((s.id, c), 0.0)).sum

  def planNodes(of: Seq[Span] = spans): Seq[PlanNode] =
    of.flatMap(s => nodes.getOrElse(s.id, Nil))

  def toJson: Seq[Map[String, Any]] = spans.map { s =>
    Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ms" -> (s.startNs - spans.head.startNs) / 1e6,
      "end_ms" -> (s.endNs - spans.head.startNs) / 1e6,
      "self_ms" -> selfSeconds(s) * 1e3,
      "counters" -> counters.collect { case ((id, k), v) if id == s.id => k -> v },
    )
  }
}
