package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Benchmark-side spans. The untraced mode uses [[Trace.Off]], which
  * only runs the body. */
trait Trace {
  def span[T](name: String)(body: => T): T
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(body: => T): T = body
  }

  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Spark task totals for one span. */
  final class Agg {
    var jobs, tasks = 0L
    var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }

  /** One finished SQL execution: its action, duration, the paths it
    * wrote and scanned, and plan facts. */
  final case class Query(execId: Long, func: String, ms: Double, writes: Seq[String],
      scans: Seq[String], filesRead: Long, bytesRead: Long, exchanges: Int,
      candidatePairs: Long, verifiedPairs: Long)

  /** A streaming micro-batch's progress. */
  final case class Batch(rows: Long, durations: Map[String, Long], endNs: Long)
}

/** Spans kept in memory plus Spark's own listeners on the benchmark's
  * session: jobs and tasks are attributed to the innermost open span
  * through a local property set around each call. */
final class Tracer(spark: SparkSession, val runId: String) extends Trace {
  import Trace._
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    open = s.id :: open
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProperty, prev)
    }
  }

  // ---- listener state (written on the listener-bus threads) --------
  val aggs: mutable.Map[Int, Agg] = mutable.Map()
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSpan = mutable.Map[Long, Int]()
  private val execOfQe = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val described = mutable.ArrayBuffer[(QueryExecution, Query)]()
  /** Finished SQL executions, complete once [[close]] ran. */
  val queries: mutable.ArrayBuffer[Query] = mutable.ArrayBuffer()
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer()
  /** Called on each streaming progress, for index-state sampling. */
  @volatile var onBatch: () => Unit = () => ()
  val codegenFallbacks = new java.util.concurrent.atomic.AtomicLong()

  private def agg(span: Int) = aggs.getOrElseUpdate(span, new Agg)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = span)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
      agg(span).jobs += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        val qe = org.apache.spark.sql.PerfbenchSqlBridge.queryExecution(end)
        if (qe != null) Tracer.this.synchronized { execOfQe.put(qe, end.executionId) }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(stageSpan.getOrElse(e.stageId, -1))
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val q = Tracer.describe(func, qe, durationNs)
      Tracer.this.synchronized { described += qe -> q }
    }
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(x => x.getKey -> x.getValue.longValue).toMap
      Tracer.this.synchronized { batches += Batch(p.numInputRows, d, System.nanoTime()) }
      onBatch()
    }
  }

  private val codegenAppender = CodegenFallbacks.attach(() => codegenFallbacks.incrementAndGet())

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** The execution-id → span map, once the listener buses drained. */
  def spanOfExec(id: Long): Int = synchronized(execSpan.getOrElse(id, -1))

  def close(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    synchronized {
      queries ++= described.map { case (qe, q) => q.copy(execId = Option(execOfQe.get(qe)).map(_.longValue).getOrElse(-1L)) }
      described.clear()
    }
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(jobListener)
    CodegenFallbacks.detach(codegenAppender)
  }

  /** Spans that are `name` or descend from one. */
  def under(name: String): Set[Int] = {
    val roots = spans.filter(_.name == name).map(_.id).toSet
    spans.foldLeft(roots) { (acc, s) => if (acc(s.parent)) acc + s.id else acc }
  }

  /** Σ child-covered time removed from each span's duration. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs - covered) / 1e6
  }
}

object Tracer {
  import Trace._

  /** Every node of an executed plan, through adaptive stages and subqueries. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case s: QueryStageExec => s +: nodesOf(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodesOf)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def firstRows(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else p.children.headOption.map(firstRows).getOrElse(0L)

  def describe(func: String, qe: QueryExecution, durationNs: Long): Query = {
    val nodes = nodesOf(qe.executedPlan)
    val writes = nodes.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Seq(i.outputPath.toUri.getPath)
        case _ => Nil
      }
    }.flatten ++ (qe.logical match {
      case i: InsertIntoHadoopFsRelationCommand => Seq(i.outputPath.toUri.getPath)
      case _ => Nil
    })
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    // the exact-Jaccard verification of candidate pairs: a filter or a
    // join condition over the set-overlap kernel. Its streamed input
    // rows are the candidate pairs, its output rows the verified ones.
    def verifies(e: Expression) = e.exists(_.isInstanceOf[graft.functions.SetOverlap]) ||
      e.references.exists(_.name == "jaccard")
    val verify: Seq[(Long, Long)] = nodes.collect {
      case f: FilterExec if verifies(f.condition) =>
        (f.children.map(firstRows).sum, metric(f, "numOutputRows"))
      case j: HashJoin if j.condition.exists(verifies) =>
        val streamed = if (j.buildSide == BuildLeft) j.right else j.left
        (firstRows(streamed), metric(j, "numOutputRows"))
      case j: SortMergeJoinExec if j.condition.exists(verifies) =>
        (firstRows(j.left), metric(j, "numOutputRows"))
    }
    Query(-1L, func, durationNs / 1e6, writes.distinct,
      scans.flatMap(_.relation.location.rootPaths.map(_.toUri.getPath)).distinct,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
      nodes.count(n => n.isInstanceOf[Exchange]),
      verify.map(_._1).sum, verify.map(_._2).sum)
  }
}

/** Counts whole-stage and expression codegen fallbacks from the log
  * events Spark emits for them (there is no metric for either). */
object CodegenFallbacks {
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.Level

  private val Loggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGeneratorWithInterpretedFallback")
  private val Markers = Seq("falling back", "Whole-stage codegen disabled",
    "Found too long generated codes", "Failed to compile")

  def attach(hit: () => Unit): AbstractAppender = {
    val app = new AbstractAppender("perfbench-codegen", null, null, true, null) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (Markers.exists(msg.contains)) hit()
      }
    }
    app.start()
    val ctx = LoggerContext.getContext(false)
    val cfg = ctx.getConfiguration
    Loggers.foreach { name =>
      val lc = cfg.getLoggerConfig(name)
      val own =
        if (lc.getName == name) lc
        else {
          val c = new org.apache.logging.log4j.core.config.LoggerConfig(name, Level.INFO, true)
          cfg.addLogger(name, c)
          c
        }
      own.setLevel(Level.INFO)
      own.addAppender(app, Level.INFO, null)
    }
    ctx.updateLoggers()
    app
  }

  def detach(app: AbstractAppender): Unit = {
    val ctx = LoggerContext.getContext(false)
    Loggers.foreach(n => ctx.getConfiguration.getLoggerConfig(n).removeAppender(app.getName))
    ctx.updateLoggers()
    app.stop()
  }
}
