package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.{AssetCatalog, AuditLog, CommitLog}

/** Commit-log metadata accesses (`open` = manifest or head-hint read,
  * `list` = `_commits` listing), counted through the `onMetaAccess` seam.
  */
object Meta {
  val opens = new AtomicLong
  val lists = new AtomicLong
  def hit(kind: String): Unit = kind match {
    case "open" => opens.incrementAndGet(): Unit
    case "list" => lists.incrementAndGet(): Unit
    case _ => ()
  }
}

class CountingLog(spark: SparkSession, root: String) extends CommitLog(spark, root) {
  override protected def onMetaAccess(kind: String): Unit = Meta.hit(kind)
}

class CountingCatalog(spark: SparkSession, root: String) extends AssetCatalog(spark, root) {
  override protected def newLog(table: String): CommitLog =
    new CountingLog(spark, s"$root/$table")
}

class CountingAudit(spark: SparkSession, root: String) extends AuditLog(spark, root) {
  override protected def newLog(): CommitLog = new CountingLog(spark, root)
}

/** Spans around the benchmark's calls into a layer, kept in memory and
  * written out once at the end of the run. Only the client thread opens
  * spans, so the parent is the innermost open span.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private val origin = System.nanoTime()

  def span[A](name: String, req: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, name, req, t0 - origin, t1 - origin)
      }
    }

  def count: Int = spans.size

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "req" -> Json.str(s.req),
        "start_us" -> Json.num(s.startNs / 1000), "end_us" -> Json.num(s.endNs / 1000))))
    } finally w.close()
  }
}

/** The layer scope the client thread is working in. Listener events are
  * attributed to the scope current when they are handled; the traced
  * run drains the listener bus before every scope change, so each event
  * lands in the scope that caused it.
  */
object Scope {
  @volatile var current = "idle"
  def apply[A](spark: SparkSession, name: String)(body: => A): A = {
    current = name
    try body
    finally if (Tracer.enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)
  }
}

final class LayerAgg {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var inputBytes = 0.0
  var shuffleBytes = 0.0
  var spillBytes = 0.0
  var filesRead = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var kernelPlans = 0L
  var logScans = 0L
}

/** Whether a scanned path lies in a commit-log table: it or an ancestor
  * directory, up to the table root above a partition directory, holds a
  * `_commits` log.
  */
object LogTables {
  def holds(path: org.apache.hadoop.fs.Path): Boolean =
    Iterator.iterate(new java.io.File(path.toUri.getPath))(_.getParentFile)
      .takeWhile(_ != null).take(4)
      .exists(d => new java.io.File(d, "_commits").isDirectory)
}

/** Spark task/job metrics and Catalyst phase times per scope — the
  * traced run's `SparkListener` and `QueryExecutionListener`.
  */
class LayerListener extends SparkListener with QueryExecutionListener {
  private val aggs = mutable.Map.empty[String, LayerAgg]
  def agg(scope: String): LayerAgg = synchronized(aggs.getOrElseUpdate(scope, new LayerAgg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    agg(Scope.current).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(Scope.current)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val a = agg(Scope.current)
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
      Plans.foreach(qe.executedPlan) {
        case s: FileSourceScanExec =>
          a.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          if (s.relation.location.rootPaths.exists(LogTables.holds)) a.logScans += 1
        case s: BatchScanExec =>
          a.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          val log = s.scan match {
            case f: FileScan => f.fileIndex.rootPaths.exists(LogTables.holds)
            // the engine's own V2 scans read commit-log tables
            case other => other.getClass.getSimpleName.startsWith("Graft")
          }
          if (log) a.logScans += 1
        case _ => ()
      }
      val usesKernel = qe.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.prettyName.startsWith("graft_"))))
      if (usesKernel) a.kernelPlans += 1
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-trigger `StreamingQueryProgress`, registered in every run: the
  * untraced metrics need `batchDuration`, the traced ones the phases.
  */
class ProgressListener extends StreamingQueryListener {
  final case class Trigger(batchMs: Double, durations: Map[String, Double],
      stateCommitMs: Double, stateRows: Double, stateMemory: Double)

  val triggers = mutable.ArrayBuffer.empty[Trigger]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = Option(p.durationMs).map { m =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    }.getOrElse(Map.empty)
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
    triggers += Trigger(p.batchDuration.toDouble, d,
      ops.map(_.commitTimeMs.toDouble).sum, ops.map(_.numRowsTotal.toDouble).sum,
      ops.map(_.memoryUsedBytes.toDouble).sum)
  }

  def snapshot(): Seq[Trigger] = synchronized(triggers.toList)
}

/** Just enough JSON writing for the result file and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
