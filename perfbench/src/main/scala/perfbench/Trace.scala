package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.graftspark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** A timed interval around one call into the program. `parent` is the
  * enclosing span's id (-1 at the top); spans of one pipeline run or
  * one lookup share `runId`. */
final case class Span(id: Int, name: String, runId: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counts the listeners attribute to one span. */
final class Counts {
  var jobs = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writes = 0
  var writeNs = 0L
  var filesWritten = 0L
  val bytesTo: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var scanFiles = 0L
  var scanBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def bytesWritten: Long = bytesTo.values.sum
}

/** Spans kept in memory for the whole process and written out at the
  * end. With a [[LayerListener]] attached, each span's Spark jobs carry
  * its id as a local property, and the listener bus is drained whenever
  * a span opens or closes, so the counts land on the span that caused
  * them. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var listener: Option[LayerListener] = None

  def span[T](name: String, runId: String)(f: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(LayerListener.SpanProp)
    listener.foreach(_.open(sc, id))
    sc.setLocalProperty(LayerListener.SpanProp, id.toString)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    try {
      val out = f
      val end = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val s = Span(id, name, runId, parent, start, end, startMs, endMs)
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      sc.setLocalProperty(LayerListener.SpanProp, outer)
      listener.foreach(_.open(sc, stack.headOption.getOrElse(-1)))
    }
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def counts(s: Span): Counts =
    listener.map(_.countsOf(s.id)).getOrElse(new Counts)
}

/** The traced run's collector: a SparkListener for jobs and task
  * metrics, and a QueryExecutionListener for each write command's
  * target, files and bytes and each file scan's files and bytes.
  * Writes are classified by output path. */
final class LayerListener(targets: Seq[(String, String)])
    extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val bySpan = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  @volatile private var current = -1

  def countsOf(span: Int): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  /** Deliver every queued event to the span that was current, then
    * attribute what follows to `span`. */
  private[perfbench] def open(sc: SparkContext, span: Int): Unit = {
    ListenerDrain.drain(sc)
    current = span
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, (span, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
    val c = countsOf(span)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, start) =>
      val c = countsOf(span)
      c.synchronized(c.jobIntervals += ((start, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = countsOf(Option(stageSpan.get(e.stageId)).map(_.toInt).getOrElse(-1))
      c.synchronized {
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = countsOf(current)
    plans(qe.executedPlan).foreach {
      case w: DataWritingCommandExec => w.cmd match {
        case ins: InsertIntoHadoopFsRelationCommand =>
          val path = ins.outputPath.toUri.getPath
          val target = targets.collectFirst { case (name, root) if path.startsWith(root) => name }
            .getOrElse("other")
          c.synchronized {
            c.writes += 1
            c.writeNs += durationNs
            c.filesWritten += metric(w, "numFiles")
            c.bytesTo(target) += metric(w, "numOutputBytes")
          }
        case _ =>
      }
      case s: FileSourceScanExec =>
        c.synchronized {
          c.scanFiles += metric(s, "numFiles")
          c.scanBytes += metric(s, "filesSize")
        }
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object LayerListener {
  val SpanProp = "perfbench.span"

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages, command results and subqueries. */
  private def plans(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }
}
