package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Task and stage counters attributed to one span. */
final class Counters {
  var busyMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  var peakExecMem = 0L
  var tasks = 0L
  var stages = 0L

  def add(o: Counters): Unit = {
    busyMs += o.busyMs; shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; gcMs += o.gcMs; resultBytes += o.resultBytes
    inputBytes += o.inputBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    tasks += o.tasks; stages += o.stages
  }
}

/** One timed region. `pass` is -1 for set-up spans. Byte and metric
  * fields are filled when the span closes; task counters arrive through
  * the listener and are read after the bus is drained. */
final class Span(val id: Long, val name: String, val parent: Long, val pass: Int,
    val traced: Boolean, val startNs: Long) {
  var endNs = 0L
  var fsBytesRead = 0L
  var broadcastBytes = 0L
  val sqlMetrics = mutable.Map.empty[String, Long]
  def wallS: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Outside-in instrumentation: spans wrap calls into the engine's public
  * functions, a listener attributes every stage and task to the span
  * whose thread submitted its job (through a local property), and graft
  * exec `SQLMetrics` are read from executed plans after each action. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val Key = "graftbench.span"
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[java.lang.Long, Counters]()
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  var pass: Int = -1
  var traced: Boolean = false

  sc.addSparkListener(this)

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val id = Option(ev.properties).flatMap(p => Option(p.getProperty(Key)))
    id.foreach(s => ev.stageIds.foreach(st => stageSpan.put(st, java.lang.Long.valueOf(s.toLong))))
  }

  private def countersOf(stageId: Int): Option[Counters] =
    Option(stageSpan.get(stageId)).map(id => counters.computeIfAbsent(id, _ => new Counters))

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    if (m != null) countersOf(ev.stageId).foreach { c =>
      c.synchronized {
        c.busyMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.resultBytes += m.resultSize
        c.inputBytes += m.inputMetrics.bytesRead
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.tasks += 1
      }
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    countersOf(ev.stageInfo.stageId).foreach(c => c.synchronized { c.stages += 1 })

  /** Local-filesystem bytes read through Hadoop `FileSystem`s (the BAM
    * reader's path); executors are threads of this JVM in local mode. */
  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Time `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), pass, traced,
      System.nanoTime())
    nextId += 1
    val bcBefore = SparkInternals.liveBroadcastBytes().keySet
    val fsBefore = fsBytesRead()
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
      s.fsBytesRead = fsBytesRead() - fsBefore
      s.broadcastBytes = (SparkInternals.liveBroadcastBytes() -- bcBefore).values.sum
      closed += s
    }
  }

  /** Plan `df` under a `plans.plan` span, collect it, and add the graft
    * exec `SQLMetrics` of the executed plan to the enclosing span. */
  def collect(df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    span("plans.plan")(qe.executedPlan)
    val rows = df.collect()
    val nodes = planNodes(qe.executedPlan)
    lastNodes = nodes.map(_.getClass.getSimpleName).toSet
    stack.headOption.foreach { s =>
      nodes.filter(_.getClass.getName.startsWith("graft.")).foreach { n =>
        n.metrics.foreach { case (k, m) =>
          s.sqlMetrics(k) = s.sqlMetrics.getOrElse(k, 0L) + m.value
        }
      }
    }
    rows
  }

  /** Simple class names of the nodes of the last collected plan. */
  var lastNodes: Set[String] = Set.empty

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(planNodes)
  }

  /** Every closed span, after all listener events have been delivered. */
  def spans(): Seq[Span] = {
    SparkInternals.drainListeners(sc)
    closed.toSeq
  }

  /** Counters of one span alone (its own jobs, not its children's). */
  def own(s: Span): Counters =
    Option(counters.get(java.lang.Long.valueOf(s.id))).getOrElse(new Counters)

  /** Counters of a span and all its descendants. */
  def inclusive(s: Span, all: Seq[Span]): Counters = {
    val c = new Counters
    c.add(own(s))
    all.filter(_.parent == s.id).foreach(k => c.add(inclusive(k, all)))
    c
  }
}
