package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. Spans of one query execution
  * share `trace` (the benchmark's query-execution id); `parent` is 0 for
  * the root. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written out once, when the run ends. */
final class Spans(originNs: Long) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long): Unit =
    done.add(Span(id, parent, trace, name, startNs - originNs, endNs - originNs))

  /** One JSON object per line; times are ns since the run started. */
  def write(path: Path): Unit =
    Files.writeString(path, done.asScala.toSeq.sortBy(s => (s.startNs, s.id)).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) + "\n"
    }.mkString, UTF_8)
}

/** Engine work attributed to one query execution (or, under id -1, to
  * jobs no benchmark thread submitted). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, inputRows, shuffleWrite, shuffleRead, spillBytes = 0L
  var peakTaskBytes = 0L
  var planMs, exchanges = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spillBytes += o.spillBytes
    peakTaskBytes = math.max(peakTaskBytes, o.peakTaskBytes)
    planMs += o.planMs; exchanges += o.exchanges
  }
}

/** Posted on the listener bus when a benchmark client starts a query on
  * the session with the given identity hash. */
final case class QueryStarted(session: Int, qid: Long) extends SparkListenerEvent

object LayerListener {
  /** Local property carrying the benchmark's query-execution id into every
    * job the executing thread submits. */
  val QidKey = "perfbench.qid"

  /** Shuffle exchanges the plan ran, counting each adaptive stage once and
    * reused exchanges not at all. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** Scheduler, task, shuffle, memory and storage counters from Spark's
  * listener bus, plus planning time and exchange counts from every SQL
  * execution of the sessions it is registered on. Callbacks arrive on the
  * bus thread; readers drain the bus first. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val byQid = mutable.Map.empty[Long, Counters]
  private val stageQid = mutable.Map.empty[Int, Long]
  private val sessionQid = mutable.Map.empty[Int, Long]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var peakBlock = 0L

  private def of(qid: Long): Counters = byQid.getOrElseUpdate(qid, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val qid = props.flatMap(p => Option(p.getProperty(QidKey))).map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(stageQid(_) = qid)
    of(qid).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageQid.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageQid.getOrElse(e.stageId, -1L))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.peakTaskBytes = math.max(c.peakTaskBytes, m.peakExecutionMemory)
    }
  }

  // cached and checkpointed frames are RDD blocks; their resident total's
  // peak is the storage layer's footprint
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockManagerId.toString + "/" + b.blockId.name
      blockBytes -= rddBlocks.remove(key).getOrElse(0L)
      if (b.storageLevel.isValid) {
        rddBlocks(key) = b.memSize + b.diskSize
        blockBytes += b.memSize + b.diskSize
      }
      peakBlock = math.max(peakBlock, blockBytes)
    }
  }

  // the benchmark posts QueryStarted from the thread that then runs the
  // query, so it reaches this queue before that query's SQL executions end
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case QueryStarted(session, qid) => synchronized(sessionQid(session) = qid)
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = of(sessionQid.getOrElse(System.identityHashCode(qe.sparkSession), -1L))
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      c.exchanges += exchanges(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def counters: Map[Long, Counters] = synchronized {
    byQid.map { case (k, v) => k -> { val c = new Counters; c += v; c } }.toMap
  }

  def peakBlockBytes: Long = synchronized(peakBlock)
}
