package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span (-1 for an op's root span).
  */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-op Spark job, stage and streaming figures, gathered by listeners. */
final class OpExec {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end) ms
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  /** Worst max/median task duration over this op's stages. */
  var skew = 0.0
  val batchDurations = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val triggerMs = mutable.ArrayBuffer.empty[Long]
  var stateCommitMs = 0L
}

/** Span recorder and Spark/streaming listeners of the traced run. Spans
  * stay in memory and are written at exit. Listener events reach the
  * recorder asynchronously; [[Tracer.endOp]] drains the listener bus, so
  * every event lands on the op that caused it (ops run one at a time).
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  @volatile private var currentOp = -1
  val exec = new java.util.concurrent.ConcurrentHashMap[Int, OpExec]()

  private def execOf(op: Int): OpExec = exec.computeIfAbsent(op, _ => new OpExec)

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = currentOp
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        if (op >= 0) execOf(op).synchronized { execOf(op).jobs += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val durations = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        durations.synchronized { durations += e.taskInfo.duration }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = Option(stageOp.remove(info.stageId)).map(_.intValue).getOrElse(currentOp)
      val durations = Option(stageTasks.remove(info.stageId)).map(_.toSeq).getOrElse(Nil)
      if (op >= 0) {
        val x = execOf(op)
        val m = info.taskMetrics
        x.synchronized {
          x.stages += 1
          x.tasks += info.numTasks
          if (m != null) {
            x.taskMs += m.executorRunTime
            x.taskCpuNs += m.executorCpuTime
            x.gcMs += m.jvmGCTime
            x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            x.input += m.inputMetrics.bytesRead
            x.output += m.outputMetrics.bytesWritten
          }
          if (durations.size >= 2) {
            val med = Stats.median(durations.map(_.toDouble))
            if (med > 0) x.skew = math.max(x.skew, durations.max / med)
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val op = currentOp
      if (op >= 0) {
        val x = execOf(op)
        val p = e.progress
        x.synchronized {
          p.durationMs.asScala.foreach { case (k, v) => x.batchDurations(k) += v.longValue }
          Option(p.durationMs.get("triggerExecution")).foreach(v => x.triggerMs += v.longValue)
          x.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def beginOp(op: Int, name: String): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    currentOp = op
    spark.sparkContext.setJobGroup(s"op-$op", name, interruptOnCancel = false)
  }

  def endOp(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    currentOp = -1
  }

  def span[A](op: Int, name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, op, parent, name, t0, System.nanoTime())
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** The spans as JSON lines. */
  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
