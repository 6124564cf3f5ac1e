package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-layer counters of one span or op, or of every span with one name. */
final class Counters {
  var wallS = 0.0
  var jobs = 0L
  var tasks = 0L
  var schedWaitS = 0.0
  var execCpuS = 0.0
  var shuffleBytes = 0L
  var recordsWritten = 0L

  def add(o: Counters): Unit = {
    wallS += o.wallS; jobs += o.jobs; tasks += o.tasks
    schedWaitS += o.schedWaitS; execCpuS += o.execCpuS
    shuffleBytes += o.shuffleBytes; recordsWritten += o.recordsWritten
  }
}

/** Attributes Spark jobs to the benchmark op, and in traced runs to the
  * span, that was open when each job was submitted.
  *
  * One client thread opens ops and spans strictly one after another, and
  * the listener bus is drained at every boundary, so a job-start event is
  * always delivered while its op and span are still current. Jobs
  * submitted from other threads inside a span (the `Future` writes of
  * `SignatureStore.appendBatch`) land in the same span, which job groups
  * would miss. Task counters follow their stage to the job's op and span.
  */
final class SpanListener extends SparkListener {
  @volatile var op: Counters = null
  @volatile var span: Counters = null
  private val stageOwners = new ConcurrentHashMap[Int, Seq[Counters]]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owners = Seq(op, span).filter(_ != null)
    owners.foreach(c => c.synchronized { c.jobs += 1 })
    e.stageInfos.foreach(s => stageOwners.put(s.stageId, owners))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owners = stageOwners.getOrDefault(e.stageId, Nil)
    val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
    val m = e.taskMetrics
    owners.foreach(c => c.synchronized {
      c.tasks += 1
      c.schedWaitS += math.max(0L, e.taskInfo.launchTime - submitted) / 1e3
      if (m != null) {
        c.execCpuS += (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    })
  }
}

/** Opens spans for the traced run. Each span is recorded under the op
  * (batch or query) that contains it, and each op records how much of
  * its wall its spans account for.
  */
final class Tracer(spark: SparkSession, listener: SpanListener) {
  /** (op id, span name, counters), one per span in the order opened */
  val records = mutable.ArrayBuffer[(String, String, Counters)]()
  /** (op id, op wall, sum of span walls) */
  val opCover = mutable.ArrayBuffer[(String, Double, Double)]()
  private var op = ""
  private var opSpanWall = 0.0

  def span[T](name: String)(f: => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    val c = new Counters
    listener.span = c
    val t0 = System.nanoTime()
    try f finally {
      PerfbenchBus.drain(spark.sparkContext)
      listener.span = null
      c.wallS = (System.nanoTime() - t0) / 1e9
      opSpanWall += c.wallS
      records += ((op, name, c))
    }
  }

  /** Counters summed per span name, in first-opened order. */
  def totals: mutable.LinkedHashMap[String, Counters] = {
    val out = mutable.LinkedHashMap[String, Counters]()
    records.foreach { case (_, n, c) => out.getOrElseUpdate(n, new Counters).add(c) }
    out
  }

  def beginOp(id: String): Unit = { op = id; opSpanWall = 0.0 }
  def endOp(wall: Double): Unit = opCover += ((op, wall, opSpanWall))
}
