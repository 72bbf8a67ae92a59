package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed interval around a call into a layer. Times are epoch
  * microseconds; `parent` is 0 for an operation's root span. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startUs: Long, endUs: Long) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** Spans recorded from the benchmark's side of each layer boundary.
  *
  * [[span]] records a [[Span]] and publishes the span id as the Spark
  * local property [[Tracer.SpanProp]], so every job the body starts, on
  * this thread or on a thread Spark captured its properties into, can be
  * attributed to the innermost span by [[JobCollector]]. */
final class Tracer(sc: SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private var nextId = 0L
  private var stack: List[Span] = Nil
  private var op = ""
  val spans = ArrayBuffer.empty[Span]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Open a root span for one operation. */
  def operation[T](opId: String)(body: => T): T = {
    op = opId
    try span("op")(body) finally op = ""
  }

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val open = Span(id, parent, name, op, nowUs, 0L)
    stack = open :: stack
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    try body
    finally {
      spans += open.copy(endUs = nowUs)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Task-metric totals of the jobs attributed to one span. */
final class JobTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L

  def add(o: JobTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
  }
}

/** Reads Spark's public listener events and attributes each job, stage
  * and task to the span that was open when the job was submitted. Read
  * it only after the listener bus has drained (after `SparkContext.stop`). */
final class JobCollector extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val totals = new ConcurrentHashMap[Long, JobTotals]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** (job id, span id, start ms, end ms) of every attributed job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long)]()

  /** Largest size (memory + disk) each RDD block was stored with. */
  private val rddBlockBytes = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()

  private def of(span: Long): JobTotals = totals.computeIfAbsent(span, _ => new JobTotals)

  def totalsOf(span: Long): Option[JobTotals] = Option(totals.get(span))

  /** RDDs with an id in (`from`, `to`) that stored blocks, and the bytes
    * they stored. Blocks count whether or not they were removed later, so
    * neither `Ckpt.release` nor the context cleaner's GC-timed removal
    * changes the result. */
  def storedBetween(from: Int, to: Int): (Int, Long) = {
    val hit = rddBlockBytes.asScala.toSeq.filter { case (b, _) => b.rddId > from && b.rddId < to }
    (hit.map(_._1.rddId).distinct.size, hit.map(_._2.longValue).sum)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val bytes = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        if (bytes > 0) rddBlockBytes.merge(b, java.lang.Long.valueOf(bytes),
          (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.valueOf(math.max(x, y)))
      case _ =>
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    if (span != 0L) {
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      of(span).synchronized { of(span).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      jobs.add((e.jobId, span, jobStart.get(e.jobId), e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val t = of(span)
      t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val t = of(span)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
          t.output += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Self time: a span's duration minus the part of it its children cover. */
object SelfTime {
  def of(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var upTo = Long.MinValue
      covered.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) total += b - from
        upTo = math.max(upTo, b)
      }
      s.id -> ((s.endUs - s.startUs - total) / 1e6)
    }.toMap
  }
}
