package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the traced run. Times are in the System.nanoTime
  * domain; spans built from SparkListener events (epoch milliseconds) are
  * converted with one offset taken when the tracer starts. `trace` is the id
  * of the root span of the operation the interval belongs to.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long, attrs: collection.Map[String, Any])

/** In-memory span recorder. Spans are only kept while `enabled`; they are
  * written out once, after the run, as JSON. Benchmark code runs on one
  * driver thread, so the open-span stack is a plain list; listener callbacks
  * add finished spans from the listener thread.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private var open: List[(Long, Long)] = Nil // (span id, trace id)
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.synchronized(spans += s)
  def all: Seq[Span] = spans.synchronized(spans.toList)
  def msToNs(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  /** Times `body` as a child of the innermost open span. Spark jobs started
    * inside it carry its id as a local property, so the listener can hang
    * them under it. `attrs` is filled by the body; it is dropped when
    * tracing is off.
    */
  def span[T](name: String)(body: mutable.Map[String, Any] => T): T = {
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    if (!enabled) return body(attrs)
    val id = newId()
    val (parent, trace) = open.headOption.getOrElse((0L, id))
    open = (id, trace) :: open
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    sc.setLocalProperty(Tracer.TraceProp, trace.toString)
    val t0 = System.nanoTime()
    try body(attrs)
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProp, open.headOption.map(_._1.toString).orNull)
      sc.setLocalProperty(Tracer.TraceProp, open.headOption.map(_._2.toString).orNull)
      add(Span(id, parent, trace, name, t0, t1, attrs))
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"
  val SentinelProp = "perfbench.sentinel"
}

/** Turns Spark job, stage and task events into spans under the benchmark
  * span that started the job. Untagged jobs (set-up, checks) are ignored.
  */
final class StageSpans(tracer: Tracer) extends SparkListener {
  private final case class JobInfo(spanId: Long, parent: Long, trace: Long, startMs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, JobInfo]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
  private val sentinelJobs = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SentinelProp)))
      .foreach(sentinelJobs.put(e.jobId, _))
    for (p <- props; span <- Option(p.getProperty(Tracer.SpanProp))) {
      val info = JobInfo(tracer.newId(), span.toLong, p.getProperty(Tracer.TraceProp).toLong, e.time)
      jobs.put(e.jobId, info)
      e.stageIds.foreach(stageJob.put(_, info))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(sentinelJobs.remove(e.jobId)).flatMap(k => Option(sentinels.get(k)))
      .foreach(_.countDown())
    val info = jobs.remove(e.jobId)
    if (info != null) tracer.add(Span(info.spanId, info.parent, info.trace, "spark.job",
      tracer.msToNs(info.startMs), tracer.msToNs(e.time),
      Map("job" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded))))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    if (stageJob.containsKey(si.stageId))
      stageSpan.put((si.stageId, si.attemptNumber()), tracer.newId())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get((e.stageId, e.stageAttemptId))
    val job = stageJob.get(e.stageId)
    if (id == null || job == null || e.taskInfo == null) return
    val m = e.taskMetrics
    tracer.add(Span(tracer.newId(), id, job.trace, "spark.task",
      tracer.msToNs(e.taskInfo.launchTime), tracer.msToNs(e.taskInfo.finishTime),
      Map("run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val id = stageSpan.remove((si.stageId, si.attemptNumber()))
    val job = stageJob.get(si.stageId)
    if (id == null || job == null) return
    val m = si.taskMetrics
    tracer.add(Span(id, job.spanId, job.trace, "spark.stage",
      tracer.msToNs(si.submissionTime.getOrElse(0L)),
      tracer.msToNs(si.completionTime.getOrElse(0L)),
      Map("stage" -> si.stageId, "tasks" -> si.numTasks,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead)))
  }

  /** Blocks until every event posted before this call has been handled:
    * the listener bus delivers in order, so the end of a tagged no-op job
    * comes after all earlier events.
    */
  def drain(sc: SparkContext): Unit = {
    val key = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    sentinels.put(key, latch)
    sc.setLocalProperty(Tracer.SentinelProp, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SentinelProp, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    sentinels.remove(key)
  }
}
