package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into the engine. Times are epoch nanoseconds; `op` is the
  * query execution or stream batch the call belongs to; the codegen fields
  * are the whole-stage-codegen compile time and class count observed while
  * the span was open (children included).
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Long, end: Long, codegenNs: Long, codegenClasses: Long) {
  def secs: Double = (end - start) / 1e9
}

/** A Spark task, attributed to the span whose call submitted its job. */
final case class TaskRec(span: Long, runNs: Long, schedDelayNs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitNs: Long, spill: Long, failed: Boolean)

/** Whole-stage-codegen compile time. Spark's `CodegenMetrics` histogram
  * keeps a reservoir sample, not a total, so the total is taken from the
  * line `CodeGenerator` logs for every compilation ("Code generated in
  * N ms"), captured by an appender on that one logger at INFO.
  */
object CodegenTimer {
  val micros = new AtomicLong()
  val classes = new AtomicLong()
  @volatile private var installed = false
  private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(): Unit = synchronized {
    if (installed) return
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Line(ms) =>
          micros.addAndGet((ms.toDouble * 1000).toLong)
          classes.incrementAndGet()
        case _ =>
      }
    }
    appender.start()
    config.addAppender(appender)
    val logger = new LoggerConfig(name, Level.INFO, false)
    logger.addAppender(appender, Level.INFO, null)
    config.addLogger(name, logger)
    ctx.updateLoggers()
    installed = true
  }
}

/** In-memory span recorder for the traced runs. Calls are timed with
  * [[span]]; each call sets the `perfbench.span` local property so the
  * jobs it submits (directly or through broadcast/subquery threads, which
  * inherit local properties) are attributed to it by the listener below.
  * Stages and tasks hang off their job. Everything stays in memory until
  * the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffset

  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = ArrayBuffer.empty[Span]

  // listener side: job -> span, stage -> span, task records, per-span counts
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobsEnded = new AtomicLong()
  private val jobsStarted = new AtomicLong()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val stagesBySpan = new ConcurrentHashMap[Long, AtomicLong]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, sid)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, sid))
      jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
      stagesBySpan.computeIfAbsent(sid, _ => new AtomicLong()).incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sid = stageSpan.getOrDefault(e.stageId, 0L)
      val info = e.taskInfo
      val m = e.taskMetrics
      val durNs = math.max(0L, info.finishTime - info.launchTime) * 1000000L
      if (m == null) {
        tasks.add(TaskRec(sid, 0, 0, 0, 0, 0, 0, failed = true))
      } else {
        val runNs = m.executorRunTime * 1000000L
        val overheadNs = (m.executorDeserializeTime + m.resultSerializationTime +
          info.gettingResultTime) * 1000000L
        tasks.add(TaskRec(sid, runNs, math.max(0L, durNs - runNs - overheadNs),
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime * 1000000L,
          m.memoryBytesSpilled + m.diskBytesSpilled, failed = !info.successful))
      }
    }
  }

  def jobsBySpan: Map[Long, Int] =
    jobSpan.asScala.values.groupBy(identity).map { case (k, v) => k -> v.size }

  def start(): Unit = {
    CodegenTimer.install()
    spark.sparkContext.addSparkListener(listener)
  }

  /** Waits (bounded) for the asynchronous listener bus to deliver every
    * job end, so task and stage records are complete before aggregation.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  def span[A](name: String, op: String)(body: => A): A = {
    val id = ids.getAndIncrement()
    val parents = stack.get()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    stack.set(id :: parents)
    sc.setLocalProperty(Prop, id.toString)
    val cg0 = CodegenTimer.micros.get()
    val cn0 = CodegenTimer.classes.get()
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      stack.set(parents)
      sc.setLocalProperty(Prop, prev)
      val s = Span(id, parents.headOption.getOrElse(0L), name, op, t0, t1,
        (CodegenTimer.micros.get() - cg0) * 1000L, CodegenTimer.classes.get() - cn0)
      spans.synchronized { spans += s }
    }
  }

  /** Records an interval timed elsewhere (stream progress phases). */
  def record(name: String, op: String, parent: Long, start: Long, end: Long): Long = {
    val id = ids.getAndIncrement()
    spans.synchronized { spans += Span(id, parent, name, op, start, end, 0L, 0L) }
    id
  }

  def snapshot: Seq[Span] = spans.synchronized(spans.toList)
}
