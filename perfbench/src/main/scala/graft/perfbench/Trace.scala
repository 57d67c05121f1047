package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is -1 for a root span; spans of one
  * pass share `run`. */
final case class Span(id: Int, parent: Int, name: String, run: String, start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {

  /** Duration minus the part of the interval that its children cover.
    * Children may overlap each other and stick out of the parent; only
    * the union of their clipped intervals is subtracted. */
  def selfTime(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.dur - covered
  }
}

/** Spark-side counters of the jobs one span started. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunNs = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputRecords = 0L
  var planMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunNs += o.taskRunNs; taskCpuNs += o.taskCpuNs; taskWaitMs += o.taskWaitMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    inputRecords += o.inputRecords; planMs += o.planMs
  }
}

/** Spans kept in memory, plus a listener that charges every Spark job
  * to the innermost span open when it started (through the job group)
  * and every SQL execution's planning phases to the same span.
  *
  * A disabled tracer runs each body bare: no listener, no job groups. */
final class Tracer(spark: SparkSession, val enabled: Boolean, run: String = "") {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String, Long)]()
  private var nextId = 0
  val counters = mutable.HashMap[Int, Counters]()
  private var storageNow = 0L
  var storagePeak = 0L

  private def current: Int = if (stack.isEmpty) -1 else stack.top._1
  private def counter(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageSubmit = mutable.HashMap[Int, Long]()
  private val blocks = mutable.HashMap[String, Long]()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = span)
      counter(span).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val id = e.stageInfo.stageId
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      counter(stageSpan.getOrElse(id, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = counter(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunNs += m.executorRunTime * 1000000L
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        storageNow += size - blocks.getOrElse(key, 0L)
        if (size == 0) blocks.remove(key) else blocks(key) = size
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
  }

  /** Planning phases (analysis, optimizer, physical planning) of each
    * finished SQL execution. The callbacks arrive asynchronously, so
    * the milliseconds wait here until the span that ran the action
    * drains the bus at its end and claims them. */
  private object planListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      charge(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      charge(qe)
    private def charge(qe: QueryExecution): Unit =
      lock.synchronized(pendingPlanMs += qe.tracker.phases.values.map(_.durationMs).sum)
  }

  private var pendingPlanMs = 0L
  private val lock = new Object

  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack.push((id, name, System.nanoTime()))
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, t0) = stack.pop()
        val t1 = System.nanoTime()
        drain()
        lock.synchronized {
          spans += Span(id, parent, name, run, t0, t1)
          counter(id).planMs += pendingPlanMs
          pendingPlanMs = 0
        }
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(s"span-${stack.top._1}", stack.top._2, interruptOnCancel = false)
      }
    }

  /** Waits until every event posted so far has reached the counters. */
  def drain(): Unit = if (enabled) org.apache.spark.ListenerDrain(sc)

  def all: Seq[Span] = lock.synchronized(spans.toList)

  /** Counters of `s` and every span under it. */
  def total(s: Span): Counters = {
    val all = this.all
    val out = new Counters
    def walk(id: Int): Unit = {
      lock.synchronized(counters.get(id)).foreach(out.add)
      all.filter(_.parent == id).foreach(k => walk(k.id))
    }
    walk(s.id)
    out
  }
}
