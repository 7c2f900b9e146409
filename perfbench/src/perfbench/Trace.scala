package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `request` groups the spans of one
  * closed-loop iteration; `parent` is the span that caused this one.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Option[Long], request: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** The Spark-side work attributed to one span. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    planningMs: Double = 0, cpuMs: Double = 0, inputBytes: Long = 0,
    shuffleWriteBytes: Long = 0, outputBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    planningMs + o.planningMs, cpuMs + o.cpuMs, inputBytes + o.inputBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, outputBytes + o.outputBytes,
    spillBytes + o.spillBytes)
}

/** Raw Spark events, recorded by a `SparkListener` and a
  * `QueryExecutionListener` and attributed to spans only after the run:
  * listener events arrive asynchronously, often after the span that
  * caused them has closed.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stagesDone = ConcurrentHashMap.newKeySet[Int]()
  private val stageWork = new ConcurrentHashMap[Int, Work]()
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val planningSeen = new AtomicLong(0L)
  private val endedGroups = ConcurrentHashMap.newKeySet[String]()

  // event times are wall-clock ms; spans are monotonic ns — convert once
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + nsOffset

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(groupOf(e.properties), toNs(e.time), e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => endedGroups.add(j.group))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val w =
      if (m == null) Work(tasks = 1)
      else Work(tasks = 1, cpuMs = m.executorCpuTime / 1e6,
        inputBytes = m.inputMetrics.bytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        outputBytes = m.outputMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    stageWork.merge(e.stageId, w, (a: Work, b: Work) => a + b)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlanning(qe)

  // the listener reports no job group, so planning is attributed by the
  // time its analysis phase started
  private def recordPlanning(qe: QueryExecution): Unit = {
    val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty)
      planning.add((toNs(phases.map(_.startTimeMs).min), phases.map(_.durationMs.toDouble).sum))
    planningSeen.incrementAndGet()
  }

  def groupEnded(group: String): Boolean = endedGroups.contains(group)
  def planningCount: Long = planningSeen.get()

  /** Work per key, where `keyOf(group, eventTimeNs)` names the span an
    * event belongs to (None drops it); planning carries no group ("").
    */
  def attribute(keyOf: (String, Long) => Option[Long]): Map[Long, Work] = {
    val out = mutable.Map.empty[Long, Work].withDefaultValue(Work())
    // a later job lists a shuffle stage an earlier one already ran (and
    // skips it): each stage counts once, for the first job that ran it
    val counted = mutable.Set.empty[Int]
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, j) =>
      val ran = j.stages.filter(s => stagesDone.contains(s) && counted.add(s))
      keyOf(j.group, j.timeNs).foreach { k =>
        val w = ran.flatMap(s => Option(stageWork.get(s))).foldLeft(Work())(_ + _)
        out(k) = out(k) + w.copy(jobs = 1, stages = ran.size.toLong)
      }
    }
    planning.asScala.foreach { case (tNs, ms) =>
      keyOf("", tNs).foreach(k => out(k) = out(k) + Work(planningMs = ms))
    }
    out.toMap
  }
}

object Collector {
  private final case class JobRec(group: String, timeNs: Long, stages: Seq[Int])
}

/** Spans around the benchmark's own calls into each layer. With tracing
  * off, `span` only runs its body. With tracing on, each span runs under
  * its own Spark job group, so the collector can attribute the jobs,
  * stages and tasks it causes. Streaming micro-batches run on the query's
  * own thread under the query's run id as job group; `streamSpan`
  * attributes those by time instead. The benchmark's spans do not nest,
  * so every span is a root.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val streamGroups = mutable.Map.empty[String, mutable.ArrayBuffer[Span]]
  private var drains = 0
  val collector = new Collector
  @volatile private var on = false

  def active: Boolean = on

  /** Start or stop recording. Stopping first waits for every event of
    * the spans already recorded, then detaches the listeners, so that
    * untraced calls pay no listener cost.
    */
  def setActive(value: Boolean): Unit = if (value != on) {
    if (value) {
      sc.addSparkListener(collector)
      spark.listenerManager.register(collector)
    } else {
      drain()
      sc.removeSparkListener(collector)
      spark.listenerManager.unregister(collector)
    }
    on = value
  }

  def span[A](name: String, request: Long)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val t0 = System.nanoTime()
      try withGroup(s"pb-span-$id", name)(body)
      finally {
        val t1 = System.nanoTime()
        synchronized { spans += Span(id, name, t0, t1, None, request) }
      }
    }

  /** Run `body` under job group `group` on this thread, then restore the
    * thread's own group (a streaming query thread has one).
    */
  private def withGroup[A](group: String, desc: String)(body: => A): A = {
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val prev = keys.map(sc.getLocalProperty)
    sc.setJobGroup(group, desc, interruptOnCancel = false)
    try body
    finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** A span whose Spark work runs on a streaming query's thread, under
    * the query's run id as job group.
    */
  def streamSpan[A](name: String, request: Long, runId: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(id, name, t0, System.nanoTime(), None, request)
        synchronized {
          spans += s
          streamGroups.getOrElseUpdate(runId, mutable.ArrayBuffer.empty) += s
        }
      }
    }

  /** Block until the listener bus has delivered every event posted so
    * far: run a marker action and wait for its job end and its planning.
    */
  def drain(): Unit = {
    drains += 1
    val group = s"pb-drain-$drains"
    val seen = collector.planningCount
    withGroup(group, "trace drain")(spark.range(1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = collector.groupEnded(group) && collector.planningCount > seen
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def recorded: Seq[Span] = synchronized(spans.toList)

  /** Spark work per span id; call once recording has stopped. */
  def work(): Map[Long, Work] = {
    require(!on, "work() while recording")
    val (byGroup, streams) = synchronized((spans.map(s => s"pb-span-${s.id}" -> s.id).toMap,
      streamGroups.map { case (g, ss) => g -> ss.toList }.toMap))
    val all = recorded
    def at(ss: Seq[Span], tNs: Long) =
      ss.filter(s => tNs >= s.startNs && tNs <= s.endNs).maxByOption(_.startNs).map(_.id)
    collector.attribute { (group, tNs) =>
      if (group.isEmpty) at(all, tNs)
      else byGroup.get(group).orElse(streams.get(group).flatMap(at(_, tNs)))
    }
  }
}
