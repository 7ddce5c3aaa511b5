package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** Work a set of Spark jobs did, summed over their tasks. `skew` is the
  * slowest task's run time over the median task's (1.0 with no tasks). */
final case class Work(jobs: Int, taskS: Double, shuffleWriteMb: Double, skew: Double)

/** Listener in the benchmark's own process that attributes task metrics to
  * jobs, and jobs either to the job group that submitted them (a traced
  * span) or to the wall-clock window they started in (an untraced
  * operation). Reads wait for the listener bus to drain first, so every
  * task of a finished operation is counted.
  */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  private final case class Job(group: String, startMs: Long)
  private final case class Task(runMs: Long, shuffleWrite: Long)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Task]]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(group, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val job = stageJob.getOrElse(e.stageId, -1)
      tasks.getOrElseUpdate(job, mutable.ArrayBuffer.empty) +=
        Task(m.executorRunTime, m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def work(jobIds: Iterable[Int]): Work = {
    val ts = jobIds.flatMap(j => tasks.getOrElse(j, Nil)).toVector
    val runs = ts.map(_.runMs).sorted
    val skew =
      if (runs.isEmpty) 1.0
      else runs.last.toDouble / math.max(1L, runs(runs.length / 2))
    Work(jobIds.size, runs.sum / 1000.0, ts.map(_.shuffleWrite).sum / (1024.0 * 1024.0), skew)
  }

  /** Jobs that started within [t0Ms, t1Ms] (wall clock). */
  def window(t0Ms: Long, t1Ms: Long): Work = {
    org.apache.spark.perfbenchglue.ListenerDrain.drain(sc)
    synchronized(work(jobs.collect { case (id, j) if j.startMs >= t0Ms && j.startMs <= t1Ms => id }))
  }

  /** Jobs submitted under the given job group. */
  def group(name: String): Work = {
    org.apache.spark.perfbenchglue.ListenerDrain.drain(sc)
    synchronized(work(jobs.collect { case (id, j) if j.group == name => id }))
  }
}

/** One traced call: wall interval in ms since the run started, the id of the
  * span that encloses it (-1 for none), and the traced round it belongs to. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int,
    round: Int) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Spans around the benchmark's calls into each layer. Each span is also the
  * Spark job group of the jobs it submits (suffixed with the round), so the
  * recorder can give it task time, shuffle volume and skew. Spans are kept in
  * memory and written once at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  private val origin = System.nanoTime()
  private val stack = mutable.Stack.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  var round = 0
  private var nextId = 0

  private def nowMs: Double = (System.nanoTime() - origin) / 1e6

  def groupOf(name: String, r: Int): String = s"$name#$r"

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(groupOf(name, round), name)
    stack.push(id)
    val start = nowMs
    try f
    finally {
      spans += Span(id, name, start, nowMs, parent, round)
      stack.pop()
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
  }

  /** Span duration minus the time its direct children cover. */
  def selfS(s: Span): Double = s.durS - spans.filter(_.parent == s.id).map(_.durS).sum
}

/** JVM-wide garbage-collection time and peak heap since `reset()`. */
object JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private var gc0 = 0L
  def reset(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def gcS: Double = (gcMs - gc0) / 1000.0
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
