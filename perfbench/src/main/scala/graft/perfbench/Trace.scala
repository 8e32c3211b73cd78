package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._

/** Counters of one Spark job, filled from listener events. */
final class JobRec(val span: String, val startMs: Long) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Sums over a set of jobs plus the wall time they were measured over. */
final case class Counters(wallS: Double, jobs: Long, tasks: Long, runS: Double, cpuS: Double,
                          gcS: Double, shuffleMb: Double, spillMb: Double) {
  /** Share of the interval's core-seconds that tasks were running. */
  def busyFrac(cores: Int): Double = if (wallS <= 0) 0.0 else runS / (wallS * cores)
}

object Counters {
  private val Mb = 1024.0 * 1024.0
  def of(wallS: Double, jobs: Iterable[JobRec]): Counters = Counters(wallS,
    jobs.size.toLong, jobs.map(_.tasks).sum, jobs.map(_.runMs).sum / 1e3,
    jobs.map(_.cpuNs).sum / 1e9, jobs.map(_.gcMs).sum / 1e3,
    jobs.map(j => j.shuffleRead + j.shuffleWrite).sum / Mb, jobs.map(_.spill).sum / Mb)
}

/** The benchmark's only view into Spark: one listener.
  *
  * Job start times are always kept (the end-to-end jobs-per-operation
  * metric counts them over a time window).
  * With `detail`, every job is also attributed to the span that was open
  * when it started, and its tasks' run/CPU/GC time, shuffle bytes and
  * spill bytes are summed per job. One client drives the session, so
  * every job that starts while a span is open belongs to that span; this
  * also covers jobs the crawl loop starts from its own thread pool, whose
  * threads may carry a stale job group. The job group set around each
  * call names the span when none is open. */
final class Tracer(val detail: Boolean) extends SparkListener {
  @volatile private[perfbench] var open: String = Tracer.NoSpan
  private val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  private val callbackNs = new AtomicLong
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add(e.time)
    if (detail) {
      val t0 = System.nanoTime()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val cur = open
      val span = if (cur != Tracer.NoSpan) cur
        else group.filter(_.startsWith(Tracer.Prefix)).map(_.stripPrefix(Tracer.Prefix)).getOrElse(cur)
      val r = new JobRec(span, e.time)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
      callbackNs.addAndGet(System.nanoTime() - t0)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detail) {
    val t0 = System.nanoTime()
    val r = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (r != null && m != null) {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  /** Jobs that started in [fromMs, toMs] (epoch ms). */
  def jobsStarted(sc: SparkContext, fromMs: Long, toMs: Long): Long = {
    Bus.drain(sc)
    jobStarts.asScala.count(t => t >= fromMs && t <= toMs).toLong
  }
  def listenerSeconds: Double = callbackNs.get() / 1e9
  def allJobs(sc: SparkContext): Seq[JobRec] = { Bus.drain(sc); jobs.values().asScala.toSeq }
}

object Tracer {
  val Prefix = "perfbench:"
  val NoSpan = "-"
}

/** Spans around the benchmark's calls into the program. Each span sets
  * the Spark job group for its duration and remembers its wall time; its
  * counters are the jobs the tracer attributed to it. */
final class Spans(sc: SparkContext, tracer: Tracer) {
  private val walls = ArrayBuffer[(String, Double)]()

  def apply[T](name: String)(f: => T): T = {
    sc.setJobGroup(Tracer.Prefix + name, name, interruptOnCancel = false)
    tracer.open = name
    val t0 = System.nanoTime()
    try f
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      tracer.open = Tracer.NoSpan
      sc.clearJobGroup()
      walls.synchronized(walls += ((name, s)))
    }
  }

  def names: Seq[String] = walls.synchronized(walls.map(_._1).distinct.toSeq)

  /** Counters of every span called `name` (summed over its calls). */
  def counters(name: String): Counters = {
    val wall = walls.synchronized(walls.filter(_._1 == name).map(_._2).sum)
    Counters.of(wall, tracer.allJobs(sc).filter(_.span == name))
  }
}
