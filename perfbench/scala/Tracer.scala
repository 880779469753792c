package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters one span records: Spark work done while the span ran. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, execMs: Long,
                        shuffleBytes: Long, spillBytes: Long, scanStages: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    execMs - o.execMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    scanStages - o.scanStages)
}

/** A listener owned by the benchmark. It sums jobs, completed stages,
  * tasks, executor run time, shuffle read + write bytes and disk spill,
  * and keeps each job's [start, end] interval so a span can tell how much
  * of its wall time no job covered (driver-side work).
  *
  * Listener events arrive asynchronously, so [[snapshot]] first drains the
  * bus with a marker job: events are delivered in order, so once the
  * marker's job-end arrives every earlier event has been counted. Marker
  * jobs are tagged by a local property and never counted.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val MarkerProp = "perfbench.marker"
  private var jobs, stages, tasks, execMs, shuffleBytes, spillBytes, scanStages = 0L
  private val markerJobs = mutable.Map.empty[Int, Long]
  private val markerStages = mutable.Set.empty[Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val markerSeq = new AtomicLong(0)
  @volatile private var markerSeen = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerProp))) match {
      case Some(seq) =>
        markerJobs(e.jobId) = seq.toLong
        markerStages ++= e.stageIds
      case None =>
        jobs += 1
        jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    markerJobs.remove(e.jobId) match {
      case Some(seq) =>
        markerSeen = math.max(markerSeen, seq)
        notifyAll()
      case None =>
        jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (!markerStages.contains(info.stageId)) {
      stages += 1
      // the SQLite source is the RDD built in SqliteRead.readTable
      if (info.rddInfos.exists(_.callSite.contains("SqliteRead.scala"))) scanStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      execMs += m.executorRunTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  /** Run a one-task marker job and wait until the listener has seen it end. */
  def drain(): Unit = {
    val seq = markerSeq.incrementAndGet()
    sc.setLocalProperty(MarkerProp, seq.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (markerSeen < seq) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException("listener bus did not drain in 60 s")
        wait(left)
      }
    }
  }

  /** Drained counters. */
  def snapshot(): Counts = {
    drain()
    synchronized(Counts(jobs, stages, tasks, execMs, shuffleBytes, spillBytes, scanStages))
  }

  /** Milliseconds of [t0, t1] (epoch ms) covered by at least one job. */
  def jobCoveredMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = intervals.iterator.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => covered += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    covered + cur.fold(0L) { case (s, e) => e - s }
  }
}

/** Per-span totals: wall, driver-only wall and the Spark counters. */
final class Spans {
  private val acc = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]

  def add(name: String, key: String, v: Double): Unit = synchronized {
    val m = acc.getOrElseUpdate(name, mutable.LinkedHashMap.empty[String, Double])
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def record(name: String, wallS: Double, driverS: Double, c: Counts): Unit = {
    add(name, "s", wallS); add(name, "driver_s", driverS)
    add(name, "jobs", c.jobs.toDouble); add(name, "stages", c.stages.toDouble)
    add(name, "tasks", c.tasks.toDouble); add(name, "exec_s", c.execMs / 1e3)
    add(name, "shuffle_mb", c.shuffleBytes / 1e6); add(name, "spill_mb", c.spillBytes / 1e6)
    add(name, "scan_stages", c.scanStages.toDouble)
    add(name, "n", 1.0)
  }

  def toMap: Map[String, Map[String, Double]] = synchronized(acc.map { case (k, v) => k -> v.toMap }.toMap)
}

object Trace {
  /** Time `body` as span `name`: wall from the caller's clock, counters
    * as drained deltas, driver time as the wall no job covered. */
  def span[A](tracer: Tracer, spans: Spans, name: String)(body: => A): A = {
    val before = tracer.snapshot()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val delta = tracer.snapshot() - before
    val driver = math.max(0.0, wall - tracer.jobCoveredMs(w0, w1) / 1e3)
    spans.record(name, wall, driver, delta)
    out
  }
}
