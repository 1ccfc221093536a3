package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer spans over a traced job, and the Spark work done inside each.
  *
  * A span names a layer and wraps one call; spans nest, and a layer's self
  * time excludes the spans nested in it. Time inside [[job]] with no span
  * open is the layer `other`. Jobs run one at a time from a single client, so
  * one stack serves every thread: the streaming engine runs its micro-batches
  * on its own thread while the caller blocks inside a span.
  *
  * Spark jobs are attributed to a span through the job group the span sets
  * on the calling thread. Jobs started under a group the benchmark did not
  * set (the streaming engine sets its own on its thread) go to the innermost
  * span open when the job started. A [[SparkListener]] collects jobs, tasks,
  * shuffle writes and spills; [[layers]] aggregates them once the listener
  * bus has drained. */
class Spans(sc: SparkContext) {

  private val Group = "perfbench:"
  /** The thread-local properties `setJobGroup` sets. */
  private val GroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond resolution, comparable with the
    * scheduler's job timestamps. */
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val stack = mutable.ArrayBuffer[String]()
  private var inJob = false
  private var last = 0.0
  /** Self-time segments `(layer, from, to)` in epoch ms. */
  private val segments = mutable.ArrayBuffer[(String, Double, Double)]()
  private var wallMs = 0.0
  val rows = mutable.Map[String, Long]().withDefaultValue(0L)

  private case class JobRec(id: Int, group: String, start: Long, stages: Seq[Int]) {
    var end: Long = start
  }
  private case class TaskRec(stage: Int, ms: Long, shuffle: Long, spill: Long)
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Spans.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupProps.head)))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Spans.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Spans.this.synchronized {
      val m = Option(e.taskMetrics)
      tasks += TaskRec(e.stageId, e.taskInfo.duration,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L))
    }
  })

  private def current: String = if (stack.isEmpty) "other" else stack.last

  /** Close the open segment at `t` and start the next one there. */
  private def mark(t: Double): Unit = {
    if (inJob && t > last) segments += ((current, last, t))
    last = t
  }

  /** One traced job: the unit whose wall the layers partition. */
  def job[T](body: => T): T = {
    synchronized { inJob = true; last = nowMs() }
    val t0 = last
    try body
    finally synchronized { mark(nowMs()); inJob = false; wallMs += last - t0 }
  }

  def span[T](layer: String)(body: => T): T = {
    val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
    synchronized { mark(nowMs()); stack += layer }
    sc.setJobGroup(Group + layer, layer)
    try body
    finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      synchronized { mark(nowMs()); stack.remove(stack.lastIndexOf(layer)) }
    }
  }

  /** Per-layer totals once every listener event has arrived. */
  case class Layer(busyS: Double, driverS: Double, jobs: Int, tasks: Int,
      shuffleMb: Double, spillMb: Double, taskSkew: Double)

  def wallS: Double = synchronized(wallMs / 1000.0)

  def layers(): Map[String, Layer] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val segs = segments.sortBy(_._2)
      /** Layer of a job: its group when a span set it, else the segment
        * open when it started (segments hold only time inside [[job]]). */
      def layerAt(t: Double): Option[String] =
        segs.find(s => s._2 <= t && t <= s._3).map(_._1)
      val jobLayer: Map[Int, String] = jobs.values.flatMap { j =>
        (if (j.group.startsWith(Group)) Some(j.group.stripPrefix(Group))
         else layerAt(j.start.toDouble)).map(j.id -> _)
      }.toMap
      val stageLayer = mutable.Map[Int, String]()
      jobs.values.foreach(j => jobLayer.get(j.id).foreach(l =>
        j.stages.foreach(s => stageLayer.getOrElseUpdate(s, l))))
      // time with at least one Spark job running, as merged intervals
      val running = jobs.values.map(j => (j.start.toDouble, j.end.toDouble))
        .toSeq.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
          case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
          case (acc, iv) => iv :: acc
        }
      def busyWithJobs(a: Double, b: Double): Double =
        running.map { case (s, e) => math.max(0.0, math.min(b, e) - math.max(a, s)) }.sum
      val byLayer = segs.groupBy(_._1)
      val taskByLayer = tasks.groupBy(t => stageLayer.getOrElse(t.stage, "other"))
      (byLayer.keySet ++ jobLayer.values ++ taskByLayer.keySet).map { l =>
        val ss = byLayer.getOrElse(l, Nil)
        val busy = ss.map(s => s._3 - s._2).sum
        val driver = busy - ss.map(s => busyWithJobs(s._2, s._3)).sum
        val ts = taskByLayer.getOrElse(l, Nil)
        val perStage = ts.groupBy(_.stage).values.map(_.map(_.ms).sorted).filter(_.size >= 2)
        val med = perStage.map(d => d(d.size / 2).toDouble).sum
        val skew = if (med > 0) perStage.map(_.last.toDouble).sum / med
          else if (ts.nonEmpty) 1.0 else 0.0
        l -> Layer(busy / 1000.0, driver / 1000.0, jobLayer.count(_._2 == l), ts.size,
          ts.map(_.shuffle).sum / 1048576.0, ts.map(_.spill).sum / 1048576.0, skew)
      }.toMap
    }
  }
}
