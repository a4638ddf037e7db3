package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are epoch milliseconds so they line
  * up with the Spark listener's job start/end events; `nanos` is the
  * precise duration.
  */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, endMs: Long, nanos: Long)

/** Spark work attributed to one job group (one span). */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Listener the benchmark registers itself: groups task counters by the
  * job group the tracer set on the calling thread, and keeps every job's
  * start and end time so the driver gap (time with no Spark job running)
  * can be computed afterwards.
  */
final class GroupListener extends SparkListener {
  val byGroup = mutable.Map.empty[String, GroupCounters]
  val jobIntervals = mutable.Map.empty[Int, (Long, Long)]
  private val groupOfStage = mutable.Map.empty[Int, String]

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(groupOfStage(_) = g)
    val c = counters(g)
    c.jobs += 1
    jobIntervals(e.jobId) = (e.time, Long.MaxValue)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIntervals.get(e.jobId).foreach { case (s, _) =>
      jobIntervals(e.jobId) = (s, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(groupOfStage.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Spans around the benchmark's calls into each layer. Every span sets its
  * own job group on the calling thread, so Spark work started inside it is
  * attributed to it; the enclosing span's group is restored on exit. A
  * disabled tracer runs the body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   val listener: Option[GroupListener]) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      val m0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val nanos = System.nanoTime() - n0
        spans += Span(id, name, parent, m0, System.currentTimeMillis(), nanos)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Counters of the Spark work started directly inside spans named `name`. */
  def counters(name: String): GroupCounters = {
    val out = new GroupCounters
    listener.foreach { l =>
      l.synchronized {
        spans.filter(_.name == name).flatMap(s => l.byGroup.get(Tracer.group(s.id)))
          .foreach { c =>
            out.jobs += c.jobs; out.tasks += c.tasks; out.taskMs += c.taskMs
            out.gcMs += c.gcMs; out.shuffleWriteBytes += c.shuffleWriteBytes
            out.spillBytes += c.spillBytes; out.inputBytes += c.inputBytes
          }
      }
    }
    out
  }

  def wallSeconds(name: String): Double =
    spans.filter(_.name == name).map(_.nanos).sum / 1e9
}

object Tracer {
  def group(spanId: Int): String = s"perfbench-$spanId"

  def off(spark: SparkSession): Tracer = new Tracer(spark, false, None)

  /** Length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip intervals to a window. */
  def clip(iv: Seq[(Long, Long)], w: (Long, Long)): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, w._1), math.min(e, w._2)) }
      .filter(x => x._2 > x._1)

  /** Pairwise intersections of two interval sets; they may overlap, so
    * measure them with [[unionLength]].
    */
  def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for {
      x <- a
      y <- b
      s = math.max(x._1, y._1)
      e = math.min(x._2, y._2)
      if e > s
    } yield (s, e)

  /** The complement of `iv` within window `w`. */
  def complement(iv: Seq[(Long, Long)], w: (Long, Long)): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = w._1
    clip(iv, w).sortBy(_._1).foreach { case (s, e) =>
      if (s > cur) out += ((cur, s))
      if (e > cur) cur = e
    }
    if (w._2 > cur) out += ((cur, w._2))
    out.toSeq
  }
}
