package perfbench

import scala.collection.mutable

/** What one span (one key in one pass) caused: named sums plus the child
  * spans (Spark jobs, streaming triggers) reported by the listeners. */
final class SpanCounters {
  val sums: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()

  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def get(name: String): Double = sums.getOrElse(name, 0.0)
}

/** A closed interval on the harness clock (epoch milliseconds). */
final case class Span(name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty)

/** Routes listener events to the span that caused them.
  *
  * Jobs carry their span's tag in a local property, so job, stage and task
  * events are attributed by tag, whatever thread ran the job and however late
  * the event is delivered. Events without a tag (query-execution and
  * streaming-progress callbacks) go to the span that is current when they are
  * handled; the harness drains the listener bus before it closes a span, so
  * that is the span that posted them. A span may be closed only after every
  * job started under it has ended ([[openJobs]] is 0); events that arrive for
  * a span already closed, or while no span is open, are counted in [[late]]
  * and never leak into another key. All methods are called from the listener
  * threads and the driver thread, hence synchronized. */
final class Attribution {
  private val live = mutable.Map[String, SpanCounters]()
  private val jobTag = mutable.Map[Int, String]()
  private val jobStartMs = mutable.Map[Int, Double]()
  private val stageTag = mutable.Map[Int, String]()
  private val open = mutable.Map[String, mutable.Set[Int]]()
  private var current: String = null
  private var lateEvents = 0L

  def late: Long = synchronized(lateEvents)

  def openSpan(tag: String): Unit = synchronized {
    live(tag) = new SpanCounters
    current = tag
  }

  /** Jobs still running under `tag`. */
  def openJobs(tag: String): Int = synchronized(open.get(tag).fold(0)(_.size))

  /** Remove the span and hand back its counters; the caller checks
    * [[openJobs]] first. */
  def closeSpan(tag: String): SpanCounters = synchronized {
    if (current == tag) current = null
    open.remove(tag)
    live.remove(tag).getOrElse(new SpanCounters)
  }

  private def liveOrLate(tag: String)(f: SpanCounters => Unit): Unit =
    live.get(tag) match {
      case Some(c) => f(c)
      case None => lateEvents += 1
    }

  /** `tag` is null for jobs started outside any span (warm-up, checks). */
  def jobStart(tag: String, jobId: Int, timeMs: Double, stageIds: Seq[Int],
               fromTables: Boolean): Unit = synchronized {
    if (tag != null) liveOrLate(tag) { c =>
      jobTag(jobId) = tag
      jobStartMs(jobId) = timeMs
      stageIds.foreach(stageTag(_) = tag)
      open.getOrElseUpdate(tag, mutable.Set()) += jobId
      c.add("jobs", 1)
      if (fromTables) c.add("infer_jobs", 1)
    }
  }

  def jobEnd(jobId: Int, timeMs: Double, succeeded: Boolean): Unit = synchronized {
    jobTag.remove(jobId).foreach { tag =>
      val start = jobStartMs.remove(jobId).getOrElse(timeMs)
      open.get(tag).foreach(_ -= jobId)
      liveOrLate(tag)(_.children += Span("spark.job", start, timeMs,
        Map("job" -> jobId, "ok" -> succeeded)))
    }
  }

  def stageCompleted(stageId: Int): Unit = synchronized {
    stageTag.get(stageId).foreach(tag => liveOrLate(tag)(_.add("stages", 1)))
  }

  def taskEnd(stageId: Int, metrics: Seq[(String, Double)]): Unit = synchronized {
    stageTag.get(stageId).foreach(tag => liveOrLate(tag) { c =>
      c.add("tasks", 1)
      metrics.foreach { case (k, v) => c.add(k, v) }
    })
  }

  /** An event that carries no tag: it belongs to the span open now. */
  def untagged(f: SpanCounters => Unit): Unit = synchronized {
    if (current == null) lateEvents += 1 else liveOrLate(current)(f)
  }
}
