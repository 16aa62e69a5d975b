package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval, in epoch microseconds. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder for the traced run: workload → pass → layer call,
  * recorded around the benchmark's own calls, with Spark job and stage spans
  * attached from the listener afterwards. When disabled it records nothing
  * and only runs the body. Not thread-safe: call it from the one thread
  * that drives the workload.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  private var recording = enabled

  /** Run `body` without recording spans (the untraced passes of a traced run). */
  def paused[T](body: => T): T = {
    val was = recording
    recording = false
    try body finally recording = was
  }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val start = Tracer.nowUs()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, kind, name, start, Tracer.nowUs())
      }
    }

  /** Attach Spark jobs and stages. A job's parent is the innermost recorded
    * span that contains its start; a stage's parent is its job. */
  def attach(jobs: Seq[Probe.Job], stages: Seq[Probe.Stage]): Unit = if (enabled) {
    val jobSpan = scala.collection.mutable.Map.empty[Int, Int]
    jobs.sortBy(_.startMs).foreach { j =>
      val s = j.startMs * 1000; val e = j.endMs * 1000
      val holders = spans.filter(p => p.kind != "job" && p.kind != "stage" &&
        p.startUs <= s && s <= p.endUs)
      if (holders.nonEmpty) {
        val parent = holders.maxBy(_.startUs).id
        val id = nextId; nextId += 1
        spans += Span(id, parent, "job", s"job ${j.id}", s, math.max(s, e))
        j.stageIds.foreach(st => jobSpan.getOrElseUpdate(st, id))
      }
    }
    stages.foreach { st =>
      jobSpan.get(st.id).foreach { parent =>
        val id = nextId; nextId += 1
        spans += Span(id, parent, "stage", s"stage ${st.id}.${st.attempt}",
          st.submitMs * 1000, math.max(st.submitMs, st.endMs) * 1000)
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def selfUs(s: Span): Long =
    Stats.selfTime(s.startUs, s.endUs, children(s.id).map(c => (c.startUs, c.endUs)))

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
      s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},""" +
      s""""self_us":${selfUs(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}
