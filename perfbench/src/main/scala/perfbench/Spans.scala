package perfbench

import scala.collection.mutable.ArrayBuffer

/** Builds the span tree of a traced run from the op records and what
  * the listeners saw:
  *
  *   op
  *   ├─ construct            the queries/\* module function
  *   │   └─ construct.job    Spark jobs it started while building
  *   └─ action               the timed noop write
  *       ├─ plan             analysis, optimization and planning of the
  *       │                   write, up to the end of its last
  *       │                   Catalyst phase
  *       └─ exec             everything after: adaptive re-planning,
  *           │               code generation and the jobs
  *           └─ exec.job     its Spark jobs
  *
  * Ingest ops have one child under `op`, named after the engine call
  * (`snapshot.commit`, `index.search`, ...), whose Spark jobs are its
  * `exec.job` children.
  */
object Spans {
  def build(ops: Seq[OpRecord], jobs: JobListener, plans: PlanListener): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    def add(name: String, s: Long, e: Long, parent: Int, op: Int): Int = {
      val id = out.size + 1
      out += Span(id, name, s, math.max(s, e), parent, op)
      id
    }
    def jobSpans(name: String, group: String, lo: Long, hi: Long, parent: Int, op: Int): Unit =
      jobs.jobsOf(group).foreach { j =>
        val a = math.max(j.start, lo)
        val b = math.min(if (j.end < 0) hi else j.end, hi)
        if (b > a) add(name, a, b, parent, op)
      }
    ops.foreach { o =>
      val root = add("op", o.start, o.end, 0, o.id)
      if (o.kind == "query") {
        val c = add("construct", o.start, o.split, root, o.id)
        jobSpans("construct.job", Ops.constructGroup(o.id), o.start, o.split, c, o.id)
        val act = add("action", o.act, o.end, root, o.id)
        val planEnd = math.min(o.end,
          math.max(o.act, plans.planEnd(Ops.ObsPrefix + o.id).getOrElse(o.act)))
        add("plan", o.act, planEnd, act, o.id)
        val ex = add("exec", planEnd, o.end, act, o.id)
        jobSpans("exec.job", Ops.actionGroup(o.id), planEnd, o.end, ex, o.id)
      } else {
        val call = add(o.kind, o.act, o.end, root, o.id)
        jobSpans("exec.job", Ops.actionGroup(o.id), o.act, o.end, call, o.id)
      }
    }
    out.toSeq
  }
}
