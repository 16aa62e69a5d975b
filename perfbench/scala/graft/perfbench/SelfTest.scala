package graft.perfbench

/** The benchmark's own checks on hand-made inputs: order statistics, task
  * skew, self time, span attachment and the seeded curate tables. Run by
  * `perfbench/test.py`; exits non-zero on the first failed check.
  */
object SelfTest {
  private var checks = 0

  private def eq(what: String, got: Any, want: Any): Unit = {
    checks += 1
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")
  }

  private def near(what: String, got: Double, want: Double): Unit =
    eq(what, math.abs(got - want) < 1e-9, true)

  def main(args: Array[String]): Unit = {
    // quantiles interpolate linearly between closest ranks
    near("median of odd sample", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    near("median of even sample", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    near("q0 is the minimum", Stats.quantile(Seq(5.0, 7.0, 9.0), 0.0), 5.0)
    near("q1 is the maximum", Stats.quantile(Seq(5.0, 7.0, 9.0), 1.0), 9.0)
    near("p99 of 1..100", Stats.quantile((1 to 100).map(_.toDouble), 0.99), 99.01)
    near("quantile of one value", Stats.quantile(Seq(42.0), 0.99), 42.0)

    // skew: slowest task over the median task
    near("one straggler", Stats.skew(Seq(10.0, 10.0, 10.0, 40.0)), 4.0)
    near("even tasks", Stats.skew(Seq(7.0, 7.0)), 1.0)
    near("zero-length tasks", Stats.skew(Seq(0.0, 0.0, 3.0)), 1.0)
    val w = Probe.Window(
      Seq(Probe.Task(1, 5, 0, 0, 0, 0, 0, 0, ok = true),
        Probe.Task(2, 10, 0, 0, 0, 0, 0, 0, ok = true),
        Probe.Task(2, 10, 0, 0, 0, 0, 0, 0, ok = true),
        Probe.Task(2, 30, 0, 0, 0, 0, 0, 0, ok = true)),
      Nil, Nil, Nil, 0L)
    near("skew of the stage with the most task time", w.taskSkew, 3.0)

    // self time: duration minus the union of the children inside it
    eq("overlapping and overhanging children",
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))), 50L)
    eq("child outside the parent", Stats.selfTime(0, 100, Seq((200L, 300L))), 100L)
    eq("nested children count once", Stats.selfTime(0, 100, Seq((0L, 100L), (10L, 20L))), 0L)
    eq("no children", Stats.selfTime(5, 15, Nil), 10L)

    // span tree: a job hangs under the innermost span open at its start,
    // a stage under its job
    val t = new Tracer(enabled = true)
    t.span("pass", "p") { t.span("call", "c") { Thread.sleep(30) } }
    t.paused(t.span("call", "untraced") { () })
    val call = t.all.find(_.name == "c").get
    eq("paused spans are not recorded", t.all.exists(_.name == "untraced"), false)
    eq("call is a child of its pass", call.parent, t.all.find(_.name == "p").get.id)
    val jobStartMs = call.startUs / 1000 + 5
    t.attach(Seq(Probe.Job(7, jobStartMs, jobStartMs + 10, Seq(3))),
      Seq(Probe.Stage(3, 0, jobStartMs + 1, jobStartMs + 9)))
    val job = t.all.find(_.kind == "job").get
    eq("job is a child of the call", job.parent, call.id)
    eq("stage is a child of its job", t.all.find(_.kind == "stage").get.parent, job.id)
    eq("call self time excludes its job", t.selfUs(call), call.durUs - job.durUs)

    // seeded curate tables: deterministic, and in the shape measured on
    // the sf test tables (see CurateData)
    val a = CurateData.documents(7L, CurateData.SfDocs)
    eq("same seed, same documents", a, CurateData.documents(7L, CurateData.SfDocs))
    eq("another seed, other documents", a == CurateData.documents(8L, CurateData.SfDocs), false)
    val texts = a.map(_._2).toSet
    val dups = a.filter(_._2.endsWith(" dup"))
    eq("one document in twenty is a duplicate", dups.size, CurateData.SfDocs / 20)
    eq("each duplicate repeats another document",
      dups.forall(d => texts.contains(d._2.stripSuffix(" dup"))), true)
    val words = a.filterNot(_._2.endsWith(" dup")).map(_._2.split(' ').toSeq)
    eq("10 to 99 words a document", words.forall(w => w.size >= 10 && w.size <= 99), true)
    val meanWords = words.map(_.size).sum.toDouble / words.size
    eq("mean of 50 to 59 words", meanWords >= 50 && meanWords < 60, true)
    eq("the 30-word vocabulary", words.flatten.toSet, CurateData.Words.toSet)
    val langShare = a.groupBy(_._3).map { case (l, ds) => l -> ds.size.toDouble / a.size }
    eq("languages", langShare.keySet, Set("en", "zh", "es", "fr", "de"))
    eq("about 41% en", math.abs(langShare("en") - 0.41) < 0.06, true)
    eq("about 15% each other language",
      langShare.removed("en").values.forall(x => math.abs(x - 0.15) < 0.05), true)
    eq("source by row number", a.forall(d => d._4 == s"src${d._1 % 20}"), true)
    eq("n_chars is the text length", a.forall(d => d._5 == d._2.length), true)
    val e = CurateData.embeddings(7L, CurateData.SfVecs)
    eq("64-dim embeddings", e.forall(_._2.length == 64), true)
    eq("embeddings are unit length",
      e.forall(v => math.abs(math.sqrt(v._2.map(x => x.toDouble * x).sum) - 1) < 1e-5), true)
    val comps = e.flatMap(_._2.map(_.toDouble))
    val sd = math.sqrt(comps.map(x => x * x).sum / comps.size - math.pow(comps.sum / comps.size, 2))
    eq("component standard deviation 0.125", math.abs(sd - 0.125) < 0.002, true)
    eq("labels 0 to 9", e.map(_._3).toSet, (0 to 9).toSet)

    // the extraction checksum is order-independent and text-sensitive
    val docs = Seq(("u1", "a"), ("u2", "b"), ("u3", "c"))
    eq("checksum ignores order",
      docs.map { case (u, x) => Workloads.docHash(u, x) }.sum,
      docs.reverse.map { case (u, x) => Workloads.docHash(u, x) }.sum)
    eq("checksum sees a changed byte",
      Workloads.docHash("u1", "a") == Workloads.docHash("u1", "b"), false)

    println(s"SelfTest: $checks checks passed")
  }
}
