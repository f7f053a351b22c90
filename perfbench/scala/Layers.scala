package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** Per-layer metrics of one measured window, and the span sidecar. */
object Layers {
  /** Program modules jobs are charged to; every other file is `other`. */
  val Modules = Seq("queries", "pipeline", "operators", "sink", "sources", "cachescope", "other")
  val SyncTables = Seq("regions", "clubs", "members", "leadership")

  private def dur(s: Span): Long = s.end - s.start
  private def total(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(dur).sum / 1000.0

  /** Metrics the benchmark's own spans give in every run. */
  def fromSpans(spans: Seq[Span]): Seq[(String, Double)] =
    Seq("pipeline.app_sync_s" -> total(spans, "pipeline.app"),
      "pipeline.mail_sync_s" -> total(spans, "pipeline.mail"),
      "pipeline.corpus_prep_s" -> total(spans, "pipeline.corpus-prep"),
      "queries.call_s" -> total(spans, "queries"),
      "cachescope.release_s" -> total(spans, "cachescope")) ++
      SyncTables.flatMap(t => Seq(
        s"pipeline.load_s.$t" -> total(spans, s"pipeline.load.$t"),
        s"pipeline.gc_s.$t" -> total(spans, s"pipeline.gc.$t")))

  /** Job, task and Catalyst metrics of a traced run. */
  def fromTrace(spans: Seq[Span], t: TraceListener, c: CatalystListener): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    out += "catalyst.analysis_ms" -> c.phaseMs("analysis").toDouble
    out += "catalyst.optimizer_ms" -> c.phaseMs("optimization").toDouble
    out += "catalyst.planning_ms" -> c.phaseMs("planning").toDouble
    out += "catalyst.queries" -> c.queries.toDouble
    val tasks = t.tasks.toSeq
    val jobs = t.jobs.values.toSeq
    out += "sched.jobs" -> jobs.size.toDouble
    out += "sched.stages" -> t.stagesRun.toDouble
    out += "sched.tasks" -> tasks.size.toDouble
    // idle: op wall time during which none of the op's tasks ran
    val parent = spans.map(s => s.id -> s.parent).toMap
    def opOf(span: Int): Int = {
      var s = span
      while (s >= 0 && spans(s).kind != "op") s = parent(s)
      s
    }
    val jobOp = jobs.map(j => j.id -> opOf(j.span)).toMap
    val opTasks = tasks.groupBy(k => jobOp.getOrElse(k.job, -1))
    out += "sched.idle_s" -> spans.filter(_.kind == "op").map { op =>
      dur(op) - Intervals.covered(
        opTasks.getOrElse(op.id, Nil).map(k => (k.launch, k.finish)), op.start, op.end)
    }.sum / 1000.0
    out += "exec.task_s" -> tasks.map(k => k.finish - k.launch).sum / 1000.0
    out += "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9
    out += "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0
    out += "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6
    out += "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / 1e6
    out += "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0
    out += "shuffle.spill_mb" -> tasks.map(_.spill).sum / 1e6
    out += "io.input_mb" -> tasks.map(_.input).sum / 1e6
    out += "io.output_mb" -> tasks.map(_.output).sum / 1e6
    out += "driver.result_mb" -> tasks.map(_.resultBytes).sum / 1e6
    val byJob = tasks.groupBy(_.job)
    Modules.foreach { m =>
      val js = jobs.filter(_.module == m)
      out += s"$m.jobs" -> js.size.toDouble
      out += s"$m.busy_s" ->
        Intervals.covered(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue) / 1000.0
      out += s"$m.task_s" ->
        js.flatMap(j => byJob.getOrElse(j.id, Nil)).map(k => k.finish - k.launch).sum / 1000.0
    }
    out.toSeq
  }

  /** NDJSON, one line per span and per Spark job: run -> op -> call -> job.
    * Self time is the duration minus the part of it that child spans and
    * jobs cover; a job's self time is what its tasks leave uncovered. */
  def writeSpans(f: File, spans: Seq[Span], t: TraceListener): Unit = {
    val jobs = t.jobs.values.toSeq
    val childIntervals = mutable.HashMap.empty[Int, List[(Long, Long)]].withDefaultValue(Nil)
    spans.foreach(s => childIntervals(s.parent) ::= (s.start, s.end))
    jobs.foreach(j => childIntervals(j.span) ::= (j.start, j.end))
    val byJob = t.tasks.toSeq.groupBy(_.job)
    val w = new PrintWriter(f, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json.render(Json.obj("id" -> s"s${s.id}",
          "parent" -> (if (s.parent < 0) null else s"s${s.parent}"),
          "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
          "dur_ms" -> dur(s),
          "self_ms" -> (dur(s) - Intervals.covered(childIntervals(s.id), s.start, s.end)))))
      }
      jobs.foreach { j =>
        val ts = byJob.getOrElse(j.id, Nil)
        w.println(Json.render(Json.obj("id" -> s"j${j.id}",
          "parent" -> (if (j.span < 0) null else s"s${j.span}"),
          "kind" -> "job", "name" -> j.callSite, "module" -> j.module,
          "start_ms" -> j.start, "end_ms" -> j.end, "dur_ms" -> (j.end - j.start),
          "self_ms" -> (j.end - j.start -
            Intervals.covered(ts.map(k => (k.launch, k.finish)), j.start, j.end)),
          "tasks" -> ts.size)))
      }
    } finally w.close()
  }
}

/** Source file name -> program module, from the checkout's source tree:
  * `graft/<dir>/X.scala` belongs to `<dir>`, `graft/X.scala` to `x`. */
object Modules {
  def load(src: File): String => String = {
    val root = src.toPath
    val byFile = mutable.HashMap.empty[String, String]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.getName.endsWith(".scala")) {
        val parts = root.relativize(f.toPath).iterator()
        val names = mutable.ArrayBuffer.empty[String]
        parts.forEachRemaining(p => names += p.toString)
        val module =
          if (names.headOption.contains("graft") && names.size >= 3) names(1)
          else if (names.headOption.contains("graft")) f.getName.stripSuffix(".scala").toLowerCase
          else "other"
        byFile(f.getName) = if (Layers.Modules.contains(module)) module else "other"
      }
    walk(src)
    val m = byFile.toMap
    file => m.getOrElse(file, "other")
  }
}

/** JSON output through the Jackson that ships with Spark: objects are
  * insertion-ordered maps, arrays are sequences, `None` is null. */
object Json {
  type Value = Any
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def obj(kvs: (String, Any)*): Value = scala.collection.immutable.ListMap(kvs: _*)
  def arr(xs: Any*): Value = xs
  def render(v: Value): String = mapper.writeValueAsString(v)
}
