package graftbench

import scala.collection.immutable.ListMap

/** Turns a finished [[Run]] into its result: the end-to-end metrics (or,
  * for a traced run, the per-layer ones) plus the detail artifact —
  * samples, failures by class, the self-time table and every span. */
object Report {
  import Run._

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest whole percentile with at least ten samples above it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 20) None
    else {
      val s = xs.sorted
      val p = ((s.length - 10) * 100) / s.length
      Some(p -> s(math.min(s.length - 1, (p * s.length) / 100)))
    }

  private def mb(bytes: Double): Double = bytes / 1e6

  /** A timed pass's seconds; a failed op is charged at least the longest
    * successful run of the same op, so a failure never shortens a pass. */
  private def charged(p: Pass, longest: Map[String, Double]): Double =
    p.seconds + p.ops.filterNot(_.ok)
      .map(o => math.max(0.0, longest.getOrElse(o.name, 0.0) - o.seconds)).sum

  def build(run: Run, setups: Seq[Double], heapMb: Double): String = {
    val all = run.passes.toSeq
    val timed = all.filter(_.kind == "timed")
    val longest = all.flatMap(_.ops).filter(_.ok).groupBy(_.name)
      .map { case (k, v) => k -> v.map(_.seconds).max }
    val passS = timed.map(charged(_, longest))
    val failed = run.failures.length.toLong

    val endToEnd = ListMap[String, (Double, String, Int)](
      "setup_s" -> (median(setups), "s", setups.length),
      "pass_s" -> (median(passS), "s", passS.length),
      "jobs" -> (median(timed.map(_.jobs.toDouble)), "count", timed.length))

    val perLayer: ListMap[String, (Double, String, Int)] =
      if (run.traced) layers(run, timed, setups, longest, heapMb) else ListMap.empty
    val shown = if (run.traced) perLayer else endToEnd
    val metrics = shown.map { case (k, (v, u, _)) =>
      k -> ListMap("value" -> v, "unit" -> u) }
    val samples = (endToEnd ++ perLayer).map { case (k, (v, u, n)) =>
      k -> ListMap("value" -> v, "unit" -> u, "samples" -> n) }

    val ticks = timed.flatMap(_.ticks)
    val detail = ListMap(
      "workload" -> run.workload,
      "seed" -> run.seed,
      "traced" -> run.traced,
      "nproc" -> Main.nproc,
      "error_rate" -> failed.toDouble / math.max(1L, run.attempted),
      "failures" -> run.failures.toSeq,
      "failures_by_class" -> run.failures.toSeq.groupBy(_.errorClass)
        .map { case (k, v) => k -> v.length },
      "metrics" -> samples,
      "setup_samples_s" -> setups,
      "pass_samples_s" -> passS,
      "pass_tail" -> tail(passS).map { case (p, v) => ListMap("p" -> p, "s" -> v) },
      "tick_samples_s" -> ticks,
      "tick_tail" -> tail(ticks).map { case (p, v) => ListMap("p" -> p, "s" -> v) },
      "passes" -> all.map(p => ListMap("id" -> p.id, "traced" -> p.traced,
        "seconds" -> p.seconds, "jobs" -> p.jobs,
        "ops" -> p.ops.map(o => ListMap("op" -> o.name, "s" -> o.seconds, "ok" -> o.ok))))
    ) ++ (if (run.traced) ListMap(
      "self_time" -> selfTime(run, timed.filter(_.traced)),
      "spans" -> run.recorder.spans.map(s => ListMap("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds)))
    else ListMap.empty)

    Json.write(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> run.attempted,
      "failed" -> failed,
      "metrics" -> metrics,
      "detail" -> detail))
  }

  /** Jobs of one traced pass, each with its innermost span (if any). */
  private def attributed(run: Run, p: Pass): Seq[(JobRec, Option[Span])] = {
    val spans = run.recorder.spans.filter(s => s.run == p.id && s.name != "pass")
    run.runtime.jobs.toSeq
      .filter(j => j.startMs >= p.span.startMs && j.startMs <= p.span.endMs)
      .map(j => j -> run.recorder.innermostAt(j.startMs, spans))
  }

  /** The op span (a child of the pass span) a span belongs to. */
  private def opOf(run: Run, s: Span): Option[Span] = {
    val byId = run.recorder.spans.iterator.map(x => x.id -> x).toMap
    var cur = s
    while (cur.parent >= 0 && byId.get(cur.parent).exists(_.name != "pass"))
      cur = byId(cur.parent)
    if (byId.get(cur.parent).exists(_.name == "pass")) Some(cur) else None
  }

  private def layers(run: Run, timed: Seq[Pass], setups: Seq[Double],
                     longest: Map[String, Double], heapMb: Double)
      : ListMap[String, (Double, String, Int)] = {
    val traced = timed.filter(_.traced)
    val plain = timed.filterNot(_.traced)
    val n = traced.length
    def per(f: Pass => Double): Double = median(traced.map(f))
    def spansOf(p: Pass, name: String) =
      run.recorder.spans.filter(s => s.run == p.id && s.name == name)
    def window[T](p: Pass, at: T => Long, xs: Seq[T]) =
      xs.filter(x => at(x) >= p.span.startMs && at(x) <= p.span.endMs)
    def tasks(p: Pass) = window(p, (t: TaskRec) => t.endMs, run.runtime.tasks.toSeq)
    def jobsIn(p: Pass, name: String) =
      attributed(run, p).count(_._2.exists(_.name == name)).toDouble
    def busySeconds(p: Pass): Double = {
      val iv = attributed(run, p).map(_._1)
        .map(j => (j.startMs, if (j.endMs < 0) p.span.endMs else math.min(j.endMs, p.span.endMs)))
        .sortBy(_._1)
      var busy = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      (busy + (curE - curS)) / 1000.0
    }
    def opSeconds(p: Pass, op: String) =
      p.ops.filter(_.name == op).map(_.seconds).sum
    def opJobs(p: Pass, op: String) =
      attributed(run, p).count(_._2.flatMap(opOf(run, _)).exists(_.name == op)).toDouble
    val passSeconds = traced.map(p => p.id -> charged(p, longest)).toMap

    val base = ListMap[String, (Double, String, Int)](
      "setup.cold_s" -> (setups.head, "s", 1),
      "heap.retained_mb" -> (heapMb, "MB", 1),
      "trace.overhead_s" -> (median(traced.map(p => passSeconds(p.id))) -
        median(plain.map(charged(_, longest))), "s", n + plain.length),
      "trace.attributed_frac" -> (per { p =>
        val a = attributed(run, p)
        if (a.isEmpty) 0.0
        else a.count(_._2.flatMap(opOf(run, _)).isDefined).toDouble / a.length
      }, "ratio", n),
      "spark.driver_gap_s" -> (per(p => passSeconds(p.id) - busySeconds(p)), "s", n),
      "spark.stages" -> (per(p => window(p, (x: Long) => x,
        run.runtime.stageEnds.toSeq).length.toDouble), "count", n),
      "spark.tasks" -> (per(p => tasks(p).length.toDouble), "count", n),
      "spark.task_s" -> (per(p => tasks(p).map(_.runMs).sum / 1000.0), "s", n),
      "spark.cpu_util" -> (per(p => tasks(p).map(_.runMs).sum / 1000.0 /
        (passSeconds(p.id) * Main.nproc)), "ratio", n),
      "spark.shuffle_mb" -> (per(p => mb(tasks(p).map(_.shuffleWrite).sum.toDouble)), "MB", n),
      "spark.spill_mb" -> (per(p => mb(tasks(p).map(_.spill).sum.toDouble)), "MB", n),
      "spark.scan_mb" -> (per(p => mb(tasks(p).map(_.scan).sum.toDouble)), "MB", n),
      "operators.build_s" -> (per(p => spansOf(p, "build").map(_.seconds).sum), "s", n),
      "operators.build_jobs" -> (per(p => jobsIn(p, "build")), "count", n),
      "operators.exec_s" -> (per(p => spansOf(p, "exec").map(_.seconds).sum), "s", n),
      "operators.exec_jobs" -> (per(p => jobsIn(p, "exec")), "count", n),
      "catalyst.plan_s" -> (per(_.planMs.sum / 1000.0), "s", n),
      "catalyst.executions" -> (per(_.planMs.length.toDouble), "count", n),
      "materialize.cached_mb" -> (per(p => mb(p.cachedBytes.toDouble)), "MB", n),
      "io.bootstrap_s" -> (per(p => spansOf(p, "bootstrap").map(_.seconds).sum), "s", n),
      "io.compact_s" -> (per(p => spansOf(p, "compact").map(_.seconds).sum), "s", n),
      "io.compactions" -> (per(_.compactions.toDouble), "count", n),
      "io.state_files" -> (per(_.stateFiles.toDouble), "count", n),
      "io.state_mb" -> (per(p => mb(p.stateBytes.toDouble)), "MB", n),
      "io.write_mb" -> (per(p => mb(tasks(p).map(_.written).sum.toDouble)), "MB", n),
      "io.tick_p50_s" -> (median(timed.flatMap(_.ticks)), "s", timed.map(_.ticks.length).sum))
    base ++ Workloads.allOps.flatMap { op =>
      Seq(s"op.$op.s" -> (per(opSeconds(_, op)), "s", n),
        s"op.$op.jobs" -> (per(opJobs(_, op)), "count", n))
    }
  }

  /** Per span name over the traced timed passes: count, total and self
    * seconds, and the jobs whose innermost span it was. */
  private def selfTime(run: Run, traced: Seq[Pass]): Seq[ListMap[String, Any]] = {
    val ids = traced.map(_.id).toSet
    val spans = run.recorder.spans.filter(s => ids.contains(s.run))
    val jobs = traced.flatMap(attributed(run, _)).flatMap(_._2).groupBy(_.name)
      .map { case (k, v) => k -> v.length }
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      ListMap("span" -> name, "count" -> ss.length,
        "total_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(run.recorder.selfSeconds).sum,
        "jobs" -> jobs.getOrElse(name, 0))
    }.sortBy(m => -m("self_s").asInstanceOf[Double])
  }
}
