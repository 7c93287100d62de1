package graftbench

import graftbench.Harness.{Pass, median}

/** Per-layer metrics of a traced run. Warm figures are medians over the
  * traced warm passes; `.cold` figures come from the single cold pass. */
object Metrics {
  def perLayer(cold: Pass, warm: Seq[Pass], t: Tracer): Seq[(String, Double)] = {
    val none = new Counters
    def group(pass: String, q: String, phase: String): Counters =
      t.counters.getOrElse(s"$pass/$q/$phase", none)
    def jobs(pass: String, q: String): Double =
      (group(pass, q, "construct").jobs + group(pass, q, "execute").jobs).toDouble
    def med(f: Pass => Double): Double = median(warm.map(f))

    val modules = Workloads.modules.flatMap { m =>
      def in(p: Pass) = p.queries.filter(_.module == m)
      Seq(
        s"$m.construct_s.cold" -> in(cold).map(_.constructS).sum,
        s"$m.construct_s.warm" -> med(in(_).map(_.constructS).sum),
        s"$m.execute_s" -> med(in(_).map(_.executeS).sum),
        s"$m.jobs.cold" -> in(cold).map(r => jobs(cold.name, r.query)).sum,
        s"$m.jobs.warm" -> med(p => in(p).map(r => jobs(p.name, r.query)).sum))
    }

    def total(p: Pass): Counters = {
      val c = new Counters
      t.counters.foreach { case (g, v) => if (g.startsWith(p.name + "/")) c += v }
      c
    }
    def busyS(p: Pass): Double = Spans.covered(
      t.jobs.filter(_.group.startsWith(p.name + "/")).map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq,
      p.start, p.end) / 1000
    val engine: Seq[(String, Counters => Double)] = Seq(
      "spark.jobs" -> (_.jobs.toDouble),
      "spark.stages" -> (_.stages.toDouble),
      "spark.tasks" -> (_.tasks.toDouble),
      "spark.failed_tasks" -> (_.failedTasks.toDouble),
      "spark.executor_run_s" -> (_.runMs / 1e3),
      "spark.executor_cpu_s" -> (_.cpuNs / 1e9),
      "spark.gc_s" -> (_.gcMs / 1e3),
      "spark.shuffle_write_bytes" -> (_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> (_.shuffleRead.toDouble),
      "spark.shuffle_fetch_wait_s" -> (_.fetchWaitMs / 1e3),
      "spark.spill_bytes" -> (_.spill.toDouble),
      "spark.result_bytes" -> (_.result.toDouble),
      "spark.output_bytes" -> (_.output.toDouble),
      "sources.input_bytes" -> (_.input.toDouble))
    val spark = engine.map { case (k, f) => k -> med(p => f(total(p))) } ++ Seq(
      "spark.job_busy_s" -> med(busyS),
      "spark.driver_gap_s" -> med(p => p.wallS - busyS(p)))

    val empty = new PlanCounts
    val planOps: Seq[(String, PlanCounts => Long)] = Seq(
      "plan.sql_executions" -> (_.executions),
      "plan.exchanges" -> (_.exchanges),
      "plan.broadcasts" -> (_.broadcasts),
      "plan.smj" -> (_.smj),
      "plan.bhj" -> (_.bhj),
      "plan.windows" -> (_.windows),
      "plan.expands" -> (_.expands))
    val plan = planOps.map { case (k, f) => k -> med(p => f(t.plans.getOrElse(p.name, empty)).toDouble) }

    val perQuery = Workloads.allQueries.flatMap { q =>
      def run(p: Pass) = p.queries.find(_.query == q)
      if (run(cold).isEmpty) Seq(s"q.$q.s" -> 0.0, s"q.$q.jobs" -> 0.0)
      else Seq(s"q.$q.s" -> med(run(_).get.totalS), s"q.$q.jobs" -> med(p => jobs(p.name, q)))
    }
    modules ++ spark ++ plan ++ perQuery
  }
}
