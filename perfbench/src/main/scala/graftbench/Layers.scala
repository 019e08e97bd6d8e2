package graftbench

/** Per-layer metrics of a traced run, per timed operation. Layers are
  * named after graft's modules: `operators` (the public call that builds
  * the DataFrame), `plans` (analysis, optimisation and physical planning),
  * `Tables` (the parquet scan and its fan-out exchange), `exec` (tasks),
  * `shuffle` and `sources` (the write path and pruned read-backs).
  */
final class Layers(val metrics: Seq[(String, (Double, String))],
    val selfMs: Map[String, Double], val fanoutByTable: Map[String, Double])

object Layers {
  def apply(t: Tracer, timed: Seq[Rec], latencies: Seq[Double], cores: Int,
      passWalls: Seq[Double]): Layers = {
    val ops = timed.map(_.seq).toSet
    val spans = t.spans.filter(s => ops.contains(s.op))
    val byOp = spans.groupBy(_.op)
    val n = math.max(1, ops.size).toDouble
    def kind(k: String) = spans.filter(_.kind == k)
    def sumAttr(a: String) = kind("stage").map(_.attrs.getOrElse(a, 0.0)).sum
    def perOp(x: Double) = x / n

    val construct = kind("construct")
    val constructJobs = kind("job").count(_.parent.endsWith(".construct"))
    val facts = timed.flatMap(r => t.plans.getOrElse(r.seq, Nil))
    val planMs = kind("plan").map(_.dur).sum
    val executeMs = kind("execute").map(_.dur).sum
    val busyMs = sumAttr("busy_ms")
    // Skew of each operation's slowest stage: max over median task time.
    val skews = byOp.values.flatMap { s =>
      val stages = s.filter(x => x.kind == "stage" && x.attrs.getOrElse("task_median_ms", 0.0) > 0)
      if (stages.isEmpty) None
      else {
        val slow = stages.maxBy(_.dur)
        Some(slow.attrs("task_max_ms") / slow.attrs("task_median_ms"))
      }
    }.toSeq
    val writes = timed.filter(r => r.op.write.nonEmpty)
    val writeMs = writes.flatMap(r => byOp.getOrElse(r.seq, Nil).filter(_.kind == "execute"))
      .map(_.dur).sum
    val readBacks = timed.filter(r => r.op.write.isEmpty && r.op.writtenPath.nonEmpty)
    val readFrac = readBacks.flatMap { r =>
      val read = t.plans.getOrElse(r.seq, Nil).map(_.scanFileBytes).sum.toDouble
      if (r.tableBytes > 0) Some(read / r.tableBytes) else None
    }
    val fanout = facts.flatMap(_.fanout.toSeq).groupBy(_._1)
      .map { case (table, xs) => table -> perOp(xs.map(_._2).sum.toDouble) }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    val metrics = Seq(
      "operators.construct_ms" -> ((perOp(construct.map(_.dur).sum), "ms/op")),
      "operators.construct_jobs" -> (perOp(constructJobs), "jobs/op"),
      "plans.plan_ms" -> ((perOp(planMs), "ms/op")),
      "plans.exchanges" -> (perOp(facts.map(_.exchanges).sum), "exch/op"),
      "Tables.scan_bytes" -> ((perOp(facts.map(_.scanFileBytes).sum.toDouble), "B/op")),
      "Tables.scan_rows" -> (perOp(sumAttr("scan_rows")), "rows/op"),
      "Tables.scan_tasks" -> ((perOp(sumAttr("scan_tasks")), "tasks/op")),
      "Tables.fanout_exchanges" -> (fanout.values.sum, "exch/op"),
      "exec.tasks" -> ((perOp(sumAttr("tasks")), "tasks/op")),
      "exec.task_busy_s" -> (perOp(busyMs) / 1000, "s/op"),
      "exec.task_cpu_s" -> ((perOp(sumAttr("cpu_ms")) / 1000, "s/op")),
      "exec.core_util" -> (if (executeMs > 0) busyMs / (executeMs * cores) else 0.0, "ratio"),
      "exec.task_skew" -> ((Stats.quantile(skews, 0.5), "ratio")),
      "exec.gc_s" -> (perOp(sumAttr("gc_ms")) / 1000, "s/op"),
      "shuffle.write_bytes" -> ((perOp(sumAttr("shuffle_write_bytes")), "B/op")),
      "shuffle.records" -> (perOp(sumAttr("shuffle_records")), "rows/op"),
      "shuffle.fetch_wait_ms" -> ((perOp(sumAttr("fetch_wait_ms")), "ms/op")),
      "shuffle.spill_bytes" -> (perOp(sumAttr("spill_bytes")), "B/op"),
      "sources.write_ms" -> ((if (writes.isEmpty) 0.0 else writeMs / writes.size, "ms/write")),
      "sources.write_bytes" -> (mean(writes.map(_.tableBytes.toDouble)), "B/write"),
      "sources.write_files" -> ((mean(writes.map(_.tableFiles.toDouble)), "files/write")),
      "sources.read_frac" -> (mean(readFrac), "ratio"),
      "trace.op_p50_ms" -> ((Stats.quantile(latencies, 0.5), "ms")),
      "trace.pass_s" -> (Stats.quantile(passWalls, 0.5), "s"))

    // Self time: a span's duration minus the part its children cover.
    val children = spans.groupBy(_.parent)
    val selfMs = spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => s.dur - Tracer.covered(s.start, s.end,
        children.get(s.id).map(_.toSeq).getOrElse(Nil).map(c => (c.start, c.end)))).sum
    }
    new Layers(metrics, selfMs, fanout)
  }
}
