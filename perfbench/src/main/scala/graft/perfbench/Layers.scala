package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers from a traced run. Every workload reports the full
  * list; a layer the workload does not exercise reads 0 (the batch
  * workloads run no stream, the ingest workload no registry query).
  */
object Layers {
  val names: Seq[String] = Seq(
    "operators.build_s", "operators.eager_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compile_s", "codegen.classes",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_s",
    "exec.sched_delay_s", "exec.core_util", "exec.failed_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "cache.frames", "cache.bytes", "cache.release_s", "cache.leaked_frames",
    "capstats.await_s", "capstats.jobs",
    "transport.backlog_segments", "transport.offsets_s", "gen.late_s",
    "stream.batches", "stream.empty_batches", "stream.rows_per_batch", "stream.plan_s", "stream.commit_s",
    "stream.trigger_s",
    "decode.unpack_us",
    "state.rows", "state.bytes", "state.commit_s", "dedup.dropped", "dedup.drop_ratio",
    "sink.upsert_s", "sink.layers_rewritten", "sink.write_amp", "sink.files_max",
    "store.read_s",
    "trace.coverage_min", "trace.untraced_s", "trace.overhead_s", "trace.spans")

  def empty: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Task-level aggregates over the tasks attributed to `spanIds`. */
  final case class TaskAgg(n: Int, busyS: Double, schedS: Double, shW: Long, shR: Long,
      fetchS: Double, spill: Long, failed: Int)

  def tasks(t: Tracer, spanIds: Set[Long]): TaskAgg = {
    val ts = t.tasks.asScala.filter(r => spanIds.contains(r.span)).toSeq
    TaskAgg(ts.size, ts.map(_.runNs).sum / 1e9, ts.map(_.schedDelayNs).sum / 1e9,
      ts.map(_.shuffleWrite).sum, ts.map(_.shuffleRead).sum, ts.map(_.fetchWaitNs).sum / 1e9,
      ts.map(_.spill).sum, ts.count(_.failed))
  }

  val QueryChildren = Set("operators", "catalyst.analysis", "catalyst.optimization",
    "catalyst.planning", "exec", "capstats", "cache")

  /** Batch workloads: every number is a total over one traced pass (each
    * query once), reported as the median over the traced passes.
    */
  def batch(t: Tracer, passes: Seq[(Int, Boolean, Double)], execs: Seq[Exec], cpus: Int,
      cacheFrames: Seq[Int], cacheBytes: Seq[Long], detailPath: String): Map[String, Double] = {
    val all = t.snapshot
    val jobs = t.jobsBySpan
    val byOp = all.groupBy(_.op)
    def pass(op: String): Int = op.substring(op.lastIndexOf('#') + 1).toInt
    val tracedPasses = passes.filter(_._2).map(_._1)
    val untracedPassS = passes.filterNot(_._2).map(_._3)
    val tracedPassS = passes.filter(_._2).map(_._3)

    // per query execution: layer split and coverage
    final case class QSplit(op: String, wall: Double, layers: Map[String, Double], jobs: Map[String, Int],
        stages: Long, agg: TaskAgg, aggAll: TaskAgg, codegenS: Double, codegenN: Long)
    val splits = byOp.toSeq.flatMap { case (op, spans) =>
      spans.find(_.name == "query").map { root =>
        val kids = spans.filter(s => s.parent == root.id && QueryChildren(s.name))
        val layerS = kids.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.secs).sum } ++
          spans.filter(_.name.startsWith("cache.")).groupBy(_.name)
            .map { case (n, ss) => n -> ss.map(_.secs).sum }
        def idsOf(name: String) = spans.filter(_.name == name).map(_.id).toSet
        val jobCount = QueryChildren.map(n => n -> idsOf(n).toSeq.map(i => jobs.getOrElse(i, 0)).sum).toMap +
          ("cache" -> spans.filter(_.name.startsWith("cache")).map(s => jobs.getOrElse(s.id, 0)).sum)
        val execIds = idsOf("exec")
        val stages = execIds.toSeq.map(i => Option(t.stagesBySpan.get(i)).map(_.get).getOrElse(0L)).sum
        QSplit(op, root.secs, layerS, jobCount, stages, tasks(t, execIds),
          tasks(t, spans.map(_.id).toSet), root.codegenNs / 1e9, root.codegenClasses)
      }
    }
    def perPass(f: Seq[QSplit] => Double): Double = {
      val vals = tracedPasses.map(p => f(splits.filter(s => pass(s.op) == p)))
      if (vals.isEmpty) 0.0 else Stats.median(vals)
    }
    def layer(n: String)(ss: Seq[QSplit]) = ss.map(_.layers.getOrElse(n, 0.0)).sum
    val coverage = splits.map(s => QueryChildren.toSeq.map(s.layers.getOrElse(_, 0.0)).sum / s.wall)

    val tracedIdx = tracedPasses.toSet
    val tracedExecs = execs.filter(e => tracedIdx(e.pass))
    val nPerPass = math.max(1, tracedExecs.size / math.max(1, tracedPasses.size))
    def perPassMean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size * nPerPass

    val out = empty ++ Map(
      "operators.build_s" -> perPass(layer("operators")),
      "operators.eager_jobs" -> perPass(_.map(_.jobs("operators").toDouble).sum),
      "catalyst.analysis_s" -> perPass(layer("catalyst.analysis")),
      "catalyst.optimization_s" -> perPass(layer("catalyst.optimization")),
      "catalyst.planning_s" -> perPass(layer("catalyst.planning")),
      "codegen.compile_s" -> perPass(_.map(_.codegenS).sum),
      "codegen.classes" -> perPass(_.map(_.codegenN.toDouble).sum),
      "exec.action_s" -> perPass(layer("exec")),
      "exec.jobs" -> perPass(_.map(_.jobs("exec").toDouble).sum),
      "exec.stages" -> perPass(_.map(_.stages.toDouble).sum),
      "exec.tasks" -> perPass(_.map(_.agg.n.toDouble).sum),
      "exec.task_busy_s" -> perPass(_.map(_.agg.busyS).sum),
      "exec.sched_delay_s" -> perPass(_.map(_.agg.schedS).sum),
      "exec.core_util" -> perPass(ss => ss.map(_.agg.busyS).sum /
        math.max(1e-9, layer("exec")(ss) * cpus)),
      "exec.failed_tasks" -> perPass(_.map(_.aggAll.failed.toDouble).sum),
      "shuffle.write_bytes" -> perPass(_.map(_.aggAll.shW.toDouble).sum),
      "shuffle.read_bytes" -> perPass(_.map(_.aggAll.shR.toDouble).sum),
      "shuffle.fetch_wait_s" -> perPass(_.map(_.aggAll.fetchS).sum),
      "shuffle.spill_bytes" -> perPass(_.map(_.aggAll.spill.toDouble).sum),
      "cache.frames" -> perPassMean(cacheFrames.map(_.toDouble)),
      "cache.bytes" -> perPassMean(cacheBytes.map(_.toDouble)),
      "cache.release_s" -> perPass(layer("cache.release")),
      "cache.leaked_frames" -> (if (execs.isEmpty) 0.0 else execs.map(_.leaked).max.toDouble),
      "capstats.await_s" -> perPass(layer("capstats")),
      "capstats.jobs" -> perPass(_.map(_.jobs("capstats").toDouble).sum),
      "trace.coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      "trace.untraced_s" -> perPass(ss => ss.map(s =>
        s.wall - QueryChildren.toSeq.map(s.layers.getOrElse(_, 0.0)).sum).sum),
      "trace.overhead_s" -> (if (tracedPassS.isEmpty || untracedPassS.isEmpty) 0.0
        else Stats.median(tracedPassS) - Stats.median(untracedPassS)),
      "trace.spans" -> (all.size + t.tasks.size).toDouble)

    // per-query detail for attribution: median over traced executions
    val detail = splits.groupBy(s => s.op.substring(0, s.op.lastIndexOf('#'))).map { case (q, ss) =>
      q -> (Map("wall_s" -> Stats.median(ss.map(_.wall)),
        "coverage" -> ss.map(s => QueryChildren.toSeq.map(s.layers.getOrElse(_, 0.0)).sum / s.wall).min,
        "codegen_s" -> Stats.median(ss.map(_.codegenS)),
        "exec_jobs" -> Stats.median(ss.map(_.jobs("exec").toDouble)),
        "eager_jobs" -> Stats.median(ss.map(_.jobs("operators").toDouble)),
        "capstats_jobs" -> Stats.median(ss.map(_.jobs("capstats").toDouble))) ++
        QueryChildren.toSeq.map(n => s"${n}_s" -> Stats.median(ss.map(_.layers.getOrElse(n, 0.0)))))
    }
    Json.write(detailPath, Map("layers" -> out, "per_query" -> detail))
    out
  }
}
