package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.functions.MsgPack

/** Per-layer numbers of the traced ingest run. Stream numbers are means per
  * traced micro-batch; the progress phases of each batch are recorded as
  * spans next to the sink spans timed inside foreachBatch.
  */
object IngestLayers {
  def apply(t: Tracer, reports: Seq[StreamingQueryProgress], c: IngestConf,
      fileStats: Map[Long, Seq[(String, Long, Long)]], fileBatch: Map[String, Long],
      paced: Seq[Segment], rounds: Seq[Seq[Segment]], roundS: Seq[(Boolean, Double)],
      reads: Seq[Double], late: Seq[Double],
      publishedAt: Map[String, Long], commitUs: Map[Long, Long],
      routed: Set[String]): Map[String, Double] = {
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0)

    // MsgPack.unpack on the driver over one catch-up round's messages
    val msgs = rounds.head.flatMap(_.msgs).map(_.bytes)
    val unpackUs = (0 until 3).map { r =>
      val (_, s) = Main.time(t.span("decode.unpack", s"unpack$r")(msgs.foreach(MsgPack.unpack)))
      s * 1e6 / msgs.size
    }

    val spans = t.snapshot
    val sinkByBatch = spans.filter(_.name == "sink").map(s => s.op.stripPrefix("batch").toLong -> s).toMap
    val statsByBatch = spans.filter(_.name == "sink.stats").map(s => s.op.stripPrefix("batch").toLong -> s).toMap
    val traced = reports.filter(p => p.numInputRows > 0 && sinkByBatch.contains(p.batchId))
      .sortBy(_.batchId)

    // progress phases as spans, so every batch has its layer split on record
    traced.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val t0 = start.getEpochSecond * 1000000000L + start.getNano
      val op = s"batch${p.batchId}"
      val root = t.record("stream.trigger", op, 0L, t0, t0 + (dur(p, "triggerExecution") * 1e9).toLong)
      var at = t0
      Seq("transport.offsets" -> (dur(p, "latestOffset") + dur(p, "getBatch")),
        "stream.plan" -> dur(p, "queryPlanning"),
        "stream.commit" -> (dur(p, "walCommit") + dur(p, "commitOffsets"))).foreach { case (n, s) =>
        val end = at + (s * 1e9).toLong
        t.record(n, op, root, at, end)
        at = end
      }
    }
    def covered(p: StreamingQueryProgress): Double =
      dur(p, "latestOffset") + dur(p, "getBatch") + dur(p, "queryPlanning") + dur(p, "walCommit") +
        dur(p, "commitOffsets") + sinkByBatch(p.batchId).secs +
        statsByBatch.get(p.batchId).map(_.secs).getOrElse(0.0)
    val coverage = traced.map(p => covered(p) / math.max(1e-9, dur(p, "triggerExecution")))

    // sink: layers rewritten and bytes written per batch, from the file stats
    val segBytes = (paced ++ rounds.flatten).map(s => s.name -> s.bytes).toMap
    val deliveredBytes = fileBatch.toSeq.groupBy(_._2).map { case (b, fs) =>
      b -> fs.map(f => segBytes.getOrElse(f._1, 0L)).sum }
    val statIds = fileStats.keys.toSeq.sorted
    val rewrites = statIds.zip(statIds.drop(1)).map { case (prev, cur) =>
      val before = fileStats(prev).map(x => x._1 -> (x._2, x._3)).toMap
      val changed = fileStats(cur).filter(x => !before.get(x._1).contains((x._2, x._3)))
      cur -> (changed.size, changed.map(_._3).sum)
    }.toMap
    val ampBatches = rewrites.keys.filter(deliveredBytes.contains)

    // transport backlog: segments published but not yet committed at each commit
    val pubBatch = paced.flatMap(s => for (p <- publishedAt.get(s.name); b <- fileBatch.get(s.name)) yield (p, b))
    val backlog = traced.filter(p => commitUs.contains(p.batchId)).map { p =>
      val at = commitUs(p.batchId)
      pubBatch.count { case (pub, b) => pub <= at && b > p.batchId }.toDouble
    }

    val state = traced.flatMap(_.stateOperators.headOption)
    val allState = reports.flatMap(_.stateOperators.headOption)
    val dropped = allState.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.toDouble).getOrElse(0.0)).sum
    val retransmits = (paced ++ rounds.flatten).filter(s => publishedAt.contains(s.name))
      .flatMap(_.msgs).count(m => m.retransmit && routed(m.layer))

    val jobs = t.jobsBySpan
    val sinkIds = traced.map(p => sinkByBatch(p.batchId).id).toSet
    val agg = Layers.tasks(t, sinkIds)
    val n = math.max(1, traced.size)
    val tracedRounds = roundS.filter(_._1).map(_._2)
    val untracedRounds = roundS.filterNot(_._1).map(_._2)
    val sinkS = traced.map(p => sinkByBatch(p.batchId).secs)

    Layers.empty ++ Map(
      "codegen.compile_s" -> traced.map(p => sinkByBatch(p.batchId).codegenNs / 1e9).sum / n,
      "codegen.classes" -> traced.map(p => sinkByBatch(p.batchId).codegenClasses.toDouble).sum / n,
      "exec.action_s" -> mean(sinkS),
      "exec.jobs" -> sinkIds.toSeq.map(i => jobs.getOrElse(i, 0).toDouble).sum / n,
      "exec.stages" -> sinkIds.toSeq.map(i => Option(t.stagesBySpan.get(i)).map(_.get.toDouble)
        .getOrElse(0.0)).sum / n,
      "exec.tasks" -> agg.n.toDouble / n,
      "exec.task_busy_s" -> agg.busyS / n,
      "exec.sched_delay_s" -> agg.schedS / n,
      "exec.core_util" -> agg.busyS / math.max(1e-9, sinkS.sum * c.cpus),
      "exec.failed_tasks" -> agg.failed.toDouble,
      "shuffle.write_bytes" -> agg.shW.toDouble / n,
      "shuffle.read_bytes" -> agg.shR.toDouble / n,
      "shuffle.fetch_wait_s" -> agg.fetchS / n,
      "shuffle.spill_bytes" -> agg.spill.toDouble / n,
      "transport.backlog_segments" -> mean(backlog),
      "transport.offsets_s" -> mean(traced.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))),
      "gen.late_s" -> (if (late.isEmpty) 0.0 else late.max),
      "stream.batches" -> traced.size.toDouble,
      // batches without input that the watermark schedules after data batches
      "stream.empty_batches" -> reports.count(p => p.numInputRows == 0 &&
        p.batchId > traced.head.batchId && p.batchId < traced.last.batchId).toDouble,
      "stream.rows_per_batch" -> mean(traced.map(_.numInputRows.toDouble)),
      "stream.plan_s" -> mean(traced.map(dur(_, "queryPlanning"))),
      "stream.commit_s" -> mean(traced.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "stream.trigger_s" -> mean(traced.map(dur(_, "triggerExecution"))),
      "decode.unpack_us" -> Stats.median(unpackUs),
      "state.rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_s" -> mean(state.map(_.commitTimeMs / 1000.0)),
      "dedup.dropped" -> dropped,
      "dedup.drop_ratio" -> (if (retransmits == 0) 0.0 else dropped / retransmits),
      "sink.upsert_s" -> mean(sinkS),
      "sink.layers_rewritten" -> mean(rewrites.values.map(_._1.toDouble)),
      "sink.write_amp" -> (if (ampBatches.isEmpty) 0.0
        else ampBatches.toSeq.map(b => rewrites(b)._2.toDouble).sum /
          math.max(1.0, ampBatches.toSeq.map(deliveredBytes(_).toDouble).sum)),
      "sink.files_max" -> (if (fileStats.isEmpty) 0.0 else fileStats.values.flatten.map(_._2.toDouble).max),
      "store.read_s" -> (if (reads.isEmpty) 0.0 else Stats.median(reads)),
      "trace.coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      "trace.untraced_s" -> mean(traced.map(p => dur(p, "triggerExecution") - covered(p))),
      "trace.overhead_s" -> (if (tracedRounds.isEmpty || untracedRounds.isEmpty) 0.0
        else Stats.median(tracedRounds) - Stats.median(untracedRounds)),
      "trace.spans" -> (t.snapshot.size + t.tasks.size).toDouble)
  }
}
