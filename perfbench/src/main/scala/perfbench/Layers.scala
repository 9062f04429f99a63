package perfbench

/** Per-layer metrics of a traced run, from its spans, the listener's
  * counters and the probe figures. Pass-scoped layers (`operators`, and
  * `mr` on relational_mr) are reported per traced pass; probe layers per
  * call; `streaming` per ingest step. */
object Layers {
  private val Mb = 1048576.0

  def metrics(tr: Tracer, tracedPasses: Int, workload: String, probes: Probes.Result,
      ingestOwn: Option[IngestStats] = None): Json = {
    val out = new Json
    def of(layer: String) = tr.spans.filter(_.layer == layer).toSeq
    def sum(ss: Seq[Span]): Counters = { val c = new Counters; ss.foreach(s => c.add(s.counters)); c }
    def secs(ss: Seq[Span]): Double = ss.map(_.seconds).sum
    def mean(ss: Seq[Span]): Double = if (ss.isEmpty) 0.0 else secs(ss) / ss.size
    def named(ss: Seq[Span], n: String) = ss.filter(_.name == n)
    val cores = graft.GraftSession.cpus

    // operators: the workload's catalog queries, split build / plan / exec
    val ops = of("operators")
    val n = math.max(1, tracedPasses).toDouble
    val oc = sum(ops)
    val build = ops.filter(_.name.endsWith(".build"))
    val wall = secs(ops)
    out.num("operators.build_s", secs(build) / n)
    out.num("operators.plan_s", secs(ops.filter(_.name.endsWith(".plan"))) / n)
    out.num("operators.exec_s", secs(ops.filter(_.name.endsWith(".exec"))) / n)
    out.num("operators.pins", Pins.pins / n)
    out.num("operators.pin_mb", Pins.pinnedBytes / Mb / n)
    out.num("operators.jobs", oc.jobs / n)
    out.num("operators.stages", oc.stages / n)
    out.num("operators.tasks", oc.tasks / n)
    out.num("operators.tasks_per_stage", if (oc.stages == 0) 0.0 else oc.tasks.toDouble / oc.stages)
    out.num("operators.task_s", oc.taskMs / 1e3 / n)
    out.num("operators.task_cpu_s", oc.cpuNs / 1e9 / n)
    out.num("operators.gc_s", oc.gcMs / 1e3 / n)
    out.num("operators.idle_slot_share", if (wall == 0) 0.0 else 1 - oc.taskMs / 1e3 / (wall * cores))
    out.num("operators.input_mb", oc.inputBytes / Mb / n)
    out.num("operators.shuffle_write_mb", oc.shuffleWriteBytes / Mb / n)
    out.num("operators.shuffle_read_mb", oc.shuffleReadBytes / Mb / n)
    out.num("operators.spill_mb", oc.spillBytes / Mb / n)
    out.num("operators.failed_tasks", oc.failedTasks / n)
    out.num("operators.compiles", ops.map(_.compiles).sum / n)
    out.num("operators.compile_s", ops.map(_.compileNs).sum / 1e9 / n)

    probes.values.toSeq.sortBy(_._1).filter(_._1.startsWith("functions.")).foreach {
      case (k, v) => out.num(k, v)
    }

    val dd = of("dedup")
    out.num("dedup.near_dup_s", mean(named(dd, "near_dup")))
    out.num("dedup.components_s", mean(named(dd, "components")))
    out.num("dedup.wjoin_s", mean(named(dd, "wjoin")))
    out.num("dedup.pair_yield", probes.values("dedup.pair_yield"))
    out.num("dedup.jobs", sum(dd).jobs.toDouble)
    out.num("dedup.task_s", sum(dd).taskMs / 1e3)
    out.num("dedup.compiles", dd.map(_.compiles).sum.toDouble)

    val sim = of("similarity")
    out.num("similarity.near_dup_s", mean(named(sim, "near_dup")))
    out.num("similarity.topk_s", mean(named(sim, "topk")))
    out.num("similarity.jobs", sum(sim).jobs.toDouble)
    out.num("similarity.task_s", sum(sim).taskMs / 1e3)

    val g = of("graph")
    out.num("graph.hops_s", mean(named(g, "hops")))
    out.num("graph.ppr_s", mean(named(g, "ppr")))
    out.num("graph.jobs", sum(g).jobs.toDouble)
    out.num("graph.task_s", sum(g).taskMs / 1e3)

    val t = of("textops")
    out.num("textops.tokens_s", mean(t))
    out.num("textops.jobs", sum(t).jobs.toDouble)
    out.num("textops.task_s", sum(t).taskMs / 1e3)

    val mm = of("multimodal")
    out.num("multimodal.features_s", mean(mm))
    out.num("multimodal.task_s", sum(mm).taskMs / 1e3)

    // mr: per wc+indexer round (one per traced pass, or one probe round)
    val mr = of("mr")
    val rounds = math.max(1, named(mr, "mr_wc").size).toDouble
    val mc = sum(mr)
    out.num("mr.wc_s", mean(named(mr, "mr_wc")))
    out.num("mr.indexer_s", mean(named(mr, "mr_indexer")))
    out.num("mr.map_records", mc.shuffleWriteRecords / rounds)
    out.num("mr.jobs", mc.jobs / rounds)
    out.num("mr.tasks", mc.tasks / rounds)
    out.num("mr.task_s", mc.taskMs / 1e3 / rounds)
    out.num("mr.shuffle_write_mb", mc.shuffleWriteBytes / Mb / rounds)
    out.num("mr.spill_mb", mc.spillBytes / Mb / rounds)
    out.num("mr.compiles", mr.map(_.compiles).sum / rounds)

    val kv = of("kv")
    out.num("kv.replay_s", mean(kv))
    out.num("kv.jobs", sum(kv).jobs.toDouble)
    out.num("kv.task_s", sum(kv).taskMs / 1e3)

    // streaming: traced steps' spans, plus both streaming queries' own
    // job groups over every step of the stream
    val st = of("streaming")
    val is = ingestOwn.orElse(probes.ingest).get
    val steps = math.max(1, is.steps).toDouble
    val loads = named(st, "load")
    val sc = sum(loads); sc.add(is.streams)
    val tracedSteps = math.max(1, named(st, "dedup_batch").size).toDouble
    out.num("streaming.dedup_batch_s", mean(named(st, "dedup_batch")))
    out.num("streaming.upsert_s", mean(named(st, "upsert")))
    out.num("streaming.compact_s", is.compactS / steps)
    out.num("streaming.write_amp", is.writeAmp)
    out.num("streaming.store_mb", is.storeMb)
    out.num("streaming.jobs", is.streams.jobs / steps + sum(loads).jobs / tracedSteps)
    out.num("streaming.task_s", is.streams.taskMs / 1e3 / steps + sum(loads).taskMs / 1e3 / tracedSteps)
    out.num("streaming.shuffle_write_mb", sc.shuffleWriteBytes / Mb / steps)
    out.num("streaming.compiles", st.map(_.compiles).sum / tracedSteps)
    out.num("streaming.load_s", mean(loads))
    out.num("streaming.files_per_read", is.filesPerRead)
    out
  }
}
