package graft.perfbench

/** Per-layer numbers of the traced run, computed from the spans the
  * benchmark recorded around its own calls and the Spark work the listener
  * attributed to them. "Per op" is per request (serve) or per family micro-batch
  * (maintain). */
object Layers {
  val Names = Seq("bench", "queries", "spark", "streaming", "operators")

  def report(res: Result, w: Main.Workload, t: Tracer, l: JobListener,
      loop: Main.Loop, cpus: Int): Unit = {
    val all = t.spans
    val self = t.selfNs(all)
    val inLoop = all.filter(_.req > 0)
    val inSetup = all.filter(_.req == 0)
    val ops = math.max(1, inLoop.map(_.req).distinct.size).toDouble
    val work = inLoop.flatMap(s => l.workOf(s.id))
    def perOp(f: Work => Double): Double = work.map(f).sum / ops
    def durMs(s: Span): Double = (s.end - s.start) / 1e6
    def jobs(s: Span): Long = l.workOf(s.id).map(_.jobs).getOrElse(0L)

    // construction of the DataFrame an operation returns: a SparkEntry
    // query's (serve) or the maintenance probe's (maintain)
    val construct = inLoop.filter(s => s.name == "construct" || (s.layer == "streaming" && s.name == "probe"))
    res.num("queries.construct_ms", construct.map(durMs).sum / ops)
    res.num("queries.construct_jobs", construct.map(jobs).sum / ops)
    res.num("spark.plan_ms", inLoop.filter(_.name == "plan").map(durMs).sum / ops)
    res.num("spark.exec_ms", inLoop.filter(_.name == "exec").map(durMs).sum / ops)
    res.num("spark.jobs_per_op", perOp(_.jobs.toDouble))
    res.num("spark.stages_per_op", perOp(_.stages.toDouble))
    res.num("spark.tasks_per_op", perOp(_.tasks.toDouble))
    res.num("spark.sched_delay_ms", perOp(_.schedDelayMs.toDouble))
    res.num("spark.task_cpu_s", perOp(_.cpuNs / 1e9))
    res.num("spark.core_util", work.map(_.runMs).sum / (loop.seconds * 1e3 * cpus))
    res.num("spark.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble))
    res.num("spark.spill_bytes", perOp(_.spill.toDouble))
    res.num("spark.unattributed_jobs", l.unattributed)

    res.num("operators.session_share.zero_job_construct_ratio",
      if (construct.isEmpty) 0.0 else construct.count(jobs(_) == 0).toDouble / construct.size)
    // index builds in the traced set-up: the first construction of each
    // served query (it builds the index), or each family's base build
    val built = inSetup.filter(s => s.name == "construct" || s.name.startsWith("build:") && s.layer == "operators")
    res.num("operators.persisted_index.build_s", built.map(durMs).sum / 1e3)

    // each layer's share of the operations' time, by self time
    val opNs = inLoop.filter(_.parent < 0).map(s => (s.end - s.start).toDouble).sum
    Names.foreach { layer =>
      res.num(s"self_share.$layer", inLoop.filter(_.layer == layer).map(s => self(s.id)).sum / opNs)
    }

    // the maintain loop's own maintenance timings and counts; on serve the
    // kernel section times one maintenance cycle instead
    w match {
      case m: Main.Maintain =>
        def ratio(a: Long, b: Long, scale: Double) = if (b == 0) 0.0 else a / scale / b
        res.num("streaming.land_ms", ratio(m.landNs.get, m.lands.get, 1e6))
        res.num("streaming.fold_s", ratio(m.foldNs.get, m.folds.get, 1e9))
        res.num("streaming.probe_ms", ratio(m.probeNs.get, m.probes.get, 1e6))
        res.num("streaming.folds", m.folds.get)
        res.num("streaming.segments_at_probe", ratio(m.segmentsAtProbe.get, m.probes.get, 1.0))
      case _ =>
        Seq("folds", "segments_at_probe", "bytes_written", "write_amp", "space_amp")
          .foreach(k => res.num(s"streaming.$k", 0))
    }
  }
}
