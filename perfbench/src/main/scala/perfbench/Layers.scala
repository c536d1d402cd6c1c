package perfbench

/** Per-layer metrics from a traced run: each metric is computed per traced
  * iteration from its spans and the job-group statistics, then reduced to
  * the median over iterations. Jobs are attributed to the innermost span
  * open when they were submitted, so `construct` counts the jobs that run
  * while a DataFrame is being built and `exec` those of the sink action. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def report(t: Tracer, wl: Workload, cores: Int, samples: Seq[Double],
             checks: Map[String, Any]): Map[String, Double] = {
    val iters = t.spans.filter(_.name == "iteration").map(_.iter).distinct.toSeq
    val perIter = iters.map(it => iteration(t, wl, cores, t.spans.filter(_.iter == it).toSeq))
    val names = perIter.flatMap(_.keys).distinct
    val medians = names.map(n => n -> median(perIter.flatMap(_.get(n)))).toMap
    val extra = wl.layerSamples.map { case (k, v) => k -> median(v.toSeq) }
    val probes = t.spans.filter(s => s.iter == "probe" && s.name.startsWith("stage:")).map { s =>
      val ex = t.children(s).filter(_.name == "extract").map(_.seconds).sum
      s"transform.${s.name.stripPrefix("stage:")}_s" -> (s.seconds - ex)
    }.toMap
    val rows = Seq("clean_wiki_rows", "clean_kaggle_rows", "join_movies_rows", "output_rows")
      .flatMap(k => checks.get(k).map(v => s"transform.$k" -> v.asInstanceOf[Long].toDouble))
    val extractRows = checks.get("extract_rows").map(_.asInstanceOf[Map[String, Long]].values.sum)
      .getOrElse(0L).toDouble
    medians ++ extra ++ probes ++ rows ++ Map(
      "extract.rows" -> extractRows,
      "exec.unsettled_reads" -> t.unsettled.toDouble)
  }

  private def iteration(t: Tracer, wl: Workload, cores: Int, ss: Seq[Span]): Map[String, Double] = {
    def named(p: String => Boolean) = ss.filter(s => p(s.name))
    val constructs = named(n => n == "construct" || n.startsWith("construct:"))
    val execs = named(_ == "exec")
    val cst = constructs.map(t.stats)
    val est = execs.map(t.stats)
    val execS = execs.map(_.seconds).sum
    val runMs = est.map(_.runMs).sum.toDouble
    // max over median task time in the longest-running stage of the sinks
    val longest = est.flatMap(g => g.stageWallMs.toSeq.map { case (id, w) =>
      (w, g.stageTasks.getOrElse(id, Nil).map(_.toDouble).toSeq) }).maxByOption(_._1)
    val skew = longest.filter(_._2.nonEmpty)
      .map { case (_, ts) => ts.max / math.max(1.0, median(ts)) }.getOrElse(0.0)
    val extracts = named(_ == "extract").flatMap(t.descendants)
    def extractS(n: String) = extracts.filter(_.name == s"construct:$n").map(_.seconds).sum
    val loads = named(_ == "load")
    val loadS = loads.map(_.seconds).sum
    val queries = named(_.startsWith("query:")).flatMap { q =>
      val label = q.name.stripPrefix("query:")
      val st = (q +: t.descendants(q)).map(t.stats)
      Seq(s"query.$label.s" -> q.seconds,
        s"query.$label.jobs" -> st.map(_.jobs).sum.toDouble,
        s"query.$label.tasks" -> st.map(_.tasks).sum.toDouble)
    }
    Map(
      "construct.s" -> constructs.map(_.seconds).sum,
      "construct.jobs" -> cst.map(_.jobs).sum.toDouble,
      "construct.tasks" -> cst.map(_.tasks).sum.toDouble,
      "plan.s" -> named(_ == "plan").map(_.seconds).sum,
      "exec.s" -> execS,
      "exec.jobs" -> est.map(_.jobs).sum.toDouble,
      "exec.stages" -> est.map(_.stages).sum.toDouble,
      "exec.tasks" -> est.map(_.tasks).sum.toDouble,
      "exec.task_run_ms" -> runMs,
      "exec.task_cpu_ms" -> est.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> est.map(_.gcMs).sum.toDouble,
      "exec.shuffle_read_bytes" -> est.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> est.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> est.map(_.spill).sum.toDouble,
      "exec.peak_exec_mem_mb" -> est.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
      "exec.task_skew" -> skew,
      "exec.core_util" -> (if (execS > 0) runMs / (execS * 1000.0 * cores) else 0.0),
      "extract.wiki_s" -> extractS("wiki"),
      "extract.kaggle_s" -> extractS("kaggle"),
      "extract.ratings_s" -> extractS("ratings"),
      "extract.infer_jobs" -> extracts.map(t.stats(_).jobs).sum.toDouble,
      "load.s" -> loadS,
      "load.rows_per_s" -> (if (loadS > 0) wl.loadRows / loadS else 0.0),
      "load.tasks" -> loads.flatMap(t.descendants).map(t.stats(_).tasks).sum.toDouble
    ) ++ queries
  }
}
