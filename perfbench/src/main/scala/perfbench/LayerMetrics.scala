package perfbench

/** Per-layer metrics of a traced run: medians over its traced calls. */
object LayerMetrics {

  /** (name, value, unit) rows; every name appears on every workload, at
    * zero where the workload does not reach the layer. */
  def apply(w: Workload, traced: Seq[Main.Traced], untracedTimes: Seq[Double],
      leakBytes: Double, leakDirs: Double, heapPeakMb: Double,
      heapLiveMb: Double): Seq[(String, Double, String)] = {
    def med(f: Main.Traced => Double): Double =
      if (traced.isEmpty) Double.NaN else Stats.median(traced.map(f))
    def spanSeconds(t: Main.Traced, name: String, probes: Boolean = false): Double =
      (if (probes) t.probeSpans else t.spans).filter(_.name == name).map(_.seconds).sum
    def jobsOf(t: Main.Traced, layer: String) = t.jobs.filter(_.layer == layer)

    val layerRows = Layers.all.flatMap { l =>
      Seq(
        (s"$l.jobs", med(t => jobsOf(t, l).size.toDouble), "count"),
        (s"$l.tasks", med(t => jobsOf(t, l).map(_.tasks).sum.toDouble), "count"),
        (s"$l.task_s", med(t => jobsOf(t, l).map(_.runMs).sum / 1e3), "s"),
        (s"$l.shuffle_bytes", med(t => jobsOf(t, l).map(_.shuffleBytes).sum.toDouble), "bytes"))
    }
    val evaluateSelf = med { t =>
      t.spans.filter(_.name == "evaluate").map(s => Tracer.selfSeconds(s, t.spans, t.jobs)).sum
    }
    val spanRows = Seq(
      ("stats.s", med(t => spanSeconds(t, "stats", probes = true)), "s"),
      ("rank.s", med(t => spanSeconds(t, "rank", probes = true)), "s"),
      ("evaluate.s", med(t => spanSeconds(t, "evaluate")), "s"),
      ("evaluate.self_s", evaluateSelf, "s"),
      ("result.s", med(t => spanSeconds(t, "result")), "s"),
      ("staged.evaluate_s", med(t => spanSeconds(t, "staged.evaluate")), "s"),
      // jobs run inside the staged evaluation itself: statistics, emptiness
      // checks and top-N cutoffs over the persisted stages
      ("staged.materialize_s", med(t => t.spans.filter(_.name == "staged.evaluate")
        .map(s => s.seconds - Tracer.selfSeconds(s, t.spans, t.jobs)).sum), "s"),
      ("staged.unpersist_s", med(t => spanSeconds(t, "staged.unpersist")), "s"),
      ("catalyst.plan_ms", med(_.planMs.toDouble), "ms"))
    val sparkRows = Seq(
      ("spark.jobs", med(_.jobs.size.toDouble), "count"),
      ("spark.stages", med(_.jobs.map(_.stages).sum.toDouble), "count"),
      ("spark.tasks", med(_.jobs.map(_.tasks).sum.toDouble), "count"),
      ("spark.task_s", med(_.jobs.map(_.runMs).sum / 1e3), "s"),
      ("spark.sched_delay_s", med(_.jobs.map(_.schedMs).sum / 1e3), "s"),
      ("spark.gc_s", med(_.jobs.map(_.gcMs).sum / 1e3), "s"),
      ("spark.shuffle_bytes", med(_.jobs.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("spark.spill_bytes", med(_.jobs.map(_.spillBytes).sum.toDouble), "bytes"),
      ("spark.failed_tasks", med(_.jobs.map(_.failedTasks).sum.toDouble), "count"),
      ("spark.result_bytes", med(_.jobs.map(_.resultBytes).sum.toDouble), "bytes"),
      ("spark.input_passes", med(t => t.scanRows.toDouble / math.max(t.rows, 1L)), "ratio"))
    val first = w match {
      case r: RegistryLight => r.firstSeconds.toMap
      case _                => Map.empty[String, Double]
    }
    val queryRows = RegistryLight.queries.flatMap { q =>
      val mine = traced.filter(_.spans.exists(_.name == s"query.$q"))
      def qmed(f: Main.Traced => Double) = if (mine.isEmpty) 0.0 else Stats.median(mine.map(f))
      Seq(
        (s"query.$q.s", qmed(t => spanSeconds(t, s"query.$q")), "s"),
        (s"query.$q.jobs", qmed(_.jobs.size.toDouble), "count"),
        (s"query.$q.first_s", first.getOrElse(q, 0.0), "s"))
    }
    val tracedP50 = Stats.median(traced.map(_.seconds))
    val other = Seq(
      ("checkpoint.bytes_after", leakBytes, "bytes"),
      ("tmp.dirs_after", leakDirs, "count"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("jvm.heap_live_mb", heapLiveMb, "MB"),
      ("trace.overhead_s", tracedP50 - Stats.median(untracedTimes), "s"))
    (layerRows ++ spanRows ++ sparkRows ++ queryRows ++ other).map {
      case (n, v, u) => (n, if (v.isNaN) 0.0 else v, u)
    }
  }
}
