package graft.perfbench

/** Per-layer metrics from a traced run's spans. Times are seconds summed
  * over the traced operations; `*_s` of a named call is inclusive (the
  * call and everything under it), `<layer>.self_s` is the layer's self
  * time and `<layer>.incl_s` the time in which any of its spans is open.
  */
object Layers {

  val Derived = Set("runtime.job", "plans.analysis", "plans.optimize", "plans.physical")

  val Names: Seq[String] = Seq("bench", "sources", "table", "plans", "runtime", "dedup", "text", "similarity")

  def metrics(spans: IndexedSeq[Span], cores: Int): Seq[(String, Double, String)] = {
    val self = Trace.selfTimes(spans)
    def matches(s: Span, prefix: String) = s.name == prefix || s.name.startsWith(prefix + ".")
    def real(prefix: String) = spans.filter(s => !Derived(s.name) && matches(s, prefix))
    def incl(prefix: String): Double = real(prefix).map(_.dur).sum / 1e9
    def counter(spansOf: Seq[Span], k: String): Double = spansOf.map(_.counters.getOrElse(k, 0.0)).sum
    def under(s: Span, prefix: String): Boolean =
      Iterator.iterate(s.parent)(p => if (p < 0) -1 else spans(p).parent).takeWhile(_ >= 0)
        .exists(p => matches(spans(p), prefix))
    val jobs = spans.filter(_.name == "runtime.job")
    def jobsUnder(prefix: String) = jobs.filter(under(_, prefix))
    def jobSecs(js: Seq[Span]): Double = js.map(_.dur).sum / 1e9
    def siteSecs(prefix: String, file: String) = jobSecs(jobsUnder(prefix).filter(_.site.contains(file)))
    def phase(n: String) = spans.filter(_.name == n).map(_.dur).sum / 1e9
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def activeSecs(ss: Seq[Span]): Double =
      ss.groupBy(_.op).values.map(xs => Trace.covered(xs.map(x => (x.start, x.end)))).sum / 1e9
    val executeS = activeSecs(jobs)
    val all = spans.toSeq
    val busy = counter(all, "task_busy_ms") / 1e3
    val writeRoots = Seq("bench.op.write_arrowipc", "bench.op.write_dsv2").flatMap(real)
    def readFrac(kind: String) = ratio(counter(real(s"sources.$kind"), "body_bytes_read"),
      counter(real(s"sources.$kind"), "store_bytes"))
    val bySelf = Names.map(l => l -> spans.indices.filter(i => spans(i).layer == l).map(self).sum / 1e9)
    // a layer's inclusive time: when any of its spans is open
    val byIncl = Names.map(l => l -> activeSecs(spans.filter(_.layer == l)))
    Seq(
      ("sources.write_s", incl("sources.write"), "s"),
      ("sources.files_written", counter(writeRoots, "files_written"), "count"),
      ("sources.write_bytes", counter(writeRoots, "write_bytes"), "bytes"),
      ("sources.read_full_s", incl("sources.read_full"), "s"),
      ("sources.read_pruned_s", incl("sources.read_pruned"), "s"),
      ("sources.read_filtered_s", incl("sources.read_filtered"), "s"),
      ("sources.read_dsv2_s", incl("sources.read_dsv2"), "s"),
      ("sources.body_bytes_read", counter(all, "body_bytes_read"), "bytes"),
      ("sources.read_bytes_frac.full", readFrac("read_full"), "ratio"),
      ("sources.read_bytes_frac.pruned", readFrac("read_pruned"), "ratio"),
      ("sources.read_bytes_frac.filtered", readFrac("read_filtered"), "ratio"),
      ("sources.read_bytes_frac.dsv2", readFrac("read_dsv2"), "ratio"),
      ("table.writer_s", incl("table.writer"), "s"),
      ("table.domains_s", siteSecs("table.writer", "Domains.scala"), "s"),
      ("table.rowid_check_s", siteSecs("table.writer", "RowId.scala"), "s"),
      ("table.construct_s", incl("table.construct"), "s"),
      ("table.eager_jobs", jobsUnder("table.construct").length.toDouble, "count"),
      ("plans.spec_roundtrip_s", incl("plans.spec_roundtrip"), "s"),
      ("plans.analysis_s", phase("plans.analysis"), "s"),
      ("plans.optimize_s", phase("plans.optimize"), "s"),
      ("plans.physical_s", phase("plans.physical"), "s"),
      ("runtime.execute_s", executeS, "s"),
      ("runtime.jobs", jobs.length.toDouble, "count"),
      ("runtime.stages", counter(all, "stages"), "count"),
      ("runtime.tasks", counter(all, "tasks"), "count"),
      ("runtime.task_busy_s", busy, "s"),
      ("runtime.task_cpu_s", counter(all, "task_cpu_ns") / 1e9, "s"),
      ("runtime.core_util", ratio(busy, executeS * cores), "ratio"),
      ("runtime.shuffle_write_bytes", counter(all, "shuffle_write_bytes"), "bytes"),
      ("runtime.shuffle_read_bytes", counter(all, "shuffle_read_bytes"), "bytes"),
      ("runtime.spill_bytes", counter(all, "spill_bytes"), "bytes"),
      ("runtime.peak_exec_mem_mb",
        all.map(_.counters.getOrElse("peak_exec_mem_bytes", 0.0)).foldLeft(0.0)(math.max) / (1 << 20), "MB"),
      ("runtime.gc_s", counter(all, "gc_ms") / 1e3, "s"),
      ("runtime.failed_tasks", counter(all, "failed_tasks"), "count"),
      ("dedup.curate_s", incl("dedup.curate"), "s"),
      ("dedup.exact_s", siteSecs("dedup.curate", "CurationPipeline.scala"), "s"),
      ("dedup.near_s", siteSecs("dedup.curate", "Dedup.scala"), "s"),
      ("text.bm25_build_s", incl("text.bm25_build"), "s"),
      ("text.bm25_query_s", incl("text.bm25_query"), "s"),
      ("text.components_s", incl("text.components"), "s"),
      ("text.components_jobs", jobsUnder("text.components").length.toDouble, "count"),
      ("text.pagerank_s", incl("text.pagerank"), "s"),
      ("similarity.ivf_build_s", incl("similarity.ivf_build"), "s"),
      ("similarity.ivf_query_s", incl("similarity.ivf_query"), "s")
    ) ++ bySelf.map { case (l, s) => (s"$l.self_s", s, "s") } ++ byIncl.map { case (l, s) => (s"$l.incl_s", s, "s") }
  }

  /** Spark jobs grouped by call site: (site, jobs, seconds), most time first. */
  def topSites(spans: IndexedSeq[Span], n: Int): Seq[(String, Int, Double)] =
    spans.filter(_.name == "runtime.job").groupBy(_.site).toSeq
      .map { case (site, js) => (site, js.length, js.map(_.dur).sum / 1e9) }
      .sortBy(-_._3).take(n)
}
