package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload table_store|virtual_table|llm_curation --seed N
  *      --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up is timed several times and its median reported. With
  * `--trace 0` the loop runs untraced and the last stdout line carries
  * the end-to-end metrics; with `--trace 1` every operation runs twice,
  * untraced and traced in alternating order, and the line carries the
  * per-layer metrics and the tracing overhead. The report goes to stderr.
  */
object Main {

  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(m.getOrElse("work", "perfbench-work")))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: File): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The workload with its benchmark input sizes. */
  def workload(name: String, ctx: Ctx): Workload = name match {
    case "columnar_table" => new Combined(name, Seq(
      new TableStore(ctx, rows = 50000L),
      new VirtualTable(ctx, Gen.TpchSizes(lineitem = 100000L, customer = 30000L, part = 20000L, supplier = 2000L))))
    case "llm_curation" => new LlmCuration(ctx, docs = 8000, vectors = 5000, nodes = 20000, edges = 60000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The tail percentile each workload reports: the highest one that
    * leaves at least ten samples beyond it at the op count a run makes.
    */
  val TailPercentile: Map[String, Double] = Map("columnar_table" -> 0.8, "llm_curation" -> 0.8)

  private val started = System.nanoTime()
  def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $s")

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Gen.deleteRecursively(a.work)
    a.work.mkdirs()
    log(s"JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val (spark, sessionS) = timed(session(a.work))
    val code = try run(a, spark, sessionS) catch {
      case NonFatal(e) => log(s"run aborted: ${Loop.message(e)}"); e.printStackTrace(); 1
    } finally {
      spark.stop()
      Gen.deleteRecursively(a.work)
      log("stopped")
    }
    sys.exit(code)
  }

  def run(a: Args, spark: SparkSession, sessionS: Double): Int = {
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, a.seed, a.work)
    val w = workload(a.workload, ctx)
    log(s"workload ${w.name}, seed ${a.seed}, ${a.seconds} s, trace ${if (a.trace) 1 else 0}, $cores cores")

    // set-up, several times into fresh directories; inputs must come out byte-identical
    var setupOk = true
    var prints = Seq.empty[String]
    var last: File = null
    val reps = (0 until SetupReps).map { r =>
      val dir = new File(a.work, s"setup-$r")
      val (_, s) = timed(w.setup(dir))
      prints :+= Gen.fingerprint(dir.getPath)
      log(f"set-up $r: $s%.3f s")
      if (last != null) Gen.deleteRecursively(last)
      last = dir
      s
    }
    if (prints.distinct.length != 1) {
      setupOk = false
      log(s"ERROR: the same seed generated different inputs: ${prints.mkString(" ")}")
    }
    val (_, prepareS) = timed(w.prepare(last))
    log(f"references and inputs read back in $prepareS%.3f s (not part of set-up)")
    w.summary.foreach { case (k, v) => log(s"input $k = $v") }
    val warm = w.warmup.zipWithIndex.map { case (op, i) => Loop.runOp(ctx, -1 - i, op.unchecked) }
    val warmS = warm.map(_.ns).sum / 1e9
    warm.filter(_.error.nonEmpty).foreach { r =>
      setupOk = false
      log(s"ERROR: warm-up op ${r.kind} failed: ${r.error.get}")
    }
    val setupS = sessionS + Stats.median(reps) + warmS
    log(f"set-up $setupS%.3f s: session $sessionS%.3f s, generation+store ${reps.map(x => f"$x%.3f").mkString("[", ", ", "]")} s (median), warm-up $warmS%.3f s")

    val (results, metrics) = if (!a.trace) {
      val (rs, loopS) = timed(Loop.run(ctx, w, firstCycle = 1, seconds = a.seconds))
      log(f"loop $loopS%.3f s wall, ${rs.map(_.ns).sum / 1e9}%.3f s in ops")
      (rs, endToEnd(w, rs, setupS))
    } else traced(a, ctx, w)

    val failed = results.count(_.error.nonEmpty)
    results.filter(_.error.nonEmpty).foreach(r => log(s"FAILED op ${r.id} ${r.kind}: ${r.error.get}"))
    log(f"error_rate ${w.name} = ${failed.toDouble / results.length}%.4f ($failed of ${results.length} ops failed)")
    metrics.foreach { case (n, v, u) => log(f"${w.name}%-14s $n%-36s $v%.6g $u") }
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (finite) v.toString else "0"}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${setupOk && failed == 0 && finite}, "attempted": ${results.length}, "failed": $failed, "metrics": {$json}}""")
    0
  }

  def endToEnd(w: Workload, rs: Seq[OpResult], setupS: Double): Seq[(String, Double, String)] = {
    val busy = rs.map(_.ns).sum / 1e9
    val ms = rs.map(_.ms)
    rs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      log(f"op $k%-18s n=${xs.length}%3d median ${Stats.median(xs.map(_.ms))}%9.1f ms max ${xs.map(_.ms).max}%9.1f ms")
    }
    log(s"op latencies ms: ${ms.sorted.map(x => f"$x%.1f").mkString(" ")}")
    val p = TailPercentile(w.name)
    log(s"${rs.length} ops; tail at p${p * 100} has ${Stats.beyond(rs.length, p)} samples beyond it " +
      "(highest percentile with 10 beyond at this count: " +
      Stats.tailPercentile(rs.length).map(x => s"p${x * 100}").getOrElse("none") + ")")
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", rs.length / busy, "ops/s"),
      ("op_p50_ms", Stats.median(ms), "ms"),
      ("op_tail_ms", Stats.percentile(ms, p), "ms"),
      ("rows_per_s", rs.map(_.inputRows).sum / busy, "rows/s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
  }

  /** Every op twice, untraced and traced, alternating which goes first. */
  def traced(a: Args, ctx: Ctx, w: Workload): (Seq[OpResult], Seq[(String, Double, String)]) = {
    val tracer = ctx.tracer
    val counts = w.layerCounts()
    val sc = ctx.spark.sparkContext
    val plain = Seq.newBuilder[OpResult]
    val withTrace = Seq.newBuilder[OpResult]
    var pins = Vector.empty[(Double, Double)]
    tracer.start()
    Loop.cycles(w, 1, a.seconds) { (id, op) =>
      def untraced(): Unit = { tracer.pause(); plain += Loop.runOp(ctx, id, op) }
      def traced(): Unit = {
        tracer.resume()
        withTrace += Loop.runOp(ctx, id, op)
        tracer.pause()
        pins :+= (sc.getPersistentRDDs.size.toDouble,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      if (id % 2 == 0) { untraced(); traced() } else { traced(); untraced() }
    }
    val u = plain.result()
    val t = withTrace.result()
    val rate = (rs: Seq[OpResult]) => rs.length / (rs.map(_.ns).sum / 1e9)
    val layer = Layers.metrics(tracer.spans.toIndexedSeq, cores)
    val report = layer.filter(_._1.endsWith(".self_s"))
    val total = report.map(_._2).sum
    val incl = layer.filter(_._1.endsWith(".incl_s")).map(x => x._1.stripSuffix(".incl_s") -> x._2).toMap
    log(f"layer       inclusive s  share   self s  share (of ${total}%.3f s traced op time)")
    report.foreach { case (n, s, _) =>
      val l = n.stripSuffix(".self_s")
      log(f"$l%-11s ${incl(l)}%11.3f ${100 * incl(l) / total}%5.1f%% ${s}%8.3f ${100 * s / total}%5.1f%%")
    }
    Layers.topSites(tracer.spans.toIndexedSeq, 8).foreach { case (site, n, secs) =>
      log(f"job site $site%-48s jobs $n%4d $secs%8.3f s")
    }
    val extra = w.extraMetrics(u).map(x => x._1 -> x).toMap
    val specific = Seq(("write_rows_per_s", "rows/s"), ("scan_rows_per_s", "rows/s"),
      ("store_bytes_per_user_byte", "ratio"), ("ann_recall_at_10", "ratio"))
      .map { case (n, unit) => extra.getOrElse(n, (n, 0.0, unit)) }
    val all = u ++ t
    val countOf = counts.toMap
    val metrics = layer ++
      Seq(("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"), ("dedup.verified_frac", "ratio"))
        .map { case (n, unit) => (n, countOf.getOrElse(n, 0.0), unit) } ++
      Seq(
        ("pins.resident_after_op", if (pins.isEmpty) 0.0 else pins.map(_._1).sum / pins.length, "count"),
        ("pins.storage_mb_after_op", if (pins.isEmpty) 0.0 else pins.map(_._2).sum / pins.length, "MB"),
        ("trace.ops_per_s_untraced", rate(u), "ops/s"),
        ("trace.ops_per_s_traced", rate(t), "ops/s"),
        ("trace.overhead_frac", 1.0 - rate(t) / rate(u), "ratio"),
        ("error_rate", all.count(_.error.nonEmpty).toDouble / all.length, "ratio")) ++ specific
    (all, metrics)
  }
}
