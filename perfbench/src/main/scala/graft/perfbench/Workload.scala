package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every operation sees: the session, the tracer, and the hook a
  * test uses to corrupt results on their way to the checks.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val workDir: File) {

  /** Applied to every result before it is digested or collected. */
  @volatile var tamper: DataFrame => DataFrame = identity

  private var outputs = 0

  /** Materialize `df` in full, inside the timed region. */
  def materialize(df: DataFrame, ordered: Boolean): ContentHash.Digest =
    tracer.span("runtime.materialize")(ContentHash(tamper(df), ordered))

  /** Collect `df` into this JVM, inside the timed region. */
  def collect(df: DataFrame): Array[Row] =
    tracer.span("runtime.materialize")(tamper(df).collect())

  /** Digest a result a check reads back, outside the timed region. */
  def digest(df: DataFrame, ordered: Boolean): ContentHash.Digest = ContentHash(tamper(df), ordered)

  /** A directory no earlier operation wrote to. */
  def freshDir(prefix: String): String = {
    outputs += 1
    new File(workDir, s"out/$prefix-$outputs").getPath
  }
}

/** One operation of a workload. `run` is the timed part: it calls into the
  * layers and materializes the result in full. It returns the check, which
  * runs outside the timed region and throws when the output is wrong.
  */
final case class Op(kind: String, inputRows: Long, run: () => (() => Unit)) {
  /** The same op with its check dropped. */
  def unchecked: Op = copy(run = () => { run(); () => () })
}

final case class OpResult(id: Int, kind: String, ns: Long, inputRows: Long, error: Option[String]) {
  def ms: Double = ns / 1e6
}

/** A closed-loop workload with one client. Operations come in cycles; each
  * cycle holds the workload's op mix in fixed proportions and its
  * parameters are fixed by the seed.
  */
trait Workload {
  def name: String
  /** How long one cycle takes on a 4-core box; sets the cycles a run of
    * a given length makes.
    */
  def nominalCycleSeconds: Double
  /** Generate the inputs under `dir` and build any base store. Timed as
    * set-up; runs several times, each into a fresh directory.
    */
  def setup(dir: File): Unit
  /** Once, after the last set-up and untimed: read the inputs back and
    * compute the reference results the checks compare against.
    */
  def prepare(dir: File): Unit
  def cycle(c: Int): Seq[Op]
  /** Timed as part of set-up, to warm the JIT and the generated code:
    * by default one whole cycle. Run unchecked; the loop checks every op.
    */
  def warmup: Seq[Op] = cycle(0)
  /** Input rows, bytes and planted shares, for the report. */
  def summary: Seq[(String, String)]
  /** Workload-specific end-to-end figures, from the untraced results. */
  def extraMetrics(results: Seq[OpResult]): Seq[(String, Double, String)] = Nil
  /** Per-layer counts measured once on the inputs in traced runs. */
  def layerCounts(): Seq[(String, Double)] = Nil
}

object Loop {

  def message(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300) +
      (if (root ne e) s" (cause: ${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")})".take(300) else "")
  }

  /** Run one operation; a throw or a failed check counts as failed. */
  def runOp(ctx: Ctx, id: Int, op: Op): OpResult = {
    val t0 = System.nanoTime()
    val timed = try Right(ctx.tracer.op(id, op.kind)(op.run())) catch { case NonFatal(e) => Left(e) }
    val ns = System.nanoTime() - t0
    val error = timed match {
      case Left(e) => Some(message(e))
      case Right(check) =>
        try { check(); None } catch { case NonFatal(e) => Some(message(e)) }
    }
    OpResult(id, op.kind, ns, op.inputRows, error)
  }

  /** Whole cycles a run of `seconds` makes: at least one. The count
    * depends on the workload's nominal cycle time, not on measured time,
    * so every run and every commit does the same work.
    */
  def cycleCount(w: Workload, seconds: Double): Int =
    math.max(1, math.ceil(seconds / w.nominalCycleSeconds - 1e-9).toInt)

  /** Run [[cycleCount]] whole cycles, starting at `firstCycle`. */
  def cycles(w: Workload, firstCycle: Int, seconds: Double)(body: (Int, Op) => Unit): Unit = {
    var id = 0
    (firstCycle until firstCycle + cycleCount(w, seconds)).foreach { c =>
      w.cycle(c).foreach { op => body(id, op); id += 1 }
    }
  }

  def run(ctx: Ctx, w: Workload, firstCycle: Int, seconds: Double): Seq[OpResult] = {
    val out = Seq.newBuilder[OpResult]
    cycles(w, firstCycle, seconds)((id, op) => out += runOp(ctx, id, op))
    out.result()
  }

  /** Check helper: fail with both values when they differ. */
  def expect[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")
}

/** Several workloads run as one: each part sets up into its own
  * directory, and a cycle interleaves one cycle of every part.
  */
final class Combined(val name: String, parts: Seq[Workload]) extends Workload {
  def nominalCycleSeconds: Double = parts.map(_.nominalCycleSeconds).sum
  private def sub(dir: File, w: Workload) = new File(dir, w.name)
  def setup(dir: File): Unit = parts.foreach(w => w.setup(sub(dir, w)))
  def prepare(dir: File): Unit = parts.foreach(w => w.prepare(sub(dir, w)))
  def cycle(c: Int): Seq[Op] = {
    val cycles = parts.map(_.cycle(c))
    (0 until cycles.map(_.length).max).flatMap(i => cycles.flatMap(_.lift(i)))
  }
  override def warmup: Seq[Op] = parts.flatMap(_.warmup)
  def summary: Seq[(String, String)] = parts.flatMap(w => w.summary.map { case (k, v) => s"${w.name}.$k" -> v })
  override def extraMetrics(results: Seq[OpResult]): Seq[(String, Double, String)] = parts.flatMap(_.extraMetrics(results))
  override def layerCounts(): Seq[(String, Double)] = parts.flatMap(_.layerCounts())
}
