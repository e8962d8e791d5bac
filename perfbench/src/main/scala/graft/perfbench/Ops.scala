package graft.perfbench

import graft.operators.Materialize

/** One operation's outcome: latency from call to last row, the time the
  * pin release after it took, and whether its output passed the checks.
  */
final case class Op(seconds: Double, ok: Boolean, release: Double = 0.0)

/** A workload: untimed input generation, a set-up step that can repeat, and
  * a unit the timed loop runs until its time is up. `wall_s` is stated per
  * `opsPerWork` operations, the workload's fixed amount of work.
  */
trait Workload {
  def generate(): Unit
  def setupOnce(rep: Int): Unit
  /** A first pass after set-up, timed as set-up; its operations still count. */
  def warm(): Seq[Op] = Nil
  def unit(): Seq[Op]
  def opsPerWork: Int
  /** Checked operations after the timed loop; they count, but are not timed. */
  def tail(): Seq[Op] = Nil

  /** Counters the traced run turns into per-layer ratios. */
  def rowsReturned: Long = 0L
  def vectorsIngested: Long = 0L
  /** Mean recall@10 against brute force, for the kNN workloads. */
  def recall: Option[Double] = None
  /** Per-layer figures only this workload can produce. */
  def layerFigures: Map[String, Double] = Map.empty
}

object Ops {
  final case class Result[T](value: Option[T], seconds: Double, release: Double)

  /** Runs one operation as three phases: `construct` builds the frame,
    * `action` runs it to its last row, and the release drains the pins the
    * build registered. A failure is reported, never rethrown, so it counts
    * as a failed operation in the sample.
    */
  def timed[D, T](rec: Recorder, name: String)(construct: => D)(action: D => T): Result[T] = {
    val t0 = System.nanoTime()
    var t1 = t0
    val value =
      try {
        rec.span(name) {
          val d = rec.span("construct")(construct)
          val v = rec.span("action")(action(d))
          t1 = System.nanoTime()
          rec.span("release")(Materialize.releaseAll())
          Some(v)
        }
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: $name failed: $e")
          t1 = System.nanoTime()
          Materialize.releaseAll()
          None
      }
    Result(value, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }
}
