package graft.perfbench

/** One pass's outcome: its wall and CPU time, the latencies of its
  * repeated operation, the workload's own named metrics and, on a
  * traced pass, the per-layer metrics. */
final case class PassResult(wallS: Double, cpuS: Double, opsMs: Seq[Double],
    named: Map[String, Double], layer: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  def out: Outcomes
  /** Builds the run's inputs; repeated, so the setup median is steady. */
  def prepareInputs(): Unit
  def warmup(): Unit
  def pass(i: Int, trace: Option[Trace]): PassResult
  /** Checks left for after the measured passes. */
  def finish(): Unit = ()
  def close(): Unit = ()
  /** Units of the named metrics, by name. */
  def namedUnits: Map[String, String]
}

/** Outcome bookkeeping shared by the workloads: every call into the
  * program and every output check is one attempt. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Exception => failures += s"$what: ${e.getMessage}"; false }
    if (!pass) { failed += 1; if (!failures.exists(_.startsWith(what))) failures += what }
  }

  /** Times one call into the program; a throwing call is a failed attempt. */
  def timed[T](what: String)(f: => T): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try { val r = f; (Some(r), (System.nanoTime() - t0) / 1e9) }
    catch { case e: Exception =>
      failed += 1; failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      (None, (System.nanoTime() - t0) / 1e9)
    }
  }
}

object Timed {
  def apply[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}
